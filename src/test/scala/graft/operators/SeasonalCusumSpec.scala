package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Seasonal profile residuals + CUSUM closed form vs the textbook
  * recurrence. */
class SeasonalCusumSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("seasonalResiduals: same hour-of-week shares a profile; residual algebra") {
    // two observations exactly one week apart share `how`; one a day
    // apart does not
    val hourUs = 3600L * 1000000L
    val rows = Seq(
      (1L, "k", 0L, 100L),                  // how 0
      (2L, "k", 168L * hourUs, 300L),       // one week later → how 0
      (3L, "k", 24L * hourUs, 999L))        // next day → how 24
      .map { case (id, k, us, v) => (id, k, new java.sql.Timestamp(us / 1000), v) }
      .toDF("id", "k", "ts", "cents")
    val out = TimeSeries.seasonalResiduals(rows, col("k"), col("ts"), col("cents"))
      .select("id", "how", "profile_cents", "residual_cents", "n_obs")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 == out(2L)._2 && out(1L)._2 != out(3L)._2)
    assert(out(1L)._3 == 200L && out(1L)._4 == -100L && out(2L)._4 == 100L)
    assert(out(3L)._3 == 999L && out(3L)._4 == 0L && out(3L)._5 == 1L)
  }

  /** Textbook recurrence reference. */
  private def cusumRef(xs: Seq[Long], mu: Long, k: Long): Seq[(Long, Long)] =
    xs.scanLeft((0L, 0L)) { case ((sp, sn), x) =>
      (math.max(0L, sp + (x - mu - k)), math.max(0L, sn - (x - mu + k)))
    }.tail

  test("cusum closed form ≡ textbook recurrence on random walks") {
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(200)(1000L + rnd.nextInt(200) - 100L) ++
      Seq.fill(50)(1400L + rnd.nextInt(200) - 100L) // level shift at t=200
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, "s", x) }
      .toDF("t", "k", "cents")
    val out = TimeSeries.cusum(df, col("k"), Seq(col("t")), col("cents"),
        slackCents = 50L, thresholdCents = 5000L)
      .orderBy("t").select("s_pos", "s_neg").as[(Long, Long)].collect()
    val mu = out.length // recompute mu the operator's way
    val muCents = (xs.map(BigInt(_)).sum / xs.length).toLong
    val ref = cusumRef(xs, muCents, 50L)
    assert(out.toSeq == ref)
  }

  test("cusum alarms fire after the level shift, not before") {
    // short shift tail so μ (the key's own full-history mean) stays near
    // the stable level — the slack then absorbs the stable phase's
    // small offset from μ, and only the genuine shift accumulates
    val xs = Seq.fill(400)(1000L) ++ Seq.fill(20)(2000L)
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, "s", x) }
      .toDF("t", "k", "cents")
    val out = TimeSeries.cusum(df, col("k"), Seq(col("t")), col("cents"),
        slackCents = 100L, thresholdCents = 3000L)
      .orderBy("t").select("t", "alarm").as[(Long, Boolean)].collect()
    assert(!out.take(400).exists(_._2), "no alarm during the stable phase")
    assert(out.drop(410).forall(_._2), "sustained shift alarms")
  }

  test("layout independence") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 300).map(i =>
      (i.toLong, s"k${i % 3}", 500L + rnd.nextInt(1000)))
      .toDF("t", "k", "cents")
    val a = TimeSeries.cusum(df, col("k"), Seq(col("t")), col("cents"), 10L, 100L)
      .orderBy("k", "t").collect().toSeq
    val b = TimeSeries.cusum(df.repartition(13), col("k"), Seq(col("t")),
        col("cents"), 10L, 100L)
      .orderBy("k", "t").collect().toSeq
    assert(a == b)
  }
}
