package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Kaplan–Meier: textbook table, censoring semantics, exact-zero snap,
  * distributed-cumsum layout independence. */
class SurvivalSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def lnq(n: Long, d: Long): Long =
    math.floor(math.log((n - d).toDouble / n) * 1e6 + 0.5).toLong
  private def surv(logS: Long): Long =
    math.floor(math.exp(logS / 1e6) * 1e6 + 0.5).toLong

  test("textbook KM table: risk sets, steps at event times only, exact zero") {
    val subjects = Seq((1L, true), (2L, false), (3L, true), (3L, true),
      (4L, false), (5L, true)).toDF("d", "o")
    val got = Survival.kaplanMeier(subjects, col("d"), col("o"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5))).toSeq
    val s1 = lnq(6, 1)               // t=1: 6 at risk, 1 event
    val s3 = s1 + lnq(4, 2)          // t=3: 4 at risk, 2 events
    assert(got === Seq(
      (1L, 6L, 1L, 0L, Some(s1), surv(s1)),
      (3L, 4L, 2L, 0L, Some(s3), surv(s3)),
      // t=5: last subject dies — survival snaps to EXACTLY 0, log NULL
      (5L, 1L, 1L, 0L, None, 0L)))
    // sanity on the actual curve values
    assert(got(0)._6 === 833333L && got(1)._6 === 416667L)
  }

  test("censoring matters: censored subjects shrink risk sets without steps") {
    // all-observed vs half-censored at the same durations must differ
    val obs = Seq((1L, true), (2L, true), (3L, true), (4L, true))
    val cen = Seq((1L, true), (2L, false), (3L, true), (4L, false))
    val a = Survival.kaplanMeier(obs.toDF("d", "o"), col("d"), col("o"))
      .select("t", "surv_ppm").as[(Long, Long)].collect().toMap
    val b = Survival.kaplanMeier(cen.toDF("d", "o"), col("d"), col("o"))
      .select("t", "surv_ppm").as[(Long, Long)].collect().toMap
    assert(a.keySet === Set(1L, 2L, 3L, 4L))
    assert(b.keySet === Set(1L, 3L)) // censored times produce no step
    // at t=3: all-observed S = 1/4; censored S = 3/4 · 1/2 = 3/8
    assert(a(3L) === surv(lnq(4, 1) + lnq(3, 1) + lnq(2, 1)))
    assert(b(3L) === surv(lnq(4, 1) + lnq(2, 1)))
  }

  test("layout independence: many partitions, many steps") {
    val rows = (0 until 2000).map { i =>
      ((i * 7919 % 50).toLong, i % 3 != 0)
    }
    val df = rows.toDF("d", "o")
    def run(d: org.apache.spark.sql.DataFrame) =
      Survival.kaplanMeier(d, col("d"), col("o"))
        .collect().map(_.toSeq).toSeq
    val a = run(df)
    assert(a === run(df.repartition(17)))
    // cross-check one middle step against a driver-side reference
    val byT = rows.groupBy(_._1)
    val times = byT.keys.toSeq.sorted
    var n = rows.size.toLong
    var logS = 0L
    val ref = scala.collection.mutable.Map[Long, Long]()
    times.foreach { t =>
      val d = byT(t).count(_._2).toLong
      val c = byT(t).count(!_._2).toLong
      if (d > 0 && d < n) { logS += lnq(n, d); ref(t) = surv(logS) }
      n -= d + c
    }
    val got = a.map(r => r.head.asInstanceOf[Long] ->
      r.last.asInstanceOf[Long]).toMap
    ref.foreach { case (t, s) => assert(got(t) === s, s"t=$t") }
  }

  test("nelsonAalen: textbook hazard table, finite at total-death step") {
    // t=1: 6 at risk, 1 event → h = 166666; t=2: censor only (no row)
    // t=3: 4 at risk, 2 events → h = 500000; t=5: 1 at risk, 1 event
    // (everyone left dies) → h = 1000000, FINITE — the NA advantage
    val subjects = Seq((1L, true), (2L, false), (3L, true), (3L, true),
      (4L, false), (5L, true)).toDF("d", "o")
    val got = Survival.nelsonAalen(subjects, col("d"), col("o"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    def sv(h: Long) = math.floor(math.exp(-h / 1e6) * 1e6 + 0.5).toLong
    assert(got === Seq(
      (1L, 6L, 1L, 0L, 166666L, 166666L, sv(166666L)),
      (3L, 4L, 2L, 0L, 500000L, 666666L, sv(666666L)),
      (5L, 1L, 1L, 0L, 1000000L, 1666666L, sv(1666666L))))
    // Breslow survival never snaps to exact zero
    assert(got.forall(_._7 > 0L))
  }

  test("nelsonAalen: layout-independent; cumulative matches driver replay") {
    val rows = (0 until 3000).map { i =>
      ((i * 7919 % 50).toLong, i % 3 != 0)
    }
    val df = rows.toDF("d", "o")
    def run(d: org.apache.spark.sql.DataFrame) =
      Survival.nelsonAalen(d, col("d"), col("o"))
        .collect().map(_.toSeq).toSeq
    val a = run(df)
    assert(a === run(df.repartition(17)))
    val byT = rows.groupBy(_._1)
    var n = rows.size.toLong
    var h = 0L
    val ref = scala.collection.mutable.Map[Long, Long]()
    byT.keys.toSeq.sorted.foreach { t =>
      val d = byT(t).count(_._2).toLong
      val c = byT(t).count(!_._2).toLong
      if (d > 0) { h += 1000000L * d / n; ref(t) = h }
      n -= d + c
    }
    val got = a.map(r => r.head.asInstanceOf[Long] ->
      r(5).asInstanceOf[Long]).toMap
    ref.foreach { case (t, s) => assert(got(t) === s, s"t=$t") }
  }

  test("logRank: textbook alternating-event table") {
    // A events at 1,3; B events at 2,4 (all observed)
    val rows = Seq((true, 1L, true), (true, 3L, true),
      (false, 2L, true), (false, 4L, true)).toDF("a", "d", "o")
    val got = Survival.logRank(rows, col("a"), col("d"), col("o"))
      .collect().head
    // per-step (e1, v): t1 (500000, 250000), t2 (333333, 222222),
    // t3 (500000, 250000), t4 (0, 0 — risk set of one)
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) === ((2L, 2L, 2L, 2L)))
    assert(got.getLong(4) === 1333333L && got.getLong(5) === 722222L)
    assert(got.getDouble(6) ===
      (2000000L - 1333333L).toDouble / (math.sqrt(722222.0) * 1000.0))
  }

  test("logRank: mirror-image cohorts score exactly 0; censoring shifts E") {
    val sym = Seq((true, 1L, true), (true, 2L, true),
      (false, 1L, true), (false, 2L, true)).toDF("a", "d", "o")
    assert(Survival.logRank(sym, col("a"), col("d"), col("o"))
      .collect().head.getDouble(6) === 0.0)
    // censoring one A subject at t=1 shrinks A's later risk sets:
    // t=2 (B event): e1 = 1/3; t=3 (both die): e1 = 1; O_A = 1 < 4/3
    val cen = Seq((true, 1L, false), (true, 3L, true),
      (false, 2L, true), (false, 3L, true)).toDF("a", "d", "o")
    val r = Survival.logRank(cen, col("a"), col("d"), col("o"))
      .collect().head
    assert(r.getLong(4) === 1333333L && r.getLong(5) === 222222L)
    assert(r.getDouble(6) < 0.0)
  }

  test("logRank: degenerate inputs give NULL z, never infinity") {
    // no events at all
    val none = Seq((true, 1L, false), (false, 2L, false)).toDF("a", "d", "o")
    assert(Survival.logRank(none, col("a"), col("d"), col("o"))
      .collect().head.isNullAt(6))
    // one-sided cohort: O = E exactly, variance 0
    val oneSide = Seq((true, 1L, true), (true, 2L, true)).toDF("a", "d", "o")
    val r = Survival.logRank(oneSide, col("a"), col("d"), col("o"))
      .collect().head
    assert(r.getLong(4) === r.getLong(2) * 1000000L)
    assert(r.isNullAt(6))
  }

  test("logRank: layout independence") {
    val rows = (0 until 400).map(i =>
      (i % 3 == 0, (i % 23).toLong + 1L, i % 5 != 0))
    val df = rows.toDF("a", "d", "o")
    val x = Survival.logRank(df, col("a"), col("d"), col("o"))
      .collect().head
    val y = Survival.logRank(df.repartition(11), col("a"), col("d"),
      col("o")).collect().head
    assert(x === y)
  }

  test("rmst: hand curve — area under KM steps clipped to the horizon") {
    import spark.implicits._
    // 4 subjects: events at t=2 (1 of 4) and t=5 (1 of 3), censored at
    // t=5 (1), survivor censored at t=10 (1)
    // S = 1 on [0,2), 0.75 on [2,5), 0.5 on [5,10)
    // RMST(8) = 2*1 + 3*0.75 + 3*0.5 = 5.75 -> 5_750_000 ppm-time
    val df = Seq((2L, true), (5L, true), (5L, false), (10L, false))
      .toDF("d", "o")
    val r = Survival.rmst(df, col("d"), col("o"), horizon = 8L)
      .collect().head
    assert(r.getLong(0) === 8L && r.getLong(1) === 2L)
    assert(r.getLong(2) === 4L)
    assert(r.getLong(3) === 5750000L)
    assert(r.getLong(4) === 5750000L / 8L)
  }

  test("rmst: no events below horizon means S = 1 throughout; layout-proof") {
    import spark.implicits._
    val allLate = Seq((30L, true), (40L, false)).toDF("d", "o")
    val r = Survival.rmst(allLate, col("d"), col("o"), horizon = 24L)
      .collect().head
    assert(r.getLong(3) === 24000000L && r.getLong(4) === 1000000L)
    val mixed = (0 until 60).map(i => ((i % 9 + 1).toLong, i % 3 != 0))
      .toDF("d", "o")
    val a = Survival.rmst(mixed, col("d"), col("o"), 7L).collect().head
    val b = Survival.rmst(mixed.repartition(11), col("d"), col("o"), 7L)
      .collect().head
    assert(a.toSeq === b.toSeq)
  }

  test("cumulativeIncidence: hand table and the conservation identity") {
    import spark.implicits._
    // (2,a) (2,b) (3,censored) (5,a):
    // t=2: n_risk 4, S(t-) = 1e6 -> inc 250000 each type
    // t=5: n_risk 1, S(t-) = 500000 -> inc 500000 for a
    val df = Seq((2L, Some("a")), (2L, Some("b")),
      (3L, Option.empty[String]), (5L, Some("a"))).toDF("d", "ev")
    val out = Survival.cumulativeIncidence(df, col("d"), col("ev"))
      .collect().map(r => (r.getString(1), r.getLong(0)) ->
        ((r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(out(("a", 2L)) === ((4L, 1000000L, 250000L, 250000L)))
    assert(out(("b", 2L)) === ((4L, 1000000L, 250000L, 250000L)))
    assert(out(("a", 5L)) === ((1L, 500000L, 500000L, 750000L)))
    // conservation: sum of final CIFs + S(end) = 1 (S snaps to 0 here)
    assert(750000L + 250000L === 1000000L)
  }

  test("cumulativeIncidence: naive per-type KM would overstate; layout-proof") {
    import spark.implicits._
    // heavy competing type 'x' removes half the cohort at t=1: type
    // 'y' incidence at t=2 must be scaled by S(1) = 1/2
    val rows = (1 to 50).map(_ => (1L, Some("x"))) ++
      (1 to 25).map(_ => (2L, Some("y"))) ++
      (1 to 25).map(_ => (3L, Option.empty[String]))
    val df = rows.toDF("d", "ev")
    val out = Survival.cumulativeIncidence(df, col("d"), col("ev"))
      .collect().map(r => r.getString(1) -> r.getLong(6)).toMap
    assert(out("x") === 500000L)
    // naive KM on y alone (x censored) would claim 25/50 = 50%; the
    // correct CIF is S(1)*25/50 = 25%
    assert(out("y") === 250000L)
    val again = Survival.cumulativeIncidence(df.repartition(7),
      col("d"), col("ev")).collect().map(_.toSeq).toSeq
    assert(again === Survival.cumulativeIncidence(df, col("d"),
      col("ev")).collect().map(_.toSeq).toSeq)
  }
}
