package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** RBO ranking agreement + √-temperature mixture shares. */
class RboTemperatureSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def list(rows: (String, Long, Double)*) =
    rows.toSeq.toDF("q", "id", "score")

  test("identical prefixes score the full truncated weight mass") {
    val a = list(("q1", 1L, 3.0), ("q1", 2L, 2.0), ("q1", 3L, 1.0))
    val r = Fusion.rboNano(a, a, Seq("q"), "id", "score", k = 3)
      .select("n_agree", "rbo_nano").as[(Long, Long)].head()
    // overlap_d = d at every depth → term_d = w_d exactly
    val wsum = Fusion.depthWeights(3, 9, 10).sum
    assert(r == ((3L, wsum)))
  }

  test("disjoint prefixes score zero but stay in the output") {
    val a = list(("q1", 1L, 2.0), ("q1", 2L, 1.0))
    val b = list(("q1", 3L, 2.0), ("q1", 4L, 1.0))
    val r = Fusion.rboNano(a, b, Seq("q"), "id", "score", k = 2)
      .select("n_agree", "rbo_nano").as[(Long, Long)].head()
    assert(r == ((0L, 0L)))
  }

  test("hand-computed partial agreement") {
    // A: [1, 2], B: [2, 1] at k=2 — depth 1 overlap 0, depth 2 overlap 2
    val a = list(("q1", 1L, 2.0), ("q1", 2L, 1.0))
    val b = list(("q1", 2L, 2.0), ("q1", 1L, 1.0))
    val w = Fusion.depthWeights(2, 9, 10)
    val expected = (w(1) * 2) / 2 // only depth 2 contributes, overlap 2
    val r = Fusion.rboNano(a, b, Seq("q"), "id", "score", k = 2)
      .select("n_agree", "rbo_nano").as[(Long, Long)].head()
    assert(r == ((2L, expected)))
  }

  test("top-weighting: agreement at rank 1 beats agreement at rank k") {
    val a = list(("q1", 1L, 9.0), ("q1", 2L, 8.0), ("q1", 3L, 7.0))
    val headAgree = list(("q1", 1L, 9.0), ("q1", 8L, 8.0), ("q1", 9L, 7.0))
    val tailAgree = list(("q1", 8L, 9.0), ("q1", 9L, 8.0), ("q1", 3L, 7.0))
    def score(b: org.apache.spark.sql.DataFrame) =
      Fusion.rboNano(a, b, Seq("q"), "id", "score", k = 3)
        .select("rbo_nano").as[Long].head()
    assert(score(headAgree) > score(tailAgree))
  }

  test("depth weights: exact values, geometric decay, mass below 1e9") {
    val w = Fusion.depthWeights(10, 9, 10)
    assert(w.head == 100000000L) // (1-p) = 0.1 in nano
    assert(w == w.sorted.reverse)
    assert(w.sum < 1000000000L)
    // w_d ≈ w_{d-1} · 0.9 (truncation only)
    w.sliding(2).foreach { case Seq(x, y) => assert((x * 9 / 10 - y).abs <= 1) }
  }

  test("sqrtTemperatureShares flattens the head, exact integer shares") {
    val df = (Seq.fill(900)("big") ++ Seq.fill(100)("small")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "source")
    val out = Mixture.sqrtTemperatureShares(df, col("source"))
      .select("source", "n_rows", "sqrt_milli", "raw_share_ppm", "share_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("big")._4 == 900000L && out("small")._4 == 100000L)
    // sqrt_milli = √n · 1000; √ temperature: 30/(30+10) = 75% vs 25%
    assert(out("big")._3 == 30000L && out("small")._3 == 10000L)
    assert(out("big")._5 == 750000L && out("small")._5 == 250000L)
  }

  test("shares sum to ≤ 1e6 with truncation, layout-independent") {
    val df = (0 until 500).map(i => (i.toLong, s"s${i % 7}"))
      .toDF("id", "source")
    val a = Mixture.sqrtTemperatureShares(df, col("source"))
      .orderBy("source").collect().toSeq
    val b = Mixture.sqrtTemperatureShares(df.repartition(11), col("source"))
      .orderBy("source").collect().toSeq
    assert(a == b)
    val total = a.map(_.getLong(4)).sum
    assert(total <= 1000000L && total > 1000000L - 7)
  }
}
