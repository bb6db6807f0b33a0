package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Margin-based kNN: agreement with an independent driver-side
  * reference, hub demotion, layout independence. */
class MarginSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  private def micro(x: Double): Long = math.floor(x * 1000000L + 0.5).toLong

  // deterministic pseudo-random unit-ish vectors + one hub (the mean
  // direction, similar to everything)
  private val dim = 8
  private val vecs: Map[Long, Array[Float]] = {
    val base = (0L until 30L).map { id =>
      val v = Array.tabulate(dim)(j =>
        (((id * 31 + j * 17 + 7) % 13).toFloat - 6f) / 6f)
      id -> v
    }.toMap
    val hub = Array.tabulate(dim)(j =>
      base.values.map(_(j)).sum / base.size)
    base + (99L -> hub)
  }

  private def reference(qids: Seq[Long], k: Int, kAvg: Int, sl: Int)
      : Map[(Long, Long), (Double, Int)] = {
    val ids = vecs.keys.toSeq.sorted
    def knn(q: Long, n: Int): Seq[(Long, Double)] =
      ids.filter(_ != q).map(c => c -> cos(vecs(c), vecs(q)))
        .sortBy { case (c, s) => (-s, c) }.take(n)
    val pen = ids.map(v => v -> knn(v, kAvg).map(t => micro(t._2)).sum).toMap
    (for (q <- qids; (c, s) <- knn(q, sl)) yield {
      val m = (micro(s) * (2L * kAvg)).toDouble / (pen(q) + pen(c))
      (q, c, m)
    }).groupBy(_._1).flatMap { case (q, rows) =>
      rows.sortBy { case (_, c, m) => (-m, c) }.take(k).zipWithIndex
        .map { case ((_, c, m), i) => (q, c) -> ((m, i + 1)) }
    }.toMap
  }

  private def run(df: org.apache.spark.sql.DataFrame, qids: Seq[Long],
                  k: Int, kAvg: Int, sl: Int) = {
    val queries = df.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.marginTopK(df, queries, k, kAvg, sl)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getInt(3)))).toMap
  }

  test("marginTopK agrees exactly with the driver-side reference") {
    val df = vecs.toSeq.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val qids = Seq(0L, 5L, 13L)
    val out = run(df, qids, k = 4, kAvg = 6, sl = 12)
    val ref = reference(qids, k = 4, kAvg = 6, sl = 12)
    assert(out.keySet === ref.keySet)
    out.foreach { case (key, (m, r)) =>
      assert(r === ref(key)._2, s"rank for $key")
      assert(math.abs(m - ref(key)._1) < 1e-12, s"margin for $key")
    }
    // layout independence
    assert(run(df.repartition(13), qids, 4, 6, 12) === out)
  }

  test("margin demotes dense-region candidates below isolated equals") {
    // q's best raw-cosine match d sits in a dense clump (3 near-dup
    // siblings → high neighborhood penalty); s is marginally less
    // cosine-similar to q but isolated. Raw cosine picks the clump;
    // margin — the point of the operator — picks s.
    val dense = Map(
      0L -> Array(1f, 0f, 0f), // the query
      1L -> Array(0.8f, 0.6f, 0f), // d
      2L -> Array(0.81f, 0.59f, 0.01f),
      3L -> Array(0.79f, 0.61f, -0.01f),
      4L -> Array(0.8f, 0.605f, 0.02f),
      5L -> Array(0.79f, 0f, 0.613f), // s: isolated
      6L -> Array(0f, 1f, 0f),
      7L -> Array(0f, 0.9f, 0.1f),
      8L -> Array(-0.1f, 0.95f, 0f))
    val df = dense.toSeq.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    // raw cosine top-1 for the query is in the dense clump
    val rawTop = dense.keys.filter(_ != 0L)
      .map(c => c -> cos(dense(c), dense(0L)))
      .toSeq.sortBy { case (c, s) => (-s, c) }.head._1
    assert(Set(1L, 2L, 3L, 4L).contains(rawTop))
    assert(cos(dense(5L), dense(0L)) < cos(dense(rawTop), dense(0L)))
    // margin top-1 is the isolated candidate
    val out = run(df, Seq(0L), k = 2, kAvg = 3, sl = 8)
    val marginTop = out.collect { case ((q, c), (_, 1)) if q == 0L => c }.head
    assert(marginTop === 5L,
      s"margin should pick the isolated candidate, got $marginTop in $out")
  }

  test("marginTopKAnn: full coverage, contiguous ranks, layout-proof, recall vs exact") {
    val df = vecs.toSeq.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val qids = Seq(0L, 5L, 13L)
    def runAnn(d: org.apache.spark.sql.DataFrame) = {
      val queries = d.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.marginTopKAnn(d, queries, k = 4, kAvg = 6,
          bits = 2, dim = 8, nProbe = 3, shortlist = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getInt(3)))).toMap
    }
    val ann = runAnn(df)
    // every query covered with contiguous ranks from 1
    qids.foreach { q =>
      val ranks = ann.collect { case ((`q`, _), (_, r)) => r }.toSeq.sorted
      assert(ranks.nonEmpty && ranks === (1 to ranks.max), s"ranks for $q: $ranks")
    }
    // margins finite and rank-monotone per query
    qids.foreach { q =>
      val byRank = ann.collect { case ((`q`, c), (m, r)) => (r, m, c) }.toSeq.sortBy(_._1)
      byRank.foreach { case (_, m, _) => assert(!m.isNaN && !m.isInfinite) }
      byRank.sliding(2).foreach {
        case Seq((_, m1, c1), (_, m2, c2)) =>
          assert(m1 > m2 || (m1 == m2 && c1 < c2))
        case _ => ()
      }
    }
    // recall against the exact margin list (floor measured on this fixture)
    val exact = run(df, qids, k = 4, kAvg = 6, sl = 12).keySet
    val overlap = ann.keySet.intersect(exact).size
    assert(overlap >= (exact.size * 0.5).toInt,
      s"ANN∩exact = $overlap of ${exact.size}")
    // layout independence: same pairs, margins, and ranks on any layout
    assert(runAnn(df.repartition(13)) === ann)
  }
}
