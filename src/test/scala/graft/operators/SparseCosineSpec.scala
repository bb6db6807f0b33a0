package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Exact sparse TF-IDF cosine join: agreement with a driver-side
  * reference, content-over-boilerplate weighting, df-cut exactness of
  * surviving pairs, symmetry/ordering contracts. */
class SparseCosineSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark shuffle join the the the"),
    (2L, "spark shuffle join the the"),
    (3L, "flink stream window the the the"),
    (4L, "flink stream window the"),
    (5L, "totally unrelated words here")
  ).toDF("doc_id", "text")

  /** Independent reference: same integer weights, exact BigInt sums. */
  private def reference(threshold: Double): Map[(Long, Long), Double] = {
    val toks = Map(
      1L -> "spark shuffle join the the the",
      2L -> "spark shuffle join the the",
      3L -> "flink stream window the the the",
      4L -> "flink stream window the",
      5L -> "totally unrelated words here"
    ).map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
    val n = toks.size.toLong
    val df = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    def w(id: Long): Map[String, BigInt] =
      toks(id).groupBy(identity).map { case (t, xs) =>
        t -> BigInt(xs.size.toLong * (1000000L * n / df(t)))
      }
    val ids = toks.keys.toSeq.sorted
    (for {
      a <- ids; b <- ids if a < b
      wa = w(a); wb = w(b)
      shared = wa.keySet.intersect(wb.keySet) if shared.nonEmpty
      dot = shared.toSeq.map(t => wa(t) * wb(t)).sum
      na = wa.values.map(x => x * x).sum
      nb = wb.values.map(x => x * x).sum
      cos = dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      if cos >= threshold
    } yield (a, b) -> cos).toMap
  }

  test("agrees with the exact reference at several thresholds") {
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val got = CorpusStats.sparseCosineJoin(docs, t)
        .select("id_a", "id_b", "cos_sim")
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got == reference(t), s"threshold $t")
    }
  }

  test("rarity weighting: content twins outrank stopword overlap") {
    val sims = CorpusStats.sparseCosineJoin(docs, 0.01)
      .select("id_a", "id_b", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // 1-2 share all content words; 1-3 share only 'the'
    assert(sims((1L, 2L)) > 0.9)
    assert(sims.getOrElse((1L, 3L), 0.0) < 0.5)
  }

  test("df cut: surviving pairs keep their EXACT full-vector score") {
    val exact = CorpusStats.sparseCosineJoin(docs, 0.2)
      .select("id_a", "id_b", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // 'the' has df 4 — cut it from candidate generation
    val cut = CorpusStats.sparseCosineJoin(docs, 0.2, maxDf = 3L)
      .select("id_a", "id_b", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(cut.keySet.subsetOf(exact.keySet))
    cut.foreach { case (k, v) => assert(v == exact(k), s"pair $k") }
    // pairs sharing a rare term must survive the cut
    assert(cut.contains((1L, 2L)) && cut.contains((3L, 4L)))
  }

  test("layout independence and empty-corpus safety") {
    val a = CorpusStats.sparseCosineJoin(docs, 0.3)
      .orderBy("id_a", "id_b").collect().toSeq
    val b = CorpusStats.sparseCosineJoin(docs.repartition(7), 0.3)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(a == b)
    assert(CorpusStats.sparseCosineJoin(docs.limit(0), 0.3).count() == 0L)
  }
}
