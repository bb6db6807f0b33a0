package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Product-quantization ANN: codebook contract, encode determinism,
  * recall vs the exact baseline, degenerate-corpus behavior. */
class PqSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  private val dim = 64
  private def emb = graft.sources.Tables.embeddings(spark, graft.SharedSpark.sf0001)

  test("codebooks have the contracted shape and are deterministic") {
    val b1 = Similarity.pqCodebooks(emb, m = 8, k = 16, dim = dim)
    val b2 = Similarity.pqCodebooks(emb, m = 8, k = 16, dim = dim)
    assert(b1.length === 8 * 16 * 8)
    assert(b1.toSeq === b2.toSeq)
  }

  test("codes are deterministic under repartitioning") {
    val books = Similarity.pqCodebooks(emb, m = 8, k = 16, dim = dim)
    def codesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
      df.select(col("vec_id"),
          graft.plans.HashExprs.pqEncode(spark, col("embedding"), books, 8, 16, dim).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codesOf(emb) === codesOf(emb.repartition(7)))
  }

  test("recall@1 vs exact baseline is high with a generous shortlist") {
    val books = Similarity.pqCodebooks(emb, m = 8, k = 16, dim = dim)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = Similarity.pqTopK(emb, queries, k = 1, m = 8, kCodes = 16, dim = dim,
        books, shortlist = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pq.keySet === exact.keySet)
    val hits = exact.count { case (q, nn) => pq(q) == nn }
    // shortlist 32 of ~50 vectors — the exact re-rank recovers almost
    // every true NN; require a wide-margin floor
    assert(hits >= exact.size * 0.7, s"recall@1 $hits/${exact.size}")
  }

  test("emitted sims are true cosines (never above the exact top-1)") {
    val books = Similarity.pqCodebooks(emb, m = 8, k = 16, dim = dim)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pq = Similarity.pqTopK(emb, queries, k = 1, m = 8, kCodes = 16, dim = dim,
        books, shortlist = 32)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    pq.foreach { case (q, s) => assert(s <= exact(q) + 1e-12, s"query $q") }
  }

  test("degenerate corpus smaller than k yields zero codebooks, search still works") {
    import spark.implicits._
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(tiny, m = 2, k = 16, dim = 2)
    assert(books.forall(_ == 0.0))
    val queries = tiny.filter(col("vec_id") === 1L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val out = Similarity.pqTopK(tiny, queries, k = 2, m = 2, kCodes = 16, dim = 2,
      books, shortlist = 8).collect()
    assert(out.length === 2 && out.forall(_.getLong(0) == 1L))
  }
}
