package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark
import graft.plans.TextExprs

/** BPE training determinism and reference↔native encoder agreement. */
class BpeSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("training follows the most-frequent-pair recurrence") {
    val docs = Seq((1L, "abab")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, col("text"), col("doc_id"), nMerges = 10)
    // "abab": (a,b)×2 beats (b,a)×1 → merge "ab"; then (ab,ab)×1 → "abab"
    assert(merges === Seq(("a", "b"), ("ab", "ab")))
  }

  test("ties break to the lexicographically smallest pair") {
    val docs = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, col("text"), col("doc_id"), nMerges = 2)
    assert(merges === Seq(("a", "b"), ("c", "d")))
  }

  test("segmentWord applies merges in rank order") {
    val ranks = Map(("a", "b") -> 0, ("ab", "ab") -> 1)
    assert(Bpe.segmentWord("ababx", ranks) === Seq("abab", "x"))
    assert(Bpe.segmentWord("ba", ranks) === Seq("b", "a"))
    assert(Bpe.segmentWord("a", ranks) === Seq("a"))
  }

  test("native expression agrees bitwise with the HOF reference on the corpus") {
    val docs = graft.sources.Tables.documents(spark, SharedSpark.sf0001)
    val merges = Bpe.train(docs, col("text"), col("doc_id"), nMerges = 100,
      maxSample = 128)
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val refUdf = udf((t: String) => Bpe.countTokensRef(t, ranks))
    val rows = docs.select(
        TextExprs.bpeCount(spark, col("text"), merges).as("native"),
        refUdf(col("text")).as("ref"),
        size(graft.functions.Text.words(col("text"))).as("nw"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) === r.getInt(1))
      assert(r.getInt(0) >= r.getInt(2)) // ≥ one token per word
    }
  }

  test("training is deterministic and bounded by available pairs") {
    val docs = graft.sources.Tables.documents(spark, SharedSpark.sf0001)
    val m1 = Bpe.train(docs, col("text"), col("doc_id"), nMerges = 50, maxSample = 64)
    val m2 = Bpe.train(docs.repartition(5), col("text"), col("doc_id"),
      nMerges = 50, maxSample = 64)
    assert(m1 === m2)
    // a one-word corpus runs out of pairs and stops early
    val tiny = Seq((1L, "aa")).toDF("doc_id", "text")
    assert(Bpe.train(tiny, col("text"), col("doc_id"), nMerges = 10).length <= 2)
  }

  test("distributed trainer == driver trainer bitwise; layout-proof; early stop") {
    val docs = graft.sources.Tables.documents(spark, SharedSpark.sf0001)
    // same bounded sample through both trainers
    val driver = Bpe.train(docs, col("text"), col("doc_id"),
      nMerges = 60, maxSample = 64)
    val dist = Bpe.trainDistributed(docs, col("text"), col("doc_id"),
      nMerges = 60, maxSample = Some(64))
    assert(dist === driver)
    // corpus-wide, any layout
    val full = Bpe.trainDistributed(docs, col("text"), col("doc_id"), 12)
    val full2 = Bpe.trainDistributed(docs.repartition(7), col("text"),
      col("doc_id"), 12)
    assert(full === full2)
    assert(full === Bpe.train(docs, col("text"), col("doc_id"), 12,
      maxSample = Int.MaxValue))
    // pair exhaustion stops the loop, same as the driver trainer
    val tiny = Seq((1L, "aa")).toDF("doc_id", "text")
    assert(Bpe.trainDistributed(tiny, col("text"), col("doc_id"), 10)
      .length <= 2)
  }
}
