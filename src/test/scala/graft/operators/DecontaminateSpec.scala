package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class DecontaminateSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  private def frames = {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"), // contains bench gram
      (2L, "an entirely different document about spark physical plans"),
      (3L, "quick brown fox jumps over the lazy dog and more words here"), // shares too
      (4L, "short doc"), // < n words: never flagged
      (5L, "the QUICK Brown   fox JUMPS over the lazy dog tonight") // case/space variant
    ).toDF("doc_id", "text")
    val bench = Seq(
      "benchmark question: the quick brown fox jumps over the lazy dog",
      "unrelated eval item with its own words"
    ).toDF("btext")
    (docs, bench)
  }

  test("flags exactly the docs sharing an n-gram; short docs never flagged") {
    import spark.implicits._
    val (docs, bench) = frames
    val out = Decontaminate.flag(docs, col("doc_id"), col("text"),
      bench, col("btext"), n = 8)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out(1L) === true)   // contains "the quick brown fox jumps over the lazy dog" 8-grams
    assert(out(2L) === false)
    assert(out(3L) === true)   // shares "quick brown fox jumps over the lazy dog ..."? see overlap
    assert(out(4L) === false)  // 2 words < 8: no grams, never contaminated
    assert(out(5L) === true)   // tokenization lowercases and collapses whitespace
  }

  test("overlap counts distinct shared grams and minOverlap gates") {
    import spark.implicits._
    val (docs, bench) = frames
    val flagged = Decontaminate.flag(docs, col("doc_id"), col("text"),
      bench, col("btext"), n = 8)
    val o1 = flagged.filter($"doc_id" === 1L).select("overlap_ngrams")
      .as[Long].head()
    assert(o1 >= 1)
    // raising minOverlap above the observed overlap unflags the doc
    val strict = Decontaminate.flag(docs, col("doc_id"), col("text"),
      bench, col("btext"), n = 8, minOverlap = (o1 + 1).toInt)
    assert(!strict.filter($"doc_id" === 1L).select("contaminated").as[Boolean].head())
  }

  test("purge removes flagged docs and drops audit columns") {
    import spark.implicits._
    val (docs, bench) = frames
    val clean = Decontaminate.purge(docs, col("doc_id"), col("text"),
      bench, col("btext"), n = 8)
    assert(clean.columns.toSeq === Seq("doc_id", "text"))
    assert(clean.select("doc_id").as[Long].collect().toSet === Set(2L, 4L))
  }

  test("benchmark side is broadcast; corpus is never shuffled before the gram join") {
    import spark.implicits._
    val (docs, bench) = frames
    val plan = Decontaminate.flag(docs, col("doc_id"), col("text"),
      bench, col("btext"), n = 8).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast gram join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"), s"gram join degenerated:\n$plan")
  }
}
