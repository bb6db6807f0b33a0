package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Cross-document duplicate-passage stats: window construction, the
  * distinct-docs rule, short-doc handling. */
class DupPassagesSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("shared 8-word window is flagged in both docs; unique tails are not") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 uniqueA"), // grams: [w1..w8], [w2..uniqueA]
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 uniqueB"),
      (3L, "totally different words here")     // 4 words < 8 → no grams
    ).toDF("doc_id", "text")
    val out = TextDedup.duplicatePassageStats(docs, k = 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1L, 2L, 1L, 0.5),
      (2L, 2L, 1L, 0.5),
      (3L, 0L, 0L, 0.0)))
  }

  test("within-document repetition alone does not count as cross-doc duplication") {
    val docs = Seq(
      (1L, "a b a b a b"), // windows of 2: ab,ba,ab,ba,ab — repeats, one doc
      (2L, "c d e f")
    ).toDF("doc_id", "text")
    val out = TextDedup.duplicatePassageStats(docs, k = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 0L), (2L, 0L)))
  }

  test("a window shared by 2 docs counts every occurrence, including repeats") {
    val docs = Seq(
      (1L, "x y x y"),  // windows: "x y","y x","x y" — "x y" ×2
      (2L, "x y z")     // windows: "x y","y z"
    ).toDF("doc_id", "text")
    val out = TextDedup.duplicatePassageStats(docs, k = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 3L, 2L), (2L, 2L, 1L)))
  }

  test("hashGrams (the 8-byte 100 TB shuffle key) produces identical stats") {
    val docs = graft.sources.Tables.documents(spark, graft.SharedSpark.sf0001)
    def run(h: Boolean) =
      TextDedup.duplicatePassageStats(docs, k = 8, hashGrams = h)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(run(true) === run(false))
  }
}
