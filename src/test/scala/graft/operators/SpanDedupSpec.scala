package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** dropDuplicateSpans: hand reassembly table, first-occurrence total
  * order (cross- and within-doc), empty docs, span-conservation
  * invariant, layout independence. */
class SpanDedupSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("hand table: global first occurrence wins, docs reassemble in order") {
    val docs = Seq(
      (1L, "a b c d"),    // both spans first: survives whole
      (2L, "a b x y"),    // "a b" seen at (1,0): drops; "x y" stays
      (3L, "c d c d"),    // both spans lose to (1,1): empty result
      (4L, ""),           // no spans at all
      (5L, "z"),          // partial final chunk is a span
      (6L, "q q q q")     // within-doc dup: idx 0 beats idx 1
    ).toDF("doc_id", "text")
    val got = TextDedup.dropDuplicateSpans(docs, spanTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got === Seq(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 2L, 0L, ""),
      (4L, 0L, 0L, ""),
      (5L, 1L, 1L, "z"),
      (6L, 2L, 1L, "q q")))
  }

  test("conservation: every distinct span survives exactly once; layout-proof") {
    val words = Array("alpha", "beta", "gamma", "delta", "eps")
    val docs = (0L until 200L).map { i =>
      val r = new scala.util.Random(i)
      (i, (0 until 12).map(_ => words(r.nextInt(words.length)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextDedup.dropDuplicateSpans(d, spanTokens = 3)
        .collect().map(_.toSeq).toSeq
    val a = run(docs)
    assert(a === run(docs.repartition(13)))
    // Σ n_kept == |distinct spans| (each survives at exactly one spot)
    val distinctSpans = docs
      .select(explode(expr(
        """transform(sequence(0, CAST((size(split(text, '\\s+')) + 2)
          | DIV 3 - 1 AS INT)),
          | i -> array_join(slice(split(text, '\\s+'), i * 3 + 1, 3), ' '))"""
          .stripMargin)).as("s"))
      .filter(length(col("s")) > 0).distinct().count()
    assert(a.map(_(2).asInstanceOf[Long]).sum === distinctSpans)
    // and total spans are conserved too
    assert(a.map(_(1).asInstanceOf[Long]).sum === 200L * 4L)
  }
}
