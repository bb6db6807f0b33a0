package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** BM25 semantics against an independent driver-side reimplementation
  * on a hand-built corpus. */
class Bm25Spec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b a c"),
    (2L, "a d d e"),
    (3L, "x y z")
  ).toDF("doc_id", "text")

  /** Reference scorer mirroring the operator's determinism contract:
    * per-term floor-to-micro rounding, exact integer sum. */
  private def ref(tf: Long, df: Long, n: Long, dl: Long, avgdl: Double,
                  k1: Double = 1.2, b: Double = 0.75): Long = {
    val idf = math.log(1.0 + (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5))
    val s = idf * (tf.toDouble * (k1 + 1)) / (tf.toDouble + k1 * (1.0 - b + b * dl.toDouble / avgdl))
    math.floor(s * 1000000.0 + 0.5).toLong
  }

  test("scores match the reference formula; non-matching docs absent") {
    val out = Bm25.score(docs, col("doc_id"), col("text"), Seq("a", "d"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val n = 3L
    val avgdl = 11.0 / 3.0
    // d1: tf(a)=2, df(a)=2, dl=4; d2: tf(a)=1 tf(d)=2, df(d)=1, dl=4
    val d1 = ref(2, 2, n, 4, avgdl).toDouble / 1e6
    val d2 = (ref(1, 2, n, 4, avgdl) + ref(2, 1, n, 4, avgdl)).toDouble / 1e6
    assert(out.toSeq === Seq((1L, 1L, d1), (2L, 2L, d2)))
  }

  test("rarer terms score higher at equal tf and dl") {
    val out = Bm25.score(docs, col("doc_id"), col("text"), Seq("c", "e"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // c and e both appear once in one doc of equal length → equal scores
    assert(out(1L) === out(2L))
    val rare = Bm25.score(docs, col("doc_id"), col("text"), Seq("x"))
      .collect().map(r => r.getDouble(2)).head
    // df(x)=1 same as df(c), but dl=3 < 4 → shorter doc scores higher
    assert(rare > out(1L))
  }

  test("case-insensitive tokenization AND query terms; no-match terms yield no rows") {
    val caps = Seq((1L, "A b A")).toDF("doc_id", "text")
    val out = Bm25.score(caps, col("doc_id"), col("text"), Seq("a")).collect()
    assert(out.length === 1 && out(0).getLong(1) === 1L)
    // an uppercase QUERY term must fold too, not silently match nothing
    val upper = Bm25.score(caps, col("doc_id"), col("text"), Seq("A")).collect()
    assert(upper.length === 1 && upper(0).getLong(1) === 1L)
    assert(Bm25.score(docs, col("doc_id"), col("text"), Seq("zz")).collect().isEmpty)
  }
}
