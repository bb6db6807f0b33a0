package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Normalization-robust exact dedup: canonical-key stages, variant
  * collapse, and what must NOT collapse. */
class NormalizedDedupSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def canon(s: String): String =
    Seq(Tuple1(s)).toDF("t")
      .select(TextDedup.canonicalText(spark, col("t")))
      .as[String].head()

  test("canonical key: case, accents, punctuation, whitespace collapse") {
    assert(canon("Naïve  Bayes!!") == "naive bayes")
    assert(canon("naïve\tbayes .,;") == "naive bayes") // decomposed
    assert(canon("  naive   bayes  ") == "naive bayes")
    assert(canon("NAIVE-BAYES") == "naive bayes")
  }

  test("AlnumFold kernel ≡ the regex pair, bitwise, on adversarial inputs") {
    import graft.plans.TextExprs
    val inputs = Seq(
      "", " ", "\t\n\f\r", "a", " a ", "a  b", "a b", "a b",
      "..a..b..", "é ø ß İ", "x😀y", "0a9z", "!@#$%", "a!b?c",
      "  leading and trailing  ", "tab\tsep", "mixed  　 wide",
      "😀", "a😀😀b")
    val df = inputs.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "t")
    val both = df.select(
      TextExprs.alnumFold(spark, col("t")).as("kernel"),
      trim(regexp_replace(regexp_replace(col("t"), "[^a-z0-9\\s]", " "),
        "\\s+", " ")).as("regex"))
      .as[(String, String)].collect()
    both.foreach { case (k, r) => assert(k == r, s"kernel '$k' != regex '$r'") }
  }

  test("distinct content stays distinct") {
    assert(canon("naive bayes") != canon("naive bayes 2"))
    assert(canon("abc") != canon("a b c")) // spacing IS content after collapse
  }

  test("normalizedExact keeps the smallest id per canonical group") {
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),
      (3L, "héllo wörld"), // accents fold → same key
      (9L, "different entirely")
    ).toDF("doc_id", "text")
    val kept = TextDedup.normalizedExact(docs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 9L))
  }

  test("null text groups with empty text; raw exact would keep both") {
    val docs = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "  "))
      .toDF("doc_id", "text")
    val kept = TextDedup.normalizedExact(docs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L))
  }
}
