package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark
import graft.functions.Text

/** PRF expansion term mining, readability arithmetic, gate co-failure. */
class PrfReadabilitySpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("prfExpansion mines terms distinctive of the feedback set") {
    // docs about "spark": query pulls them as feedback; "shuffle" is the
    // feedback-only rare term and must outrank corpus-wide "common"
    val docs = Seq(
      (1L, "spark spark shuffle common"),
      (2L, "spark shuffle common"),
      (3L, "other topic common words"),
      (4L, "more unrelated common text")
    ).toDF("doc_id", "text")
    val out = Bm25.prfExpansion(docs, col("doc_id"), col("text"),
        Seq("spark"), kDocs = 2, mTerms = 3)
      .select("term", "rank").as[(String, Long)].collect().toMap
    assert(out.contains("shuffle"))
    assert(out("shuffle") < out("common"), "rare feedback term ranks higher")
    assert(!out.contains("spark"), "query terms excluded from expansion")
  }

  test("prfExpansion feedback selection: occurrence count then doc_id") {
    val docs = Seq(
      (5L, "q q q marker5"),
      (6L, "q q marker6"),
      (7L, "q marker7"),
      (8L, "nothing here")
    ).toDF("doc_id", "text")
    val out = Bm25.prfExpansion(docs, col("doc_id"), col("text"),
        Seq("q"), kDocs = 2, mTerms = 10)
      .select("term").as[String].collect().toSet
    // feedback = docs 5 and 6 → markers 5/6 present, 7 absent
    assert(out.contains("marker5") && out.contains("marker6"))
    assert(!out.contains("marker7"))
  }

  test("readabilityMicro: hand-computed values and NULL for empty") {
    val df = Seq(
      (1L, "the cat sat. the dog ran!"),   // W=6, S=2, Y(aeiouy groups)
      (2L, ""),
      (3L, "word")
    ).toDF("id", "text")
    val out = df.select(col("id"), Text.readabilityMicro(col("text")).as("fk"))
      .as[(Long, Option[Long])].collect().toMap
    // W=6 ("the","cat","sat.","the","dog","ran!" — ws split keeps punct),
    // S=2, Y: e,a,a,e,o,a = 6 groups
    // fk = 206835000 - (1015000*6) DIV 2 - (84600000*6) DIV 6
    assert(out(1L) == Some(206835000L - 3045000L - 84600000L))
    assert(out(2L).isEmpty, "no words → NULL")
    // W=1, S=1, Y=1: 206835000 - 1015000 - 84600000
    assert(out(3L) == Some(121220000L))
  }

  test("readability orders plain text above vowel-dense noise") {
    val df = Seq(
      (1L, "the cat sat on the mat. it was flat."),
      (2L, "ooiea aeiouaeiou oiea uuioe aeae oiai")
    ).toDF("id", "text")
    val out = df.select(col("id"), Text.readabilityMicro(col("text")).as("fk"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) > out(2L))
  }

  test("gateCofailure: diagonal = per-gate counts, joint counts exact") {
    val d = Seq(
      (1L, Some(10L), Some("xx")),  // fails both
      (2L, Some(10L), Some("en")),  // fails len only
      (3L, Some(100L), Some("en"))  // passes
    ).toDF("id", "len", "lang")
    val gates = Seq(
      "len_ok" -> (col("len") >= 50L),
      "lang_ok" -> (col("lang") === "en"))
    val out = Quality.gateCofailure(Quality.gateReport(d, gates), gates)
      .select("idx_a", "idx_b", "n_both")
      .as[(Int, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((0, 0)) == 2L && out((1, 1)) == 1L && out((0, 1)) == 1L)
  }
}
