package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Phrase search positional intersection + curation gate report/funnel. */
class PhraseGateSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the hash join wins"),            // 1 match at pos 1
    (2L, "hash join hash join"),           // 2 matches
    (3L, "hash of the join"),              // words present, not adjacent
    (4L, "join hash"),                     // wrong order
    (5L, "HASH JOIN shouts")               // tokenizer lowercases
  ).toDF("doc_id", "text")

  test("phraseSearch finds consecutive matches only, case-folded") {
    val out = CorpusStats.phraseSearch(docs, Seq("hash", "join"))
      .orderBy("doc_id")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((1L, 1L, 1), (2L, 2L, 0), (5L, 1L, 0)))
  }

  test("three-word phrase chains the positional joins") {
    val d = Seq((1L, "a b c d"), (2L, "b c d"), (3L, "b c x d"))
      .toDF("doc_id", "text")
    val out = CorpusStats.phraseSearch(d, Seq("b", "c", "d"))
      .orderBy("doc_id").as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((1L, 1L, 1), (2L, 1L, 0)))
  }

  test("single-word phrase degenerates to term postings counts") {
    val out = CorpusStats.phraseSearch(docs, Seq("hash"))
      .orderBy("doc_id").as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((1L, 1L, 1), (2L, 2L, 0), (3L, 1L, 0), (4L, 1L, 1),
      (5L, 1L, 0)))
  }

  private val gated = Seq(
    (1L, Some(100L), Some("en")),  // passes all
    (2L, Some(10L), Some("en")),   // fails len only
    (3L, Some(10L), Some("xx")),   // fails len AND lang → first = len
    (4L, Some(100L), Some("xx")),  // fails lang only
    (5L, Option.empty[Long], Some("en")) // null len → strict fail
  ).toDF("id", "len", "lang")
  private val gates = Seq(
    "len_ok" -> (col("len") >= 50L),
    "lang_ok" -> (col("lang") === "en"))

  test("gateReport: bitmask, first_fail order, strict NULL fail") {
    val out = Quality.gateReport(gated, gates)
      .select("id", "fail_mask", "first_fail", "kept")
      .as[(Long, Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((0L, None, true)))
    assert(out(2L) == ((1L, Some("len_ok"), false)))
    assert(out(3L) == ((3L, Some("len_ok"), false)), "first gate wins attribution")
    assert(out(4L) == ((2L, Some("lang_ok"), false)))
    assert(out(5L) == ((1L, Some("len_ok"), false)), "NULL predicate fails")
  }

  test("gateSummary: independent counts vs first-fail marginals") {
    val out = Quality.gateSummary(Quality.gateReport(gated, gates), gates)
      .orderBy("gate_idx")
      .select("gate", "n_failed", "n_first_fail")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("len_ok", 3L, 3L),   // docs 2, 3, 5
      ("lang_ok", 2L, 1L),  // fails 3 and 4; first-fail only for 4
      ("_total_", 4L, 4L))) // marginals 3 + 1 = dropped total
  }

  test("gateSummary on an empty report is all zeros") {
    val out = Quality.gateSummary(
        Quality.gateReport(gated.limit(0), gates), gates)
      .select("n_failed", "n_first_fail").as[(Long, Long)].collect()
    assert(out.length == 3 && out.forall(_ == ((0L, 0L))))
  }
}
