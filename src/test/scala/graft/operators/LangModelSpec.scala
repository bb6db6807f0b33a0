package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Bigram LM: pair extraction, MLE counts, and the integer ppm score
  * recurrence on hand-computed corpora. */
class LangModelSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("bigrams yields one row per adjacent pair, lowercased") {
    val df = Seq((1L, "The cat SAT"), (2L, "solo"), (3L, "")).toDF("id", "text")
    val out = LangModel.bigrams(df, col("text"), col("id"))
      .orderBy("doc_id", "w1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // 1-word and empty docs contribute nothing
    assert(out === Seq((1L, "cat", "sat"), (1L, "the", "cat")))
  }

  test("bigramModel counts occurrences and the head marginal") {
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("id", "text")
    // pairs: (a,b)x3? doc1: a-b, b-a, a-b → (a,b)=2,(b,a)=1; doc2: a-b, b-c
    val m = LangModel.bigramModel(df, col("text"), col("id"))
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(m === Seq(
      ("a", "b", 3L, 3L), // head a: 3 pairs start with a
      ("b", "a", 1L, 2L), // head b: (b,a) + (b,c)
      ("b", "c", 1L, 2L)))
  }

  test("fluency matches the hand recurrence in exact ppm") {
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("id", "text")
    val out = LangModel.fluency(df, col("text"), col("id"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // p_ppm: (a,b) = 1e6*3 DIV 3 = 1000000; (b,a) = 1e6*1 DIV 2 = 500000;
    //        (b,c) = 500000
    // doc1: (1000000+500000+1000000) DIV 3 = 833333
    // doc2: (1000000+500000) DIV 2 = 750000
    assert(out === Seq((1L, 3L, 833333L), (2L, 2L, 750000L)))
  }

  test("minCount prunes rare bigrams to a 0-ppm backoff without changing survivors") {
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("id", "text")
    val out = LangModel.fluency(df, col("text"), col("id"), minCount = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (b,a) and (b,c) pruned → score 0; (a,b) still 1e6 (marginal unchanged)
    // doc1: (1000000+0+1000000) DIV 3 = 666666; doc2: (1000000+0) DIV 2 = 500000
    assert(out === Seq((1L, 3L, 666666L), (2L, 2L, 500000L)))
  }

  test("scores are layout-independent") {
    val df = (0L until 40L).map(i => (i, s"w${i % 3} w${i % 5} w${i % 3} w${i % 7} end"))
      .toDF("id", "text")
    val a = LangModel.fluency(df, col("text"), col("id"))
      .orderBy("doc_id").collect().map(_.getLong(2)).toSeq
    val b = LangModel.fluency(df.repartition(7), col("text"), col("id"))
      .orderBy("doc_id").collect().map(_.getLong(2)).toSeq
    assert(a === b)
  }
}
