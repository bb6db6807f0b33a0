package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class IncrementalDedupSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_inc_idx").toString

  // a corpus of distinct sentences + a batch where half the docs are
  // light edits of corpus docs (near-dups) and half are fresh
  private def corpusAndBatch = {
    import spark.implicits._
    // per-doc vocabularies are disjoint so distinct ids have ~zero
    // Jaccard; an "edit" appends one word (j ≈ 12/14)
    def corpusText(i: Long) =
      s"doc $i " + (0 until 12).map(k => s"w${i}_$k").mkString(" ")
    val corpus = (0L until 40L).map(i => (i, corpusText(i))).toDF("doc_id", "text")
    val dups = (0L until 10L).map(i => (1000L + i, corpusText(i) + " EDITED"))
    def freshText(i: Long) =
      s"new $i " + (0 until 12).map(k => s"n${i}_$k").mkString(" ")
    val fresh = (0L until 10L).map(i => (2000L + i, freshText(i)))
    (corpus, (dups ++ fresh).toDF("doc_id", "text"))
  }

  test("batch dedup against the index matches whole-corpus dedup on cross pairs") {
    val (corpus, batch) = corpusAndBatch
    val dir = tmpDir()
    IncrementalDedup.writeIndex(corpus, dir)
    val incr = IncrementalDedup.dedupeBatch(batch, corpus, dir, threshold = 0.5)
      .select("batch_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // ground truth: full recompute over corpus ∪ batch, restricted to cross pairs
    val all = corpus.unionByName(batch)
    val full = TextDedup.minhashNearDups(all, threshold = 0.5, bands = 12, rows = 4)
      .filter((col("id_a") >= 1000 && col("id_b") < 1000) ||
        (col("id_b") >= 1000 && col("id_a") < 1000))
      .select(greatest(col("id_a"), col("id_b")).as("b"),
        least(col("id_a"), col("id_b")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(incr === full)
    assert(incr.size === 10, s"all 10 planted edits should be caught, got $incr")
    assert(incr.forall { case (b, c) => b - 1000L === c }) // each edit maps to its source
  }

  test("admit drops flagged docs; appendToIndex makes the next batch see them") {
    import spark.implicits._
    val (corpus, batch) = corpusAndBatch
    val dir = tmpDir()
    IncrementalDedup.writeIndex(corpus, dir)
    val dups = IncrementalDedup.dedupeBatch(batch, corpus, dir, threshold = 0.5)
    val admitted = IncrementalDedup.admit(batch, dups)
    assert(admitted.select("doc_id").as[Long].collect().toSet ===
      (0L until 10L).map(2000L + _).toSet)

    IncrementalDedup.appendToIndex(admitted, dir)
    // a second batch duplicating an ADMITTED doc is now caught too
    val batch2 = Seq((3000L,
      "new 4 " + (0 until 12).map(k => s"n4_$k").mkString(" ") + " PLUS"))
      .toDF("doc_id", "text")
    val corpus2 = corpus.unionByName(admitted)
    val dups2 = IncrementalDedup.dedupeBatch(batch2, corpus2, dir, threshold = 0.5)
    assert(dups2.select("corpus_id").as[Long].collect().toSet === Set(2004L))
  }

  test("re-submitted identical doc collides with itself in the index") {
    val (corpus, _) = corpusAndBatch
    val dir = tmpDir()
    IncrementalDedup.writeIndex(corpus, dir)
    val resub = corpus.filter(col("doc_id") === 7L) // same id, same text
    val dups = IncrementalDedup.dedupeBatch(resub, corpus, dir, threshold = 0.5)
    assert(dups.collect().exists(r => r.getLong(0) === 7L && r.getLong(1) === 7L))
  }

  test("batch reusing a corpus doc_id with DIFFERENT text verifies batch-vs-corpus, no fanout") {
    import spark.implicits._
    val (corpus, _) = corpusAndBatch
    val dir = tmpDir()
    IncrementalDedup.writeIndex(corpus, dir)
    // id 7 re-submitted with UNRELATED text: bands may or may not
    // collide, but verification must compare the batch text against the
    // corpus text — never corpus-vs-itself (spurious jaccard 1.0)
    val resub = Seq((7L, "totally unrelated resubmission " +
      (0 until 12).map(k => s"z7_$k").mkString(" "))).toDF("doc_id", "text")
    val dups = IncrementalDedup.dedupeBatch(resub, corpus, dir, threshold = 0.5)
      .collect()
    assert(dups.isEmpty,
      s"unrelated text must not be flagged (got ${dups.mkString(",")})")
    // and a LIGHT edit under the same id IS flagged, with one row only
    val edited = Seq((7L, corpus.filter(col("doc_id") === 7L)
      .select("text").as[String].head() + " EDITED")).toDF("doc_id", "text")
    val dups2 = IncrementalDedup.dedupeBatch(edited, corpus, dir, threshold = 0.5)
      .collect()
    assert(dups2.length === 1 && dups2.head.getLong(0) === 7L &&
      dups2.head.getLong(1) === 7L)
    assert(dups2.head.getDouble(2) < 1.0, "edited text must not score 1.0")
  }

  test("plan shape: the index side joins against a broadcast of the batch bands") {
    val (corpus, batch) = corpusAndBatch
    val dir = tmpDir()
    IncrementalDedup.writeIndex(corpus, dir)
    val plan = IncrementalDedup.candidates(batch, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"index probe should be a broadcast join of batch bands:\n$plan")
  }
}
