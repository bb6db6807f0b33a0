package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Byte-pair-encoding tokenizer: train a merge table on a bounded corpus
  * sample, then tokenize/count at corpus scale with a native expression
  * ([[graft.plans.BpeCount]]). Token counting is the budgeting primitive
  * of an LLM data pipeline (context packing, mixture weighting, cost
  * estimates all operate in tokens, not words).
  *
  * Training is the standard character-level BPE recipe (Sennrich et al.
  * 2016, re-derived from the published algorithm): start from single
  * characters within each word, repeatedly merge the most frequent
  * adjacent symbol pair. Determinism: ties break to the
  * lexicographically SMALLEST pair, and the sample is the lowest-id
  * `maxSample` documents — same bounded-deterministic-sample contract
  * as the IVF/PQ codebook trainers, so training cost is flat in corpus
  * size and the merge table is reproducible on any layout.
  *
  * Apply semantics (shared by the HOF reference [[segmentWord]] and the
  * native expression, which the spec cross-checks bitwise): repeatedly
  * find the adjacent pair with the LOWEST merge rank and fuse ALL its
  * non-overlapping occurrences left-to-right, until no adjacent pair is
  * in the table. Words (lowercased whitespace tokens — Text.words
  * semantics) never merge across boundaries.
  */
object Bpe {

  /** Ordered merge table from a bounded sample. */
  def train(docs: DataFrame, text: Column, idCol: Column, nMerges: Int,
            maxSample: Int = 2048): Seq[(String, String)] = {
    val wordFreq: Seq[(String, Long)] = docs
      .orderBy(idCol)
      .limit(maxSample)
      .select(explode(Text.words(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toSeq.sortBy(_._1) // stable driver-side order

    var vocab: Vector[(Vector[String], Long)] =
      wordFreq.map { case (w, c) => w.map(_.toString).toVector -> c }.toVector
    val merges = mutable.ArrayBuffer.empty[(String, String)]

    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val pairCounts = mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
          j += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        // max count, ties → lexicographically smallest pair
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.map { case (syms, c) => (fuse(syms, best), c) }
        i += 1
      }
    }
    merges.toSeq
  }

  /** FULL-CORPUS distributed BPE training — the scale path [[train]]'s
    * bounded-sample contract documents away: a real tokenizer pipeline
    * trains on the corpus, not 2048 documents. The recurrence is
    * restructured so nothing corpus-sized (or vocab-sized) ever sits on
    * the driver:
    *
    *  - ONE corpus pass builds the distinct (word, count) vocab frame —
    *    after that every round touches only the vocab, whose rows are
    *    (symbol array, count);
    *  - per merge round: adjacent pairs explode from the symbol arrays
    *    into a (pair)-keyed COUNT aggregate (map-side combined — the
    *    shuffle carries one partial per pair per partition, never the
    *    pair stream), and the argmax comes back to the driver as ONE
    *    row via TakeOrdered (`max count, ties to the binary-smallest
    *    (a, b)` — the [[train]] tie rule);
    *  - the winning pair fuses into the vocab frame (a vocab-sized
    *    narrow map), lineage cut on the [[Lifecycle.RoundSink]]
    *    cadence (the labelPropagation lesson: a 200-round merge table
    *    would otherwise nest 200 plans deep).
    *
    * Driver state: the merge table itself (nMerges pairs) and one
    * argmax row per round. Bitwise-identical to [[train]] on the same
    * word-frequency multiset (the q296 gate proves it corpus-wide at
    * gate SF): pair counts are exact long sums, and both tie-breaks
    * compare strings the same way for any BMP text (caveat: Java
    * `compareTo` orders UTF-16 code units, Spark orders UTF-8 bytes —
    * they diverge only on supplementary-plane characters).
    *
    * `maxSample`: optional bounded-sample mode (lowest-id docs, the
    * [[train]] regime) so the equality spec can run both trainers on
    * the identical sample; None = the whole corpus. */
  def trainDistributed(docs: DataFrame, text: Column, idCol: Column,
                       nMerges: Int,
                       maxSample: Option[Int] = None): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val sampled = maxSample.fold(docs)(n => docs.orderBy(idCol).limit(n))
    // vocab staging lives on DISK ([[Lifecycle.RoundSink]], round 14):
    // every merge round's plan reads the last cut — an evicted
    // localCheckpoint block there was a non-recomputable stage failure
    // mid-training; the sink right-sizes each cut's file count from
    // the measured bytes of the previous one
    val sink = Lifecycle.roundSink(docs.sparkSession)
    var vocab = sink.round(sampled
      .select(explode(Text.words(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      // split(w, '') keeps a trailing '' element (Java regex split with
      // limit -1) — filter it, single characters only
      .select(expr("filter(split(w, ''), x -> x != '')").as("syms"), col("c")))
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    val fuseUdf = udf((syms: Seq[String], a: String, b: String) =>
      fuse(syms.toVector, (a, b)))
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "j -> struct(syms[j] AS a, syms[j + 1] AS b))")).as("p"),
          col("c"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val best = (top.head.getString(0), top.head.getString(1))
        merges += best
        // lineage cut on the sink's cadence, not every round: the
        // per-round growth is ONE narrow map (linear, unlike the graph
        // operators' self-referencing recurrences), so the cadence only
        // trades plan-analysis time against write-job overhead — 40
        // rounds at sf0.1 measured 14.8 s with a per-round cut, 5.8 s
        // warm at the default every-8 cadence. Each cut deletes the one
        // it supersedes (merges is driver state; nothing re-reads old
        // cuts).
        vocab = sink.cut(i + 1, vocab.select(
            fuseUdf(col("syms"), lit(best._1), lit(best._2)).as("syms"),
            col("c")))
        i += 1
      }
    }
    // the result is the driver-side merge list — no frame escapes, so
    // the last cut's scratch files are dead too
    sink.close()
    merges.toSeq
  }

  private def fuse(syms: Vector[String], p: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == p._1 && syms(j + 1) == p._2) {
        out += (syms(j) + syms(j + 1)); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** HOF reference encoder for ONE word — the test oracle for the native
    * expression. */
  def segmentWord(word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var best: (String, String) = null
      var j = 0
      while (j < syms.length - 1) {
        ranks.get((syms(j), syms(j + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; best = (syms(j), syms(j + 1)) }
        }
        j += 1
      }
      if (best == null) done = true
      else syms = fuse(syms, best)
    }
    syms
  }

  /** Reference token count for a whole document (drives the q79
    * agreement audit as a UDF; the native expression is the hot path). */
  def countTokensRef(text: String, ranks: Map[(String, String), Int]): Int = {
    val lowered = org.apache.spark.unsafe.types.UTF8String
      .fromString(text).toLowerCase.toString
    lowered.split("\\s+").filter(_.nonEmpty)
      .map(w => segmentWord(w, ranks).length).sum
  }
}
