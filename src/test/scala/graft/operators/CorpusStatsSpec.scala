package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class CorpusStatsSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  // 3-doc corpus with fully hand-checkable tf/df:
  //   doc 1: "cat dog cat"   → tf: cat 2, dog 1
  //   doc 2: "dog bird"      → tf: dog 1, bird 1
  //   doc 3: "cat"           → tf: cat 1
  // df: cat 2, dog 2, bird 1;  N = 3
  private def corpus = Seq(
    (1L, "cat dog cat"),
    (2L, "dog bird"),
    (3L, "cat")
  ).toDF("doc_id", "text")

  test("termFrequencies and documentFrequencies hand-computed") {
    val tf = CorpusStats.termFrequencies(corpus).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tf === Map(
      (1L, "cat") -> 2L, (1L, "dog") -> 1L,
      (2L, "dog") -> 1L, (2L, "bird") -> 1L,
      (3L, "cat") -> 1L))
    val df = CorpusStats.documentFrequencies(
      CorpusStats.termFrequencies(corpus)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df === Map("cat" -> 2L, "dog" -> 2L, "bird" -> 1L))
  }

  test("tfidfTopTerms scores and ranks: score = tf*N/df, ties on term asc") {
    val out = CorpusStats.tfidfTopTerms(corpus, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(5)) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 1: cat 2*3/2 = 3.0 beats dog 1*3/2 = 1.5
    assert(out((1L, 1L)) === ("cat", 2L, 2L, 3.0))
    assert(out((1L, 2L)) === ("dog", 1L, 2L, 1.5))
    // doc 2: bird 1*3/1 = 3.0 beats dog 1.5
    assert(out((2L, 1L)) === ("bird", 1L, 1L, 3.0))
    assert(out((2L, 2L)) === ("dog", 1L, 2L, 1.5))
    // doc 3: only cat, so k=2 emits a single row
    assert(out((3L, 1L)) === ("cat", 1L, 2L, 1.5))
    assert(!out.contains((3L, 2L)))
  }

  test("empty and null documents yield no term rows but count toward N") {
    val withEmpty = corpus.union(Seq((4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val out = CorpusStats.tfidfTopTerms(withEmpty, k = 1)
    assert(out.filter(col("doc_id") >= 4).count() === 0)
    // N is now 5: doc 3's cat scores 1*5/2 = 2.5
    val doc3 = out.filter(col("doc_id") === 3).head()
    assert(doc3.getDouble(4) === 2.5)
  }

  test("tie on score breaks by term ascending") {
    val t = Seq((1L, "zeta alpha")).toDF("doc_id", "text")
    val rows = CorpusStats.tfidfTopTerms(t, k = 2).orderBy("rnk").collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("alpha", "zeta"))
  }

  test("collocations: hand-checked lift on a tiny corpus") {
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val out = CorpusStats.collocations(docs, minCount = 1L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // N = 6 tokens, M = 4 bigrams; c(a)=3, c(b)=3
    // (a,b): c12=2 → 2·36/(4·9) = 2.0 ; (b,a): c12=2 → 2.0
    assert(out(("a", "b")) === ((2L, 3L, 3L, 2.0)))
    assert(out(("b", "a")) === ((2L, 3L, 3L, 2.0)))
    assert(out.size === 2)
  }

  test("invertedIndex: hand-checked postings, cap + truncation flag") {
    val docs = Seq((1L, "b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = CorpusStats.invertedIndex(docs, maxPostings = 64)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getInt(4)))).toMap
    // a: doc1 pos1, doc2 pos0 ; b: doc1 pos0+2 ; c: doc2 pos1
    assert(out("a") === ((2L, 2L, "1:1,2:0", 0)))
    assert(out("b") === ((1L, 2L, "1:0,1:2", 0)))
    assert(out("c") === ((1L, 1L, "2:1", 0)))
    // cap: stopword-sized term truncates but stats stay exact
    val big = (0L until 50L).map(i => (i, "the the the")).toDF("doc_id", "text")
    val the = CorpusStats.invertedIndex(big, maxPostings = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getInt(4)))).toMap
    assert(the("the")._1 === 50L && the("the")._2 === 150L)
    assert(the("the")._3.split(",").length === 10)
    assert(the("the")._3 === "0:0,0:1,0:2,1:0,1:1,1:2,2:0,2:1,2:2,3:0")
    assert(the("the")._4 === 1)
  }

  test("contentChecksum: order/layout-independent, append-incremental, null-aware") {
    val docs = Seq(("a", "one"), ("a", "two"), ("a", null.asInstanceOf[String]),
      ("b", "three")).toDF("src", "text")
    def sums(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.contentChecksum(d, col("src"), col("text"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), BigInt(r.getLong(3)), r.getLong(4))))
        .toMap
    val base = sums(docs)
    assert(base("a")._1 === 3L && base("a")._2 === 2L) // null hashed nothing
    assert(base("b")._1 === 1L)
    // order/layout independence
    assert(sums(docs.orderBy(col("text").desc_nulls_first).repartition(7)) === base)
    // append-incrementality: digest(a ∪ delta) = add/xor of parts (mod 2^63)
    val delta = Seq(("a", "four")).toDF("src", "text")
    val both = sums(docs.unionByName(delta))
    val d = sums(delta)
    assert(both("a")._3 ===
      (base("a")._3 + d("a")._3).mod(BigInt(1) << 63))
    assert(both("a")._4 === (base("a")._4 ^ d("a")._4))
    // content-sensitivity
    val tweaked = sums(Seq(("a", "one!"), ("a", "two"), ("b", "three"))
      .toDF("src", "text"))
    assert(tweaked("a")._3 !== base("a")._3)
  }

  test("collocations: single-token, empty, and null docs yield no pairs; minCount prunes") {
    val docs = Seq((1L, "x y x y"), (2L, "solo"), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val all = CorpusStats.collocations(docs, minCount = 1L).collect()
    assert(all.map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("x", "y"), ("y", "x")))
    val pruned = CorpusStats.collocations(docs, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pruned === Set(("x", "y"))) // (y,x) occurs once
  }

  test("vocabGrowth: first-appearance attribution, cumulative vocab, zero-novelty periods visible") {
    val docs = Seq(
      (1L, "alpha beta"),        // period 1: 2 new
      (2L, "beta gamma alpha"),  // period 2: 1 new (gamma)
      (3L, "beta beta alpha")    // period 3: 0 new, still a row
    ).toDF("p", "text")
    val out = CorpusStats.vocabGrowth(docs, col("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 2L, 2L), (2L, 1L, 3L), (3L, 0L, 3L)))
  }

  test("vocabGrowth is layout-independent and monotone") {
    val docs = (0L until 2000L)
      .map(i => (i % 20, s"w${(i * 31) % 300} w${(i * 7) % 150}"))
      .toDF("p", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.vocabGrowth(d, col("p")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val a = run(docs)
    assert(a === run(docs.repartition(17)))
    assert(a.map(_._3) === a.map(_._3).sorted) // cumulative never drops
    assert(a.map(_._2).sum === a.last._3)
  }

  test("freqOfFreqs: hand N_r table and Turing estimates") {
    // counts: a×3, b×1, c×1, d×2 → N_1=2, N_2=1, N_3=1
    val docs = Seq((1L, "a b a c"), (2L, "a d d")).toDF("doc_id", "text")
    val out = CorpusStats.freqOfFreqs(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    // r*=1: (1+1)·1e6·N_2 DIV N_1 = 2e6·1 DIV 2 = 1e6
    assert(out(1L) === ((2L, Some(1000000L))))
    // r*=2: 3e6·N_3 DIV N_2 = 3e6
    assert(out(2L) === ((1L, Some(3000000L))))
    // no N_4 → undefined, NULL not 0
    assert(out(3L) === ((1L, None)))
  }

  test("freqOfFreqs: a gap in r leaves the estimate NULL (lead must check adjacency)") {
    // counts: e×1, f×5 → N_1=1, N_5=1; N_2 absent so r*=1 is undefined
    val docs = Seq((1L, "e f f f f f")).toDF("doc_id", "text")
    val out = CorpusStats.freqOfFreqs(docs)
      .collect().map(r => r.getLong(0) ->
        Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(out === Map(1L -> None, 5L -> None))
  }

  test("freqOfFreqs is layout-independent") {
    val docs = (0L until 300L)
      .map(i => (i, (0 to (i % 11).toInt).map(j => s"w${(i * 31 + j) % 40}")
        .mkString(" ")))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.freqOfFreqs(d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(docs) === run(docs.repartition(17)))
  }

  // --- OOV rate + burstiness ---

  test("oovRate: hand coverage — vocab ties break by term; occurrences, not types") {
    val rows = Seq(
      (1L, "a a a b b c"),   // freqs: a 3, b 2, c 1
      (2L, "a b c c"),       // c total 3, b total 3, a total 4
      (3L, "z z z z"))       // z 4
    // corpus cf: a 4, z 4, b 3, c 3 → top-2 vocab {a, z} (cf tie a<z by term? no: both 4 — order (cf desc, term asc) → a then z)
    val out = CorpusStats.oovRate(rows.toDF("doc_id", "text"), vocabSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out === Seq(
      (1L, 6L, 3L, 500000L),  // b b c OOV of 6
      (2L, 4L, 3L, 750000L),  // b c c OOV of 4
      (3L, 4L, 0L, 0L)))
  }

  test("burstiness: bursty term outranks the sprinkled one; hapax pruned") {
    val rows = Seq(
      (1L, "spam spam spam spam"), // cf 4, df 1 → pruned at minDf=2? df=1
      (2L, "spam spam spam"),      // now spam df 2, cf 7 → burst 3.5e6
      (3L, "the x"), (4L, "the y"), (5L, "the z"), // the: cf 3 df 3 → 1e6
      (6L, "once"))                // hapax → pruned
    val out = CorpusStats.burstiness(rows.toDF("doc_id", "text"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSeq
    assert(out.head === (("spam", 3500000L)))
    assert(out.contains(("the", 1000000L)))
    assert(!out.map(_._1).contains("once"))
    assert(!out.map(_._1).contains("x")) // df 1
  }

  test("oovRate and burstiness are layout-independent") {
    val rows = (0L until 500L).map(i =>
      (i, s"tok${i % 29} tok${(i * 7) % 29} filler$i tok${(i * 11) % 29}"))
    val df = rows.toDF("doc_id", "text")
    def runO(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.oovRate(d, 20).collect().map(_.toSeq).toSeq
    def runB(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.burstiness(d, 15).collect().map(_.toSeq).toSeq
    assert(runO(df) === runO(df.repartition(17)))
    assert(runB(df) === runB(df.repartition(17)))
  }

  // --- diversity report ---

  private def diversity(rows: Seq[(Long, String)]) = {
    val r = CorpusStats.diversityReport(rows.toDF("doc_id", "text"),
      col("doc_id"), col("text")).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4), r.getLong(5))
  }

  test("diversityReport: hand Jaccards, all-pairs mean, empty docs excluded") {
    // doc1/doc2 share shingle "a b c" (1 of 3 distinct) → 333333 ppm;
    // doc3 shares nothing; the empty doc is outside the universe
    val out = diversity(Seq((1L, "a b c d"), (2L, "a b c x"),
      (3L, "z z"), (4L, "")))
    assert(out === ((3L, 3L, 1L, 333333L / 3, 333333L, 0L)))
  }

  test("diversityReport: exact duplicates push max to 1e6 and count as near-dup pressure") {
    val out = diversity(Seq((1L, "w x y z"), (2L, "w x y z"),
      (3L, "completely different words here")))
    assert(out._5 === 1000000L)
    assert(out._6 === 1L)
  }

  test("diversityReport: single-doc sample → NULL mean, zero pairs") {
    val out = diversity(Seq((1L, "only one document")))
    assert(out === ((1L, 0L, 0L, -1L, 0L, 0L)))
  }

  test("diversityReport is layout-independent") {
    val rows = (0L until 400L).map(i =>
      (i, s"tok${i % 13} tok${(i * 7) % 13} tok${(i * 11) % 13} tail$i"))
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.diversityReport(d, col("doc_id"), col("text"))
        .collect().head.toSeq
    val df = rows.toDF("doc_id", "text")
    assert(run(df) === run(df.repartition(17)))
  }

  test("richness: hand-computed Chao1 and unseen mass; f2=0 fallback") {
    // counts: a×3 b×2 c×2 d×1 e×1 f×1 → N=10 V=6 f1=3 f2=2
    // chao1 = 6 + 9 DIV 4 = 8; P0 = 3e6 DIV 10 = 300000
    val t1 = "a a a b b c c d e f"
    val r1 = CorpusStats.richness(Seq((1L, t1)).toDF("doc_id", "text"))
      .collect().head
    assert(r1.toSeq === Seq(10L, 6L, 3L, 2L, 8L, 300000L))
    // no doubletons: a×3 d×1 e×1 → V=3, chao1 = 3 + (2·1) DIV 2 = 4
    val r2 = CorpusStats.richness(Seq((1L, "a a a d e")).toDF("doc_id", "text"))
      .collect().head
    assert(r2.toSeq === Seq(5L, 3L, 2L, 0L, 4L, 400000L))
  }

  test("richness: complete-coverage corpus estimates itself; layout-proof") {
    // every term ≥ 3 occurrences: f1 = f2 = 0 → chao1 == vocab,
    // unseen mass 0 — a fully-sampled vocabulary estimates no remainder
    val words = (1 to 40).flatMap(i => Seq.fill(3 + i % 4)(s"w$i"))
    val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val r = CorpusStats.richness(df).collect().head
    assert(r.getLong(2) === 0L && r.getLong(3) === 0L)
    assert(r.getLong(4) === r.getLong(1))
    assert(r.getLong(5) === 0L)
    assert(CorpusStats.richness(df.repartition(7)).collect().head.toSeq
      === r.toSeq)
  }

  test("zipfTailIndex: hand-computed tail; sub-threshold terms excluded") {
    // counts: a×8 b×4 c×2 d×1; xMin=2 → tail {8,4,2}, m=3,
    // Σ = ⌊ln4·10⁶⌉ + ⌊ln2·10⁶⌉ + ⌊ln1·10⁶⌉ = 1386294 + 693147 + 0
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++
      Seq.fill(2)("c") ++ Seq("d")).mkString(" ")
    val r = CorpusStats.zipfTailIndex(Seq((1L, text)).toDF("doc_id", "text"),
      xMin = 2L).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((4L, 2L, 3L, 2079441L)))
    assert(r.getDouble(4) === 1.0 + 3000000.0 / 2079441L)
  }

  test("zipfTailIndex: planted power law recovers its exponent; " +
      "degenerate tail → NULL alpha; layout-proof") {
    // plant counts c_r ~ r^(-1) over ranks (Zipf pmf exponent ~2 →
    // frequency-tail Hill alpha near 2): term r appears ⌈400/r⌉ times
    val words = (1 to 120).flatMap(r => Seq.fill(400 / r + 1)(s"w$r"))
    val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val a = CorpusStats.zipfTailIndex(df, xMin = 4L).collect().head
    assert(a.getDouble(4) > 1.6 && a.getDouble(4) < 2.4,
      s"alpha ${a.getDouble(4)} off the planted exponent")
    val b = CorpusStats.zipfTailIndex(df.repartition(7), xMin = 4L)
      .collect().head
    assert(a.toSeq === b.toSeq)
    // every surviving count equal to xMin → zero log mass → NULL
    val flat = Seq((1L, "x x y y z z")).toDF("doc_id", "text")
    val f = CorpusStats.zipfTailIndex(flat, xMin = 2L).collect().head
    assert(f.getLong(3) === 0L && f.isNullAt(4))
  }

  test("fertility: hand ratios incl. multibyte density; whitespace slice NULLs") {
    val docs = Seq(("en", "Hello world"), ("en", "a  b"),
      ("zh", "你好 世界"), ("xx", "   "))
      .toDF("lang", "text")
    val got = CorpusStats.fertility(docs, col("lang"), col("text"))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    // en: 2 docs, 4 tokens, 15 chars, 15 bytes
    assert(got("en") === Seq(2L, 4L, 15L, 15L,
      3750000L, 3750000L, 1000000L))
    // zh: 2 tokens, 5 chars, 13 UTF-8 bytes -> bytes/char 2.6
    assert(got("zh") === Seq(1L, 2L, 5L, 13L,
      2500000L, 6500000L, 2600000L))
    // all-whitespace: 0 tokens -> per-token ratios NULL, not fake 0
    assert(got("xx") === Seq(1L, 0L, 3L, 3L, null, null, 1000000L))
  }

  test("fertility: layout independence") {
    val docs = (0 until 300).map(i =>
      (s"l${i % 4}", s"w$i " * (i % 7 + 1))).toDF("lang", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.fertility(d, col("lang"), col("text"))
        .collect().map(_.toSeq).toSeq
    assert(run(docs) === run(docs.repartition(11)))
  }

  test("captureRecapture: hand overlap table, both estimators exact") {
    import spark.implicits._
    // A = {1..60}, B = {41..100}: n1=60, n2=60, m=20
    // Chapman = 61*61 // 21 - 1 = 176; Lincoln = 3600 // 20 = 180
    val a = (1 to 60).map(i => Tuple1(i.toLong)).toDF("id")
    val b = (41 to 100).map(i => Tuple1(i.toLong)).toDF("id")
    val r = CorpusStats.captureRecapture(a, b, col("id"), col("id"))
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((60L, 60L, 20L)))
    assert(r.getLong(3) === 100L)
    assert(r.getLong(4) === 176L)
    assert(r.getLong(5) === 76L)
    assert(r.getLong(6) === 180L)
  }

  test("captureRecapture: disjoint samples stay finite; duplicates collapse; layout-proof") {
    import spark.implicits._
    val a = Seq(1L, 1L, 2L, 2L).map(Tuple1(_)).toDF("id") // dups collapse
    val b = Seq(9L, 8L).map(Tuple1(_)).toDF("id")
    val r = CorpusStats.captureRecapture(a, b, col("id"), col("id"))
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 2L, 0L)))
    assert(r.getLong(4) === 8L)      // (3*3)//1 - 1: finite at m=0
    assert(r.isNullAt(6))            // Lincoln undefined at m=0
    val big = (1 to 400).map(i => Tuple1((i % 97).toLong)).toDF("id")
    val sub = big.filter(col("id") < 50)
    val x = CorpusStats.captureRecapture(big, sub, col("id"),
      col("id")).collect().head
    val y = CorpusStats.captureRecapture(big.repartition(13),
      sub.repartition(7), col("id"), col("id")).collect().head
    assert(x.toSeq === y.toSeq)
  }
}
