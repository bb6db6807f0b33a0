package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** MMR re-ranking: agreement with an independent driver-side greedy
  * reference, redundancy demotion of a planted duplicate, λ edges, and
  * layout independence. */
class MmrSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val dim = 8
  private def vec(id: Long): Array[Float] =
    Array.tabulate(dim)(j => (((id * 31 + j * 17 + 7) % 13).toFloat - 6f) / 6f)

  // corpus 0..19, plus 50 = near-duplicate of 3 (tiny perturbation)
  private val ids: Seq[Long] = (0L until 20L) :+ 50L
  private def corpusVec(id: Long): Array[Float] =
    if (id == 50L) vec(3L).zipWithIndex.map { case (x, j) =>
      if (j == 0) x + 1e-4f else x }
    else vec(id)

  private lazy val corpus =
    ids.map(i => (i, corpusVec(i))).toDF("vec_id", "embedding")
  private lazy val queries = Seq((0L, corpusVec(0L)))
    .toDF("query_id", "embedding")

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  private def micro(x: Double): Long = math.floor(x * 1000000L + 0.5).toLong

  /** Independent greedy reference over an exact shortlist. */
  private def reference(qid: Long, k: Int, sl: Int, lam: Long)
      : Seq[(Long, Long)] = {
    val qv = corpusVec(qid)
    val shortlist = ids.filter(_ != qid)
      .map(i => (i, cos(corpusVec(i), qv)))
      .sortBy { case (i, s) => (-s, i) }.take(sl)
      .map { case (i, s) => (i, micro(s)) }
    val selected = scala.collection.mutable.ArrayBuffer[Long]()
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    for (_ <- 1 to math.min(k, shortlist.length)) {
      val scored = shortlist.filterNot(c => selected.contains(c._1)).map {
        case (i, sq) =>
          val maxSel =
            if (selected.isEmpty) 0L
            else selected.map(s => micro(cos(corpusVec(i), corpusVec(s)))).max
          (i, lam * sq - (1000000L - lam) * maxSel)
      }
      val best = scored.minBy { case (i, sc) => (-sc, i) }
      selected += best._1
      out += best
    }
    out.toSeq
  }

  test("agrees with the independent greedy reference") {
    val got = Similarity.mmrRerank(corpus, queries, k = 6, shortlist = 12,
        lambdaPpm = 700000L)
      .orderBy("mmr_rank")
      .select("vec_id", "mmr_score_upm").as[(Long, Long)].collect().toSeq
    assert(got == reference(0L, k = 6, sl = 12, lam = 700000L))
  }

  test("planted near-duplicate is demoted below λ=1 position") {
    // with λ=1 MMR degenerates to plain top-k: 3 and its clone 50 sit
    // adjacent; with λ=0.7 the clone must fall at least one position
    val plain = Similarity.mmrRerank(corpus, queries, k = 8, shortlist = 12,
        lambdaPpm = 1000000L)
      .orderBy("mmr_rank").select("vec_id").as[Long].collect().toSeq
    val divers = Similarity.mmrRerank(corpus, queries, k = 8, shortlist = 12,
        lambdaPpm = 700000L)
      .orderBy("mmr_rank").select("vec_id").as[Long].collect().toSeq
    val Seq(p3, p50) = Seq(plain.indexOf(3L), plain.indexOf(50L))
    if (p3 >= 0 && p50 >= 0) assert(math.abs(p3 - p50) == 1)
    val d50 = divers.indexOf(50L)
    assert(d50 == -1 || d50 > plain.indexOf(50L),
      s"clone not demoted: plain=$plain diversified=$divers")
  }

  test("λ=1 reduces to exact top-k order") {
    val mmr = Similarity.mmrRerank(corpus, queries, k = 5, shortlist = 10,
        lambdaPpm = 1000000L)
      .orderBy("mmr_rank").select("vec_id").as[Long].collect().toSeq
    val topk = Similarity.bruteForceTopK(corpus, queries, 5)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(mmr == topk)
  }

  test("layout independence: same picks on any partitioning") {
    val scrambled = corpus.repartition(13).sortWithinPartitions("embedding")
    val a = Similarity.mmrRerank(corpus, queries, k = 5, shortlist = 10)
      .orderBy("mmr_rank").collect().toSeq
    val b = Similarity.mmrRerank(scrambled, queries, k = 5, shortlist = 10)
      .orderBy("mmr_rank").collect().toSeq
    assert(a == b)
  }

  test("ANN variant: contiguous ranks, picks within the LSH shortlist, " +
      "exact agreement when every candidate survives bucketing") {
    // bits=1 → 2 buckets: the query's home + the 1-bit flip probe cover
    // the WHOLE space at nProbe=2, so the LSH shortlist equals the
    // exact shortlist and the greedy must replay mmrRerank identically.
    val exact = Similarity.mmrRerank(corpus, queries, k = 5, shortlist = 12)
      .orderBy("mmr_rank").collect().toSeq
    val annFull = Similarity.mmrRerankAnn(corpus, queries, k = 5,
        bits = 1, dim = dim, nProbe = 2, shortlist = 12)
      .orderBy("mmr_rank").collect().toSeq
    assert(annFull == exact)
    // tighter buckets (bits=4, single probe): output keeps the MMR
    // contract — contiguous ranks from 1, ids drawn from the LSH
    // candidate set, never more than k rows
    val ann = Similarity.mmrRerankAnn(corpus, queries, k = 5,
        bits = 4, dim = dim, nProbe = 1, shortlist = 12)
      .orderBy("mmr_rank")
      .select("vec_id", "mmr_rank").as[(Long, Long)].collect().toSeq
    assert(ann.map(_._2) == (1L to ann.length.toLong))
    assert(ann.length <= 5)
    val cands = Similarity.lshTopKMultiProbe(corpus, queries, 12,
        bits = 4, dim = dim, nProbe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(ann.map(_._1).toSet.subsetOf(cands))
  }

  test("ANN variant: layout independence") {
    val scrambled = corpus.repartition(13).sortWithinPartitions("embedding")
    val a = Similarity.mmrRerankAnn(corpus, queries, k = 5,
        bits = 3, dim = dim, nProbe = 2, shortlist = 10)
      .orderBy("mmr_rank").collect().toSeq
    val b = Similarity.mmrRerankAnn(scrambled, queries, k = 5,
        bits = 3, dim = dim, nProbe = 2, shortlist = 10)
      .orderBy("mmr_rank").collect().toSeq
    assert(a == b)
  }
}
