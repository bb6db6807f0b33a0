package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{Similarity, TextDedup}

/** Seeded corpus: Zipf vocabularies for five languages, planted exact
  * duplicates (case/punctuation/spacing jitter of an earlier document)
  * and planted near-duplicates (a few words of an earlier document
  * substituted, word-3-gram Jaccard ≈ 0.8), plus 64-dim embeddings with
  * planted near-copies used as top-k queries. */
object CorpusGen {
  val langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "vi")
  val sources: IndexedSeq[String] = IndexedSeq("web", "news", "forum", "wiki", "books")
  val vocab = 4000
  val dim = 64
  val nQueries = 32

  final case class Doc(id: Long, lang: Int, source: Int, text: String, quality: Int)
  final case class Inputs(docs: IndexedSeq[Doc], nearPairs: Seq[(Long, Long)],
                          vectors: IndexedSeq[Array[Float]], queries: IndexedSeq[(Array[Float], Long)])

  private val zipfCdf: Array[Double] = {
    val w = (1 to vocab).map(r => 1.0 / r)
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private def zipf(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(vocab - 1, if (i >= 0) i else -i - 1)
  }

  private val syllables = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
  /** Word `rank` of language `lang`: a language tag letter plus syllables. */
  def word(lang: Int, rank: Int): String = {
    val sb = new StringBuilder().append("xqjwy" (lang))
    var n = rank + 1
    while (n > 0) { sb.append(syllables(n % syllables.size)); n /= syllables.size }
    sb.toString
  }

  private def jitter(r: SplittableRandom, text: String): String =
    text.split(' ').map { w =>
      val cased = if (r.nextInt(8) == 0) w.capitalize else w
      r.nextInt(10) match {
        case 0 => cased + ","
        case 1 => cased + "!"
        case 2 => cased + " "
        case _ => cased
      }
    }.mkString(" ")

  def generate(seed: Long, nDocs: Int, nVectors: Int): Inputs = {
    val r = new SplittableRandom(seed)
    val docs = mutable.ArrayBuffer.empty[Doc]
    val originals = mutable.ArrayBuffer.empty[Int]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    while (docs.size < nDocs) {
      val id = docs.size + 1L
      // after the first 100 originals, 5 of every 100 documents are exact
      // and 7 near-duplicates, so the seed changes only values and targets
      val slot = id % 100
      if (id > 100 && slot < 5) {
        val base = docs(originals(r.nextInt(originals.size)))
        docs += base.copy(id = id, text = jitter(r, base.text), quality = r.nextInt(1000))
      } else if (id > 100 && slot < 12) {
        val base = docs(originals(r.nextInt(originals.size)))
        val words = base.text.split(' ')
        // substitute one word per segment of ~27 shingles, spaced so the
        // changed 3-grams never overlap: J = (S - 3m) / (S + 3m) ≈ 0.8
        val m = math.max(1, math.round((words.length - 2) / 27.0).toInt)
        val seg = words.length / m
        (0 until m).foreach { k =>
          val pos = k * seg + 1 + r.nextInt(math.max(1, seg - 2))
          var w = words(pos)
          while (w == words(pos)) w = word(base.lang, zipf(r))
          words(pos) = w
        }
        docs += base.copy(id = id, text = words.mkString(" "), quality = r.nextInt(1000))
        near += ((base.id, id))
      } else {
        val lang = r.nextInt(langs.size)
        val len = r.nextInt(40, 81)
        val text = Iterator.continually(word(lang, zipf(r))).take(len).mkString(" ")
        originals += docs.size
        docs += Doc(id, lang, r.nextInt(sources.size), text, r.nextInt(1000))
      }
    }
    val vectors = IndexedSeq.fill(nVectors)(Array.fill(dim)(r.nextGaussian().toFloat))
    val queries = IndexedSeq.fill(nQueries) {
      val target = r.nextInt(nVectors)
      (vectors(target).map(x => (x + 0.05 * r.nextGaussian()).toFloat), target + 1L)
    }
    Inputs(docs.toIndexedSeq, near.toSeq, vectors, queries)
  }

  /** Canonical byte form of the generated inputs (generator identity). */
  def serialize(in: Inputs): Array[Byte] = {
    val sb = new StringBuilder
    in.docs.foreach(d => sb.append(s"${d.id}\t${d.lang}\t${d.source}\t${d.quality}\t${d.text}\n"))
    in.vectors.foreach(v => sb.append(v.mkString(",")).append('\n'))
    in.queries.foreach { case (v, t) => sb.append(s"$t:").append(v.mkString(",")).append('\n') }
    sb.toString.getBytes("UTF-8")
  }
}

/** Plain-Scala answers for the dedup pipeline. */
object CorpusCheck {
  val shingleN = 3
  val bands = 8 // TextDedup.minhashNearDups defaults
  val rows = 4

  /** The ASCII case of `TextDedup.canonicalText`: lowercase, every
    * non-alphanumeric to a space, whitespace runs collapsed, trimmed. */
  def canonical(s: String): String =
    s.toLowerCase.map(c => if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
      Character.isWhitespace(c)) c else ' ').trim.split("\\s+").mkString(" ")

  /** Word-3-gram set, matching the shingler: lowercase, whitespace split,
    * a text shorter than 3 words contributes its words. */
  def shingles(s: String): Set[String] = {
    val w = s.toLowerCase.split("[ \\t\\n\\x0B\\f\\r]+").filter(_.nonEmpty)
    if (w.length >= shingleN) w.sliding(shingleN).map(_.mkString(" ")).toSet else w.toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val u = (a | b).size
    if (u == 0) Double.NaN else (a & b).size.toDouble / u
  }

  /** Exact dedup keeps the smallest id per canonical text. */
  def survivors(docs: Seq[CorpusGen.Doc]): Set[Long] =
    docs.groupBy(d => canonical(d.text)).values.map(_.map(_.id).min).toSet

  /** LSH banding: a pair at Jaccard s collides in some band with
    * probability 1-(1-s^r)^b. The recall bound is the expected number of
    * recovered planted pairs minus four binomial standard deviations. */
  def recallBound(planted: Seq[Double]): Double = {
    val p = planted.map(s => 1 - math.pow(1 - math.pow(s, rows), bands))
    val mean = p.sum
    val sd = math.sqrt(p.map(x => x * (1 - x)).sum)
    math.max(0.0, (mean - 4 * sd) / planted.size)
  }

  /** Components of the emitted pair graph: (doc, component=min id,
    * keep=best quality then lowest id, is_rep) for every surviving doc. */
  def representatives(docs: Seq[CorpusGen.Doc], pairs: Seq[(Long, Long)]): Seq[String] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byComp = docs.groupBy(d => find(d.id))
    docs.map { d =>
      val members = byComp(find(d.id))
      val comp = members.map(_.id).min
      val keep = members.minBy(m => (-m.quality, m.id)).id
      Canon.row(Seq(d.id, comp, keep, d.id == keep))
    }
  }

  /** Mismatches in the emitted near-dup pairs: every pair must be two
    * survivors at replayed Jaccard ≥ threshold (and report that value),
    * and planted-pair recall must reach the derived bound. */
  def nearDupErrors(docs: Map[Long, CorpusGen.Doc], surv: Set[Long], planted: Seq[(Long, Long)],
                    emitted: Seq[(Long, Long, Double)], threshold: Double): Seq[String] = {
    val sh = mutable.Map.empty[Long, Set[String]]
    def s(id: Long) = sh.getOrElseUpdate(id, shingles(docs(id).text))
    val bad = emitted.flatMap { case (a, b, j) =>
      if (!surv(a) || !surv(b)) Some(s"pair ($a,$b) is not between exact-dedup survivors")
      else {
        val want = jaccard(s(a), s(b))
        if (!(want >= threshold)) Some(s"pair ($a,$b) replayed Jaccard $want < $threshold")
        else if (math.abs(want - j) > 1e-9) Some(s"pair ($a,$b) Jaccard $j, replayed $want")
        else None
      }
    }
    val live = planted.filter { case (a, b) => surv(a) && surv(b) }
      .map(p => (p, jaccard(s(p._1), s(p._2)))).filter(_._2 >= threshold)
    val found = emitted.map(e => (e._1, e._2)).toSet
    val hit = live.count { case ((a, b), _) => found((math.min(a, b), math.max(a, b))) }
    val bound = recallBound(live.map(_._2))
    val recall = if (live.isEmpty) 1.0 else hit.toDouble / live.size
    bad ++ (if (recall < bound) Seq(f"near-dup recall $recall%.4f below the LSH bound $bound%.4f " +
      s"(${live.size} planted pairs)") else Nil)
  }

  def survivorErrors(got: Set[Long], want: Set[Long]): Seq[String] =
    if (got == want) Nil
    else Seq(s"normalizedExact kept ${got.size} docs, replay ${want.size}; " +
      s"extra ${(got -- want).take(3)} missing ${(want -- got).take(3)}")

  def representativeErrors(got: Seq[String], docs: Seq[CorpusGen.Doc],
                           pairs: Seq[(Long, Long)]): Seq[String] = {
    val (g, w) = (got.sorted, representatives(docs, pairs).sorted)
    if (g == w) Nil
    else Seq(s"dedupRepresentatives differs from the union-find replay: " +
      s"${g.diff(w).take(3)} / ${w.diff(g).take(3)}")
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Top-k check: k rows ranked 1..k per query, the planted copy first,
    * and every returned vector inside the replayed top-k. */
  def topKErrors(in: CorpusGen.Inputs, k: Int, got: Seq[(Long, Long, Double, Int)]): Seq[String] = {
    val byQ = got.groupBy(_._1)
    in.queries.indices.flatMap { q =>
      val (qv, target) = in.queries(q)
      val rows = byQ.getOrElse(CorpusBench.queryId(q), Nil).sortBy(_._4)
      val sims = in.vectors.map(cosine(qv, _))
      val kth = sims.sorted(Ordering[Double].reverse)(k - 1)
      if (rows.map(_._4) != (1 to k)) Seq(s"query $q ranks ${rows.map(_._4)}")
      else if (rows.head._2 != target) Seq(s"query $q top-1 ${rows.head._2}, planted $target")
      else rows.flatMap { case (_, id, sim, _) =>
        val want = sims((id - 1).toInt)
        if (math.abs(want - sim) > 1e-9) Some(s"query $q vector $id sim $sim, replayed $want")
        else if (want < kth - 1e-9) Some(s"query $q vector $id outside the replayed top-$k")
        else None
      }
    }
  }
}

/** `corpus_dedup`: exact dedup, MinHash near-dup, representatives and one
  * brute-force embedding top-k per pass. */
final class CorpusBench(seed: Long, nDocs: Int, nVectors: Int) extends Workload {
  import CorpusBench._
  val name = "corpus_dedup"
  private val threshold = 0.7
  private val k = 10
  private var in: CorpusGen.Inputs = _
  private var dir: File = _
  private lazy val byId = in.docs.map(d => d.id -> d).toMap
  private lazy val expectSurv = CorpusCheck.survivors(in.docs)
  private var lastPairs = 0L

  def setup(spark: SparkSession, d: File): Unit = {
    in = CorpusGen.generate(seed, nDocs, nVectors)
    dir = d
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType),
      StructField("quality", IntegerType)))
    spark.createDataFrame(in.docs.map(x => Row(x.id, CorpusGen.langs(x.lang),
      CorpusGen.sources(x.source), x.text, x.quality)).asJava, docSchema)
      .write.parquet(new File(d, "documents").getPath)
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(in.vectors.zipWithIndex.map { case (v, i) =>
      Row(i + 1L, v.toSeq) }.asJava, vecSchema).write.parquet(new File(d, "embeddings").getPath)
    val qSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(in.queries.zipWithIndex.map { case ((v, _), q) =>
      Row(queryId(q), v.toSeq) }.asJava, qSchema).write.parquet(new File(d, "queries").getPath)
  }

  private def docs(spark: SparkSession) = spark.read.parquet(new File(dir, "documents").getPath)

  def pass(spark: SparkSession, i: Int, t: Tracer): PassOut = {
    val calls = mutable.ArrayBuffer.empty[(String, Long)]
    val t0 = System.nanoTime()
    val survivors = TextDedup.normalizedExact(t.span("sources.read.documents")(docs(spark)))
    val surv = Harness.timedCollect(t, "operators.TextDedup.normalizedExact", calls)(
      survivors.select("doc_id")).map(_.getLong(0)).toSet
    val pairs = Harness.timedCollect(t, "operators.TextDedup.minhashNearDups", calls)(
      TextDedup.minhashNearDups(survivors, threshold).select("id_a", "id_b", "jaccard"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val pairDf = spark.createDataFrame(pairs.map(p => Row(p._1, p._2)).asJava,
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    val reps = Harness.timedCollect(t, "operators.TextDedup.dedupRepresentatives", calls)(
      TextDedup.dedupRepresentatives(survivors, pairDf, col("quality"))
        .select("doc_id", "component", "keep_id", "is_rep")).map(Canon.row).toSeq
    val topk = Harness.timedCollect(t, "operators.Similarity.bruteForceTopK", calls)(
      Similarity.bruteForceTopK(
        t.span("sources.read.embeddings")(spark.read.parquet(new File(dir, "embeddings").getPath)),
        spark.read.parquet(new File(dir, "queries").getPath), k)
        .select("query_id", "vec_id", "sim", "rank"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val wall = System.nanoTime() - t0
    lastPairs = pairs.size
    PassOut(Seq(wall), calls.toSeq, nDocs, 4, () =>
      CorpusCheck.survivorErrors(surv, expectSurv) ++
        CorpusCheck.nearDupErrors(byId, expectSurv, in.nearPairs, pairs, threshold) ++
        CorpusCheck.representativeErrors(reps, in.docs.filter(d => expectSurv(d.id)),
          pairs.map(p => (p._1, p._2))) ++
        CorpusCheck.topKErrors(in, k, topk))
  }

  override def afterTracedPass(spark: SparkSession, i: Int, passStartMs: Long): Map[String, Double] =
    Map("operators.TextDedup.candidate_pairs" ->
      TextDedup.minhashCandidates(TextDedup.normalizedExact(docs(spark))).count().toDouble,
      "operators.TextDedup.verified_pairs" -> lastPairs.toDouble)
}

object CorpusBench {
  def queryId(q: Int): Long = 1000000000L + q
}
