package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark
import graft.sources.Tables
import graft.functions.Vectors

/** MinHash/SimHash/ANN behavior on the real corpus (sf0.001: 500 docs with
  * planted near-duplicates, 500 64-dim embeddings). */
class DedupSimilaritySpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._
  def docs = Tables.documents(spark, SharedSpark.sf0001)
  def emb  = Tables.embeddings(spark, SharedSpark.sf0001)

  lazy val exactPairs: Set[(Long, Long)] = {
    val ids = docs.select(col("doc_id").as("id_a"))
      .crossJoin(docs.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    TextDedup.jaccardVerify(ids, docs)
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
  }

  test("minhash LSH recalls the planted >=0.5-Jaccard near-dup pairs") {
    val found = TextDedup.minhashNearDups(docs, 0.5, bands = 12, rows = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exactPairs.nonEmpty)
    // jaccardVerify filters candidates exactly, so found ⊆ exact...
    assert(found.subsetOf(exactPairs))
    // ...and LSH recall on the planted (high-jaccard) dups should be high
    val recall = found.size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"recall $recall, found ${found.size}/${exactPairs.size}")
  }

  test("simhash near-dups overlap the exact near-dup set") {
    val sim = TextDedup.simhashNearDups(docs, maxHamming = 10, prefixBits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sim.nonEmpty)
    assert(sim.intersect(exactPairs).nonEmpty)
  }

  test("prefix-filter join returns EXACTLY the all-pairs Jaccard result") {
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val ids = docs.select(col("doc_id").as("id_a"))
        .crossJoin(docs.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      val brute = TextDedup.jaccardVerify(ids, docs)
        .filter(col("jaccard") >= t)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val pf = TextDedup.prefixFilterJoin(docs, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pf === brute, s"threshold $t")
      assert(pf.nonEmpty, s"threshold $t found nothing — test corpus too clean")
    }
  }

  test("prefix-filter join: edge thresholds and degenerate docs") {
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),      // identical → J = 1.0
      (3L, "alpha beta gamma epsilon"),
      (4L, ""),                            // shingle-less: never paired
      (5L, "  ")
    ).toDF("doc_id", "text")
    val at1 = TextDedup.prefixFilterJoin(d, 1.0, shingleN = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(at1 === Set((1L, 2L)))
    val at05 = TextDedup.prefixFilterJoin(d, 0.5, shingleN = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(at05.contains((1L, 2L)) && !at05.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("overlapStats: containment catches quote-inclusion Jaccard misses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc 2 is a verbatim quote inside doc 1's much longer text
    val quote = "the quick brown fox jumps over the lazy dog"
    val long = s"paragraph one filler words here and there $quote closing remarks follow at the end of this article"
    val docs = Seq((1L, long), (2L, quote), (3L, "totally different content entirely")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      graft.plans.HashExprs.shingles(spark, col("text"), 3).as("sh"))
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = TextDedup.overlapStats(pairs, sh, sh)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5), r.getDouble(6),
          r.getDouble(7)))).toMap
    val (na, nb, ni, j, ca, cb) = out((1L, 2L))
    // every one of the quote's 7 shingles appears in the article
    assert(nb === 7 && ni === 7 && cb === 1.0)
    assert(j < 0.5, s"jaccard $j should be diluted by the article length")
    assert(ca === ni.toDouble / na)
    // unrelated pair: zero overlap everywhere
    val (_, _, ni3, j3, ca3, cb3) = out((1L, 3L))
    assert(ni3 === 0 && j3 === 0.0 && ca3 === 0.0 && cb3 === 0.0)
  }

  test("exact dedup keeps one row per distinct text") {
    val d2 = docs.unionByName(docs) // duplicate everything
    val r = TextDedup.exact(d2)
    assert(r.count() === docs.select("text").distinct().count())
  }

  test("bruteForceTopK matches a manual exact computation") {
    val queries = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.bruteForceTopK(emb, queries, 5)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    // manual: compute cosine on the driver
    val all = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val q = all.find(_._1 == 0L).get._2.map(_.toDouble)
    def cos(v: Array[Float]) = {
      val d = v.map(_.toDouble)
      val dot = d.zip(q).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(d.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
    }
    val expected = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
    assert(got === expected)
  }

  test("sourceOverlap: containment both ways, within-source dups collapse, disjoint pairs absent") {
    val docs = Seq(
      ("A", "shared1"), ("A", "shared2"), ("A", "a_only"), ("A", "a_only"),
      ("B", "shared1"), ("B", "shared2"),
      ("C", "c_only")
    ).toDF("source", "text")
    val out = TextDedup.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // A has 3 distinct docs (dup collapsed), B has 2, common 2:
    // 2/3 of A is in B; all of B is in A
    assert(out(("A", "B")) === ((3L, 2L, 2L, 666666L, 1000000L)))
    assert(out.keySet === Set(("A", "B"))) // C overlaps nothing
  }

  test("sourceOverlap is layout-independent") {
    val docs = (0L until 3000L)
      .map(i => (s"s${i % 6}", s"doc${(i * 13) % 400}")).toDF("source", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextDedup.sourceOverlap(d).collect().map(_.toSeq).toSeq
    assert(run(docs) === run(docs.repartition(17)))
  }

  test("centroidShiftMicro: hand shift, identical snapshots at zero, one-sided groups NULL") {
    val a = Seq(("g1", Array(1.0f, 0.0f)), ("g1", Array(0.0f, 1.0f)),
      ("g2", Array(0.5f, 0.5f)), ("only_a", Array(1.0f, 1.0f)))
      .toDF("label", "embedding")
    val b = Seq(("g1", Array(1.0f, 1.0f)),   // centroid (1e6, 1e6)
      ("g2", Array(0.5f, 0.5f)))             // unchanged
      .toDF("label", "embedding")
    val out = Similarity.centroidShiftMicro(a, b, "label")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    // g1 A-centroid = (500000, 500000), B = (1e6, 1e6): 2·500000²
    assert(out("g1") === ((2L, 1L, 2L, Some(500000000000L))))
    assert(out("g2") === ((1L, 1L, 2L, Some(0L))))
    assert(out("only_a") === ((1L, 0L, 2L, None)))
  }

  test("centroidShiftMicro is layout-independent (truncating means, exact sums)") {
    val mk = (seed: Long) => (0L until 600L).map { i =>
      (s"g${i % 3}", Array.tabulate(8)(d =>
        (((i * 31 + d * 7 + seed) % 997).toFloat / 997f)))
    }.toDF("label", "embedding")
    val a = mk(0); val b = mk(13)
    def run(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      Similarity.centroidShiftMicro(x, y, "label").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4)))
        .toSeq
    assert(run(a, b) === run(a.repartition(17), b.repartition(5)))
  }

  test("mutualPairs: reciprocity filter on a hand kNN frame") {
    // 1→2, 2→1 (mutual@1); 3→1 but 1↛3 (one-sided);
    // 4's best is 5 at rank 2, 5's best is 4 at rank 1 → mutual@2 only
    val knn = Seq(
      (1L, 2L, 1), (1L, 5L, 2),
      (2L, 1L, 1), (2L, 3L, 2),
      (3L, 1L, 1), (3L, 2L, 2),
      (4L, 5L, 2), (4L, 3L, 1),
      (5L, 4L, 1), (5L, 1L, 2)
    ).toDF("query_id", "vec_id", "rank")
    val at1 = Similarity.mutualPairs(knn, kMutual = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(at1 === Seq((1L, 2L)))
    val at2 = Similarity.mutualPairs(knn, kMutual = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3))).toSeq
    // (1,2) both rank 1; (1,5) and (2,3) both rank 2 each way;
    // (4,5): 5 is 4's rank-2, 4 is 5's rank-1
    assert(at2 === Seq((1L, 2L, 1, 1), (1L, 5L, 2, 2), (2L, 3L, 2, 2),
      (4L, 5L, 2, 1)))
  }

  test("mutualPairs over bruteForceTopK matches a driver-side reciprocity check") {
    val queries = emb.limit(60).select(col("vec_id").as("query_id"),
      col("embedding"))
    val knn = Similarity.bruteForceTopK(
      emb.join(queries.select(col("query_id").as("vec_id")), "vec_id"),
      queries, 3)
    val lists = knn.select(col("query_id"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(v => v._2 -> v._3).toMap).toMap
    val expected = (for {
      (q, nbrs) <- lists.toSeq; (v, rab) <- nbrs.toSeq
      if q < v; rba <- lists.getOrElse(v, Map.empty).get(q)
    } yield (q, v, rab, rba)).sortBy(p => (p._1, p._2))
    val got = Similarity.mutualPairs(knn, kMutual = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3))).toSeq
    assert(got === expected)
    assert(got.nonEmpty) // 60 vectors, k=3 — reciprocity must occur
  }

  test("lshTopK sims are genuine cosines and bounded by the brute-force best") {
    val queries = emb.limit(50).select(col("vec_id").as("query_id"), col("embedding"))
    val brute = Similarity.bruteForceTopK(emb, queries, 1)
      .select(col("query_id"), col("sim").as("best")).as[(Long, Double)].collect().toMap
    val approx = Similarity.lshTopK(emb, queries, 1, bits = 6, dim = 64)
      .select(col("query_id"), col("sim")).as[(Long, Double)].collect()
    assert(approx.nonEmpty)
    approx.foreach { case (qid, s) => assert(s <= brute(qid) + 1e-9) }
  }

  test("multi-probe LSH recall@1 >= single-probe recall@1 (vs brute force)") {
    val queries = emb.limit(100).select(col("vec_id").as("query_id"), col("embedding"))
    val truth = Similarity.bruteForceTopK(emb, queries, 1)
      .select(col("query_id"), col("vec_id")).as[(Long, Long)].collect().toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.filter(col("rank") === 1)
        .select(col("query_id"), col("vec_id")).as[(Long, Long)].collect().toMap
      got.count { case (q, v) => truth.get(q).contains(v) }.toDouble / truth.size
    }
    // random (unstructured) vectors are the worst case for LSH — the true
    // NN sits at only ~0.4 cosine; use few bits so buckets stay coarse
    val r1 = recall(Similarity.lshTopK(emb, queries, 1, bits = 4, dim = 64))
    val rp = recall(Similarity.lshTopKMultiProbe(emb, queries, 1, bits = 4, dim = 64, nProbe = 5))
    assert(rp >= r1)
    assert(rp > 0.15, s"multi-probe recall $rp unexpectedly low (single-probe $r1)")
  }

  test("IVF ANN: genuine cosines, bounded by brute force, decent recall") {
    val queries = emb.limit(100).select(col("vec_id").as("query_id"), col("embedding"))
    val truth = Similarity.bruteForceTopK(emb, queries, 1)
      .select(col("query_id"), col("vec_id"), col("sim")).as[(Long, Long, Double)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    val cents = Similarity.ivfCentroids(emb, nCells = 8, dim = 64)
    assert(cents.length === 8 * 64)
    val got = Similarity.ivfTopK(emb, queries, 1, nCells = 8, nProbe = 3, dim = 64, cents)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id"), col("sim")).as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, _, s) => assert(s <= truth(q)._2 + 1e-9) }
    val recall = got.count { case (q, v, _) => truth(q)._1 == v }.toDouble / truth.size
    assert(recall >= 0.3, s"IVF recall@1 $recall too low")
  }

  test("mega-bucket skew guard: hot LSH buckets are dropped, sane ones survive") {
    // 40 identical boilerplate docs (one degenerate bucket in every band)
    // + one genuine near-dup pair of distinct docs
    val boiler = (0L until 40L).map(i => (i, "the same boilerplate text repeated here again and again"))
    val pairDocs = Seq(
      (100L, "completely original content about rivers and mountains flowing east"),
      (101L, "completely original content about rivers and mountains flowing west"))
    val docs = (boiler ++ pairDocs).toDF("doc_id", "text")

    val capped = TextDedup.minhashCandidates(docs, maxBucketSize = 10)
      .as[(Long, Long)].collect().toSet
    // the boilerplate bucket (40 > 10) contributes nothing...
    assert(capped.forall { case (a, b) => a >= 100L && b >= 100L })
    // ...but the sane pair still surfaces
    assert(capped.contains((100L, 101L)))
    // with the cap off, boilerplate pairs flood in
    val uncapped = TextDedup.minhashCandidates(docs)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.count { case (a, b) => a < 40L && b < 40L } > 100)
  }

  test("connectedComponents: transitive chains collapse, clusters stay separate") {
    // chain 1-2-3-4 (diameter 3, no direct 1-4 edge) + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = TextDedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: a chain finishing on the last round still succeeds") {
    // 4-node chain: the last label lands in round 3 exactly at maxIter=3 —
    // the confirmation pass must accept it, not discard a correct result
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val comp = TextDedup.connectedComponents(chain, maxIter = 3)
      .as[(Long, Long)].collect().toMap
    assert(comp.values.toSet === Set(1L))
    // genuinely too-deep graph fails loudly
    intercept[IllegalArgumentException](
      TextDedup.connectedComponents(chain, maxIter = 1).collect())
  }

  test("dedupClusters: keep-list maps every doc to its cluster minimum") {
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val keep = TextDedup.dedupClusters(docs, pairs)
      .as[(Long, Long)].collect().toMap
    assert(keep(4L) === 1L && keep(11L) === 10L)
    assert(keep(99L) === 99L) // unpaired doc keeps itself
    // surviving set = distinct keep ids
    assert(keep.values.toSet === Set(1L, 10L, 99L))
  }

  test("cosineNearDups: pairs are a subset of the exact pairs, sims genuine") {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", Vectors.cosine(col("va"), col("vb")))
      .filter(col("sim") >= 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = Similarity.cosineNearDups(emb, threshold = 0.35, bits = 4, dim = 64, nProbe = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "LSH near-dup probe found no pairs at all")
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact).take(5)}")
  }

  test("cosineNearDups recalls planted near-duplicates; dedupByEmbedding drops them") {
    // plant a near-copy of each of the first 20 vectors: one component
    // nudged by 5% — cosine vs the original stays > 0.99, far above any
    // organic pair in this corpus (max ~0.46)
    val base = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    val planted = base.map { case (id, v) =>
      (id + 100000L, v.updated(0, v.head * 1.05f + 0.01f))
    }
    val corpus = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(corpus, threshold = 0.95, bits = 6, dim = 64, nProbe = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = base.map { case (id, _) => (id, id + 100000L) }.toSet
    val recall = pairs.intersect(want).size.toDouble / want.size
    assert(recall >= 0.8, s"planted near-dup recall $recall too low (found ${pairs.size})")

    val kept = Similarity.dedupByEmbedding(corpus, threshold = 0.95, bits = 6, dim = 64, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    // keep-lowest-id: originals survive; recalled planted copies are dropped
    assert(base.map(_._1).toSet.subsetOf(kept))
    val droppedPlanted = planted.map(_._1).count(!kept.contains(_))
    assert(droppedPlanted >= (0.8 * planted.length).toInt)
  }

  test("persisted IVF index: partition-pruned search equals in-memory IVF") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val cents = Similarity.ivfCentroids(
      emb.orderBy("vec_id").limit(512).coalesce(1), nCells = 8, dim = 64)
    Similarity.writeIvfIndex(emb, dir, nCells = 8, dim = 64, cents)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.searchIvfIndex(spark, dir, queries,
      k = 3, nCells = 8, nProbe = 3, dim = 64, cents)
    val want = Similarity.ivfTopK(emb, queries, k = 3, nCells = 8, nProbe = 3,
      dim = 64, cents)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) === rows(want))
    // the probed-cell predicate must prune at the SCAN (partition filter),
    // not as a post-read row filter
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
      s"expected __cell partition pruning in:\n${plan.take(2000)}")

    // REBUILD replaces the whole index: a tiny corpus populating fewer
    // cells must leave no stale cell directories from the previous build
    Similarity.writeIvfIndex(emb.limit(3), dir, nCells = 8, dim = 64, cents)
    import scala.jdk.CollectionConverters._
    val cellDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString)
      .count(_.startsWith("__cell="))
    assert(cellDirs <= 3, s"stale cell dirs survived the rebuild: $cellDirs")
  }

  test("persisted SRP-LSH index: bucket-pruned search equals in-memory " +
      "multi-probe bit-for-bit; rebuild leaves no stale buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    Similarity.writeLshIndex(emb, dir, bits = 5, dim = 64)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.searchLshIndex(spark, dir, queries,
      k = 3, bits = 5, dim = 64, nProbe = 3)
    val want = Similarity.lshTopKMultiProbe(emb, queries, k = 3,
      bits = 5, dim = 64, nProbe = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) === rows(want))
    // probed buckets must prune at the SCAN (partition filter)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__bucket"),
      s"expected __bucket partition pruning in:\n${plan.take(2000)}")
    // static-overwrite rebuild: a 3-vector corpus must not leave stale
    // bucket directories from the full build
    Similarity.writeLshIndex(emb.limit(3), dir, bits = 5, dim = 64)
    import scala.jdk.CollectionConverters._
    val bucketDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString)
      .count(_.startsWith("__bucket="))
    assert(bucketDirs <= 3, s"stale bucket dirs survived: $bucketDirs")
  }

  test("centroids: |labels| x 64 cells, values finite") {
    val c = Similarity.centroids(emb, "label")
    val nLabels = emb.select("label").distinct().count()
    assert(c.count() === nLabels * 64)
    assert(c.filter(col("centroid_val").isNull).count() === 0)
  }

  test("hyperplane buckets are deterministic across evaluations") {
    val b1 = emb.select(col("vec_id"), Vectors.hyperplaneBucket(col("embedding"), 6, 64).as("b"))
      .as[(Long, Long)].collect().toMap
    val b2 = emb.select(col("vec_id"), Vectors.hyperplaneBucket(col("embedding"), 6, 64).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b1 === b2)
  }

  test("dedupEval: hand clusters — pair counts, F1 identity, reduction ratio") {
    import spark.implicits._
    // truth: {1,2,3} {4,5}; pred: {1,2} {3,4} {5}
    // T = 3+1 = 4; P = 1+1 = 2; B = 1 ({1,2}) -> prec .5, rec .25,
    // F1 = 2*1/(2+4) = 1/3; N0 = 10 -> RR = 1 - 2/10 = .8
    val df = Seq((1L, "p1", "t1"), (2L, "p1", "t1"), (3L, "p2", "t1"),
      (4L, "p2", "t2"), (5L, "p3", "t2")).toDF("id", "p", "t")
    val r = TextDedup.dedupEval(df, col("id"), col("p"), col("t"))
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((2L, 4L, 1L)))
    assert(r.getLong(4) === 500000L && r.getLong(5) === 250000L)
    assert(r.getLong(6) === 333333L)
    assert(r.getLong(7) === 800000L)
  }

  test("dedupEval: perfect clustering, NULL singletons, degenerate NULL ppms") {
    import spark.implicits._
    val perfect = Seq((1L, "a", "a"), (2L, "a", "a"), (3L, "b", "b"))
      .toDF("id", "p", "t")
    val pr = TextDedup.dedupEval(perfect, col("id"), col("p"), col("t"))
      .collect().head
    assert(pr.getLong(4) === 1000000L && pr.getLong(5) === 1000000L &&
      pr.getLong(6) === 1000000L)
    // NULL clusters are singletons keyed by id: no fabricated pairs
    val nulls = Seq((1L, None, Some("t")), (2L, None, Some("t")),
      (3L, Option.empty[String], Option.empty[String]))
      .toDF("id", "p", "t")
    val nr = TextDedup.dedupEval(nulls, col("id"), col("p"), col("t"))
      .collect().head
    assert(nr.getLong(1) === 0L && nr.getLong(2) === 1L)
    assert(nr.isNullAt(4), "no predicted pairs: precision undefined")
    assert(nr.getLong(5) === 0L)
    val d = TextDedup.dedupEval(nulls.repartition(5), col("id"),
      col("p"), col("t")).collect().head
    assert(nr.toSeq === d.toSeq)
  }

  test("indexStaleness: fresh index hits the ceiling; stale index is capped by reachability") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val emb = (0L until 300L).map(i =>
      (i, Seq.fill(16)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val freshDir = java.nio.file.Files.createTempDirectory("stale_f").toString
    Similarity.writeLshIndex(emb, freshDir, bits = 4, dim = 16)
    val fresh = Similarity.indexStaleness(spark, freshDir, emb, queries,
      k = 5, bits = 4, dim = 16).collect().head
    assert(fresh.getLong(6) === 1000000L, "full index: everything reachable")
    assert(fresh.getLong(3) <= fresh.getLong(5)) // hits <= reachable
    val staleDir = java.nio.file.Files.createTempDirectory("stale_s").toString
    Similarity.writeLshIndex(emb.filter(col("vec_id") % 3 === 0),
      staleDir, bits = 4, dim = 16)
    val stale = Similarity.indexStaleness(spark, staleDir, emb, queries,
      k = 5, bits = 4, dim = 16).collect().head
    assert(stale.getLong(6) < 1000000L, "a third-size snapshot cannot reach everything")
    assert(stale.getLong(4) <= stale.getLong(6),
      "recall is capped by the structural ceiling")
    assert(stale.getLong(4) <= fresh.getLong(4),
      "staleness never improves recall")
  }

  test("IVF-PQ: layout-proof, sims are true cosines <= exact, persisted == in-memory") {
    val cents = Similarity.ivfCentroids(
      emb.orderBy("vec_id").limit(256).coalesce(1), nCells = 4, dim = 64)
    val cbs = Similarity.ivfPqCodebooks(
      emb.orderBy("vec_id").limit(256).coalesce(1), nCells = 4, dim = 64,
      m = 8, kCodes = 8, cents, maxSample = 256)
    assert(cbs.length === 4 * 8 * 8 * 8)
    val queries = emb.filter(col("vec_id") % 41 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def run(parts: Int) = Similarity.ivfPqTopK(emb.repartition(parts),
        queries, k = 5, nCells = 4, nProbe = 2, m = 8, kCodes = 8,
        dim = 64, cents, cbs, shortlist = 16)
      .collect().map(_.toString).sorted.toSeq
    val a = run(1)
    assert(a === run(7), "IVF-PQ result depends on partition layout")
    // sims are TRUE cosines: never above the exact NN at the same rank
    val exact = Similarity.bruteForceTopK(emb, queries, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    Similarity.ivfPqTopK(emb, queries, k = 1, nCells = 4, nProbe = 2,
        m = 8, kCodes = 8, dim = 64, cents, cbs, shortlist = 16)
      .collect().foreach { r =>
        assert(r.getDouble(2) <= exact(r.getLong(0)) + 1e-12,
          s"query ${r.getLong(0)}: ANN sim above exact")
      }
    // persisted index: bit-identical search, self-contained model
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.writeIvfPqIndex(emb, dir, nCells = 4, dim = 64, m = 8,
      kCodes = 8, cents, cbs)
    val p = Similarity.searchIvfPqIndex(spark, dir, queries, k = 5,
        nProbe = 2, shortlist = 16)
      .collect().map(_.toString).sorted.toSeq
    assert(p === a, "persisted IVF-PQ search diverged from in-memory")
    // probed cells must prune at the scan
    val plan = Similarity.searchIvfPqIndex(spark, dir, queries, k = 5,
        nProbe = 2, shortlist = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
      s"expected __cell partition pruning in:\n${plan.take(2000)}")
    intercept[IllegalArgumentException] {
      Similarity.searchIvfPqIndex(spark, dir + "_nope", queries, k = 5,
        nProbe = 2)
    }
  }

  test("quantizationAudit: hand case, zero vector, layout-proof") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.27f, -0.635f, 0.0f)), // scale = 1.27/127 = 0.01
      (2L, Array(0.0f, 0.0f, 0.0f)),     // zero vector: scale 0, no error
      (3L, Array(-2.54f, 1.27f, 0.005f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizationAudit(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // v1: scale 0.01 → q = [127, -64 (-63.5 rounds to -63? floor(-63.5+0.5)=-63), 0]
    val s1 = 1.27f.toDouble / 127.0
    def q(x: Double, s: Double): Long =
      math.max(-127L, math.min(127L, math.floor(x / s + 0.5).toLong))
    def errNano(x: Double, s: Double): Long =
      math.floor(math.abs(x - q(x, s) * s) * 1e9 + 0.5).toLong
    val v1 = Seq(1.27f, -0.635f, 0.0f).map(_.toDouble)
    assert(out(1L) === ((math.floor(s1 * 1e9 + 0.5).toLong,
      1L, // only +1.27 sits at the rail
      v1.map(errNano(_, s1)).max, v1.map(errNano(_, s1)).sum)))
    assert(out(2L) === ((0L, 0L, 0L, 0L)),
      "zero vector: scale 0, q = 0 everywhere, zero error, nothing clipped")
    // layout-proof
    val a = Similarity.quantizationAudit(emb).collect().map(_.toSeq).toSeq
    val b = Similarity.quantizationAudit(emb.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("hardNegatives: label filter precedes the cut; ANN <= exact") {
    import spark.implicits._
    // query q (label A) — nearest vector shares its label and must be
    // SKIPPED, not crowd out the true hard negative
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f), "A"),  // query
      (11L, Array(0.99f, 0.14f), "A"), // same label: excluded
      (12L, Array(0.9f, 0.43f), "B"),  // the hard negative
      (13L, Array(0.0f, 1.0f), "B"))
      .toDF("vec_id", "embedding", "label")
    val queries = vecs.filter(col("vec_id") === 10L)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    val got = Similarity.hardNegatives(vecs, queries, k = 2, "label",
        exact = true)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got === Seq(12L, 13L), "same-label neighbor must not appear")
    // ANN path on the corpus: subset-of-exact sims at rank 1
    val q2 = emb.filter(col("vec_id") % 41 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    val ex = Similarity.hardNegatives(emb, q2, k = 3, "label",
        exact = true).filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    Similarity.hardNegatives(emb, q2, k = 3, "label", exact = false,
        bits = 4, dim = 64, nProbe = 3)
      .filter(col("rank") === 1).collect().foreach { r =>
        assert(r.getDouble(3) <= ex(r.getLong(0)) + 1e-12)
      }
  }

  test("IVF-PQ append: search == full rebuild; pre-existing files untouched") {
    val cents = Similarity.ivfCentroids(
      emb.orderBy("vec_id").limit(256).coalesce(1), nCells = 4, dim = 64)
    val cbs = Similarity.ivfPqCodebooks(
      emb.orderBy("vec_id").limit(256).coalesce(1), nCells = 4, dim = 64,
      m = 8, kCodes = 8, cents, maxSample = 256)
    val queries = emb.filter(col("vec_id") % 41 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val incDir = java.nio.file.Files.createTempDirectory("ivfpq_inc").toString
    val fullDir = java.nio.file.Files.createTempDirectory("ivfpq_full").toString
    Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 2 === 0),
      incDir, nCells = 4, dim = 64, m = 8, kCodes = 8, cents, cbs)
    def dataFiles(dir: String): Map[String, Long] = {
      val out = scala.collection.mutable.Map.empty[String, Long]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet"))
          out(f.getAbsolutePath) = f.lastModified()
      walk(new java.io.File(dir, "__cell=0").getParentFile)
      out.toMap
    }
    val before = dataFiles(incDir)
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 2 =!= 0), incDir)
    val after = dataFiles(incDir)
    assert(before.keySet.subsetOf(after.keySet) && after.size > before.size,
      "append must only ADD files")
    Similarity.writeIvfPqIndex(emb, fullDir, nCells = 4, dim = 64,
      m = 8, kCodes = 8, cents, cbs)
    def run(dir: String) = Similarity.searchIvfPqIndex(spark, dir,
        queries, k = 5, nProbe = 2, shortlist = 16)
      .collect().map(_.toString).sorted.toSeq
    assert(run(incDir) === run(fullDir),
      "append-then-search must equal rebuild-then-search bit-for-bit")
  }

  test("IVF-PQ compaction: bounded per-cell file count, search bit-identical") {
    val cents = Similarity.ivfCentroids(
      emb.orderBy("vec_id").limit(256).coalesce(1), nCells = 4, dim = 64)
    val cbs = Similarity.ivfPqCodebooks(
      emb.orderBy("vec_id").limit(256).coalesce(1), nCells = 4, dim = 64,
      m = 8, kCodes = 8, cents, maxSample = 256)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_compact").toString
    Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 4 === 0),
      dir, nCells = 4, dim = 64, m = 8, kCodes = 8, cents, cbs)
    // streaming admission shape: several small appended batches → one
    // new file per batch per touched cell
    (1 to 3).foreach(i =>
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 4 === i), dir))
    def cellFileCounts: Map[String, Int] = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__cell="))
      .map(d => d.getName -> d.listFiles().count(f =>
        f.isFile && f.getName.endsWith(".parquet"))).toMap
    assert(cellFileCounts.values.exists(_ > 1), "fixture must be fragmented")
    val queries = emb.filter(col("vec_id") % 41 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def run() = Similarity.searchIvfPqIndex(spark, dir,
        queries, k = 5, nProbe = 2, shortlist = 16)
      .collect().map(_.toString).sorted.toSeq
    val before = run()
    val compacted = Similarity.compactIvfPqIndex(spark, dir, maxFilesPerCell = 1)
    assert(compacted.nonEmpty, "fragmented cells must be selected")
    assert(cellFileCounts.values.forall(_ == 1),
      s"every compacted cell must hold ONE data file, got $cellFileCounts")
    assert(run() === before,
      "search must be bit-identical across compaction")
    // healthy index: second pass selects nothing, no rewrite
    assert(Similarity.compactIvfPqIndex(spark, dir, maxFilesPerCell = 1).isEmpty)
  }

  test("index path discipline: empty snapshot reads as empty; missing path fails loudly") {
    import spark.implicits._
    val emb = (0L until 40L).map(i =>
      (i, Seq.fill(16)(((i * 31 + 7) % 13).toFloat / 13f)))
      .toDF("vec_id", "embedding")
    val queries = emb.limit(2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // empty snapshot: partitioned dir exists but holds no part files
    val emptyDir = java.nio.file.Files.createTempDirectory("stale_e").toString
    Similarity.writeLshIndex(emb.filter(col("vec_id") < 0), emptyDir,
      bits = 4, dim = 16)
    assert(Similarity.searchLshIndex(spark, emptyDir, queries,
      k = 3, bits = 4, dim = 16, nProbe = 2).count() === 0L)
    val audit = Similarity.indexStaleness(spark, emptyDir, emb, queries,
      k = 3, bits = 4, dim = 16).collect().head
    assert(audit.getLong(5) === 0L && audit.getLong(3) === 0L)
    // mistyped/missing path: an operator error, never a zeros audit
    val missing = emptyDir + "_no_such_dir"
    intercept[IllegalArgumentException] {
      Similarity.searchLshIndex(spark, missing, queries,
        k = 3, bits = 4, dim = 16, nProbe = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.indexStaleness(spark, missing, emb, queries,
        k = 3, bits = 4, dim = 16)
    }
  }
}
