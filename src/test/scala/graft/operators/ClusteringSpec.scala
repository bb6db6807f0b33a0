package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Micro-unit k-means: separation of obvious clusters, determinism under
  * layout, Lloyd descent, empty-cluster survival, centroid audit. */
class ClusteringSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Two tight blobs far apart + ids interleaved so seed order mixes. */
  private def blobs(n: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(3)
    (0 until n).map { i =>
      val center = if (i % 2 == 0) 10.0f else -10.0f
      (i.toLong, Array.fill(8)(center + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
  }

  test("separates two far blobs: assignments constant within a blob") {
    val out = Clustering.kmeansMicro(blobs(60), k = 2, iters = 3)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val evenClusters = out.filter(_._1 % 2 == 0).values.toSet
    val oddClusters = out.filter(_._1 % 2 == 1).values.toSet
    assert(evenClusters.size == 1 && oddClusters.size == 1)
    assert(evenClusters != oddClusters)
  }

  test("deterministic under partitioning") {
    val d = blobs(40)
    val a = Clustering.kmeansMicro(d, k = 3, iters = 2)
      .orderBy("vec_id").collect().toSeq
    val b = Clustering.kmeansMicro(d.repartition(7), k = 3, iters = 2)
      .orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("more iterations never increase total within-cluster distance") {
    val d = blobs(50)
    def cost(iters: Int): BigInt =
      Clustering.kmeansMicro(d, k = 2, iters = iters)
        .agg(sum(col("dist2"))).as[Long].head()
    // Lloyd descent holds for the exact arithmetic too (truncating
    // means can in principle bounce ±1 micro — far below blob scale)
    assert(cost(3) <= cost(1))
  }

  test("k larger than distinct points: empty clusters keep seeds, run completes") {
    val d = Seq(
      (1L, Array(1.0f, 1.0f)), (2L, Array(1.0f, 1.0f)),
      (3L, Array(-1.0f, -1.0f))).toDF("vec_id", "embedding")
    val out = Clustering.kmeansMicro(d, k = 3, iters = 2)
      .select("vec_id", "cluster", "dist2")
      .as[(Long, Int, Long)].collect()
    assert(out.length == 3)
    // identical points land in the same cluster with dist 0
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == byId(2L)._2)
  }

  test("centroidTable recomputes the assignment means exactly") {
    val d = blobs(30)
    val a = Clustering.kmeansMicro(d, k = 2, iters = 2)
    val cents = Clustering.centroidTable(d, a)
      .select("cluster", "dim", "c_micro", "n")
      .as[(Int, Int, Long, Long)].collect()
    // blob means sit at ±(10.0 + ~0.05) → micro magnitudes near 10e6
    // (+0.05 for the +10 blob, −... the negative blob mean is −9.95)
    assert(cents.forall { case (_, _, c, n) =>
      n > 0 && math.abs(c) > 9900000L && math.abs(c) < 10100000L })
  }

  test("clusterTerms: distinctive terms outrank shared ones; exact weights") {
    import spark.implicits._
    val docs = Seq(
      (0, "spark spark shuffle the"), (0, "spark codegen the"),
      (1, "tokens tokens dedup the"), (1, "dedup the")
    ).toDF("cl", "text")
    val out = Clustering.clusterTerms(docs, col("cl"), col("text"), topM = 2)
      .collect().map(r => (r.getString(0), r.getLong(5)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // nClusters 2. "the" appears in both clusters (cdf 2, idf 1e6);
    // cluster-only terms cdf 1 → idf 2e6. cluster 0: spark tf 3 → w 6e6.
    assert(out(("0", 1L)) === (("spark", 3L, 1L, 6000000L)))
    assert(out(("0", 2L)) === (("codegen", 1L, 1L, 2000000L)))
    assert(out(("1", 1L)) === (("dedup", 2L, 1L, 4000000L)))
    assert(out(("1", 2L)) === (("tokens", 2L, 1L, 4000000L)))
  }

  test("clusterTerms: ties break (w DESC, term); layout-independent") {
    import spark.implicits._
    val docs = (0L until 2000L)
      .map(i => (i % 4, s"w${(i * 31) % 50} w${(i * 17) % 50} shared"))
      .toDF("cl", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Clustering.clusterTerms(d, col("cl"), col("text"), topM = 5)
        .collect().map(r => (r.getString(0), r.getLong(5), r.getString(1),
          r.getLong(4))).toSeq
    val a = run(docs)
    assert(a === run(docs.repartition(17)))
    // ranks are 1..5 per cluster
    assert(a.groupBy(_._1).forall(_._2.map(_._2).sorted == (1L to 5L)))
  }

  // --- simplified silhouette ---

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("silhouetteSimplified: two point-blobs score exactly 1e6") {
    // place one blob ON each digest-order seed so Lloyd can't collapse
    val ids = (1L to 8L)
    val ordered = ids.sortBy(i => (md5hex(i.toString), i))
    val blobA = Set(ordered(0)) ++
      ids.filterNot(Set(ordered(0), ordered(1))).take(3)
    val rows = ids.map(i =>
      (i, if (blobA(i)) Array(1.0f, 1.0f) else Array(-1.0f, -1.0f)))
    val out = Clustering.silhouetteSimplified(rows.toDF("vec_id", "embedding"),
        k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every point sits exactly on its centroid: a² = 0, s = 1e6
    assert(out.map(_._2).sum === 8L)
    assert(out.forall(_._3 === 1000000L))
  }

  test("silhouetteSimplified: k < 2 rejected; layout-independent") {
    val rows = (0L until 300L).map(i =>
      (i, Array.tabulate(4)(d => (((i * 7 + d) % 13) / 13.0f))))
    intercept[IllegalArgumentException] {
      Clustering.silhouetteSimplified(rows.toDF("vec_id", "embedding"), 1, 1)
    }
    def run(d: org.apache.spark.sql.DataFrame) =
      Clustering.silhouetteSimplified(d, k = 3, iters = 2)
        .collect().map(_.toSeq).toSeq
    val df = rows.toDF("vec_id", "embedding")
    assert(run(df) === run(df.repartition(13)))
  }

  test("kmeansMicro unchanged by the lloydFit refactor (hand case)") {
    // 4 identical + 4 identical points, k=2: assignments must be the two
    // blobs with dist2 0 after one update round
    val ids = (1L to 8L)
    val ordered = ids.sortBy(i => (md5hex(i.toString), i))
    val blobA = Set(ordered(0)) ++
      ids.filterNot(Set(ordered(0), ordered(1))).take(3)
    val rows = ids.map(i =>
      (i, if (blobA(i)) Array(2.0f, 0.0f) else Array(0.0f, 2.0f)))
    val out = Clustering.kmeansMicro(rows.toDF("vec_id", "embedding"), 2, 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(out.values.forall(_._2 === 0L))
    assert(out.filter(kv => blobA(kv._1)).values.map(_._1).toSet.size === 1)
    assert(out.filterNot(kv => blobA(kv._1)).values.map(_._1).toSet.size === 1)
  }
}
