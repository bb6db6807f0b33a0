package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Integer k-means determinism and the within-cluster dedup rule on
  * hand-built vector sets. */
class SemDedupSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  // two well-separated groups on the x axis, one planted near-duplicate
  private def df = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f)),
    (2L, Array(1.0f, 0.001f)),   // near-dup of 0 (cos ≈ 1)
    (3L, Array(-1.0f, 0.0f)),
    (4L, Array(-0.9f, -0.1f))
  ).toDF("vec_id", "embedding")

  test("fit seeds from the k lowest ids and converges on the two groups") {
    val cents = SemDedup.fit(df, col("embedding"), col("vec_id"), k = 2, iters = 2)
    assert(cents.map(_._1) === Seq(0, 1))
    val sizes = SemDedup.clusterSizes(df, col("embedding"), col("vec_id"), cents)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // seeds 0 and 1 both sit in the +x group; the -x rows join whichever
    // seed they're nearer — after 2 rounds each cluster is one side
    assert(sizes.values.sum === 5L)
    assert(sizes.size === 2)
  }

  test("semDedup drops exactly the planted near-duplicate, keeping the lowest id") {
    val out = SemDedup.semDedup(df, col("embedding"), col("vec_id"),
        k = 2, iters = 2, thr = 0.95)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    // 0 kept (lowest), 1 and 2 are near-dups of 0 at thr=0.95 (cos(0,1)≈0.994);
    // 3 kept, 4 dropped (cos(3,4)≈0.994)
    assert(out === Seq((0L, true), (1L, false), (2L, false), (3L, true), (4L, false)))
  }

  test("assignments and dedup decisions are layout-independent") {
    val big = (0L until 60L).map { i =>
      (i, Array((math.cos(i * 0.1)).toFloat, (math.sin(i * 0.1)).toFloat))
    }.toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      SemDedup.semDedup(d, col("embedding"), col("vec_id"), k = 4, iters = 2, thr = 0.9)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    assert(run(big) === run(big.repartition(7)))
  }

  test("native ClusterAssign/LongDot agree exactly with the HOF references") {
    val big = (0L until 80L).map { i =>
      (i, Array((math.cos(i * 0.37)).toFloat, (math.sin(i * 0.37)).toFloat,
        (i % 7).toFloat / 7f, (i % 11).toFloat / 11f))
    }.toDF("vec_id", "embedding")
    val cents = SemDedup.fit(big, col("embedding"), col("vec_id"), k = 5, iters = 2)
    val q = big.select(col("vec_id"), SemDedup.quantize(col("embedding")).as("qv"))
    val rows = q.select(
      graft.plans.HashExprs.clusterAssign(spark, col("qv"),
        cents.sortBy(_._1).flatMap(_._2).toArray,
        cents.sortBy(_._1).map(_._1).toArray, 4).as("native_cid"),
      SemDedup.assignColHof(col("qv"), cents).as("hof_cid"),
      graft.plans.HashExprs.longDot(spark, col("qv"), col("qv")).as("native_dot"),
      SemDedup.dotHof(col("qv"), col("qv")).as("hof_dot")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) === r.getInt(1))
      assert(r.getLong(2) === r.getLong(3))
    }
  }

  test("thr = 1.0 keeps everything except exact-direction duplicates") {
    val out = SemDedup.semDedup(df, col("embedding"), col("vec_id"),
        k = 1, iters = 1, thr = 0.99999)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(out(0L) && out(1L) && out(3L) && out(4L))
  }
}
