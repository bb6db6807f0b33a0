package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Quality-aware dedup representatives: best-of-cluster selection,
  * ties, singletons, null quality. */
class DedupRepsSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("cluster keeps its highest-quality member; singleton keeps itself") {
    val docs = Seq((1L, 10.0), (2L, 30.0), (3L, 20.0), (9L, 5.0))
      .toDF("doc_id", "q")
    // chain 1-2, 2-3 → one cluster {1,2,3}; 9 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = TextDedup.dedupRepresentatives(docs, pairs, col("q"))
      .select("doc_id", "component", "keep_id", "is_rep")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (9L, 9L, 9L, true)))
  }

  test("quality ties break to the lowest id; null quality loses") {
    val docs = Seq[(Long, java.lang.Double)](
      (5L, 7.0), (6L, 7.0), (7L, null)).toDF("doc_id", "q")
    val pairs = Seq((5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val keep = TextDedup.dedupRepresentatives(docs, pairs, col("q"))
      .select("doc_id", "keep_id").as[(Long, Long)].collect().toMap
    assert(keep == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("matches min-id dedupClusters when quality is the negated id") {
    val docs = (1L to 20L).map(i => (i, -i.toDouble)).toDF("doc_id", "q")
    val pairs = Seq((1L, 4L), (4L, 9L), (11L, 12L)).toDF("id_a", "id_b")
    val reps = TextDedup.dedupRepresentatives(docs, pairs, col("q"))
      .select("doc_id", "keep_id").as[(Long, Long)].collect().toMap
    val minId = TextDedup.dedupClusters(docs, pairs)
      .select("doc_id", "keep_id").as[(Long, Long)].collect().toMap
    assert(reps == minId)
  }
}
