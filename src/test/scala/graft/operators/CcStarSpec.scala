package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Large-star/small-star connected components: equivalence with the
  * min-label implementation on varied topologies, long-path handling
  * beyond the label-propagation bound, empty/degenerate inputs. */
class CcStarSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def star(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponentsStar(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  private def prop(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    TextDedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("chain, clique, and disjoint components match min-label CC") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),            // chain → comp 1
      (10L, 11L), (11L, 12L), (10L, 12L),      // triangle → comp 10
      (20L, 21L))                              // pair → comp 20
    val s = star(pairs)
    assert(s == prop(pairs))
    assert(s(4L) == 1L && s(12L) == 10L && s(21L) == 20L)
  }

  test("pseudo-random graphs: identical labeling to min-label CC") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val pairs = (1 to 120).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      assert(star(pairs) == prop(pairs), s"trial $trial")
    }
  }

  test("long path converges in far fewer rounds than its diameter") {
    // a 200-node path has diameter 199 — min-label CC's default bound
    // (25) would fail; star contraction handles it in O(log n) rounds
    val path = (0L until 199L).map(i => (i, i + 1))
    val s = star(path)
    assert(s.size == 200 && s.values.forall(_ == 0L))
  }

  test("empty pairs and self-contained edge cases") {
    assert(star(Seq.empty) == Map.empty[Long, Long])
    // reversed/duplicate input edges collapse to the same labeling
    val messy = Seq((5L, 3L), (3L, 5L), (5L, 3L), (7L, 7L))
    // self-loop (7,7) is dropped; 7 never appears as a component member
    assert(star(messy) == Map(3L -> 3L, 5L -> 3L))
  }
}
