package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class PackingSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  test("greedy packing: fills bins in id order, overflows start new bins, oversized docs isolate") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 400L), ("a", 2L, 500L), ("a", 3L, 200L), // 400+500 fits 1000; +200 overflows? 1100 -> new bin
      ("a", 4L, 1500L),                                  // oversized: own bin
      ("a", 5L, 100L),
      ("b", 1L, 999L), ("b", 2L, 1L)                     // exactly fills
    ).toDF("grp", "doc", "sz")
    val out = Packing.packGreedy(df, $"grp", $"doc", $"sz", budget = 1000L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._4, r._5)).toMap
    assert(out(("a", 1L)) === (0L, 0L))
    assert(out(("a", 2L)) === (0L, 400L))  // 900 used
    assert(out(("a", 3L)) === (1L, 0L))    // 1100 > 1000 -> bin 1
    assert(out(("a", 4L)) === (2L, 0L))    // 1500 > budget alone -> own bin
    assert(out(("a", 5L)) === (3L, 0L))    // bin 2 is over budget, never reused
    assert(out(("b", 1L)) === (0L, 0L))
    assert(out(("b", 2L)) === (0L, 999L))  // exact fit shares the bin
  }

  test("deterministic across partitionings; no bin exceeds budget unless a single doc does") {
    import spark.implicits._
    val df = (0L until 500L).map(i => ((i % 7).toString, i, 50L + (i * 37) % 400))
      .toDF("grp", "doc", "sz")
    def run(d: org.apache.spark.sql.DataFrame) =
      Packing.packGreedy(d, $"grp", $"doc", $"sz", budget = 1000L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    assert(run(df.repartition(1)) === run(df.repartition(23, $"doc")))

    val fills = Packing.packGreedy(df, $"grp", $"doc", $"sz", 1000L)
      .groupBy("group", "bin_seq")
      .agg(sum($"size").as("fill"), count(lit(1)).as("docs"))
    assert(fills.filter($"fill" > 1000L && $"docs" > 1).count() === 0)
  }

  test("packingStats reports bins and fill ratios") {
    import spark.implicits._
    val df = Seq(("a", 1L, 600L), ("a", 2L, 600L)).toDF("grp", "doc", "sz")
    val stats = Packing.packingStats(
      Packing.packGreedy(df, $"grp", $"doc", $"sz", 1000L), 1000L).collect().head
    assert(stats.getLong(1) === 2L)   // two bins (600+600 overflows)
    assert(stats.getLong(2) === 2L)
    assert(math.abs(stats.getDouble(3) - 0.6) < 1e-12)
  }
}
