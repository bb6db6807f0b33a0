package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class HeavyHittersSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  // 3 heavies buried in a sea of uniques: "hot" 500x, "warm" 300x,
  // "mild" 150x, plus 5000 singletons -> n = 5950
  private def stream = {
    import spark.implicits._
    (Seq.fill(500)("hot") ++ Seq.fill(300)("warm") ++ Seq.fill(150)("mild") ++
      (0 until 5000).map(i => s"u$i")).toDF("w")
  }

  test("finds every item above n/k with exact counts, nothing below") {
    import spark.implicits._
    val out = HeavyHitters.exactHeavyHitters(stream, col("w"), k = 20)
      .as[(String, Long)].collect().toMap
    // n/k = 5950/20 = 297.5 -> hot and warm qualify, mild (150) does not
    assert(out === Map("hot" -> 500L, "warm" -> 300L))
  }

  test("guarantee holds across partitionings and under a lower threshold") {
    import spark.implicits._
    val df = stream.repartition(32)
    val out = HeavyHitters.exactHeavyHitters(df, col("w"), k = 50)
      .as[(String, Long)].collect().toMap
    // n/k = 119 -> all three heavies must surface, exactly counted
    assert(out === Map("hot" -> 500L, "warm" -> 300L, "mild" -> 150L))
  }

  test("no heavy hitters -> empty result, not an error") {
    import spark.implicits._
    val uniform = (0 until 1000).map(i => s"x$i").toDF("w")
    assert(HeavyHitters.exactHeavyHitters(uniform, col("w"), k = 10).count() === 0)
  }
}
