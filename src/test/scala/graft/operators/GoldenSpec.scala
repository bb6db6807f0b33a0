package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Fieldwise survivorship merge semantics. */
class GoldenSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("goldenRecords: per-field best beats the best row; quality then id break ties") {
    // cluster c1: row 1 (q 90) has name but null email;
    //             row 2 (q 50) has BOTH → email must come from row 2
    val df = Seq(
      (1L, "c1", 90L, Some("Ada"), Option.empty[String]),
      (2L, "c1", 50L, Some("ada"), Some("ada@x.io")),
      (3L, "c2", 10L, Option.empty[String], Option.empty[String])
    ).toDF("id", "cl", "q", "name", "email")
    val out = Golden.goldenRecords(df, col("cl"), col("id"), col("q"),
        Seq("name" -> col("name"), "email" -> col("email")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.getAs[String]("golden_name")),
          Option(r.getAs[String]("golden_email"))))).toMap
    assert(out("c1") === ((2L, Some("Ada"), Some("ada@x.io"))))
    assert(out("c2") === ((1L, None, None))) // all-null field stays null
  }

  test("goldenRecords: equal quality falls back to highest id; layout-independent") {
    val df = Seq(
      (1L, "c", 10L, "old"), (2L, "c", 10L, "new")
    ).toDF("id", "cl", "q", "v")
    val r = Golden.goldenRecords(df, col("cl"), col("id"), col("q"),
      Seq("v" -> col("v"))).collect().head
    assert(r.getAs[String]("golden_v") === "new")
    val big = (0L until 5000L).map(i =>
      (i, s"c${i % 40}", (i * 7) % 100,
        if (i % 3 == 0) null else s"v${i % 11}")).toDF("id", "cl", "q", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Golden.goldenRecords(d, col("cl"), col("id"), col("q"),
        Seq("v" -> col("v"))).collect().map(_.toSeq).toSeq
    assert(run(big) === run(big.repartition(17)))
  }

  test("linkageWeights: hand m/u table and pinned weights") {
    import spark.implicits._
    // field f: matches agree 9/10, nonmatches agree 1/10
    val rows = (0 until 10).map(i => (true, i != 0)) ++
      (0 until 10).map(i => (false, i == 0))
    val r = Golden.linkageWeights(rows.toDF("m", "f"), col("m"),
      Seq("f" -> col("f"))).collect().head
    assert(r.getLong(1) === 10L && r.getLong(2) === 10L)
    assert(r.getLong(3) === 9L && r.getLong(4) === 1L)
    assert(r.getLong(9) === 900000L && r.getLong(10) === 100000L)
    val wAgree = math.floor(math.log(9.0) * 1e9 + 0.5).toLong
    val wDis = math.floor(math.log(100000.0 / 900000) * 1e9 + 0.5).toLong
    assert(r.getLong(11) === wAgree && r.getLong(12) === wDis)
    assert(r.getLong(8) === 0L) // nothing clamped
  }

  test("linkageWeights: clamps counted, nulls excluded from denominators, layout-proof") {
    import spark.implicits._
    // perfect agreement among matches -> m clamps to 999999 and is
    // counted; one NULL comparison excluded from n_cmp
    val rows = Seq((true, Some(true)), (true, Some(true)),
      (true, Option.empty[Boolean]),
      (false, Some(false)), (false, Some(true)), (false, Some(false)))
    val df = rows.toDF("m", "f")
    val r = Golden.linkageWeights(df, col("m"), Seq("f" -> col("f")))
      .collect().head
    assert(r.getLong(5) === 2L && r.getLong(6) === 3L) // n_cmp_m/u
    assert(r.getLong(7) === 1L)                        // n_null_cmp
    assert(r.getLong(9) === 999999L)                   // m clamped
    assert(r.getLong(8) === 1L)                        // clamp counted
    assert(r.toSeq === Golden.linkageWeights(df.repartition(5),
      col("m"), Seq("f" -> col("f"))).collect().head.toSeq)
  }
}
