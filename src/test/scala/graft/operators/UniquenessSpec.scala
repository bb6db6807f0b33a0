package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Candidate-key audit: hand case covering duplicate combos, null
  * members as row values, and the PK verdict. */
class UniquenessSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val df = Seq[(java.lang.Long, java.lang.Long, String)](
    (1L, 10L, "a"), (2L, 10L, "b"), (3L, null, "c"), (4L, null, "c"))
    .toDF("pk", "grp", "name")

  private def row(combo: String) =
    Profile.uniqueness(df, Seq(Seq("pk"), Seq("grp"), Seq("grp", "name"),
        Seq("name")))
      .filter(col("combo") === combo)
      .select("n_rows", "n_distinct", "n_incomplete", "is_key", "uniq_ppm")
      .as[(Long, Long, Long, Boolean, Long)].head()

  test("a true key: unique and complete") {
    assert(row("pk") == ((4L, 4L, 0L, true, 1000000L)))
  }

  test("null members are row values: two (null) rows are duplicates") {
    // grp values: 10, 10, null, null → 2 distinct, 2 incomplete
    assert(row("grp") == ((4L, 2L, 2L, false, 500000L)))
    // (grp, name): (10,a),(10,b),(null,c),(null,c) → 3 distinct
    assert(row("grp,name") == ((4L, 3L, 2L, false, 750000L)))
  }

  test("unique but not a key when any row is incomplete") {
    val withNullPk = Seq[(java.lang.Long, String)]((1L, "x"), (null, "y"))
      .toDF("pk", "name")
    val r = Profile.uniqueness(withNullPk, Seq(Seq("pk")))
      .select("n_distinct", "n_incomplete", "is_key")
      .as[(Long, Long, Boolean)].head()
    assert(r == ((2L, 1L, false)))
  }

  test("near-key score: name has one duplicate pair") {
    assert(row("name") == ((4L, 3L, 0L, false, 750000L)))
  }
}
