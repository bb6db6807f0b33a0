package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Column-attributed diff: status classification, per-column flags,
  * null-safe semantics, summary partition identity, layout
  * independence. */
class DiffSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def old0 = Seq(
    (1L, Some("a"), Some(10.0)), // unchanged
    (2L, Some("b"), Some(20.0)), // value changes
    (3L, Some("c"), Some(30.0)), // removed
    (4L, None, Some(40.0)),      // label NULL -> value (changed)
    (5L, Some("e"), None)        // value NULL->NULL, label changes
  ).toDF("k", "lbl", "v")
  private def new0 = Seq(
    (1L, Some("a"), Some(10.0)),
    (2L, Some("b"), Some(21.0)),
    (4L, Some("d"), Some(40.0)),
    (5L, Some("E"), None),
    (6L, Some("f"), Some(60.0)) // added
  ).toDF("k", "lbl", "v")

  test("columnDiff: statuses, per-column flags, counts; unchanged silent") {
    val got = Diff.columnDiff(old0, new0, Seq("k"))
      .select("k", "status", "n_cols_changed", "chg_lbl", "chg_v")
      .as[(Long, String, Long, Boolean, Boolean)].collect().toSeq
    assert(got === Seq(
      (2L, "changed", 1L, false, true),
      (3L, "removed", 0L, false, false),
      (4L, "changed", 1L, true, false),
      (5L, "changed", 1L, true, false),
      (6L, "added", 0L, false, false)))
  }

  test("diffSummary: statuses partition both sides; per-column totals") {
    val r = Diff.diffSummary(old0, new0, Seq("k")).collect().head
    val Seq(nAdd, nRem, nChg, nUnchg, nLbl, nV) =
      (0 until 6).map(r.getLong)
    assert((nAdd, nRem, nChg, nUnchg) === ((1L, 1L, 3L, 1L)))
    assert(old0.count() === nRem + nChg + nUnchg)
    assert(new0.count() === nAdd + nChg + nUnchg)
    assert((nLbl, nV) === ((2L, 1L)))
  }

  test("compareCols narrows attribution: a change outside it is invisible") {
    val got = Diff.columnDiff(old0, new0, Seq("k"), Seq("v"))
      .select("k", "status").as[(Long, String)].collect().toSeq
    // only k=2 changed v; 4/5 changed lbl only -> silent; add/remove stay
    assert(got === Seq((2L, "changed"), (3L, "removed"), (6L, "added")))
  }

  test("layout independence") {
    def run(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      Diff.columnDiff(a, b, Seq("k")).collect().map(_.toSeq).toSeq
    assert(run(old0, new0) === run(old0.repartition(13), new0.repartition(7)))
  }
}
