package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class Scd2Spec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  private def dim0 = {
    import spark.implicits._
    Scd2.initialize(
      Seq((1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0))
        .toDF("id", "name", "score"),
      lit("2024-01-01 00:00:00"))
  }

  test("merge: changed closes + inserts, unchanged and untouched stay, new key inserts") {
    import spark.implicits._
    val updates = Seq(
      (1L, "alice", 11.0),  // changed → close + new version
      (2L, "bob", 20.0),    // identical → no new version
      (9L, "zoe", 90.0)     // new key → insert
    ).toDF("id", "name", "score")
    val out = Scd2.merge(dim0, updates, Seq("id"), Seq("name", "score"),
      lit("2024-06-01 00:00:00"))
    val rows = out.orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getBoolean(5)))

    assert(rows.length === 5)
    // id=1: closed old + new current
    assert(rows(0) === ((1L, "alice", 10.0, ts("2024-01-01 00:00:00"),
      ts("2024-06-01 00:00:00"), false)))
    assert(rows(1) === ((1L, "alice", 11.0, ts("2024-06-01 00:00:00"), null, true)))
    // id=2 (identical update) and id=3 (absent) unchanged
    assert(rows(2) === ((2L, "bob", 20.0, ts("2024-01-01 00:00:00"), null, true)))
    assert(rows(3) === ((3L, "carol", 30.0, ts("2024-01-01 00:00:00"), null, true)))
    // id=9 inserted as current
    assert(rows(4) === ((9L, "zoe", 90.0, ts("2024-06-01 00:00:00"), null, true)))
  }

  test("merge is idempotent: replaying the same batch adds no versions") {
    import spark.implicits._
    val updates = Seq((1L, "alice", 11.0)).toDF("id", "name", "score")
    val once = Scd2.merge(dim0, updates, Seq("id"), Seq("name", "score"),
      lit("2024-06-01 00:00:00"))
    val twice = Scd2.merge(once, updates, Seq("id"), Seq("name", "score"),
      lit("2024-07-01 00:00:00"))
    assert(twice.count() === once.count())
    // and history rows pass through byte-identical
    val hist = twice.filter(!col("is_current")).collect()
    assert(hist.length === 1 && hist.head.getTimestamp(4) === ts("2024-06-01 00:00:00"))
  }

  test("asOf: range predicate returns the version in effect") {
    import spark.implicits._
    val updates = Seq((1L, "alice", 11.0)).toDF("id", "name", "score")
    val dim = Scd2.merge(dim0, updates, Seq("id"), Seq("name", "score"),
      lit("2024-06-01 00:00:00"))
    val before = Scd2.asOf(dim, lit("2024-03-01 00:00:00"))
      .filter(col("id") === 1).collect().head
    assert(before.getDouble(2) === 10.0)
    val after = Scd2.asOf(dim, lit("2024-06-01 00:00:00"))
      .filter(col("id") === 1).collect().head
    assert(after.getDouble(2) === 11.0)
    // every key resolves to exactly one version at any time
    assert(Scd2.asOf(dim, lit("2024-03-01 00:00:00")).count() === 3)
    assert(Scd2.asOf(dim, lit("2024-08-01 00:00:00")).count() === 3)
  }

  test("null-safe change detection: null → value and value → null both version") {
    import spark.implicits._
    val d0 = Scd2.initialize(
      Seq((1L, Option.empty[String]), (2L, Option("x"))).toDF("id", "tag"),
      lit("2024-01-01 00:00:00"))
    val updates = Seq((1L, Option("y")), (2L, Option.empty[String])).toDF("id", "tag")
    val out = Scd2.merge(d0, updates, Seq("id"), Seq("tag"),
      lit("2024-06-01 00:00:00"))
    assert(out.count() === 4) // both keys versioned
    assert(out.filter(col("is_current")).count() === 2)
  }

  test("all-NULL keys are legal rows, not deletions: they survive merges and match each other") {
    import spark.implicits._
    val d0 = Scd2.initialize(
      Seq((Option(1L), "a"), (Option.empty[Long], "nullkey"))
        .toDF("id", "name"),
      lit("2024-01-01 00:00:00"))
    // batch not touching the null key: that row must pass through untouched
    val out1 = Scd2.merge(d0,
      Seq((Option(1L), "a2")).toDF("id", "name"),
      Seq("id"), Seq("name"), lit("2024-06-01 00:00:00"))
    assert(out1.filter(col("id").isNull).count() === 1)
    assert(out1.filter(col("id").isNull && col("is_current")).count() === 1)
    // batch updating the null key (<=> join): closes + versions it
    val out2 = Scd2.merge(out1,
      Seq((Option.empty[Long], "nullkey2")).toDF("id", "name"),
      Seq("id"), Seq("name"), lit("2024-09-01 00:00:00"))
    assert(out2.filter(col("id").isNull).count() === 2)
    assert(out2.filter(col("id").isNull && col("is_current"))
      .select("name").as[String].collect() === Array("nullkey2"))
  }

  test("empty tracked: key-only membership dimension — existing keys keep their version") {
    import spark.implicits._
    val d0 = Scd2.initialize(Seq(Tuple1(1L), Tuple1(2L)).toDF("id"),
      lit("2024-01-01 00:00:00"))
    val out = Scd2.merge(d0, Seq(Tuple1(2L), Tuple1(3L)).toDF("id"),
      Seq("id"), Seq.empty, lit("2024-06-01 00:00:00"))
    assert(out.count() === 3) // 1 and 2 unchanged, 3 inserted
    assert(out.filter(col("is_current")).count() === 3)
    assert(out.filter(col("id") === 2).select("valid_from").collect().head
      .getTimestamp(0).toString.startsWith("2024-01-01"))
  }

  test("temporalJoin: each fact picks the version in effect at ITS time") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val dim = Seq(
      (1L, "v1", ts("2024-01-01 00:00:00"), ts("2024-01-10 00:00:00")),
      (1L, "v2", ts("2024-01-10 00:00:00"), null.asInstanceOf[Timestamp]))
      .toDF("id", "seg", "valid_from", "valid_to")
    val facts = Seq(
      (100L, 1L, ts("2024-01-05 00:00:00")), // inside v1
      (101L, 1L, ts("2024-01-10 00:00:00")), // boundary: half-open → v2
      (102L, 1L, ts("2024-02-01 00:00:00")), // open-ended v2
      (103L, 1L, ts("2023-12-01 00:00:00")), // before first version → NULL
      (104L, 9L, ts("2024-01-05 00:00:00"))) // unknown key → NULL
      .toDF("fid", "id", "ts")
    val out = Scd2.temporalJoin(facts, dim, Seq("id"), col("ts"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(r.fieldIndex("seg"))).map(_.toString)).toMap
    assert(out === Map(100L -> Some("v1"), 101L -> Some("v2"),
      102L -> Some("v2"), 103L -> None, 104L -> None))
    // inner variant drops the unmatched facts
    assert(Scd2.temporalJoin(facts, dim, Seq("id"), col("ts"),
      keepUnmatched = false).count() === 3)
  }

  test("temporalJoin: column collisions are rejected loudly") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val dim = Seq((1L, "x", ts("2024-01-01 00:00:00"),
        null.asInstanceOf[Timestamp]))
      .toDF("id", "ts", "valid_from", "valid_to") // 'ts' collides
    val facts = Seq((100L, 1L, ts("2024-01-05 00:00:00")))
      .toDF("fid", "id", "ts")
    intercept[IllegalArgumentException] {
      Scd2.temporalJoin(facts, dim, Seq("id"), col("ts"))
    }
  }
}
