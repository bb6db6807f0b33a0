package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Market-basket pair counts + lift on hand-built baskets. */
class AssocSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  // b1{x,y,z} b2{x,y} b3{x,y (y twice)} b4{z}
  private def baskets = Seq(
    (1L, "x"), (1L, "y"), (1L, "z"),
    (2L, "x"), (2L, "y"),
    (3L, "x"), (3L, "y"), (3L, "y"),
    (4L, "z")
  ).toDF("b", "i")

  test("pairCounts: presence counts, marginals, lift; tail pruned") {
    val out = Assoc.pairCounts(baskets, col("b"), col("i"), minPairCount = 2L)
      .collect()
    // only (x,y) survives n_both >= 2; duplicate y in b3 counts once
    assert(out.length === 1)
    val r = out.head
    assert((r.getString(0), r.getString(1)) === (("x", "y")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
      ((3L, 3L, 3L, 4L)))
    // lift = 3·4 / (3·3) — exact IEEE: 12/9
    assert(r.getDouble(6) === 12.0 / 9.0)
  }

  test("pairCounts: minPairCount=1 keeps the singleton pairs, each once, ordered") {
    val out = Assoc.pairCounts(baskets, col("b"), col("i"), minPairCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(6))).toSeq
    // item_a < item_b: each unordered pair appears exactly once
    assert(out === Seq(
      ("x", "y", 3L, 12.0 / 9.0),
      ("x", "z", 1L, 4.0 / 6.0),
      ("y", "z", 1L, 4.0 / 6.0)))
  }

  test("pairCounts: null items are ignored; lift >1 iff co-occurrence beats independence") {
    val df = Seq((1L, Some("a")), (1L, Some("b")), (1L, None),
      (2L, Some("a")), (2L, Some("b")), (3L, Some("a")), (3L, Some("c")),
      (4L, Some("c"))).toDF("b", "i")
    val out = Assoc.pairCounts(df, col("b"), col("i"), minPairCount = 1L)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(6)))
      .toMap
    // a,b together 2 of 4 baskets, a in 3, b in 2: lift 8/6 > 1
    assert(out(("a", "b")) === 8.0 / 6.0)
    // a,c together once, a in 3, c in 2: lift 4/6 < 1
    assert(out(("a", "c")) === 4.0 / 6.0)
    assert(!out.keySet.exists(p => p._1 == null || p._2 == null))
  }

  test("tripleCounts: ordered enumeration, presence semantics, pruning") {
    // b1 {x,y,z}, b2 {x,y,z} (y twice), b3 {x,y}
    val df = Seq((1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"), (2L, "y"), (2L, "z"),
      (3L, "x"), (3L, "y")).toDF("b", "i")
    val out = Assoc.tripleCounts(df, col("b"), col("i"), minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(out === Seq(("x", "y", "z", 2L)))
    // minCount 3 prunes it
    assert(Assoc.tripleCounts(df, col("b"), col("i"), 3L).count() === 0L)
    // ordering: each triple appears exactly once, sorted members
    val all = Assoc.tripleCounts(df, col("b"), col("i"), 1L).collect()
    assert(all.forall(r => r.getString(0) < r.getString(1) &&
      r.getString(1) < r.getString(2)))
  }

  test("topPartners: symmetric expansion, lift-desc rank, k truncation") {
    val pairs = Assoc.pairCounts(baskets, col("b"), col("i"),
      minPairCount = 1L)
    val out = Assoc.topPartners(pairs, k = 1)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(r.fieldIndex("rank")))).toSeq
    // lifts: (x,y) 4/3, (x,z) 2/3, (y,z) 2/3 — top partner of each:
    assert(out === Seq(("x", "y", 1L), ("y", "x", 1L), ("z", "x", 1L)))
    val all = Assoc.topPartners(pairs, k = 5).collect()
    assert(all.length === 6) // every pair appears in both directions
  }

  test("topPartners: z's tie between x and y breaks on partner name") {
    val pairs = Assoc.pairCounts(baskets, col("b"), col("i"),
      minPairCount = 1L)
    val z = Assoc.topPartners(pairs, k = 2)
      .filter(col("item") === "z").collect()
      .map(r => (r.getString(1), r.getLong(r.fieldIndex("rank")))).toSeq
    // (x,z) and (y,z) have identical lift 2/3 → partner order x < y
    assert(z === Seq(("x", 1L), ("y", 2L)))
  }

  test("pairCounts is layout-independent") {
    val df = (0L until 5000L).map(i => (i % 400, s"i${(i * 31) % 12}"))
      .toDF("b", "i")
    def run(d: org.apache.spark.sql.DataFrame) =
      Assoc.pairCounts(d, col("b"), col("i"), minPairCount = 2L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(run(df) === run(df.repartition(17)))
  }
}
