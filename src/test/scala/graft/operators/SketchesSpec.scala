package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** KMV sketches: exactness below k, bounded error above, layout
  * independence (the property the correctness gate relies on). */
class SketchesSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def pairwise(rows: Seq[(String, Long)], k: Int) =
    Sketches.kmvPairwise(
      Sketches.kmvSignatures(rows.toDF("key", "v"), col("key"), col("v"), k), k)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toMap

  test("sets smaller than k: every estimate is exact") {
    val rows = (1L to 10L).map(("a", _)) ++ (6L to 15L).map(("b", _))
    val out = pairwise(rows, k = 64)
    val (ea, eb, eu, ei, j) = out(("a", "b"))
    assert(ea === 10.0 && eb === 10.0 && eu === 15.0 && ei === 5.0)
    assert(j === 5.0 / 15.0)
  }

  test("estimator path: 5k-element sets, k=256 → bounded error") {
    val a = (0L until 5000L).map(("a", _))
    val b = (2500L until 7500L).map(("b", _)) // |∩| = 2500, |∪| = 7500
    val out = pairwise(a ++ b, k = 256)
    val (ea, eb, eu, ei, _) = out(("a", "b"))
    assert(math.abs(ea - 5000) / 5000.0 < 0.2, s"est_a $ea")
    assert(math.abs(eb - 5000) / 5000.0 < 0.2, s"est_b $eb")
    assert(math.abs(eu - 7500) / 7500.0 < 0.2, s"est_union $eu")
    assert(math.abs(ei - 2500) / 2500.0 < 0.45, s"est_intersect $ei")
  }

  test("signatures are layout-independent and duplicate-insensitive") {
    val rows = (0L until 3000L).map(i => ("s", i % 997L)) // heavy dups
    def sig(df: org.apache.spark.sql.DataFrame) =
      Sketches.kmvSignatures(df, col("key"), col("v"), 128)
        .select("sig").as[Seq[Long]].head()
    val base = sig(rows.toDF("key", "v"))
    assert(base.length === 128)
    assert(base === base.sorted)
    assert(sig(rows.toDF("key", "v").repartition(17)) === base)
    assert(sig(rows.distinct.toDF("key", "v")) === base)
  }

  test("countMin: est >= exact always; exact when no collisions possible") {
    val rows = (0 until 2000).map(i => s"w${i % 50}").toDF("w") // 50 keys × 40
    val sketch = Sketches.countMin(rows, col("w"), depth = 4, width = 512)
    val keys = (0 until 50).map(i => s"w$i").toDF("w")
    val est = Sketches.cmEstimate(sketch, keys, col("w"), 4, 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 50 distinct keys into 512 buckets: collisions possible but est >= 40
    assert(est.size === 50)
    assert(est.values.forall(_ >= 40L))
    // total inflation across all keys bounded by total mass
    assert(est.values.sum <= 2000L * 4)
    // absent key estimates 0 unless it collides; never negative
    val ghost = Sketches.cmEstimate(sketch, Seq("nope").toDF("w"), col("w"), 4, 512)
      .head().getLong(1)
    assert(ghost >= 0L)
  }

  test("countMin sketches merge by cell-wise addition") {
    val a = (0 until 500).map(i => s"k${i % 7}").toDF("w")
    val b = (0 until 300).map(i => s"k${i % 5}").toDF("w")
    val merged = Sketches.countMin(a, col("w"), 3, 64)
      .unionByName(Sketches.countMin(b, col("w"), 3, 64))
      .groupBy("d", "bucket").agg(sum("cnt").as("cnt"))
    val whole = Sketches.countMin(a.unionByName(b), col("w"), 3, 64)
    val m = merged.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = whole.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m === w)
  }

  test("kmvDistinctEst error stays bounded across set sizes") {
    val k = 256
    for (n <- Seq(300L, 1000L, 10000L)) {
      val est = Sketches.kmvSignatures(
          (0L until n).map(i => ("x", i * 2654435761L)).toDF("key", "v"),
          col("key"), col("v"), k)
        .select(Sketches.kmvDistinctEst(col("sig"), k)).as[Double].head()
      val bound = if (n <= k) 0.0 else 0.25
      assert(math.abs(est - n) / n.toDouble <= bound, s"n=$n est=$est")
    }
  }

  test("kmvRollup: merged sketches are ARRAY-EQUAL to directly-built ones") {
    val k = 32
    // 3 types × 10 days, overlapping user sets across days within a type
    val rows = (0L until 6000L).map { i =>
      val t = s"t${i % 3}"
      val day = (i / 600L) % 10L
      (s"$t|$day", t, (i * 37L) % 500L + (i % 3) * 1000L)
    }
    val fine = Sketches.kmvSignatures(rows.toDF("fine", "t", "u"),
      col("fine"), col("u"), k)
    val rolled = Sketches.kmvRollup(fine,
      org.apache.spark.sql.functions.substring_index(col("key"), "|", 1), k)
    val direct = Sketches.kmvSignatures(rows.toDF("fine", "t", "u"),
      col("t"), col("u"), k)
    val cmp = rolled.select(col("key"), col("sig").as("a"))
      .join(direct.select(col("key"), col("sig").as("b")), "key")
    assert(cmp.count() === 3)
    assert(cmp.filter(col("a") =!= col("b")).count() === 0)
  }

  test("kmvRollup: small merged sets stay exact; estimator bound on large ones") {
    val k = 64
    val rows = (0L until 4000L).map(i =>
      (s"g${i % 4}|${i % 5}", s"g${i % 4}",
        (i / 4) % (if (i % 4 == 0) 40L else 900L)))
    val fine = Sketches.kmvSignatures(rows.toDF("fine", "g", "u"),
      col("fine"), col("u"), k)
    val rolled = Sketches.kmvRollup(fine,
        org.apache.spark.sql.functions.substring_index(col("key"), "|", 1), k)
      .collect().map(r => r.getString(0) ->
        ((r.getInt(2), r.getDouble(3)))).toMap
    // g0's union is 40 distinct users → sketch holds the set → exact
    assert(rolled("g0")._1 < k && rolled("g0")._2 === 40.0)
    // the big groups estimate within the KMV bound
    val exact = rows.filter(_._2 == "g1").map(_._3).distinct.size.toDouble
    assert(math.abs(rolled("g1")._2 - exact) / exact <= 0.3)
  }

  test("kllRollup: exact n under merge, quantiles within rank bound") {
    import spark.implicits._
    // values 1..10000 spread over 10 fine keys of one coarse group
    val rows = (1 to 10000).map(i => (s"g|${i % 10}", i.toLong))
      .toDF("fine", "v")
    val sketches = Sketches.kllQuantileSketches(rows, col("fine"),
      col("v"))
    assert(sketches.count() === 10)
    val r = Sketches.kllRollup(sketches,
      org.apache.spark.sql.functions.substring_index(col("key"), "|", 1))
      .collect().head
    assert(r.getString(0) === "g")
    assert(r.getLong(2) === 10000L, "KLL carries the row count exactly")
    // true values are 1..10000: the q-quantile estimate must sit within
    // the ~1.7% rank bound of q*n (5% slack here)
    assert(math.abs(r.getLong(3) - 5000L) <= 500L)
    assert(math.abs(r.getLong(4) - 9000L) <= 500L)
    assert(math.abs(r.getLong(5) - 9900L) <= 500L)
  }

  test("kllRollup: per-group isolation and null hygiene") {
    import spark.implicits._
    val rows = ((1 to 500).map(i => (s"a|0", i.toLong)) ++
      (1 to 500).map(i => (s"b|0", 100000L + i)) :+
      ((null: String), 7L)).toDF("fine", "v")
    val out = Sketches.kllRollup(
      Sketches.kllQuantileSketches(rows, col("fine"), col("v")),
      org.apache.spark.sql.functions.substring_index(col("key"), "|", 1))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === Set("a", "b")) // null fine key dropped upstream
    assert(out("a")._1 === 500L && out("b")._1 === 500L)
    assert(out("a")._2 <= 1000L && out("b")._2 >= 100000L,
      "groups must not bleed into each other's quantiles")
  }
}
