package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class LayoutSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  test("zValue interleaves bits (hand-computed cases)") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L), (255L, 255L))
      .toDF("x", "y")
    val z = df.select(Layout.zValue($"x", $"y", 8)).as[Long].collect()
    assert(z(0) === 0L)
    assert(z(1) === 1L)          // x bit 0 -> result bit 0
    assert(z(2) === 2L)          // y bit 0 -> result bit 1
    assert(z(3) === 3L)
    // x=5 (101), y=3 (011): result bits b0=x0=1,b1=y0=1,b2=x1=0,
    // b3=y1=1,b4=x2=1,b5=y2=0 -> 011011 = 27
    assert(z(4) === 27L)
    assert(z(5) === 65535L)      // full 8-bit interleave
  }

  test("zValueN: 2-D agrees with zValue; 3-D interleaves by stride") {
    import spark.implicits._
    val df = Seq((5L, 3L, 1L), (7L, 7L, 7L), (0L, 0L, 4L)).toDF("x", "y", "w")
    val both = df.select(
      Layout.zValue($"x", $"y", 8).as("z2"),
      Layout.zValueN(Seq($"x", $"y"), 8).as("z2n"),
      Layout.zValueN(Seq($"x", $"y", $"w"), 4).as("z3")).collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // 3-D: x bits at 0,3,6,9; y at 1,4,7,10; w at 2,5,8,11
    // (7,7,7) -> bits 0..8 all set = 511
    assert(both(1).getLong(2) === 511L)
    // (0,0,4): w bit 2 -> result bit 2*3+2 = 8 -> 256
    assert(both(2).getLong(2) === 256L)
  }

  test("z-order gives bounded per-file spans on BOTH dims; linear sort leaves dim2 unpruned") {
    import spark.implicits._
    // a 256x256 grid, both dims uniform
    val grid = spark.range(0, 65536).select(
      (col("id") % 256).as("x"), (col("id") / 256).as("y"))
    val base = java.nio.file.Files.createTempDirectory("graft_layout").toString

    Layout.writeZOrdered(grid, s"$base/zorder", $"x", $"y", bits = 8, targetFiles = 16)
    grid.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.parquet(s"$base/linear")

    def spans(p: String) = Layout
      .fileSpans(spark.read.parquet(p), $"x", $"y")
      .agg(avg($"x_span"), avg($"y_span")).as[(Double, Double)].head()

    val (zx, zy) = spans(s"$base/zorder")
    val (lx, ly) = spans(s"$base/linear")
    // linear: x tightly clustered, y spans ~everything in every file
    assert(lx < 0.15, s"linear x span $lx")
    assert(ly > 0.9, s"linear y span $ly")
    // z-order: BOTH dims bounded — each file covers a rectangle
    assert(zx < 0.5, s"zorder x span $zx")
    assert(zy < 0.5, s"zorder y span $zy")
  }

  test("z-ordered write preserves the data exactly") {
    import spark.implicits._
    val df = spark.range(0, 10000).select(
      (col("id") * 7 % 1000).as("x"), (col("id") * 13 % 1000).as("y"), col("id"))
    val dir = java.nio.file.Files.createTempDirectory("graft_layout_rt").toString + "/t"
    Layout.writeZOrdered(df, dir, $"x", $"y", bits = 10, targetFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() === 10000)
    assert(back.join(df, Seq("x", "y", "id"), "left_anti").count() === 0)
    assert(df.join(back, Seq("x", "y", "id"), "left_anti").count() === 0)
  }

  test("rendezvousShard: deterministic, in-range, and stable under growth") {
    import spark.implicits._
    val df = (1 to 300).map(i => Tuple1(s"k$i")).toDF("k")
    val tagged = df
      .withColumn("s8", Layout.rendezvousShard(col("k"), 8))
      .withColumn("s12", Layout.rendezvousShard(col("k"), 12))
      .collect()
    assert(tagged.forall(r => r.getLong(1) >= 0L && r.getLong(1) < 8L))
    assert(tagged.forall(r => r.getLong(2) >= 0L && r.getLong(2) < 12L))
    // the rendezvous property: a key either keeps its shard or moves
    // to one of the NEW shards — never between old shards
    assert(tagged.forall(r =>
      r.getLong(2) === r.getLong(1) || r.getLong(2) >= 8L))
    // all 8 shards actually used at n=300 (sanity on the digest spread)
    assert(tagged.map(_.getLong(1)).distinct.length === 8)
  }

  test("reshardAudit: movement bounded near 1/k', minimality verdict, null quarantine") {
    import spark.implicits._
    val df = ((1 to 1000).map(i => Some(s"k$i")) :+ Option.empty[String])
      .toDF("k")
    val r = Layout.reshardAudit(df, col("k"), fromShards = 8,
      toShards = 12).collect().head
    assert(r.getLong(0) === 8L && r.getLong(1) === 12L)
    assert(r.getLong(2) === 1000L && r.getLong(3) === 1L)
    assert(r.getLong(4) === r.getLong(6), "every move lands on a new shard")
    assert(r.getBoolean(7))
    // expected movement = 4/12 of keys; allow generous concentration
    val ppm = r.getLong(5)
    assert(ppm > 200000L && ppm < 470000L, s"moved_ppm $ppm")
    // shrink direction: moves_minimal is NULL (not defined), moves happen
    val back = Layout.reshardAudit(df, col("k"), fromShards = 12,
      toShards = 8).collect().head
    assert(back.isNullAt(7) && back.getLong(4) > 0L)
  }
}
