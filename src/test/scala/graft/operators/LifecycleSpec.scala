package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The disk-backed per-round state substrate: diskRound must
  * round-trip values/schema through recomputable parquet scratch,
  * releaseDiskRound must delete superseded rounds' files and NOTHING
  * else, a RoundSink must own its chain's cadence and deletion, and each
  * iterative loop shape must leave on disk exactly the rounds its
  * result reads. */
class LifecycleSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.SharedSpark.spark

  private def scratchPaths(df: DataFrame): Seq[Path] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths
        case _ => Nil
      }
    }.flatten

  private def exists(p: Path): Boolean =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)

  test("diskRound round-trips values and schema through parquet scratch") {
    import spark.implicits._
    val in = Seq((1L, "a", Seq(1L, 2L)), (2L, "b", Seq.empty[Long]),
      (3L, null.asInstanceOf[String], Seq(7L)))
      .toDF("id", "s", "arr")
    val out = Lifecycle.diskRound(in)
    // eagerly materialized to a real scratch path
    val paths = scratchPaths(out)
    assert(paths.nonEmpty && paths.forall(exists), s"no scratch files: $paths")
    assert(paths.forall(_.toString.contains("graft-scratch-")))
    // values and column order survive; types stay (long, string, array)
    assert(out.columns.toSeq === Seq("id", "s", "arr"))
    val got = out.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Long](2)))
    assert(got.toSeq === Seq((1L, "a", Seq(1L, 2L)), (2L, "b", Seq()),
      (3L, null, Seq(7L))))
    // the read-back is RECOMPUTABLE: a second action re-reads the file
    assert(out.count() === 3L)
  }

  test("releaseDiskRound deletes a superseded round, skips nulls and non-scratch frames") {
    import spark.implicits._
    val r1 = Lifecycle.diskRound(Seq(1L, 2L).toDF("v"))
    val p1 = scratchPaths(r1)
    assert(p1.forall(exists))
    // a REAL (non-scratch) parquet table must never be touched
    val realDir = java.nio.file.Files
      .createTempDirectory("lifecycle_real").toFile.getAbsolutePath
    Seq(9L).toDF("v").write.mode("overwrite").parquet(realDir)
    val real = spark.read.parquet(realDir)
    Lifecycle.releaseDiskRound(spark, null, real, r1)
    assert(p1.forall(!exists(_)), "superseded round's files survived")
    assert(real.count() === 1L, "non-scratch table was deleted!")
  }

  test("diskRoundObserved computes metrics in the write job, matching a direct aggregate") {
    import spark.implicits._
    val in = Seq((1L, 10L), (2L, 20L), (3L, -5L)).toDF("u", "v")
    val (out, m) = Lifecycle.diskRoundObserved(in,
      count(lit(1)).as("__n"), max(col("v")).as("__mx"),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("__h"))
    assert(m("__n").asInstanceOf[Number].longValue === 3L)
    assert(m("__mx").asInstanceOf[Number].longValue === 20L)
    // the observed checksum equals the one a separate pass would compute
    val direct = out.agg(coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))
      .head().getLong(0)
    assert(m("__h").asInstanceOf[Number].longValue === direct)
    assert(out.count() === 3L)
  }

  test("diskRoundObserved on an empty frame yields null max and zero count") {
    import spark.implicits._
    val in = Seq.empty[(Long, Long)].toDF("u", "v")
    val (out, m) = Lifecycle.diskRoundObserved(in,
      count(lit(1)).as("__n"), max(col("v")).as("__mx"))
    assert(m("__n").asInstanceOf[Number].longValue === 0L)
    assert(m("__mx") == null)
    assert(out.count() === 0L)
  }

  test("RoundSink coalesces later rounds of KB-scale state to one file") {
    import spark.implicits._
    val sink = Lifecycle.roundSink(spark)
    def state(n: Int) = spark.range(200).toDF("id")
      .withColumn("x", col("id") * n)
      .repartition(8, col("id")) // inherit a wide layout, like a cached static
    val r1 = sink.round(state(1)) // first round: natural partitioning
    def nFiles(df: DataFrame): Int = scratchPaths(df).map { root =>
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    assert(nFiles(r1) === 8, "first round keeps the producer's layout")
    val r2 = sink.round(state(2))
    assert(nFiles(r2) === 1,
      "after measuring KB-scale bytes, later rounds are one file")
    // values survive the coalesced write
    assert(r2.agg(sum(col("x"))).head().getLong(0) === (0 until 200).map(_ * 2L).sum)
    sink.close()
  }

  test("releaseDeferred unpersists registered caches after a drain") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("v").persist()
    df.count() // materialize
    Lifecycle.deferRelease(df)
    assert(df.storageLevel.useMemory || df.storageLevel.useDisk)
    Lifecycle.releaseDeferred(spark)
    assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "deferred cache must be unpersisted")
    // second call is a no-op (queue drained)
    Lifecycle.releaseDeferred(spark)
  }

  test("the iterative chain pattern leaves only the final round on disk") {
    import spark.implicits._
    val sink = Lifecycle.roundSink(spark)
    var state = Seq((1L, 0L), (2L, 0L)).toDF("id", "x")
    var paths = Seq.empty[Path]
    (1 to 3).foreach { i =>
      state = sink.round(state.withColumn("x", col("x") + i))
      assert(paths.forall(!exists(_)), s"round ${i - 1} files survived")
      paths = scratchPaths(state)
      assert(paths.nonEmpty && paths.forall(exists), s"round $i not on disk")
    }
    // the recurrence value is correct through the chain: 0+1+2+3 = 6
    assert(state.orderBy("id").collect().map(_.getLong(1)).toSeq
      === Seq(6L, 6L))
    sink.close()
    assert(paths.forall(!exists(_)), "close left the last round on disk")
  }

  test("RoundSink.cut writes on the cadence only; keep = 2 holds two chains") {
    import spark.implicits._
    spark.conf.set("spark.graft.round.cutEvery", "3")
    val sink =
      try Lifecycle.roundSink(spark, keep = 2)
      finally spark.conf.unset("spark.graft.round.cutEvery")
    val rounds = (1 to 6).map(i => sink.cut(i, Seq(i.toLong).toDF("v")))
    val written = rounds.map(scratchPaths(_).nonEmpty)
    assert(written === Seq(false, false, true, false, false, true))
    // keep = 2: after a third write, only the oldest is gone
    val third = sink.round(Seq(7L).toDF("v"))
    assert(scratchPaths(rounds(2)).forall(!exists(_)))
    assert((scratchPaths(rounds(5)) ++ scratchPaths(third)).forall(exists))
    sink.close()
    assert((scratchPaths(rounds(5)) ++ scratchPaths(third)).forall(!exists(_)))
  }

  // The scratch root, found from a throwaway round's parent directory.
  private lazy val scratchRoot: Path = {
    import spark.implicits._
    val probe = Lifecycle.diskRound(Seq(0L).toDF("v"))
    val root = scratchPaths(probe).head.getParent
    Lifecycle.releaseDiskRound(spark, probe)
    root
  }

  private def roundsOnDisk(): Set[String] = {
    val fs = scratchRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(scratchRoot).map(_.getPath.getName).toSet
  }

  /** Run an operator and assert the scratch rounds it leaves behind are
    * exactly the rounds its returned frame reads; returns how many. */
  private def leavesExactlyWhatItReads(run: => DataFrame): Int = {
    val before = roundsOnDisk()
    val out = run
    val left = roundsOnDisk() -- before
    val read = scratchPaths(out).map(_.getName).toSet
    assert(left === read, s"scratch holds $left, the result reads $read")
    assert(out.count() > 0L)
    read.size
  }

  private def pairs(e: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    e.toDF("src", "dst")
  }

  test("pagerankMicro at cutEvery=2 leaves only its output round") {
    val e = pairs(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)))
    spark.conf.set("spark.graft.round.cutEvery", "2")
    try assert(leavesExactlyWhatItReads(Graph.pagerankMicro(e, 5)) === 1)
    finally spark.conf.unset("spark.graft.round.cutEvery")
  }

  test("kCorePeel leaves only the last round, which its result reads") {
    // a 4-clique with a 3-node tail: the tail peels over several rounds
    val e = pairs(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)))
    assert(leavesExactlyWhatItReads(Graph.kCorePeel(e, 3, 5)) === 1)
  }

  test("connectedComponentsStar leaves its input round and last round") {
    import spark.implicits._
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    assert(leavesExactlyWhatItReads(Graph.connectedComponentsStar(p)) === 2)
  }

  test("reachProfileKmv keeps every hop's round; hitsMicro keeps none") {
    val e = pairs(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(leavesExactlyWhatItReads(
      Graph.reachProfileKmv(e, k = 8, maxHops = 3)) === 3)
    assert(leavesExactlyWhatItReads(Graph.hitsMicro(e, 2)) === 0)
  }
}
