package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The query scope: diskRound must round-trip values/schema through
  * recomputable parquet scratch, a RoundSink must own its chain's
  * cadence and sizing, nothing an operator held or wrote may vanish
  * while its owner still reads it, and the owner's boundary
  * ([[Lifecycle.releaseDeferred]]) must leave no held cache and no round
  * behind. */
class LifecycleSpec extends AnyFunSuite with graft.QueryBoundary {

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

  test("the boundary deletes registered rounds, never a non-scratch table") {
    import spark.implicits._
    val r1 = Lifecycle.diskRound(Seq(1L, 2L).toDF("v"))
    val p1 = scratchPaths(r1)
    assert(p1.forall(exists))
    // a REAL (non-scratch) parquet table is never registered, so never
    // touched
    val realDir = java.nio.file.Files
      .createTempDirectory("lifecycle_real").toFile.getAbsolutePath
    Seq(9L).toDF("v").write.mode("overwrite").parquet(realDir)
    val real = spark.read.parquet(realDir)
    Lifecycle.releaseDeferred(spark)
    assert(p1.forall(!exists(_)), "a registered round survived the boundary")
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
  }

  test("releaseDeferred unpersists registered caches after a drain") {
    import spark.implicits._
    val df = Lifecycle.hold(Seq(1L, 2L, 3L).toDF("v"))
    df.count() // materialize
    assert(df.storageLevel.useMemory || df.storageLevel.useDisk)
    Lifecycle.releaseDeferred(spark)
    assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "held cache must be unpersisted")
    // second call is a no-op (scope empty)
    Lifecycle.releaseDeferred(spark)
  }

  test("RoundSink.cut writes on the cadence only") {
    import spark.implicits._
    spark.conf.set("spark.graft.round.cutEvery", "3")
    val sink =
      try Lifecycle.roundSink(spark)
      finally spark.conf.unset("spark.graft.round.cutEvery")
    val rounds = (1 to 6).map(i => sink.cut(i, Seq(i.toLong).toDF("v")))
    val written = rounds.map(scratchPaths(_).nonEmpty)
    assert(written === Seq(false, false, true, false, false, true))
    assert(rounds.flatMap(scratchPaths).forall(exists))
  }

  test("advancing a chain never deletes a round under a running read") {
    // 12 one-row files, more than the session's 4 cores
    val sink = Lifecycle.roundSink(spark)
    val r1 = sink.round(spark.range(0, 12, 1, 12).toDF("v"))
    val files = scratchPaths(r1).map { root =>
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(root).count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    assert(files === 12)
    // Two tasks read six files each, one after another, and every row
    // sleeps: each task opens its later files long after the read began.
    // The other two cores stay free for the chain's next write.
    val slow = udf { (v: Long) => Thread.sleep(250); v }
    val tag = s"lifecycle-race-${System.nanoTime()}"
    val read = scala.concurrent.Future {
      spark.sparkContext.setJobGroup(tag, "slow read of a superseded round")
      try r1.select(slow(col("v")).as("v")).coalesce(2).collect()
        .map(_.getLong(0)).sorted.toSeq
      finally spark.sparkContext.clearJobGroup()
    }(scala.concurrent.ExecutionContext.global)
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30000000000L
    while (tracker.getJobIdsForGroup(tag).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    // advance the chain past r1 while the read is in its first files
    val r2 = sink.round(spark.range(3).toDF("v"))
    val r3 = sink.round(r2.select((col("v") + 1).as("v")))
    assert(r3.count() === 3L)
    val got = scala.concurrent.Await.result(read,
      scala.concurrent.duration.Duration(120, "s"))
    assert(got === (0L until 12L))
    assert(scratchPaths(r1).forall(exists), "the round was deleted before the boundary")
    Lifecycle.releaseDeferred(spark)
    assert((scratchPaths(r1) ++ scratchPaths(r3)).forall(!exists(_)))
  }

  private def roundsOnDisk(): Set[String] = {
    val root = new Path(Lifecycle.scratchRoot(spark))
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).map(_.getPath.getName).filter(_.startsWith("round-")).toSet
  }

  private def roundNo(name: String): Long = name.stripPrefix("round-").toLong

  private def pairs(e: Seq[(Long, Long)]): DataFrame = {
    val s = spark; import s.implicits._
    e.toDF("src", "dst")
  }

  /** Run an operator and check the scope contract: before the boundary
    * its output answers (`rows` equals `expect`); after the boundary no
    * round is on disk and no persisted RDD the call added remains
    * (checkpointed ones aside, as in IngestSpec). Returns, as they stood
    * before the boundary, the rounds the call wrote (oldest first) and
    * the rounds its output reads, by round number. Superseded rounds are
    * no longer deleted mid-call, so what a call keeps for its output is
    * what that output reads; the boundary takes the rest with it. */
  private def answersThenReleases[T](run: => DataFrame)(rows: DataFrame => T)(expect: T)
      : (Seq[Long], Set[Long]) = {
    Lifecycle.releaseDeferred(spark)
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    val out = run
    assert(rows(out) === expect)
    val written = roundsOnDisk().toSeq.map(roundNo).sorted
    val read = scratchPaths(out).map(p => roundNo(p.getName)).toSet
    assert(read.subsetOf(written.toSet), s"the output reads $read, the call wrote $written")
    Lifecycle.releaseDeferred(spark)
    assert(roundsOnDisk().isEmpty, s"rounds left after the boundary: ${roundsOnDisk()}")
    val leaked = (sc.getPersistentRDDs -- cachedBefore).values.filterNot(_.isCheckpointed)
    assert(leaked.isEmpty, s"caches left after the boundary: ${leaked.map(_.name)}")
    (written, read)
  }

  private def longPairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pagerankMicro at cutEvery=2 leaves only its output round") {
    // PageRank on the chain 1→2→3 (GraphSpec's hand-computed values);
    // of 3 rounds the cadence writes round 2, which the output reads
    spark.conf.set("spark.graft.round.cutEvery", "2")
    val (written, read) =
      try answersThenReleases(Graph.pagerankMicro(pairs(Seq((1L, 2L), (2L, 3L))), 3))(
        longPairs)(Map(1L -> 150000L, 2L -> 277500L, 3L -> 385875L))
      finally spark.conf.unset("spark.graft.round.cutEvery")
    assert(written.size === 1)
    assert(read === written.toSet)
  }

  test("kCorePeel leaves only the last round, which its result reads") {
    // a triangle with a pendant path: the tail peels over several rounds
    val (written, read) = answersThenReleases(Graph.kCorePeel(pairs(Seq((1L, 2L),
      (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))), 2, 4))(longPairs)(
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(written.size > 2, s"expected an input round and several peel rounds: $written")
    assert(read === Set(written.last))
  }

  test("connectedComponentsStar leaves its input round and last round") {
    import spark.implicits._
    // min id per component
    val (written, read) = answersThenReleases(Graph.connectedComponentsStar(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")))(longPairs)(
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
    assert(read === Set(written.head, written.last))
  }

  test("reachProfileKmv keeps every hop's round; hitsMicro keeps none") {
    // reach profile on the path 1-2-3-4-5: sketches hold every set, so
    // each hop's estimate is the exact BFS count
    val (reachWritten, reachRead) = answersThenReleases(Graph.reachProfileKmv(
      pairs(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))), k = 8, maxHops = 3))(
      _.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap)(
      (for (n <- 1L to 5L; t <- 1 to 3)
        yield (n, t) -> (1L to 5L).count(m => m != n && math.abs(m - n) <= t).toDouble).toMap)
    assert(reachRead.size === 3)
    assert(reachRead === reachWritten.toSet)
    // HITS on the star 1→2, 1→3: 1 is the only hub, 2 and 3 the
    // authorities. Its output reads its last hub and authority rounds
    // until the boundary, and nothing of it is left after it.
    answersThenReleases(Graph.hitsMicro(pairs(Seq((1L, 2L), (1L, 3L))), 2))(
      _.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)(
      Set((1L, 1000000L, 0L), (2L, 0L, 1000000L), (3L, 0L, 1000000L)))
  }

  test("a diskRound stager answers before the boundary and leaves nothing after it") {
    import spark.implicits._
    // Kaplan–Meier's range-partitioned staging
    val (written, read) = answersThenReleases(Survival.kaplanMeier(
      Seq((1L, true), (2L, true), (2L, false), (3L, true)).toDF("d", "o"),
      col("d"), col("o")))(_.select("t", "n_risk").as[(Long, Long)].collect().toMap)(
      Map(1L -> 4L, 2L -> 3L, 3L -> 1L))
    assert(written.nonEmpty && read.nonEmpty)
  }
}
