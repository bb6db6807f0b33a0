package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The query scope: the one place operator state is materialized and
  * released.
  *
  * THE RULE. An operator that needs a frame computed once for several
  * consumers either HOLDS it ([[hold]]: persisted, MEMORY_AND_DISK,
  * recomputable from its lineage; [[holdNow]] also fills the cache at
  * once and returns its exact size) or WRITES A ROUND ([[diskRound]],
  * [[diskRoundObserved]], a [[RoundSink]]: parquet scratch whose
  * read-back is a recomputable file scan). Both register with the
  * session's scope. The operator releases nothing itself: its returned
  * frame may stay lazy over everything it held or wrote. The query's
  * owner — Bench and Verify between queries
  * ([[graft.GraftSession.resetQueryState]]), perfbench before every
  * pass, a service after each request — calls [[releaseDeferred]]
  * once its action has returned. That boundary drains in-flight jobs
  * once, unpersists every held frame and deletes every registered
  * round. Nothing is unpersisted or deleted while the owner's action
  * runs, so no task can read a block or a scratch file that a release
  * removed under it.
  *
  * CONTRACT. One query at a time per Spark application: the sessions of
  * one SparkContext share its CacheManager and therefore one scope. A
  * frame an operator returned is valid until its owner's next
  * boundary; reading it after that recomputes held statics and fails
  * loudly on a deleted round, never silently.
  *
  * OWNERS THAT RELEASE SYNCHRONOUSLY keep their own release, because
  * their actions finish inside the call: `Ingest`'s parse cache
  * (unpersisted after the merges that read it) and `Store`'s
  * overwrite-own-input checkpoints.
  *
  * The `localCheckpoint` calls left in `src/main`, each with its reason
  * (none exists to let a release run before returning):
  *  - `Similarity.truncatedRecall` (`full`): the full-dimension top-k is
  *    joined once per truncation dim; checkpointing runs it once.
  *  - `Similarity.topComponent` (`m`, per-round `u`): dim²-row
  *    covariance (the one corpus scan) and the power-iteration vector,
  *    read twice per round (the max and the rescale).
  *  - `IncrementalDedup.dedupeBatch` (`cand`): the tiny post-collision
  *    candidate frame feeds both the corpus prune and the verify.
  *  - `Profile.concentrationCurve` (`parted`): baked-in partition ids
  *    that the offsets pass and the rank pass must agree on.
  *  - `CorpusStats` cosine (`weights`, lazy `localCheckpoint(false)`):
  *    the weight frame feeds both join sides and the norm aggregate.
  *  - `Streams` dedup sink (`admitted`): one micro-batch written to
  *    both the index and the corpus.
  *  - `Store` (x4): a write that overwrites its own input must read a
  *    copy (one also shares the kept rows with the emptied-dates pass).
  *  - `Ingest` (`bad`): the quarantine rows, cut from the parse cache
  *    the call unpersists before it returns.
  *  - `Probes` q221's exact reach truth (x3): the audit's own bounded
  *    recurrence, outside any operator.
  */
private[graft] object Lifecycle {

  // ------------------------------------------------------------------
  // Disk-backed round state. Local-checkpoint blocks are
  // NON-RECOMPUTABLE: the lineage is truncated, so a block lost to
  // eviction or an executor death fails the stage. A round is instead
  // written ONCE to a session-scoped parquet scratch path and read back;
  // round frames are O(V) rows of longs, so the write is a fast narrow
  // job, and the read-back plan is a file scan a lost task just
  // re-reads. Rounds are deleted at the owner's boundary.
  //
  // Cluster posture: the default scratch root is `java.io.tmpdir`,
  // correct for local[*] (one JVM, one filesystem). On a real cluster
  // set `spark.graft.scratch.dir` to a path every executor can read
  // (HDFS/S3), exactly as one would `sparkContext.setCheckpointDir` —
  // the parquet write/read already goes through the Hadoop FS API, so
  // no code changes.
  // ------------------------------------------------------------------

  private val scratchRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val roundIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** What one application's current query has held and written, in
    * registration order. */
  private final class Scope {
    val frames = new java.util.concurrent.ConcurrentLinkedDeque[DataFrame]()
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.hadoop.fs.Path]()
  }
  private val scopes = new java.util.concurrent.ConcurrentHashMap[String, Scope]()
  private def scope(spark: SparkSession): Scope =
    scopes.computeIfAbsent(spark.sparkContext.applicationId, _ => new Scope)

  // ------------------------------------------------------------------
  // Substrate telemetry (round-13 optimization): cumulative wall time
  // spent (a) polling in [[drain]] and (b) writing round state in
  // [[diskRound]], plus how often a drain gave up at its deadline.
  // graft.Bench snapshots these per timed run, so a slow iteration
  // whose task counters are all zero (no GC, no retries, no spill) can
  // still name its cause in the artifact: an idling drain poll or a
  // stalled scratch write, both invisible to task metrics.
  // ------------------------------------------------------------------
  private val drainNanosAcc = new java.util.concurrent.atomic.AtomicLong(0L)
  private val drainTimeoutsAcc = new java.util.concurrent.atomic.AtomicLong(0L)
  private val roundWriteNanosAcc = new java.util.concurrent.atomic.AtomicLong(0L)
  private val roundWritesAcc = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Read-and-zero the substrate counters:
    * (drainMs, drainTimeouts, roundWriteMs, roundWrites). */
  def substrateStatsSnapshot(): (Long, Long, Long, Long) = (
    drainNanosAcc.getAndSet(0L) / 1000000L,
    drainTimeoutsAcc.getAndSet(0L),
    roundWriteNanosAcc.getAndSet(0L) / 1000000L,
    roundWritesAcc.getAndSet(0L))

  /** Application-scoped scratch root (qualified URI string), created on
    * first use and best-effort deleted when the JVM exits. */
  def scratchRoot(spark: SparkSession): String =
    scratchRoots.computeIfAbsent(spark.sparkContext.applicationId, _ => {
      val configured = spark.conf.getOption("spark.graft.scratch.dir")
        .getOrElse(new java.io.File(
          System.getProperty("java.io.tmpdir"),
          s"graft-scratch-${spark.sparkContext.applicationId}")
          .getAbsolutePath)
      val p = new org.apache.hadoop.fs.Path(configured)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val q = fs.makeQualified(p)
      fs.mkdirs(q)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try fs.delete(q, true)
        catch { case _: Throwable => () }
      }, "graft-scratch-cleanup"))
      q.toString
    })

  /** Persist `df` (MEMORY_AND_DISK) for the rest of the query: the way
    * in for a static several consumers read. Released at the owner's
    * [[releaseDeferred]]; until then the returned frame, and anything
    * lazy over it, reads the cache. A plan the query already holds (the
    * same edges under two graph calls) reuses that cache. */
  def hold(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    scope(df.sparkSession).frames.push(df)
    df
  }

  /** [[hold]], filled now: one job over the cache's own blocks (plus
    * any broadcast its plan builds) under the job description
    * `description`, the previous description restored. An action on
    * the frame would cost more: adaptive execution fills a cache in a
    * stage of its own, then runs the action's stage. Returns the cache's
    * exact size in bytes, which a caller can size its plan by; plan
    * statistics only estimate it. */
  def holdNow(df: DataFrame, description: String): Long = {
    hold(df)
    val qe = df.queryExecution
    val cache = qe.sparkSession.sharedState.cacheManager
      .lookupCachedData(qe.sparkSession, qe.analyzed)
      .getOrElse(throw new IllegalStateException("a held frame has no cache entry"))
      .cachedRepresentation.cacheBuilder
    if (!cache.isCachedColumnBuffersLoaded) {
      val sc = df.sparkSession.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(description)
      // an SQL execution, as an action's: its tasks and driver compile
      // generated classes under the same class loader, so both share one
      // cache entry and a later refresh of the same shape compiles none
      try org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(description)) {
        sc.runJob(cache.cachedColumnBuffers, (_: Iterator[_]) => ())
      } finally sc.setJobDescription(prev)
    }
    cache.sizeInBytesStats.value
  }

  /** Eagerly materialize a per-round frame to RELIABLE storage: one
    * parquet write (the only computation of `df`'s plan) + a read-back
    * whose scan is recomputable from disk — the eviction-proof
    * replacement for `localCheckpoint(true)` in iterative recurrences.
    * Lineage stays flat (the read-back plan is a file scan), and no
    * block manager state is load-bearing for the next round.
    *
    * Write machinery is kept deliberately bare (measured on the
    * pagerank-round-shaped producer, OPTIMIZATION_r13.md §3): no REBALANCE
    * (an extra AQE shuffle stage per round), no _SUCCESS marker, no
    * parquet summary files — this is session-scoped scratch nobody
    * discovers by directory listing. Scratch stays SNAPPY regardless of
    * any session-level zstd choice: round state is written once, read
    * once and deleted, so cheap CPU beats ratio. Round-14 additions
    * (see [[writeRead]]): commit algorithm v2, schema-passed read-back,
    * and — through [[RoundSink]] — a measured-bytes coalesce so the
    * per-round file count follows the STATE size, not the cluster
    * width. Loops should prefer a [[RoundSink]]; this one-shot form is
    * for statics and stage barriers. The path is registered with the
    * query scope and deleted at the owner's boundary. */
  def diskRound(df: DataFrame): DataFrame = writeRead(df, 0, Nil)._1

  /** [[diskRound]] plus observed metrics: the given aggregate columns
    * are computed BY THE WRITE JOB itself (`Dataset.observe`) over
    * exactly the rows written, so convergence checks and rescale
    * factors that previously cost a second full action per round
    * (cc_star's checksum job, kCore's count, HITS/Bradley–Terry's max
    * broadcast subquery) now ride the one unavoidable action for free
    * (guide §1.2: fewer passes). Returns (read-back frame, metric map
    * keyed by the aggregates' aliases). */
  def diskRoundObserved(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) = {
    val (out, _, m) = writeRead(df, 0, metrics)
    (out, m)
  }

  /** One round write + read-back. `nFiles > 0` coalesces the producing
    * plan's LAST stage to that many tasks/files — no extra shuffle
    * (unlike the round-13 REBALANCE this substrate once carried).
    * The read-back passes the producer's schema explicitly so the scan
    * relation needs no footer-based schema inference, and the commit
    * protocol runs algorithm v2 (task commits rename straight to the
    * destination; the serial driver-side job-commit merge of v1 is
    * skipped) — safe here because the scratch path is session-private
    * and ErrorIfExists: no concurrent writer, no partial-visibility
    * reader. Returns (read-back, bytes written, observed metrics). */
  private def writeRead(df: DataFrame, nFiles: Int, metrics: Seq[Column])
      : (DataFrame, Long, Map[String, Any]) = {
    val spark = df.sparkSession
    val id = roundIds.incrementAndGet()
    val path = s"${scratchRoot(spark)}/round-$id"
    val p = new org.apache.hadoop.fs.Path(path)
    scope(spark).paths.add(p)
    val sized = if (nFiles > 0) df.coalesce(nFiles) else df
    val obs =
      if (metrics.isEmpty) None else Some(new Observation(s"graft-round-$id"))
    val observed =
      obs.fold(sized)(o => sized.observe(o, metrics.head, metrics.tail: _*))
    val t0 = System.nanoTime()
    observed.write.mode(SaveMode.ErrorIfExists)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("parquet.summary.metadata.level", "NONE")
      .option("compression", "snappy")
      .parquet(path)
    roundWriteNanosAcc.addAndGet(System.nanoTime() - t0)
    roundWritesAcc.incrementAndGet()
    val bytes =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case scala.util.control.NonFatal(_) => -1L }
    (spark.read.schema(df.schema).parquet(path), bytes,
      obs.fold(Map.empty[String, Any])(_.get))
  }

  /** Loop-scoped adaptive sizing for a sequence of HOMOGENEOUS round
    * writes (an iterative operator's per-round state). The first round
    * writes with the producer's natural partitioning; the bytes it
    * actually put on disk then size every later round to
    * ceil(bytes / `spark.graft.round.targetFileBytes`, default 64 MiB)
    * files, capped below the cluster parallelism (at or above it the
    * coalesce is skipped entirely).
    *
    * This is the anti-scaling fix the round-13 driver bench demanded:
    * a KB-scale rank frame produced by a broadcast join into a
    * persisted static inherits that static's partitioning — `cores`
    * write tasks, `cores` files, `cores` read tasks PER ROUND, a fixed
    * cost that grows with cluster width while the data doesn't (8-core
    * run beat 32-core 0.27–0.44×). With the sink, the same round is one
    * task and one file at any width — and a genuinely large round
    * (bytes ≥ target × parallelism) keeps full width, so the setting is
    * scale-adaptive, not a local[32] constant.
    *
    * The sink also holds the loop's cut cadence: [[cut]] decides
    * whether round i is written or stays lazy, from
    * `spark.graft.round.cutEvery` (default 8; read nowhere else). Every
    * round it writes belongs to the query scope, like a [[diskRound]]. */
  final class RoundSink private[Lifecycle] (spark: SparkSession) {
    private val target = spark.conf.getOption("spark.graft.round.targetFileBytes")
      .map(_.toLong).getOrElse(64L << 20)
    private val cutEvery = math.max(1, spark.conf
      .getOption("spark.graft.round.cutEvery").map(_.toInt).getOrElse(8))
    private var lastBytes = -1L
    private def files: Int =
      if (lastBytes < 0) 0
      else {
        val n = math.max(1L, (lastBytes + target - 1) / target)
        if (n >= spark.sparkContext.defaultParallelism) 0 else n.toInt
      }
    def round(df: DataFrame): DataFrame = roundObserved(df)._1
    def roundObserved(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) = {
      val (out, bytes, m) = writeRead(df, files, metrics)
      if (bytes >= 0) lastBytes = bytes
      (out, m)
    }
    /** Round `i` (1-based) of a lazily composing loop: written when `i`
      * falls on the cut cadence, else returned as the lazy plan. */
    def cut(i: Int, df: DataFrame): DataFrame =
      if (i % cutEvery == 0) round(df) else df
  }

  def roundSink(spark: SparkSession): RoundSink = new RoundSink(spark)

  /** The query boundary, the scope's one way out: once the owner's
    * action has returned, drain the session's in-flight jobs (stragglers
    * such as AQE's async broadcast exchanges), then unpersist every
    * held frame, newest first, and delete every registered round. With
    * nothing held or written it returns at once, without polling.
    * Releasing is always correctness-safe for held frames (recomputable
    * plans); a deleted round makes a later read of a frame over it fail
    * loudly. */
  def releaseDeferred(spark: SparkSession): Unit = {
    val s = scope(spark)
    if (s.frames.isEmpty && s.paths.isEmpty) return
    drain(spark)
    var df = s.frames.pollFirst()
    while (df != null) {
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
      df = s.frames.pollFirst()
    }
    val conf = spark.sparkContext.hadoopConfiguration
    var p = s.paths.poll()
    while (p != null) {
      try p.getFileSystem(conf).delete(p, true)
      catch { case scala.util.control.NonFatal(_) => () }
      p = s.paths.poll()
    }
  }

  /** Bounded wait for session quiescence (no active jobs), required
    * EMPTY ON TWO POLLS ~15 ms apart. The status tracker is fed by the
    * async listener bus, which lags in both directions: a just-finished
    * job may linger (harmless — lengthens the wait) and a just-started
    * job may not be visible yet (dangerous — a single empty poll could
    * release blocks under it). The double poll covers the start-lag
    * window. On a busy shared session the wait gives up after 2 s and
    * releases anyway. */
  private def drain(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val t0 = System.nanoTime()
    val deadline = t0 + 2000L * 1000000L
    var emptyStreak = 0
    while (emptyStreak < 2 && System.nanoTime() < deadline) {
      if (tracker.getActiveJobIds().isEmpty) {
        emptyStreak += 1
        if (emptyStreak < 2) Thread.sleep(15)
      } else {
        emptyStreak = 0
        Thread.sleep(5)
      }
    }
    if (emptyStreak < 2) drainTimeoutsAcc.incrementAndGet()
    drainNanosAcc.addAndGet(System.nanoTime() - t0)
  }
}
