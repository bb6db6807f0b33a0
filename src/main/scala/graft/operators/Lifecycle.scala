package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Cache-release discipline for operators that persist static frames
  * for the duration of a call and release them before returning.
  *
  * The naive lifecycle — `out = result.localCheckpoint(true);
  * statics.unpersist()` — has a race under AQE: adaptive execution
  * submits broadcast-exchange jobs on separate threads
  * (`withThreadLocalCaptured` futures), and those jobs can still be
  * running when the main action returns. If `unpersist()` then deletes
  * the cached blocks mid-fetch, the in-flight task fails with
  * `BlockNotFoundException` and its RETRY recomputes the block's full
  * lineage with the cache gone — for an iterative operator that means
  * re-running a multi-round recurrence from the raw tables, stealing
  * every core from whatever query runs next (measured: a 7 s PageRank
  * turning into 48 s with a 99 s run-to-run spread in the round-11
  * driver bench, 16 `BlockNotFoundException` hits in the test logs).
  *
  * [[drainAndUnpersist]] closes the race at the source: wait (bounded)
  * until the session has no active jobs — our own action already
  * returned, so the only stragglers are those async exchange jobs,
  * which complete in milliseconds — THEN drop the blocks. The wait is
  * bounded so a busy shared session degrades to today's behavior
  * instead of hanging; the drain is skipped entirely when nothing is
  * running (the common case: one poll, no sleep).
  */
private[graft] object Lifecycle {

  // ------------------------------------------------------------------
  // SUBSTRATE POLICY (round 14) — where eager materialization lives:
  //
  //  1. Per-round LOOP state → one [[RoundSink]] per loop, parquet
  //     scratch: recomputable file scans, never evictable
  //     non-recomputable blocks. The sink owns the round lifecycle:
  //     it holds the cut cadence (loops whose round references the
  //     previous state exactly once COMPOSE LAZILY and cut lineage
  //     every `spark.graft.round.cutEvery` rounds, default 8 — the
  //     per-round write tax was 80–90 % of graph-family wall time),
  //     deletes each superseded round once the next one is on disk,
  //     and deletes the rounds it still holds when the caller closes
  //     it. Loops keep no scratch frames of their own.
  //  2. Mid-call STAGING read by several consumers (or whose baked-in
  //     partition ids both passes must agree on) that SCALES WITH DATA
  //     → [[diskRound]]. An evicted localCheckpoint block there is a
  //     non-recomputable stage failure in the middle of an operator.
  //  3. FINAL outputs handed to the caller (`out = ...localCheckpoint
  //     (true); drainAndUnpersist(statics); out`) MAY stay
  //     localCheckpoint: the block exists only between creation and
  //     the caller's consumption (for every query path here, the very
  //     next action); a loss in that window fails the job LOUDLY —
  //     never a wrong result — and the bounded-cache session
  //     ([[releaseDeferred]] at query boundaries) removes the storage
  //     pressure that made such losses real in round 12. Same
  //     exemption for corpus-size-INDEPENDENT frames (dim²-row /
  //     KB-scale state), where a disk round-trip costs more than the
  //     block can ever risk.
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // Disk-backed per-round state (the round-13 substrate change).
  //
  // The iterative operators used to park each round's state in the
  // block manager via `localCheckpoint(true)`. Local-checkpoint blocks
  // are NON-RECOMPUTABLE by construction — the lineage is truncated at
  // the checkpoint, so a block lost to memory-pressure eviction churn
  // or an executor death is a failed stage and a rerun job, not a
  // recompute (Spark logs it as "lineage truncated, cannot be
  // recomputed"). On a loaded box that turned seconds-scale graph
  // recurrences into minute-scale flaps; at 1000-executor scale it is
  // a job killer. [[diskRound]] replaces the substrate: each round is
  // written ONCE to a session-scoped parquet scratch path and read
  // back — the round frames are O(V) rows of longs, so the write is a
  // fast narrow job, and the read-back plan is recomputable FOREVER
  // (a lost scan task just re-reads the file). Superseded rounds are
  // deleted promptly ([[RoundSink]], [[releaseDiskRound]]); rounds the
  // returned frame still reads live until the scratch root's
  // shutdown-hook cleanup.
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

  /** Session-scoped scratch root (qualified URI string), created on
    * first use and best-effort deleted when the JVM exits. */
  private def scratchRoot(spark: SparkSession): String =
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

  /** Eagerly materialize a per-round frame to RELIABLE storage: one
    * parquet write (the only computation of `df`'s plan) + a read-back
    * whose scan is recomputable from disk — the eviction-proof
    * replacement for `localCheckpoint(true)` in iterative recurrences.
    * Lineage stays flat (the read-back plan is a file scan), and no
    * block manager state is load-bearing for the next round.
    *
    * Write machinery is kept deliberately bare (measured on the
    * pagerank-round-shaped producer, tools/RoundVariants): no REBALANCE
    * (an extra AQE shuffle stage per round), no _SUCCESS marker, no
    * parquet summary files — this is session-scoped scratch nobody
    * discovers by directory listing. Scratch stays SNAPPY regardless of
    * any session-level zstd choice: round state is written once, read
    * once and deleted, so cheap CPU beats ratio. Round-14 additions
    * (see [[writeRead]]): commit algorithm v2, schema-passed read-back,
    * and — through [[RoundSink]] — a measured-bytes coalesce so the
    * per-round file count follows the STATE size, not the cluster
    * width. Loops should prefer a [[RoundSink]]; this one-shot form is
    * for statics and stage barriers. */
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
    val p = new org.apache.hadoop.fs.Path(path)
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
    * The sink is also the loop's whole round lifecycle, so no operator
    * decides cadence or deadness itself:
    *  - [[cut]] decides whether round i is written or stays lazy, from
    *    `spark.graft.round.cutEvery` (default 8; read nowhere else);
    *  - every write deletes the chain's oldest round once more than
    *    `keep` rounds are on disk — `keep` = 1 for a plain recurrence,
    *    2 for two interleaved chains (HITS' auth/hub), unbounded when
    *    the result reads every round (reach-profile hops);
    *  - [[close]] deletes the rounds still held, once the caller's
    *    output no longer reads them. A loop whose returned frame reads
    *    its last round never closes; those files live until the
    *    scratch root's shutdown cleanup. */
  final class RoundSink private[Lifecycle] (spark: SparkSession, keep: Int) {
    private val target = spark.conf.getOption("spark.graft.round.targetFileBytes")
      .map(_.toLong).getOrElse(64L << 20)
    private val cutEvery = math.max(1, spark.conf
      .getOption("spark.graft.round.cutEvery").map(_.toInt).getOrElse(8))
    private val live = scala.collection.mutable.Queue.empty[DataFrame]
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
      adopt(out)
      (out, m)
    }
    /** Round `i` (1-based) of a lazily composing loop: written when `i`
      * falls on the cut cadence, else returned as the lazy plan. */
    def cut(i: Int, df: DataFrame): DataFrame =
      if (i % cutEvery == 0) round(df) else df
    /** Make an already-materialized scratch frame the chain's newest
      * round, so the sink deletes it like its own — without letting its
      * bytes size the next write. */
    def adopt(df: DataFrame): Unit = {
      live.enqueue(df)
      if (live.size > keep) releaseDiskRound(spark, live.dequeue())
    }
    /** The caller's output no longer reads the chain: delete its rounds. */
    def close(): Unit = {
      releaseDiskRound(spark, live.toSeq: _*)
      live.clear()
    }
  }

  def roundSink(spark: SparkSession, keep: Int = 1): RoundSink =
    new RoundSink(spark, keep)

  /** Delete the scratch files behind superseded [[diskRound]] frames
    * (a [[RoundSink]] calls this for its own chain). Only paths under
    * this session's scratch root are ever touched (a caller accidentally
    * passing a real table is a no-op), and a SHORT drain runs first so
    * no straggling async-exchange task is mid-read when the file
    * vanishes (a re-read retry after that would FileNotFound — the one
    * non-recomputable window this substrate has, closed the way
    * [[drainAndUnpersist]] closes it for cached blocks). Null frames are
    * skipped. */
  def releaseDiskRound(spark: SparkSession, frames: DataFrame*): Unit = {
    val real = frames.filter(_ != null)
    if (real.isEmpty) return
    val root = scratchRoot(spark)
    drain(spark, timeoutMs = 250L)
    val conf = spark.sparkContext.hadoopConfiguration
    real.foreach { df =>
      try df.queryExecution.analyzed.foreach {
        case lr: LogicalRelation => lr.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.foreach { p =>
            if (p.toString.startsWith(root))
              try p.getFileSystem(conf).delete(p, true)
              catch { case scala.util.control.NonFatal(_) => () }
          }
          case _ => ()
        }
        case _ => ()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  // ------------------------------------------------------------------
  // Deferred cache release (round 14). Some operators persist a frame
  // the RETURNED plan still reads lazily (globalRank's sorted frame),
  // so they cannot unpersist before returning — and a Dataset.persist
  // registers the plan in the session CacheManager, which holds the
  // InMemoryRelation STRONGLY until an explicit unpersist: the
  // ContextCleaner never frees SQL-cache entries, so without a release
  // path every such call leaks a full-input MEMORY_AND_DISK cache for
  // the session lifetime (the round-13 CacheManager-reuse finding).
  // deferRelease registers the frame; releaseDeferred — called by the
  // session owner at a query boundary (Bench between runs, Verify
  // between queries; long-running services after each request) —
  // drains and unpersists everything registered. Releasing is always
  // CORRECTNESS-safe: the caches are recomputable plans, and ranks are
  // invariant to the re-executed range partitioning (any valid range
  // split + in-partition sort of a total order yields the same global
  // rank), so a consumer that reads after release recomputes, slower
  // but identical.
  // ------------------------------------------------------------------
  private val deferredCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Register a persisted frame whose cache outlives its operator call;
    * released at the next [[releaseDeferred]]. */
  def deferRelease(df: DataFrame): Unit = deferredCaches.add(df)

  /** Drain in-flight jobs, then unpersist every frame registered with
    * [[deferRelease]]. Bounds the session's cache footprint to one
    * query's worth — call at query boundaries. */
  def releaseDeferred(spark: SparkSession): Unit = {
    if (deferredCaches.isEmpty) return
    drain(spark, timeoutMs = 2000L)
    var df = deferredCaches.poll()
    while (df != null) {
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
      df = deferredCaches.poll()
    }
  }

  /** Unpersist `frames` once the session's in-flight jobs have drained
    * (bounded wait), so no straggler task can observe the blocks
    * disappearing mid-read. Call AFTER the operator's output has been
    * eagerly materialized — the caches must not be load-bearing for
    * the returned frame. */
  def drainAndUnpersist(spark: SparkSession, frames: DataFrame*): Unit = {
    drain(spark)
    frames.foreach(_.unpersist(blocking = false))
  }

  /** Bounded wait for session quiescence (no active jobs), required
    * EMPTY ON TWO POLLS ~15 ms apart. The status tracker is fed by the
    * async listener bus, which lags in both directions: a just-finished
    * job may linger (harmless — lengthens the wait) and a just-started
    * job may not be visible yet (dangerous — a single empty poll could
    * release blocks under it). The double poll covers the start-lag
    * window; the residual race is additionally BOUNDED by the callers'
    * per-round checkpoints — with flat lineage the worst recompute a
    * leaked straggler can trigger is one round over persisted statics,
    * never a multi-round rebuild. On a busy shared session the wait
    * gives up at `timeoutMs` and degrades to the pre-drain behavior. */
  def drain(spark: SparkSession, timeoutMs: Long = 10000L): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val t0 = System.nanoTime()
    val deadline = t0 + timeoutMs * 1000000L
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
