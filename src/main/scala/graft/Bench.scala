package graft

/** Per-run counters captured around each timed query execution, so a
  * bench artifact from ANY box is self-diagnosing: a slow iteration
  * with high `gcMs` is memory pressure, with `stageRetry`/`taskFail`
  * hits is lost-state recompute, with high `blocksRemoved` is cache
  * eviction churn, with `spillBytes` is undersized execution memory —
  * and a slow iteration with ALL ZEROS is plain CPU/disk contention.
  * Four rounds of builder-passes/driver-fails on the iterative family
  * were unattributable because the artifact carried none of these. */
private final class BenchTelemetry extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  private val taskGc = new AtomicLong
  private val fails = new AtomicLong
  private val retries = new AtomicLong
  private val removed = new AtomicLong
  private val spill = new AtomicLong
  private val tasks = new AtomicLong
  private val jobs = new AtomicLong
  private val taskRun = new AtomicLong
  private val shuffle = new AtomicLong

  // jobs, task run ms and shuffle bytes follow the perfbench tracer's
  // definitions: one per job start, Σ executorRunTime, and shuffle
  // bytes written plus total bytes read
  override def onJobStart(
      e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onTaskEnd(
      e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskGc.addAndGet(m.jvmGCTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      taskRun.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead)
    }
    e.reason match {
      case org.apache.spark.Success => ()
      case _ => fails.incrementAndGet()
    }
  }
  // a stage attempt > 0 IS a retry — the signature of non-recomputable
  // state loss (e.g. an evicted local-checkpoint block)
  override def onStageSubmitted(
      e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.attemptNumber() > 0) retries.incrementAndGet()
  // a block update to an invalid storage level is a removal/eviction
  override def onBlockUpdated(
      e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
    if (!e.blockUpdatedInfo.storageLevel.isValid) removed.incrementAndGet()

  /** Read-and-zero all counters. The listener bus is async, so a few
    * events from a just-finished job can land AFTER the snapshot and
    * bleed into the next run's counters — runs of one query execute
    * back-to-back, so the bleed stays within (or adjacent to) the
    * query being measured; a sleep-to-drain would cost the 1300-exec
    * sweep minutes for cosmetics. */
  def snapshotAndReset(): Bench.RunCounters = Bench.RunCounters(
    taskGcMs = taskGc.getAndSet(0L),
    taskFail = fails.getAndSet(0L),
    stageRetry = retries.getAndSet(0L),
    blocksRemoved = removed.getAndSet(0L),
    spillBytes = spill.getAndSet(0L),
    tasks = tasks.getAndSet(0L),
    jobs = jobs.getAndSet(0L),
    taskRunMs = taskRun.getAndSet(0L),
    shuffleBytes = shuffle.getAndSet(0L))
}

/** The per-query run protocol: [[Bench]] times every probe with it and
  * `graft.tools.Profile` profiles named probes with it, so a profiled
  * run is a benched run. Each run resets the query state before the
  * timer, executes the probe's bench body into the `noop` sink, and
  * returns the run's counters. The runner's listener stays registered
  * on `spark` until [[close]]. */
final class BenchRunner(spark: org.apache.spark.sql.SparkSession) {
  import Bench.{RunStats, SubstrateStats}

  // Telemetry (round 13): every timed run carries whole-JVM GC ms,
  // task-failure / stage-retry counts, block removals, and spill —
  // so an over-budget iteration in ANY environment names its cause
  // in the artifact instead of needing a reproduction.
  private val telemetry = new BenchTelemetry
  spark.sparkContext.addSparkListener(telemetry)

  private def jvmGcMs: Long = {
    val it = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.iterator()
    var s = 0L
    while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
    s
  }
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def exec(name: String, sfDir: String): RunStats = {
    // Time the raw operator where the gate query wraps it in a
    // self-oracle audit — the audit's bounded exact-truth pass would
    // otherwise dominate and mask operator regressions.
    val body = graft.queries.Probes.benchBody(name)
    // measurement validity: no timed run may read a previous run's
    // caches; the boundary runs before the timer starts, timed apart
    val b0 = System.nanoTime()
    GraftSession.resetQueryState(spark)
    val boundaryMs = (System.nanoTime() - b0) / 1000000L
    telemetry.snapshotAndReset() // drop whatever bled in between queries
    graft.operators.Lifecycle.substrateStatsSnapshot()
    val compiles0 = compiles
    val gc0 = jvmGcMs
    val sec = Bench.time(body(spark, sfDir)
      .write.format("noop").mode("overwrite").save())
    val (_, _, wMs, nR) = graft.operators.Lifecycle.substrateStatsSnapshot()
    RunStats(sec, jvmGcMs - gc0, compiles - compiles0,
      telemetry.snapshotAndReset(), SubstrateStats(boundaryMs, wMs, nR))
  }

  /** One query's block: an untimed warm-up run (recorded in telemetry,
    * never in the timing sample), then `iters` timed runs. */
  def block(name: String, sfDir: String,
            iters: Int): (RunStats, Seq[RunStats]) = {
    val warm = exec(name, sfDir)
    (warm, (1 to iters).map(_ => exec(name, sfDir)))
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(telemetry)
}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, writes the complete per-query map to
  * BENCH_FULL.json, and prints one COMPACT JSON line (total + slowest
  * 35 queries) sized to fit a 2000-char log tail.
  *
  * Queries execute into the `noop` sink — a count() would let Catalyst
  * prune projections and eliminate sorts, timing a cheaper plan than the
  * one users run.
  *
  * Methodology: one q01 pass absorbs JVM/context startup, then every
  * query runs as a block — ONE untimed warm-up pass (codegen, parquet
  * footer cache, broadcast reuse) immediately followed by
  * `SPARK_GRAFT_BENCH_ITERS` timed runs (default 3) — and the reported
  * number is the per-query MEDIAN of the timed runs. Sub-second queries
  * used to flap over budget purely on session warm-up order; excluding
  * the warm-up run from the sample kills that noise at the protocol
  * level. Per-query spread (max−min of the timed runs) lands in
  * BENCH_FULL.json so a noisy box is distinguishable from a real
  * regression — and since round 13 every run also carries telemetry
  * (per-run wall times, whole-JVM GC ms, task failures, stage
  * retries, block removals, spill — see [[BenchTelemetry]]) so an
  * anomalous iteration names its cause in the artifact itself.
  * The warm-up absorbs codegen only because the session's codegen
  * cache (sized in [[GraftSession.settings]]) holds every class the
  * query compiles. Each run records its janino compiles, so a cache
  * that thrashes again, or a plan that inlines a literal that changes
  * per run, shows as non-zero `codegen_compiles` in the timed runs
  * instead of a vague slowdown.
  * q40 (IVF ANN) additionally reports its two phases split:
  * k-means training (flat cost — fit on a bounded sample) vs search
  * (the part that scales with corpus size).
  */
object Bench {
  // Adversarial-mode heap ballast — pinned in a field so it stays
  // strongly reachable for the whole run (see below).
  private var ballast: Array[Array[Long]] = _

  /** Listener counters for one timed run (see [[BenchTelemetry]]). */
  case class RunCounters(taskGcMs: Long, taskFail: Long, stageRetry: Long,
                         blocksRemoved: Long, spillBytes: Long, tasks: Long,
                         jobs: Long, taskRunMs: Long, shuffleBytes: Long)

  /** Substrate figures for one timed run: wall ms of the query
    * boundary before it ([[GraftSession.resetQueryState]]: the drain,
    * the release of what the previous run held and wrote, the cache
    * clear), then — from [[graft.operators.Lifecycle.substrateStatsSnapshot]]
    * — wall ms inside round writes and the round count. A slow
    * iteration with zero task-level counters can still name its cause
    * here. */
  case class SubstrateStats(boundaryMs: Long, roundWriteMs: Long, rounds: Long)

  /** One timed execution: wall seconds (−1 on failure), whole-JVM GC
    * ms during the run (local mode: driver + executors are ONE JVM, so
    * the MX-bean delta is the true process GC cost; `c.taskGcMs` is
    * the per-task attribution a real cluster would report), generated
    * classes compiled during the run (JVM-wide, like the GC ms), and
    * the listener counters. */
  case class RunStats(sec: Double, gcMs: Long, compiles: Long,
                      c: RunCounters, s: SubstrateStats)

  /** Timed runs per query: `SPARK_GRAFT_BENCH_ITERS`, default 3. */
  def iters: Int = {
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    require(n >= 1, s"SPARK_GRAFT_BENCH_ITERS must be >= 1, got $n")
    n
  }

  /** Wall seconds of `body`, or −1 when it throws. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable =>
      System.err.println(s"[bench] failed: ${e.getMessage}")
      return -1.0
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of the successful runs, −1 when none succeeded. */
  def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.sorted.apply(ok.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = Bench.iters
    // SPARK_GRAFT_BENCH_ADVERSE=1: pin ~40% of the max heap as
    // unreclaimable ballast BEFORE the session exists, so the whole
    // sweep runs under genuine memory pressure — storage blocks evict,
    // execution spills, GC runs hot. Spark's unified memory manager
    // sizes itself from the heap and cannot see the ballast, which is
    // exactly the adversarial point: budgets frozen on a friendly box
    // must also hold here, or they are not reproducible numbers. The
    // mode is recorded in the output line ("adverse":true) so budget
    // provenance can name the run.
    val adverse = sys.env.get("SPARK_GRAFT_BENCH_ADVERSE").contains("1")
    if (adverse) {
      val chunkElems = 1 << 20 // 1 Mi longs = 8 MiB per block
      val nChunks =
        ((Runtime.getRuntime.maxMemory() * 0.4) / (chunkElems * 8L)).toInt
      ballast = Array.fill(nChunks)(new Array[Long](chunkElems))
      System.err.println(s"[bench] ADVERSE mode: pinned ${nChunks * 8} MiB " +
        s"of ${Runtime.getRuntime.maxMemory() >> 20} MiB max heap")
    }
    val cpus = GraftSession.cpus
    val spark = GraftSession.getOrCreate("graft-bench")
    val runner = new BenchRunner(spark)

    val names = SparkEntry.queries.keys.toSeq.sorted
    // session warmup: JVM + codegen + parquet footer cache
    runner.exec(names.head, sfDir)

    // per-query block: warm-up cost never enters the sample (see
    // methodology above)
    val stats: Seq[(String, (RunStats, Seq[RunStats]))] =
      names.map(n => n -> runner.block(n, sfDir, iters))
    val samples: Map[String, Seq[Double]] =
      stats.map { case (n, (_, runs)) => n -> runs.map(_.sec) }.toMap

    // q40 phase split: train once per iteration, search against the
    // pre-trained centroids — median of each phase. A q40 failure must
    // report -1 like any other query, not abort the whole bench line.
    val q40Train = median((1 to iters).map(_ =>
      time { graft.queries.Probes.ivfTrainStage(spark, sfDir) }))
    val q40Search =
      try {
        val cents = graft.queries.Probes.ivfTrainStage(spark, sfDir)
        median((1 to iters).map(_ =>
          time(graft.queries.Probes.ivfSearchStage(spark, sfDir, cents)
            .write.format("noop").mode("overwrite").save())))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] q40 split failed: ${e.getMessage}")
        -1.0
      }

    val medians = names.map(n => n -> median(samples(n)))
    val total = medians.map(_._2).filter(_ >= 0).sum
    def sec(v: Double): String = f"$v%.3f"

    // Self-binding drift gate: BENCH_BUDGET.json freezes a known-good
    // round's per-query medians; any query now above 2× its budget is
    // flagged in the parsed line (n_over_budget), so regressions are
    // machine-visible instead of hand-adjudicated each round. New
    // queries without a budget entry are skipped (they get frozen when
    // the budget file is next refreshed).
    // a missing/unreadable budget file must be DISTINGUISHABLE from
    // "everything within budget" (the searchLshIndex lesson): the gate
    // reports -1, never a fake 0
    val budgets: Option[Map[String, Double]] =
      try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get("BENCH_BUDGET.json"))
        val qsBlock = txt.substring(txt.indexOf("\"queries\""))
        Some(""""(q[0-9]+[a-z0-9_]*)"\s*:\s*([0-9.]+)""".r
          .findAllMatchIn(qsBlock)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap)
          .filter(_.nonEmpty)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_BUDGET.json unreadable " +
          s"(${e.getMessage}) — drift gate reports n_over_budget=-1")
        None
      }
    // relative AND absolute: 87 queries have sub-0.5 s budgets, where
    // a loaded box doubles times by scheduling noise alone — a flag
    // needs v > 2× budget AND at least one absolute second of
    // regression, so the gate trips on real plan changes, not jitter
    val overBudget = medians.filter { case (n, v) =>
      v >= 0 && budgets.exists(_.get(n).exists(b =>
        v > 2.0 * b && v - b > 1.0))
    }
    val nOverBudget = budgets.fold(-1)(_ => overBudget.size)
    overBudget.foreach { case (n, v) =>
      System.err.println(f"[bench] OVER BUDGET $n: $v%.3f s > 2x " +
        f"${budgets.flatMap(_.get(n)).getOrElse(Double.NaN)}%.3f s")
    }

    // Full per-query line → file. The driver's log capture keeps only
    // the LAST ~2000 chars of output, and a 200+-query map overflows
    // it — so stdout gets a COMPACT line (headline total + the slowest
    // queries) sized to survive the tail window, and the complete map
    // lands in BENCH_FULL.json next to the repo's round artifacts.
    val qsFull = medians.map { case (k, v) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    // per-query spread (max−min of the timed runs): noise diagnostic —
    // a query over budget with a tight spread is a real regression, one
    // with a wide spread is a loaded box
    val spreadFull = names.map { n =>
      val ok = samples(n).filter(_ >= 0)
      val sp = if (ok.size >= 2) ok.max - ok.min else -1.0
      "\"" + n + "\":" + sec(sp)
    }.mkString("{", ",", "}")
    val overList = overBudget.map { case (k, v) =>
      "\"" + k + "\":" + sec(v)
    }.mkString("{", ",", "}")
    // Per-run telemetry block: for EVERY query, each timed run's wall
    // seconds, whole-JVM GC ms, codegen compiles, task failures, stage
    // retries, block removals, spill MiB, task count, jobs, task run
    // ms and shuffle bytes (arrays aligned run-by-run),
    // plus the untimed warm-up pass — the self-diagnosis the flap
    // rounds lacked. A query over budget here now SHOWS whether the
    // bad iteration burned GC, retried stages, lost blocks, spilled,
    // or simply ran slow on a contended box (all counters zero).
    def jl(xs: Seq[Long]): String = xs.mkString("[", ",", "]")
    def jd(xs: Seq[Double]): String = xs.map(sec).mkString("[", ",", "]")
    val telemetryFull = stats.map { case (n, (warm, runs)) =>
      "\"" + n + "\":{" +
        s""""warm_sec":${sec(warm.sec)},"warm_gc_ms":${warm.gcMs},""" +
        s""""warm_codegen_compiles":${warm.compiles},""" +
        s""""runs_sec":${jd(runs.map(_.sec))},""" +
        s""""gc_ms":${jl(runs.map(_.gcMs))},""" +
        s""""codegen_compiles":${jl(runs.map(_.compiles))},""" +
        s""""task_fail":${jl(runs.map(_.c.taskFail))},""" +
        s""""stage_retry":${jl(runs.map(_.c.stageRetry))},""" +
        s""""blocks_removed":${jl(runs.map(_.c.blocksRemoved))},""" +
        s""""spill_mb":${jl(runs.map(_.c.spillBytes >> 20))},""" +
        s""""tasks":${jl(runs.map(_.c.tasks))},""" +
        s""""boundary_ms":${jl(runs.map(_.s.boundaryMs))},""" +
        s""""round_write_ms":${jl(runs.map(_.s.roundWriteMs))},""" +
        s""""rounds":${jl(runs.map(_.s.rounds))},""" +
        s""""jobs":${jl(runs.map(_.c.jobs))},""" +
        s""""task_run_ms":${jl(runs.map(_.c.taskRunMs))},""" +
        s""""shuffle_bytes":${jl(runs.map(_.c.shuffleBytes))}}"""
    }.mkString("{", ",", "}")
    val allRuns = stats.flatMap { case (_, (w, rs)) => w +: rs }
    val gcTotalMs = allRuns.map(_.gcMs).sum
    val failTotal = allRuns.map(_.c.taskFail).sum
    val retryTotal = allRuns.map(_.c.stageRetry).sum
    val compilesTimedTotal =
      stats.flatMap { case (_, (_, rs)) => rs }.map(_.compiles).sum
    val fullLine =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec",""" +
        s""""iters":$iters,"cpus":$cpus,"n_queries":${medians.size},""" +
        s""""adverse":$adverse,"n_over_budget":$nOverBudget,""" +
        s""""gc_total_ms":$gcTotalMs,"task_fail_total":$failTotal,""" +
        s""""stage_retry_total":$retryTotal,""" +
        s""""codegen_compiles_timed_total":$compilesTimedTotal,""" +
        s""""over_budget":$overList,"queries":$qsFull,"spread":$spreadFull,""" +
        s""""telemetry":$telemetryFull,""" +
        s""""q40_split":{"train":${sec(q40Train)},"search":${sec(q40Search)}},""" +
        s""""sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"), fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}")
    }

    val failed = medians.filter(_._2 < 0).map(_._1)
    val slowest = medians.filter(_._2 >= 0).sortBy(-_._2).take(35)
    val qsCompact = (slowest ++ failed.map(_ -> -1.0)).sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${sec(total)},"unit":"sec",""" +
        s""""iters":$iters,"cpus":$cpus,"n_queries":${medians.size},""" +
        s""""adverse":$adverse,""" +
        s""""n_failed":${failed.size},"n_over_budget":$nOverBudget,""" +
        s""""gc_total_ms":$gcTotalMs,"task_fail_total":$failTotal,""" +
        s""""stage_retry_total":$retryTotal,""" +
        s""""codegen_compiles_timed_total":$compilesTimedTotal,""" +
        s""""queries":$qsCompact,""" +
        s""""q40_split":{"train":${sec(q40Train)},"search":${sec(q40Search)}},""" +
        s""""note":"queries = slowest 35 of ${medians.size}; full map+telemetry in BENCH_FULL.json",""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
