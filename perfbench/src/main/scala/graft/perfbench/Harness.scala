package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one pass hands back: its timed samples and an untimed check. */
final case class PassOut(
    opNs: Seq[Long],   // closed-loop operation samples (op_p50_s)
    callNs: Seq[(String, Long)], // single layer-call samples by call site (call_p50_s)
    items: Long,       // input items the pass processed (items_per_s)
    attempted: Int,    // operations whose answers `check` verifies
    check: () => Seq[String])

/** One timed pass as the harness recorded it. */
final case class Timed(wallNs: Long, out: PassOut, traced: Boolean, extras: Map[String, Double])

/** A seeded workload. The program sees only the files `setup` writes. */
trait Workload {
  def name: String
  /** Timed passes to run even when `seconds` is already used up. Every
    * workload's minimum takes longer than `seconds` on the hosts measured,
    * so a run times the same passes whatever the host speed. */
  def minTimedPasses: Int = 3
  /** Generate the inputs from the seed and write them under `dir`. */
  def setup(spark: SparkSession, dir: File): Unit
  /** Called once before the timed phase (e.g. restore a pristine store). */
  def beforeTimed(spark: SparkSession): Unit = ()
  /** One closed-loop pass: every call is issued after the previous one
    * returned, and each result is collected before the clock stops. */
  def pass(spark: SparkSession, i: Int, t: Tracer): PassOut
  /** Traced runs only: extra counters gathered after a traced pass,
    * outside its timing (e.g. files written, candidate pairs). */
  def afterTracedPass(spark: SparkSession, i: Int, passStartMs: Long): Map[String, Double] = Map.empty
  /** Untimed checks at the end of the run: (operations checked, errors). */
  def finish(spark: SparkSession): (Int, Seq[String]) = (0, Nil)
  /** Traced runs only: gauges read at the end of the run. */
  def endGauges(spark: SparkSession): Map[String, Double] = Map.empty
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

/** Runs a workload: setup, `Harness.warmupPasses` warm-up passes, then a
  * closed loop of passes until `seconds` of timed work and at least the
  * workload's `minTimedPasses`, with pass isolation and untimed
  * correctness checks between passes. */
final class Harness(w: Workload, spark: SparkSession, workDir: File,
                    seconds: Double, trace: Boolean, sessionStartS: Double,
                    log: String => Unit) {
  private val cores = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark, trace)
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  private def isolate(): Unit = {
    graft.operators.Lifecycle.releaseDeferred(spark)
    spark.catalog.clearCache()
  }

  private def checked(out: PassOut): Unit = {
    attempted += out.attempted
    val errs = try out.check() catch {
      case e: Throwable => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    errs.take(5).foreach(e => log(s"MISMATCH ${w.name}: $e"))
    errors ++= errs
    failed += math.min(out.attempted, errs.size)
  }

  /** A pass that throws is one failed operation and ends the run. */
  private var aborted = false
  private def guarded(body: => PassOut): Option[PassOut] =
    if (aborted) None
    else try Some(body) catch {
      case e: Throwable =>
        log(s"FAILED ${w.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        errors += s"pass threw ${e.getClass.getSimpleName}"
        attempted += 1
        failed += 1
        aborted = true
        None
    }

  private def liveHeapMb(): Double = {
    // the second collection runs after Spark's ContextCleaner has dropped
    // the blocks and broadcasts the first one found unreachable
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Data setup into a fresh directory, once: a run's fixed cost must
    * stay small. Returns its seconds. */
  def setup(): Double = {
    val t0 = System.nanoTime()
    w.setup(spark, new File(workDir, "inputs"))
    val s = (System.nanoTime() - t0) / 1e9
    log(f"${w.name}: session ${sessionStartS}%.3f s, data setup $s%.3f s")
    s
  }

  def run(): (Seq[Timed], Double) = {
    // warm-up passes for JIT, codegen and the parquet footer cache; the
    // README's warm-up curves show why there are two
    (1 to Harness.warmupPasses).foreach { k =>
      isolate()
      val t0 = System.nanoTime()
      guarded(w.pass(spark, -k, tracer)).foreach { out =>
        log(f"${w.name}: warm-up pass seconds ${(System.nanoTime() - t0) / 1e9}%.3f")
        checked(out)
      }
    }
    w.beforeTimed(spark)
    System.gc() // the timed phase starts without the warm-up's garbage

    val timed = mutable.ArrayBuffer.empty[Timed]
    var heapPeak = 0.0
    var total = 0.0
    var i = 0
    while ((total < seconds || timed.size < w.minTimedPasses) && !aborted) {
      isolate()
      // traced runs interleave traced and untraced passes, so the tracing
      // overhead is measured inside one run on the same inputs
      val traced = trace && i % 2 == 0
      if (traced) tracer.attach() else tracer.detach()
      tracer.beginPass(i)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = guarded(tracer.span("pass")(w.pass(spark, i, tracer)))
      val wall = System.nanoTime() - t0
      tracer.detach()
      res.foreach { out =>
        val extras = if (traced) w.afterTracedPass(spark, i, startMs) else Map.empty[String, Double]
        checked(out)
        heapPeak = math.max(heapPeak, liveHeapMb())
        timed += Timed(wall, out, traced, extras)
        total += wall / 1e9
      }
      i += 1
    }
    log(s"${w.name}: timed pass seconds ${timed.map(t => f"${t.wallNs / 1e9}%.3f").mkString(" ")}")
    val (n, errs) = try w.finish(spark) catch {
      case e: Throwable => (1, Seq(s"final check threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
    attempted += n
    errs.take(5).foreach(e => log(s"MISMATCH ${w.name}: $e"))
    errors ++= errs
    failed += math.min(n, errs.size)
    (timed.toSeq, heapPeak)
  }

  /** End-to-end metrics (tracing off). */
  def endToEnd(timed: Seq[Timed], setupS: Double, heapPeak: Double): Seq[(String, Double, String)] = {
    val ops = timed.flatMap(_.out.opNs).map(_ / 1e9)
    // each call site's median, averaged over the sites: a pooled median of
    // sites with different costs would jump between them from run to run
    val sites = timed.flatMap(_.out.callNs).groupBy(_._1).values
      .map(s => Stats.median(s.map(_._2 / 1e9))).toSeq
    val items = timed.map(_.out.items).sum.toDouble
    val wall = timed.map(_.wallNs).sum / 1e9
    Seq(
      ("setup_s", sessionStartS + setupS, "s"),
      ("op_p50_s", Stats.median(ops), "s"),
      ("call_p50_s", sites.sum / sites.size, "s"),
      ("items_per_s", items / wall, "items/s"),
      ("live_heap_peak_mb", heapPeak, "MiB"))
  }

  /** Per-layer metrics from the traced passes, each the per-pass mean of
    * the sum over that pass's spans (peaks are maxima). */
  def perLayer(timed: Seq[Timed]): Seq[(String, Double, String)] = {
    tracer.drainBus()
    tracer.attributePlanning()
    val spans = tracer.spans
    val byPass = spans.groupBy(_.pass)
    val tracedPasses = timed.zipWithIndex.filter(_._1.traced).map(_._2)
    val n = math.max(1, tracedPasses.size).toDouble
    val self = SpanMath.selfNs(spans)
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    var coverage = Seq.empty[Double]
    var cachePeak = 0.0
    var wallMsTotal = 0.0
    tracedPasses.foreach { p =>
      val ss = byPass.getOrElse(p, Nil)
      val root = ss.find(_.parent == -1).get
      val top = ss.filter(_.parent == root.id)
      wallMsTotal += root.durNs / 1e6
      coverage :+= top.map(_.durNs).sum.toDouble / root.durNs
      val kids = ss.groupBy(_.parent)
      def subtree(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(c => subtree(c.id))
      ss.foreach { s =>
        val c = tracer.counters.get(s.id)
        if (c != null) {
          add("spark.jobs", c.jobs); add("spark.stages", c.stages); add("spark.tasks", c.tasks)
          add("spark.planning_ms", c.planningMs)
          add("spark.scheduler_delay_ms", c.schedDelayMs)
          add("spark.task_run_ms", c.taskRunMs); add("spark.task_cpu_ms", c.taskCpuNs / 1e6)
          add("spark.critical_path_ms", c.criticalPathMs)
          add("spark.shuffle_write_bytes", c.shuffleWrite); add("spark.shuffle_read_bytes", c.shuffleRead)
          add("spark.spill_bytes", c.spill)
          add("spark.task_failures", c.taskFailures); add("spark.stage_retries", c.stageRetries)
        }
        if (s.id != root.id) add(s"${s.name}.wall_ms", s.durNs / 1e6)
        if (s.name == "weather.Ingest.run") add("weather.Ingest.run.self_ms", self(s.id) / 1e6)
        cachePeak = math.max(cachePeak, tracer.cacheMbAtEnd.getOrElse(s.id, 0.0))
      }
      // wall-time gaps no job of the call covers: listing, commit, driver work
      top.foreach { t =>
        val jobs = subtree(t.id).flatMap(id => Option(tracer.counters.get(id)).toSeq.flatMap(_.jobIntervalsMs))
        val covered = SpanMath.unionNs(jobs.map { case (a, b) =>
          (math.max(a * 1000000L, t.startNs), math.min(b * 1000000L, t.endNs)) })
        add("spark.driver_gap_ms", (t.durNs - covered) / 1e6)
        if (t.name.startsWith("weather.Ingest."))
          add("sources.store.bytes_written_per_batch",
            subtree(t.id).flatMap(id => Option(tracer.counters.get(id))).map(_.outputBytes).sum.toDouble)
      }
      val sub = tracer.substrateBySpan.getOrElse(root.id, Array(0L, 0L, 0L, 0L))
      add("lifecycle.drain_ms", sub(0)); add("lifecycle.drain_timeouts", sub(1))
      add("lifecycle.round_write_ms", sub(2)); add("lifecycle.round_writes", sub(3))
      add("spark.gc_ms", tracer.gcMsBySpan.getOrElse(root.id, 0L).toDouble)
      add("spark.blocks_evicted", tracer.evictedByPass.getOrElse(p, 0L).toDouble)
      timed(p).extras.foreach { case (k, v) => add(k, v) }
    }
    val perPass = acc.map { case (k, v) => k -> v / n }.toMap.withDefaultValue(0.0)
    // overhead on the calls every pass makes (a weather pass may also pull
    // a forecast), as traced over untraced median of per-pass call time
    def callMs(ts: Seq[Timed]) = ts.map(_.out.callNs.map(_._2).sum / 1e6)
    val (tracedT, untracedT) = timed.partition(_.traced)
    val overhead =
      if (tracedT.isEmpty || untracedT.isEmpty) 0.0
      else Stats.median(callMs(tracedT)) / Stats.median(callMs(untracedT)) - 1.0
    val gauges = w.endGauges(spark).withDefaultValue(0.0)
    Harness.perLayerNames.map { case (name, unit) =>
      val v = name match {
        case "spark.core_busy_ratio" =>
          if (wallMsTotal > 0) acc("spark.task_run_ms") / (wallMsTotal * cores) else 0.0
        case "lifecycle.cache_peak_mb" => cachePeak
        case "trace.pass_wall_ms" => wallMsTotal / n
        case "trace.span_coverage" => if (coverage.isEmpty) 0.0 else Stats.median(coverage)
        case "trace.overhead_ratio" => overhead
        case "operators.TextDedup.candidate_yield" =>
          val cand = acc("operators.TextDedup.candidate_pairs")
          if (cand > 0) acc("operators.TextDedup.verified_pairs") / cand else 0.0
        case g if gauges.contains(g) => gauges(g)
        case other => perPass(other)
      }
      (name, v, unit)
    }
  }
}

object Harness {
  /** Untimed passes before the timed phase. */
  val warmupPasses = 2
  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * layer a workload does not call reports 0. */
  val perLayerNames: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.planning_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.critical_path_ms" -> "ms", "spark.core_busy_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.gc_ms" -> "ms", "spark.blocks_evicted" -> "count",
    "spark.task_failures" -> "count", "spark.stage_retries" -> "count",
    "weather.Ingest.run.wall_ms" -> "ms", "weather.Ingest.run.self_ms" -> "ms",
    "weather.Ingest.runForecast.wall_ms" -> "ms",
    "weather.Dashboard.latestPerCity.wall_ms" -> "ms", "weather.Dashboard.scorecards.wall_ms" -> "ms",
    "weather.Dashboard.temperatureByHour.wall_ms" -> "ms", "weather.Dashboard.cityMap.wall_ms" -> "ms",
    "weather.Dashboard.temperatureScale.wall_ms" -> "ms",
    "sources.MergeSink.mergeLastWins.wall_ms" -> "ms",
    "sources.store.bytes_written_per_batch" -> "B", "sources.store.files_written_per_batch" -> "count",
    "sources.store.files" -> "count", "sources.store.bytes_per_row" -> "B",
    "operators.TextDedup.normalizedExact.wall_ms" -> "ms",
    "operators.TextDedup.minhashNearDups.wall_ms" -> "ms",
    "operators.TextDedup.dedupRepresentatives.wall_ms" -> "ms",
    "operators.Similarity.bruteForceTopK.wall_ms" -> "ms",
    "operators.TextDedup.candidate_pairs" -> "count", "operators.TextDedup.verified_pairs" -> "count",
    "operators.TextDedup.candidate_yield" -> "ratio",
    "operators.Graph.pagerankMicro.wall_ms" -> "ms",
    "operators.Graph.personalizedPagerankMicro.wall_ms" -> "ms",
    "operators.Graph.labelPropagation.wall_ms" -> "ms", "operators.Graph.hitsMicro.wall_ms" -> "ms",
    "operators.Graph.kCorePeel.wall_ms" -> "ms",
    "lifecycle.round_writes" -> "count", "lifecycle.round_write_ms" -> "ms",
    "lifecycle.drain_ms" -> "ms", "lifecycle.drain_timeouts" -> "count",
    "lifecycle.cache_peak_mb" -> "MiB",
    "trace.pass_wall_ms" -> "ms", "trace.span_coverage" -> "ratio", "trace.overhead_ratio" -> "ratio")

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Collect a frame, timing it as one call inside a span. */
  def timedCollect(t: Tracer, name: String, samples: mutable.ArrayBuffer[(String, Long)])(
      df: => DataFrame): Array[org.apache.spark.sql.Row] = {
    val t0 = System.nanoTime()
    val rows = t.span(name)(df.collect())
    samples += name -> (System.nanoTime() - t0)
    rows
  }
}
