package graft.perfbench

import java.io.File

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload weather_hourly|corpus_dedup|graph_iterative --seed N
  *      --seconds S --trace 0|1 --workdir DIR
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
  * metrics with `--trace 1`). Progress and the warm-up curve go to
  * stderr. Exits 1 if any answer was wrong. */
object Main {
  /** Input sizes per workload. */
  val corpusDocs = 5000
  val corpusVectors = 10000
  val graphPurchases = 12000
  val graphUsers = 3600
  val graphItems = 900

  /** Seconds for one fixed integer loop on every core at once. It is
    * logged at the start and end of a run as evidence of the host's speed
    * at the time, so a run-to-run spread can be told apart from a slower
    * host. It is not a metric. */
  def hostProbeS(): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val threads = (1 to Runtime.getRuntime.availableProcessors).map { k =>
      new Thread(() => {
        var x = k.toLong
        var i = 0
        while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        sink.addAndGet(x)
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val workDir = new File(opts.getOrElse("workdir", "perfbench-work"))
    workDir.mkdirs()
    def log(s: String): Unit = System.err.println(s"[perfbench] $s")

    log(f"host probe ${hostProbeS()}%.3f s")
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.getOrCreate("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w: Workload = workload match {
      case "weather_hourly" => new WeatherBench(seed, workDir)
      case "corpus_dedup" => new CorpusBench(seed, corpusDocs, corpusVectors)
      case "graph_iterative" => new GraphBench(seed, graphPurchases, graphUsers, graphItems)
      case other => sys.error(s"unknown workload $other")
    }
    val h = new Harness(w, spark, workDir, seconds, trace, sessionS, log)
    val setupS = h.setup()
    val (timed, heapPeak) = h.run()
    val metrics =
      if (timed.isEmpty) Nil
      else if (trace) h.perLayer(timed)
      else h.endToEnd(timed, setupS, heapPeak)
    if (trace) h.tracer.write(new File(workDir, "spans.jsonl"))
    log(f"host probe ${hostProbeS()}%.3f s")
    spark.stop()

    metrics.foreach { case (n, v, u) => log(f"$n%-50s $v%.6f $u") }
    val failed = h.failed
    val ok = h.errors.isEmpty && timed.nonEmpty
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) "0" else v.toString},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":$ok,"attempted":${math.max(1, h.attempted)},"failed":$failed,"metrics":{$body}}""")
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}
