package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, BenchRunner, GraftSession}
import graft.Bench.RunStats
import graft.sources.Tables

/** Profiles probe bench bodies through `graft.Bench`'s run protocol
  * ([[BenchRunner]]): the same query-state reset, noop sink, untimed
  * warm-up and `SPARK_GRAFT_BENCH_ITERS` timed runs, and counters. Every
  * timed body is `Probes.benchBody(name)`, the code the oracle checks.
  *
  * Usage:
  * {{{
  * runMain graft.tools.Profile --sf DIR [--scale 1,4,16] [--cpus 32,8]
  *   [--conf k=v]... [--explain] [probe-or-substring ...]
  * }}}
  *  - no probe argument profiles every probe; an argument that is not a
  *    probe name selects every probe whose name contains it;
  *  - `--sf` is the base corpus directory (the bench's is sf0.1);
  *  - `--scale` runs each probe on an N-times replica of the corpus
  *    ([[prep]]) and prints per-step ratios of wall, task run ms,
  *    shuffle bytes and jobs as a markdown table. A step whose wall or
  *    task run ms grows faster than the data, beyond the run spread, is
  *    flagged: the curve's shape is the claim, as in SCALING.md;
  *  - `--cpus` opens one factory session per width and prints the wall
  *    ratio of the last width to the first. Below 0.8, more cores hurt:
  *    a per-task or per-file fixed cost that grows with cluster width;
  *  - `--conf` sets a session conf for every run (repeatable), e.g. a
  *    round cadence or `spark.sql.adaptive.enabled=false`;
  *  - `--explain` prints the executed (AQE-final) plan of each probe's
  *    last timed write, with its non-zero SQL metrics (timings in ms,
  *    sizes in bytes).
  */
object Profile {
  final case class Args(names: Seq[String] = Nil,
                        sf: String = "",
                        scales: Seq[Int] = Seq(1),
                        cpus: Seq[Int] = Seq(GraftSession.cpus),
                        conf: Seq[(String, String)] = Nil,
                        explain: Boolean = false)

  private def ints(s: String): Seq[Int] = s.split(',').toSeq.map(_.trim.toInt)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case Nil => acc
    case "--sf" :: d :: t => parse(t, acc.copy(sf = d))
    case "--scale" :: s :: t => parse(t, acc.copy(scales = ints(s)))
    case "--cpus" :: s :: t => parse(t, acc.copy(cpus = ints(s)))
    case "--conf" :: kv :: t if kv.contains('=') =>
      val (k, v) = kv.splitAt(kv.indexOf('='))
      parse(t, acc.copy(conf = acc.conf :+ (k -> v.drop(1))))
    case "--explain" :: t => parse(t, acc.copy(explain = true))
    case f :: _ if f.startsWith("--") =>
      throw new IllegalArgumentException(s"unknown or incomplete option: $f")
    case n :: t => parse(t, acc.copy(names = acc.names :+ n))
  }

  /** Probe names for the arguments: an exact name, else every name that
    * contains the argument; no argument selects every probe. */
  def resolve(args: Seq[String]): Seq[String] = {
    val all = graft.queries.Probes.all.map(_.name).sorted
    if (args.isEmpty) all
    else args.flatMap { a =>
      val hit = if (all.contains(a)) Seq(a) else all.filter(_.contains(a))
      require(hit.nonEmpty, s"no probe matches '$a'")
      hit
    }.distinct
  }

  // ---------------------------------------------------------------------
  // Replicated corpus
  // ---------------------------------------------------------------------

  private val KeyOffset = 100000000L // beyond any base key

  private def shift(cols: String*): (DataFrame, Int) => DataFrame =
    (df, i) => cols.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c) + lit(i * KeyOffset)))

  /** Tables that grow with the replication factor, and how replica `i`
    * of each is made distinct. Keys shift by the same offset on both
    * sides of every join (`o_custkey` with `c_custkey`), so each FK join
    * matches inside its replica. `nation`, `region`, `part` and
    * `supplier` are dimensions every replica shares, copied once. */
  private val replicated: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
    "lineitem" -> shift("l_orderkey"),
    "orders" -> shift("o_orderkey", "o_custkey"),
    "customer" -> shift("c_custkey"),
    "events" -> shift("event_id", "user_id"),
    "embeddings" -> { (df, i) =>
      val shifted = shift("vec_id")(df, i)
      // flip the sign of a replica-seeded half of the dimensions: an
      // orthogonal map, so a replica's cosine structure is the base's,
      // while a copy's cosine to its source falls to about 0 (exact
      // copies share every LSH bucket, so bucket occupancy and the
      // candidate work grew with the square of rep)
      if (i == 0) shifted
      else shifted.withColumn("embedding", transform(col("embedding"),
        (x, j) => when(pmod(hash(lit(i), j), lit(2)) === 0, -x).otherwise(x)))
    },
    "documents" -> { (df, i) =>
      val shifted = shift("doc_id")(df, i)
      // salt EVERY word with the replica id: cross-replica Jaccard
      // drops to 0 so near-dup structure repeats per replica instead
      // of every replica near-duplicating every other (a tail-only
      // salt leaves long docs ~95% similar across replicas — the
      // true pair set, and therefore the measured work, would grow
      // quadratically in rep: a workload change, not a scale-up)
      if (i == 0) shifted
      else shifted.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1" + s"r$i"))
    })
  val sharedTables: Seq[String] = Seq("nation", "region", "part", "supplier")
  val replicatedTables: Seq[String] = replicated.map(_._1)

  private val replicaRoot = sys.props("java.io.tmpdir") + "/graft_profile"

  /** The corpus at `baseSf` replicated `rep` times: `baseSf` itself at
    * 1, else a directory of all ten tables under `root`, written once
    * and reused while its `_DONE` marker stands. */
  def prep(spark: SparkSession, baseSf: String, rep: Int,
           root: String = replicaRoot): String =
    if (rep == 1) baseSf
    else {
      val dir = s"$root/${new java.io.File(baseSf).getName}/x$rep"
      val done = new java.io.File(s"$dir/_DONE")
      if (!done.exists()) {
        def write(name: String, df: DataFrame): Unit =
          df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
        replicated.foreach { case (name, replica) =>
          val base =
            if (name == "events") Tables.events(spark, baseSf) // nanos-safe
            else Tables.load(spark, baseSf, name)
          write(name, (0 until rep).map(replica(base, _)).reduce(_ unionByName _))
        }
        sharedTables.foreach(n => write(n, Tables.load(spark, baseSf, n)))
        done.createNewFile()
      }
      dir
    }

  // ---------------------------------------------------------------------
  // Executed plan with metrics
  // ---------------------------------------------------------------------

  /** Records the QueryExecution of every noop-sink write: the runner's
    * runs. Operators' own writes (round scratch, indexes) go elsewhere. */
  private final class WriteCapture extends QueryExecutionListener {
    @volatile var last: QueryExecution = _
    val seen = new java.util.concurrent.atomic.AtomicLong
    private def record(qe: QueryExecution): Unit =
      if (qe.logical.toString.contains("noop-table")) {
        last = qe; seen.incrementAndGet()
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** The plan tree as executed, AQE query stages expanded, each node
    * with its non-zero SQL metrics. */
  def planWithMetrics(p: SparkPlan, depth: Int = 0): String = {
    val ms = p.metrics.toSeq.sortBy(_._1).collect {
      case (k, m) if m.value != 0 => s"$k=${m.value}"
    }
    val line = "  " * depth + p.simpleString(25).take(200) +
      (if (ms.isEmpty) "" else ms.mkString("  {", ", ", "}"))
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    (line +: kids.map(planWithMetrics(_, depth + 1))).mkString("\n")
  }

  // ---------------------------------------------------------------------
  // Runs and reports
  // ---------------------------------------------------------------------

  private type Block = (RunStats, Seq[RunStats])

  /** Every probe at every scale in one factory session of `cpus` cores. */
  private def profileAt(a: Args, names: Seq[String], cpus: Int,
                        iters: Int): Map[(Int, String), Block] = {
    val spark = GraftSession.builder(s"graft-profile-$cpus", cpus)
      .config(a.conf.toMap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val capture = new WriteCapture
    if (a.explain) spark.listenerManager.register(capture)
    val runner = new BenchRunner(spark)
    try a.scales.flatMap { rep =>
      val dir = prep(spark, a.sf, rep)
      names.map { n =>
        val seen0 = capture.seen.get
        val b @ (_, runs) = runner.block(n, dir, iters)
        val ok = runs.map(_.sec).filter(_ >= 0)
        println(f"PROFILE $n%-36s cpus=$cpus%-3d x$rep%-3d " +
          f"wall=${Bench.median(runs.map(_.sec))}%.3f s " +
          (if (ok.isEmpty) "" else f"(${ok.min}%.3f..${ok.max}%.3f) ") +
          s"jobs=${med(runs.map(_.c.jobs))} " +
          s"task_run_ms=${med(runs.map(_.c.taskRunMs))} " +
          s"shuffle_bytes=${med(runs.map(_.c.shuffleBytes))} " +
          s"task_fail=${runs.map(_.c.taskFail).sum} " +
          s"stage_retry=${runs.map(_.c.stageRetry).sum}")
        if (a.explain) {
          // the listener bus delivers asynchronously
          val deadline = System.nanoTime() + 30000000000L
          while (capture.seen.get < seen0 + 1 + iters &&
                 System.nanoTime() < deadline) Thread.sleep(10)
          Option(capture.last).foreach(qe =>
            println(s"== $n x$rep executed plan ==\n" +
              planWithMetrics(qe.executedPlan)))
        }
        (rep, n) -> b
      }
    }.toMap
    finally {
      runner.close()
      spark.stop()
      // local-mode sessions share one JVM: clear the active/default so
      // the next width's `GraftSession.builder` call creates a fresh context
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def med(xs: Seq[Long]): Long = xs.sorted.apply(xs.length / 2)

  private def ratio(hi: Double, lo: Double): String =
    if (lo <= 0 || hi < 0) "-" else f"${hi / lo}%.2f"

  /** Markdown: per probe, the median wall at each scale, then per step
    * the wall · task run ms · shuffle bytes · jobs ratios. */
  def scaleTable(scales: Seq[Int], names: Seq[String],
                 r: Map[(Int, String), Block]): String = {
    val steps = scales.zip(scales.drop(1))
    val head = "| probe | " + scales.map(s => s"${s}x s").mkString(" | ") +
      steps.map { case (lo, hi) =>
        s" | ${hi}x/${lo}x wall / task_run / shuffle / jobs" }.mkString +
      " | flag |"
    val rule = "|---" * (2 + scales.size + steps.size) + "|"
    val rows = names.map { n =>
      def runs(s: Int) = r((s, n))._2
      def wall(s: Int) = Bench.median(runs(s).map(_.sec))
      def medOf(s: Int, f: RunStats => Long) = med(runs(s).map(f)).toDouble
      val walls = scales.map { s =>
        val w = wall(s); if (w < 0) "FAIL" else f"$w%.2f" }
      val flags = scala.collection.mutable.ArrayBuffer.empty[String]
      val cells = steps.map { case (lo, hi) =>
        val f = hi.toDouble / lo
        // beyond the spread: even the fastest run at hi is more than
        // f× the slowest at lo
        def outgrows(g: RunStats => Double): Boolean = {
          val l = runs(lo).filter(_.sec >= 0).map(g)
          val h = runs(hi).filter(_.sec >= 0).map(g)
          l.nonEmpty && h.nonEmpty && l.max > 0 && h.min / l.max > f
        }
        if (outgrows(_.sec)) flags += s"wall>${hi}x/${lo}x"
        if (outgrows(_.c.taskRunMs.toDouble)) flags += s"task_run>${hi}x/${lo}x"
        Seq(ratio(wall(hi), wall(lo)),
          ratio(medOf(hi, _.c.taskRunMs), medOf(lo, _.c.taskRunMs)),
          ratio(medOf(hi, _.c.shuffleBytes), medOf(lo, _.c.shuffleBytes)),
          ratio(medOf(hi, _.c.jobs), medOf(lo, _.c.jobs))).mkString(" / ")
      }
      scales.foreach { s =>
        val fr = runs(s).map(x => x.c.taskFail + x.c.stageRetry).sum
        if (fr > 0) flags += s"fail/retry at ${s}x"
      }
      (Seq(n) ++ walls ++ cells :+ flags.mkString(", "))
        .mkString("| ", " | ", " |")
    }
    (head +: rule +: rows).mkString("\n")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.sf.nonEmpty, "pass the corpus directory with --sf DIR")
    val names = resolve(a.names)
    val iters = Bench.iters
    val byWidth = a.cpus.map(c => c -> profileAt(a, names, c, iters))
    byWidth.foreach { case (c, r) =>
      if (a.scales.size > 1) {
        println(s"\n## local[$c], median of $iters timed runs\n")
        println(scaleTable(a.scales, names, r))
      }
    }
    if (a.cpus.size > 1) {
      val (hi, hiR) = byWidth.head
      val (lo, loR) = byWidth.last
      println(f"\n${"probe"}%-36s ${"scale"}%5s ${s"$hi cpus"}%9s ${s"$lo cpus"}%9s  $lo/$hi")
      for (s <- a.scales; n <- names) {
        val h = Bench.median(hiR((s, n))._2.map(_.sec))
        val l = Bench.median(loR((s, n))._2.map(_.sec))
        val flag = if (h > 0 && l >= 0 && l / h < 0.8) "  <-- ANTI-SCALING" else ""
        println(f"$n%-36s ${s"${s}x"}%5s $h%9.3f $l%9.3f  ${ratio(l, h)}$flag")
      }
    }
  }
}
