package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: low-vs-high core-count ratio check — the anti-scaling
  * detector the round-13 driver bench showed was missing from the
  * builder's own sweep (q212/q221/q78 ran 2–4× FASTER at 8 cores than
  * at 32 because the per-round write fixed cost scaled with core
  * count; nothing in-repo would have caught it).
  *
  * Runs each named query (the body the bench times) in TWO fresh
  * GraftSession sessions, local[hi] then local[lo], one untimed warm-up
  * + median of 3 timed noop-sink runs each, and prints `lo_sec / hi_sec`
  * per query.
  *
  * READ: ratio ≈ 1 means the query is fixed-cost-bound at this SF
  * (fine); ratio noticeably ABOVE 1 means more cores help (fine);
  * ratio well BELOW 1 (< 0.8) means more cores HURT — a per-task or
  * per-file fixed cost that scales with cluster width. That is always
  * a bug at 100 TB; fix it before the driver finds it.
  *
  * Usage: runMain graft.tools.CoreRatio [sfDir] [hi] [lo] q78_pagerank ...
  */
object CoreRatio {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val hi = args.lift(1).fold(32)(_.toInt)
    val lo = args.lift(2).fold(8)(_.toInt)
    val names = args.drop(3).toSeq
    require(names.nonEmpty, "pass query names (e.g. q78_pagerank)")

    def timeAt(cpus: Int): Map[String, Double] = {
      val spark = graft.GraftSession.builder(s"core-ratio-$cpus", cpus)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      def once(n: String): Double = {
        val body = graft.queries.Probes.benchBody(n)
        graft.GraftSession.resetQueryState(spark)
        val t0 = System.nanoTime()
        body(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val out = names.map { n =>
        once(n) // warm-up, untimed
        val runs = (1 to 3).map(_ => once(n)).sorted
        n -> runs(1)
      }.toMap
      spark.stop()
      // local-mode sessions share one JVM: clear the active/default so
      // the next builder call creates a fresh context at the new width
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      out
    }

    val hiT = timeAt(hi)
    val loT = timeAt(lo)
    println(f"${"query"}%-35s ${s"hi=$hi"}%8s ${s"lo=$lo"}%8s  lo/hi")
    names.foreach { n =>
      val r = loT(n) / hiT(n)
      val flag = if (r < 0.8) "  <-- ANTI-SCALING" else ""
      println(f"$n%-35s ${hiT(n)}%8.3f ${loT(n)}%8.3f  $r%.2f$flag")
    }
  }
}
