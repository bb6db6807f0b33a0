package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Round-14 measurement harness for the iterative-graph recovery: times
  * named probes' bench bodies in the GraftSession session at
  * several `spark.graft.round.cutEvery` settings (1 = eager round
  * writes, big = fully composed), with per-run job counts and summed
  * job wall so the fixed-cost structure (many small jobs vs one deep
  * job) is visible, not guessed. Usage:
  *   runMain graft.tools.CutSweep q78_pagerank q200_ppr [-- 1 2 8]
  */
object CutSweep {
  private final class JobClock extends SparkListener {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val jobMs = new java.util.concurrent.atomic.AtomicLong
    val durs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      starts.put(e.jobId, System.nanoTime())
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = starts.remove(e.jobId)
      if (t0 != 0L) {
        jobs.incrementAndGet()
        val ms = (System.nanoTime() - t0) / 1000000L
        jobMs.addAndGet(ms)
        durs.add((e.jobId, ms))
      }
    }
    def reset(): Unit = { jobs.set(0); jobMs.set(0); durs.clear() }
    def top(n: Int): String = {
      import scala.jdk.CollectionConverters._
      durs.asScala.toSeq.sortBy(-_._2).take(n)
        .map { case (id, ms) => s"j$id=${ms}ms" }.mkString(" ")
    }
  }

  def main(a: Array[String]): Unit = {
    val (names, cuts0) = a.span(_ != "--")
    val cuts =
      if (cuts0.length <= 1) Seq(1, 2, 8) else cuts0.drop(1).map(_.toInt).toSeq
    val spark = graft.GraftSession.getOrCreate("cutsweep")
    val clock = new JobClock
    spark.sparkContext.addSparkListener(clock)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (n <- names) {
      val body = graft.queries.Probes.benchBody(n)
      // one untimed warm-up per probe (codegen, footer cache), as Bench does
      graft.GraftSession.resetQueryState(spark)
      body(spark, d).write.format("noop").mode("overwrite").save()
      for (c <- cuts) {
        // negative cut value ⇒ same |c| but with AQE disabled for the
        // timed runs (diagnosis: how much of the wall is per-stage AQE
        // job orchestration vs actual compute)
        spark.conf.set("spark.sql.adaptive.enabled", (c > 0).toString)
        spark.conf.set("spark.graft.round.cutEvery", math.abs(c).toString)
        val runs = (1 to 3).map { _ =>
          graft.GraftSession.resetQueryState(spark)
          graft.operators.Lifecycle.substrateStatsSnapshot()
          clock.reset()
          val t0 = System.nanoTime()
          body(spark, d).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          val (dMs, _, wMs, nR) =
            graft.operators.Lifecycle.substrateStatsSnapshot()
          println(f"  RUN $n cutEvery=$c wall=$wall%.2f top: ${clock.top(6)}")
          (wall, clock.jobs.get(), clock.jobMs.get(), dMs, wMs, nR)
        }
        val med = runs.map(_._1).sorted.apply(1)
        println(f"SWEEP $n cutEvery=$c median=$med%.2f s " +
          f"runs=${runs.map(r => f"${r._1}%.2f").mkString(",")} " +
          f"jobs=${runs.map(_._2).mkString(",")} " +
          f"jobMs=${runs.map(_._3).mkString(",")} " +
          f"drainMs=${runs.map(_._4).mkString(",")} " +
          f"writeMs=${runs.map(_._5).mkString(",")} " +
          f"rounds=${runs.map(_._6).mkString(",")}")
      }
    }
    spark.stop()
  }
}
