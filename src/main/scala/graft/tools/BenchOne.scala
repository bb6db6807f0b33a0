package graft.tools

object BenchOne {
  def main(a: Array[String]): Unit = {
    val spark = graft.GraftSession.getOrCreate("benchone")
    val d = "/root/testdata/sf0.1"
    for (n <- a) {
      // "bench:<name>" times the operator path the way graft.Bench does;
      // a bare name times the gate query (run)
      val fn =
        if (n.startsWith("bench:"))
          graft.queries.Probes.benchBody(n.stripPrefix("bench:"))
        else graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      fn(spark, d).write.format("noop").mode("overwrite").save()
      println(f"TIMING $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
