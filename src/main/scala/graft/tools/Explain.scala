package graft.tools

object Explain {
  def main(a: Array[String]): Unit = {
    val spark = graft.GraftSession.getOrCreate("explain")
    val d = "/root/testdata/sf0.001"
    for (n <- a) {
      println(s"========== $n ==========")
      // dump the operator path Bench times — plan evidence is about
      // what users run, not the gate query's self-oracle audit
      graft.queries.Probes.benchBody(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
