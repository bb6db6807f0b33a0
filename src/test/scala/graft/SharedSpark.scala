package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (suites share it — per-suite
  * sessions would pay JVM+context startup repeatedly), built by the same
  * factory as every production session, at four cores. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", cpus = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sf0001 = "/root/testdata/sf0.001"
}
