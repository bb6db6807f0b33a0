package graft

import graft.operators.Graph
import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The session factory is the one conf source: the shared test session
  * must run exactly the conf every production session runs, and the AQE
  * behaviour the factory leaves to Spark's defaults must not change
  * under an upgrade without a test failing. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("the shared test session carries every setting the factory makes") {
    val sparkConf = spark.sparkContext.getConf
    GraftSession.settings.foreach { case (k, v) =>
      assert(spark.conf.getOption(k) === Some(v), s"session conf $k")
      assert(sparkConf.getOption(k) === Some(v), s"SparkConf $k")
    }
    // core count, the one thing a caller varies, sets both of these
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) === "4")
  }

  test("AQE runs at Spark's defaults; the factory's own values hold") {
    val c = spark.sessionState.conf
    assert(c.getConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED) === true)
    assert(c.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED) === true)
    assert(c.getConf(SQLConf.SKEW_JOIN_ENABLED) === true)
    assert(c.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST) === true)
    assert(c.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) === 64L << 20)
    assert(c.getConf(SQLConf.OBJECT_AGG_SORT_BASED_FALLBACK_THRESHOLD) === 65536)
    assert(c.getConf(SQLConf.SESSION_LOCAL_TIMEZONE) === "UTC")
  }

  test("a warm pass of the iterative graph family compiles no generated class") {
    // The same operators as perfbench's graph_iterative pass, read from
    // parquet like it. Their working set (127 classes with this suite
    // run alone) outgrows Spark's default 100-entry codegen cache, and a
    // pass that cycles through its classes in a fixed order then
    // recompiles most of them every time; the factory's cache size must
    // hold them all.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_codegen").toFile
    try {
      val n = 40L
      (0L until n).flatMap(i => Seq(i -> (i + 1) % n, i -> (i * 7 + 3) % n))
        .toDF("src", "dst").write.parquet(s"$dir/edges")
      Seq(0L, 5L).toDF("node").write.parquet(s"$dir/seeds")
      def compiles(): Long = {
        val e = spark.read.parquet(s"$dir/edges")
        val seeds = spark.read.parquet(s"$dir/seeds")
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        Seq(Graph.pagerankMicro(e, 2), Graph.personalizedPagerankMicro(e, seeds, 2),
          Graph.labelPropagation(e, 2), Graph.hitsMicro(e, 2), Graph.kCorePeel(e, 3, 2))
          .foreach(_.collect())
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      }
      val cold = compiles()
      GraftSession.resetQueryState(spark)
      assert(compiles() === 0L, s"(the first pass compiled $cold)")
    } finally FileUtils.deleteDirectory(dir)
  }
}
