package graft

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
}
