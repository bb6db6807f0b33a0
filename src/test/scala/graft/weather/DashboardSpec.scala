package graft.weather

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.functions._

import graft.SharedSpark
import graft.operators.Lifecycle
import org.apache.spark.graft.JobCount

/** Dashboard queries Q1–Q6 over a two-hour two-city fixture; golden values
  * hand-computed. */
class DashboardSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def ts(s: String) = java.sql.Timestamp.valueOf(s)

  def fact = Seq(
    (1L, ts("2025-11-26 04:00:00"), 20.0, 70, 1010, 2.0),
    (1L, ts("2025-11-26 05:00:00"), 22.0, 60, 1012, 3.0),
    (2L, ts("2025-11-26 04:00:00"), 30.0, 80, 1008, 1.0),
    (2L, ts("2025-11-26 05:00:00"), 32.0, 90, 1006, 2.0)
  ).toDF("city_id", "dt", "temp", "humidity", "pressure", "wind_speed")

  def cities = Seq(
    (1L, "Hanoi", 21.02, 105.84), (2L, "Hue", 16.46, 107.59)
  ).toDF("city_id", "city_name", "coord_lat", "coord_lon")

  test("Q1 latest per city") {
    val r = Dashboard.latestPerCity(fact).orderBy("city_id")
      .select("temp").as[Double].collect().toSeq
    assert(r === Seq(22.0, 32.0))
  }

  test("Q2-Q4 scorecards") {
    val r = Dashboard.scorecards(fact).head()
    assert(r.getAs[Double]("avg_humidity") === 75.0)
    assert(r.getAs[Double]("avg_pressure") === 1009.0)
    assert(r.getAs[Double]("avg_wind_speed") === 2.0)
  }

  test("Q5 temperature by hour ordered on the time axis") {
    val r = Dashboard.temperatureByHour(fact).select("avg_temp").as[Double].collect().toSeq
    assert(r === Seq(25.0, 27.0))
  }

  test("Q6 map join carries coords for latest reading; scale has min/max") {
    val m = Dashboard.cityMap(fact, cities).collect()
    assert(m.length === 2)
    assert(m.head.getAs[String]("city_name") === "Hanoi")
    assert(m.head.getAs[Double]("temp") === 22.0)
    val s = Dashboard.temperatureScale(fact).head()
    assert(s.getAs[Double]("temp_min") === 20.0 && s.getAs[Double]("temp_max") === 32.0)
  }

  test("F3/F4 filters parameterize any dashboard query") {
    val withName = fact.join(cities, "city_id")
    assert(Dashboard.withFilters(withName, city = Some("Hue")).count() === 2)
    assert(Dashboard.withFilters(withName, from = Some("2025-11-26 04:30:00")).count() === 2)
    assert(Dashboard.withFilters(withName, city = Some("Hue"),
      to = Some("2025-11-26 04:30:00")).count() === 1)
  }

  test("X6 compactNumber: Looker-style 1.0K/2.3M tiles, boundary-safe, signed, null-safe") {
    val cases = Seq(
      0L -> "0", 999L -> "999", 1000L -> "1.0K", 1049L -> "1.0K",
      1500L -> "1.5K", 9949L -> "9.9K", 9950L -> "10K", 456000L -> "456K",
      999499L -> "999K", 999500L -> "1.0M", // rounding boundary, NOT "1,000K"
      1200000L -> "1.2M", 2000000000L -> "2.0B", -1500L -> "-1.5K",
      -42L -> "-42")
    val got = cases.map(_._1).toDF("n")
      .select(col("n"), Dashboard.compactNumber(col("n")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (n, want) => assert(got(n) === want, s"n=$n") }
    val nulls = Seq(Some(1L), None).toDF("n")
      .select(Dashboard.compactNumber(col("n")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(nulls.toSet === Set("1", null))
  }

  test("a moved window compiles no class: the five widgets over withFilters at the bench's shape") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft_dash_codegen").toFile
    try {
      // 14 cities, 14 days of hourly readings, laid out as the bench's
      // store: one partition per day, rows sorted by (city_id, dt)
      val t0 = ts("2025-01-01 00:00:00").getTime
      val rows = for (c <- 1L to 14L; h <- 0 until 14 * 24) yield
        (c, new java.sql.Timestamp(t0 + h * 3600000L), 20.0 + c + h % 24, 40 + h % 50,
          1000 + c.toInt, 1.0 + h % 7)
      Store.writeFactPartitioned(
        rows.toDF("city_id", "dt", "temp", "humidity", "pressure", "wind_speed"),
        s"$dir/fact", "dt", Seq(col("city_id"), col("dt")))
      (1L to 14L).map(c => (c, s"city$c", 10.0 + c, 100.0 + c))
        .toDF("city_id", "city_name", "coord_lat", "coord_lon").write.parquet(s"$dir/cities")

      def refresh(city: String, from: String, to: String): Seq[Seq[org.apache.spark.sql.Row]] = {
        val cities = spark.read.parquet(s"$dir/cities")
        val view = Dashboard.withFilters(
          Store.readFact(spark, s"$dir/fact")
            .join(broadcast(cities.select("city_id", "city_name")), "city_id"),
          Some(city), Some(from), Some(to))
        Seq(Dashboard.latestPerCity(view).select("city_id", "dt", "temp").orderBy("city_id"),
          Dashboard.scorecards(view), Dashboard.temperatureByHour(view),
          Dashboard.cityMap(view.drop("city_name"), cities), Dashboard.temperatureScale(view))
          .map(_.collect().toSeq)
      }
      refresh("city3", "2025-01-02 00:00:00", "2025-01-05 00:00:00")
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val moved = refresh("city9", "2025-01-07 00:00:00", "2025-01-10 00:00:00")
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0 === 0L)
      assert(moved.head.map(_.getTimestamp(1)) === Seq(ts("2025-01-10 00:00:00")))
      assert(moved(2).size === 73)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** The bench's store (14 cities, 14 days of hourly readings, one
    * partition per day) under a temporary directory: the fact joined to
    * the city names, as a refresh filters it, and the cities dim. */
  private def withBenchStore(body: (DataFrame, DataFrame) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dash_slice").toFile
    try {
      val t0 = ts("2025-01-01 00:00:00").getTime
      val rows = for (c <- 1L to 14L; h <- 0 until 14 * 24) yield
        (c, new java.sql.Timestamp(t0 + h * 3600000L), 20.0 + c + h % 24, 40 + h % 50,
          1000 + c.toInt, 1.0 + h % 7)
      Store.writeFactPartitioned(
        rows.toDF("city_id", "dt", "temp", "humidity", "pressure", "wind_speed"),
        s"$dir/fact", "dt", Seq(col("city_id"), col("dt")))
      (1L to 14L).map(c => (c, s"city$c", 10.0 + c, 100.0 + c))
        .toDF("city_id", "city_name", "coord_lat", "coord_lon").write.parquet(s"$dir/cities")
      val cities = spark.read.parquet(s"$dir/cities")
      body(Store.readFact(spark, s"$dir/fact")
        .join(broadcast(cities.select("city_id", "city_name")), "city_id"), cities)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private val (city, from, to) = ("city3", "2025-01-02 00:00:00", "2025-01-05 00:00:00")

  /** The five widgets of a refresh over `view`, as the bench calls them. */
  private def widgets(view: DataFrame, cities: DataFrame): Seq[(String, DataFrame)] = Seq(
    "latestPerCity" -> Dashboard.latestPerCity(view).select("city_id", "dt", "temp")
      .orderBy("city_id"),
    "scorecards" -> Dashboard.scorecards(view),
    "temperatureByHour" -> Dashboard.temperatureByHour(view),
    "cityMap" -> Dashboard.cityMap(view.drop("city_name"), cities),
    "temperatureScale" -> Dashboard.temperatureScale(view))

  /** Each widget's rows over the held `view` and over the same filters
    * applied without a hold. */
  private def sameRowsAsUnheld(view: DataFrame, fact: DataFrame, cities: DataFrame): Unit = {
    val unheld = fact.filter(col("city_name") === city)
      .filter(col("dt") >= lit(from).cast("timestamp"))
      .filter(col("dt") <= lit(to).cast("timestamp"))
    widgets(view, cities).zip(widgets(unheld, cities)).foreach { case ((n, got), (_, want)) =>
      val rows = got.collect().toSeq
      assert(rows.nonEmpty, n)
      assert(rows === want.collect().toSeq, n)
    }
  }

  test("a small slice serves every widget from one partition: no shuffle, one job (cityMap two)") {
    withBenchStore { (fact, cities) =>
      val sc = spark.sparkContext
      sc.setJobDescription("refresh")
      var view: DataFrame = null
      val slice = try JobCount.descriptions(sc) {
        view = Dashboard.withFilters(fact, Some(city), Some(from), Some(to))
      } finally {
        assert(sc.getLocalProperty("spark.job.description") === "refresh")
        sc.setJobDescription(null)
      }
      assert(slice.nonEmpty && slice.size <= 2, slice)
      assert(slice.forall(_ == "Dashboard.withFilters:slice"), slice)
      widgets(view, cities).foreach { case (n, w) =>
        val jobs = JobCount(sc)(w.collect())
        val exchanges = collect(w.queryExecution.executedPlan) { case e: Exchange => e }
        val shuffles = exchanges.filterNot(_.isInstanceOf[BroadcastExchangeLike])
        assert(shuffles.isEmpty, s"$n: ${w.queryExecution.executedPlan}")
        assert(exchanges.size === (if (n == "cityMap") 1 else 0), n)
        assert(jobs === (if (n == "cityMap") 2 else 1), n)
      }
      sameRowsAsUnheld(view, fact, cities)
    }
  }

  test("a slice above the advisory partition size keeps its partitioning and its answers") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try withBenchStore { (fact, cities) =>
      val view = Dashboard.withFilters(fact, Some(city), Some(from), Some(to))
      assert(collect(view.queryExecution.executedPlan) { case c: CoalesceExec => c }.isEmpty)
      assert(view.rdd.getNumPartitions > 1)
      sameRowsAsUnheld(view, fact, cities)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the query boundary leaves no cache entry for the slice") {
    withBenchStore { (fact, _) =>
      val view = Dashboard.withFilters(fact, Some(city), Some(from), Some(to))
      val Seq(held) = view.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      val qe = view.queryExecution
      def entry = qe.sparkSession.sharedState.cacheManager
        .lookupCachedData(qe.sparkSession, held.cacheBuilder.logicalPlan)
      assert(entry.nonEmpty && held.cacheBuilder.isCachedColumnBuffersLoaded)
      Lifecycle.releaseDeferred(spark)
      assert(entry.isEmpty && !held.cacheBuilder.isCachedColumnBuffersLoaded)
    }
  }
}
