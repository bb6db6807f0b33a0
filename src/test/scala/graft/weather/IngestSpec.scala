package graft.weather

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** End-to-end §3.1 pipeline replay: two hourly runs + an exact re-run
  * (idempotence, SURVEY.md §5.4), plus the SQL dashboard path. */
class IngestSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  def payload(cityId: Long, name: String, dt: Long, temp: Double): String =
    s"""{"coord":{"lon":105.8,"lat":21.0},
       |"weather":[{"id":802,"main":"Clouds","description":"d","icon":"03d"}],
       |"main":{"temp":$temp,"feels_like":$temp,"temp_min":$temp,"temp_max":$temp,"pressure":1021,"humidity":37},
       |"wind":{"speed":4.0,"deg":355},"clouds":{"all":34},"dt":$dt,
       |"sys":{"country":"VN","sunrise":1764112440,"sunset":1764152047},
       |"timezone":25200,"id":$cityId,"name":"$name","cod":200}""".stripMargin.replace("\n", "")

  test("two-hour replay: upsert accumulates, exact re-run is a no-op") {
    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val cities = s"$base/cities"
    val fact = s"$base/current_weather"

    val hour1 = Seq(
      payload(1, "Hanoi", 1764129600, 22.0),
      payload(2, "Hue", 1764129600, 28.0),
      """{"cod":"404","message":"city not found"}""")
    val r1 = Ingest.run(spark, Ingest.CannedSource(hour1), cities, fact)
    assert(r1.okCount === 2 && r1.badCount === 1)
    assert(r1.fact.count() === 2 && r1.cities.count() === 2)

    // hour 2: new dt per city + a corrected hour-1 reading for city 1
    val hour2 = Seq(
      payload(1, "Hanoi", 1764133200, 23.0),
      payload(2, "Hue", 1764133200, 29.0),
      payload(1, "Hanoi", 1764129600, 22.5))
    val r2 = Ingest.run(spark, Ingest.CannedSource(hour2), cities, fact)
    assert(r2.fact.count() === 4)
    // no bad document: an empty bad frame of the parse's schema
    assert(r2.badCount === 0 && r2.bad.count() === 0 && r2.bad.schema === r1.bad.schema)
    val corrected = r2.fact
      .filter(col("city_id") === 1 && col("dt") === timestamp_seconds(lit(1764129600)))
      .head().getAs[Double]("temp")
    assert(corrected === 22.5) // DO UPDATE last-write-wins

    // snapshot r2 rows before replaying (r2.fact is a lazy reader over
    // files the replay's partition overwrite will replace)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toString).sorted
    val before = rowsOf(r2.fact)

    // replay hour 2 verbatim — must be a no-op (ST2 idempotence)
    val r3 = Ingest.run(spark, Ingest.CannedSource(hour2), cities, fact)
    assert(r3.fact.count() === 4)
    assert(rowsOf(r3.fact) === before)
  }

  test("bad records land in an append-only quarantine with replayable payloads") {
    val base = java.nio.file.Files.createTempDirectory("graft_quar").toString
    val rejects = s"$base/rejects"
    val bad404 = """{"cod":"404","message":"city not found"}"""
    val truncated = """{"cod":"5""" // unparseable — raw bytes must survive
    val r1 = Ingest.run(spark,
      Ingest.CannedSource(Seq(payload(1, "Hanoi", 1764129600, 22.0), bad404, truncated)),
      s"$base/cities", s"$base/fact")
    assert(r1.badCount === 2 && r1.bad.count() === 2)
    Ingest.quarantine(r1.bad, rejects)
    Ingest.quarantine(r1.bad, rejects) // second run appends, never rewrites
    val q = spark.read.parquet(rejects)
    assert(q.count() === 4)
    val payloads = q.select("payload").collect().map(_.getString(0)).toSet
    // quarantine holds the ORIGINAL bytes, not a lossy re-serialization
    assert(payloads === Set(bad404, truncated))
  }

  test("forecast backfill: 40-entry fan-out, upsert refresh on re-pull (§3.2)") {
    val base = java.nio.file.Files.createTempDirectory("graft_fc").toString
    def fcPayload(temp0: Double): String =
      s"""{"list":[
         |{"dt":1764136800,"dt_txt":"2025-11-26 06:00:00",
         | "main":{"temp":$temp0,"feels_like":21.9,"temp_min":22.6,"temp_max":23.9,
         |   "pressure":1021,"sea_level":1021,"grnd_level":1018,"humidity":38,"temp_kf":-1.25},
         | "weather":[{"id":802,"main":"Clouds","description":"d","icon":"03d"}],
         | "clouds":{"all":26},"wind":{"speed":3.3,"deg":354,"gust":4.4},
         | "visibility":10000,"pop":0.0,"sys":{"pod":"d"}},
         |{"dt":1764147600,"dt_txt":"2025-11-26 09:00:00",
         | "main":{"temp":25.0,"feels_like":25.0,"temp_min":24.0,"temp_max":26.0,
         |   "pressure":1020,"humidity":40},
         | "weather":[{"id":800,"main":"Clear","description":"c","icon":"01d"}],
         | "clouds":{"all":5},"wind":{"speed":2.0,"deg":10},"pop":0.2,"sys":{"pod":"d"}}],
         |"city":{"id":1581130,"name":"Hanoi","country":"VN",
         | "coord":{"lat":21.0,"lon":105.8},"population":1431270,"timezone":25200,
         | "sunrise":1764112440,"sunset":1764152047},"cod":"200"}""".stripMargin.replace("\n", "")

    val r1 = Ingest.runForecast(spark, Ingest.CannedSource(Seq(fcPayload(22.6))),
      s"$base/cities", s"$base/forecast")
    assert(r1.fact.count() === 2 && r1.cities.count() === 1)
    assert(r1.fact.columns.toSeq === Schemas.forecastWeatherColumns)

    // re-pull with an updated forecast for the same horizon → refresh
    val r2 = Ingest.runForecast(spark, Ingest.CannedSource(Seq(fcPayload(23.5))),
      s"$base/cities", s"$base/forecast")
    assert(r2.fact.count() === 2)
    val t = r2.fact.filter(col("dt_txt") === "2025-11-26 06:00:00")
      .head().getAs[Double]("temp")
    assert(t === 23.5)
  }

  test("SQL dashboard path over the registered weather views (§3.3)") {
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_sql").toString
    val r = Ingest.run(spark,
      Ingest.CannedSource(Seq(
        payload(1, "Hanoi", 1764129600, 22.0), payload(2, "Hue", 1764129600, 28.0))),
      s"$base/cities", s"$base/fact")
    graft.sources.Catalog.registerWeather(spark, r.cities, r.fact)
    val avg = spark.sql(
      """SELECT round(avg(humidity), 1) AS h, round(avg(temp), 1) AS t
        |FROM current_weather""".stripMargin).head()
    assert(avg.getAs[Double]("h") === 37.0 && avg.getAs[Double]("t") === 25.0)
    val map = spark.sql(
      """SELECT c.city_name, w.temp
        |FROM current_weather w JOIN cities c USING (city_id)
        |ORDER BY c.city_name""".stripMargin).collect()
    assert(map.map(_.getString(0)).toSeq === Seq("Hanoi", "Hue"))
  }

  test("a warm hourly run launches at most 12 Spark jobs; a 404 adds only its quarantine copy") {
    // the benchmark's batch shape: 14 cities into a store holding their
    // history, 13 readings of a new hour plus one corrected re-send of a
    // history hour, so the fact merge touches two days
    val base = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    def run(docs: Seq[String]): Ingest.IngestResult =
      Ingest.run(spark, Ingest.CannedSource(docs), s"$base/cities", s"$base/fact")
    val day1 = 1764129600L // 2025-11-26 04:00 UTC
    val day2 = day1 + 86400L
    val cityIds = 1L to 14L
    run(cityIds.flatMap(c => Seq(payload(c, s"City$c", day1, 20.0), payload(c, s"City$c", day2, 21.0))))
    def batch(hour: Long): Seq[String] =
      payload(1, "City1", day1, 25.0) +:
        cityIds.tail.map(c => payload(c, s"City$c", day2 + hour * 3600L, 22.0))
    run(batch(1)) // warm-up: the measured runs are warm, as in the benchmark

    var good: Ingest.IngestResult = null
    val goodJobs = org.apache.spark.graft.JobCount(spark.sparkContext) { good = run(batch(2)) }
    assert(good.okCount === 14 && good.badCount === 0)
    assert(goodJobs <= 12, s"a warm 14-document Ingest.run launched $goodJobs jobs")

    var with404: Ingest.IngestResult = null
    val jobs404 = org.apache.spark.graft.JobCount(spark.sparkContext) {
      with404 = run(batch(3).init :+ """{"cod":"404","message":"city not found"}""")
    }
    assert(with404.okCount === 13 && with404.badCount === 1 && with404.bad.count() === 1)
    info(s"jobs per warm run: $goodJobs, with one 404: $jobs404")
    assert(jobs404 <= goodJobs + 1,
      s"one 404 took the run from $goodJobs to $jobs404 jobs; only its quarantine copy may add one")
    // 14 cities × (2 history days + the 3 new hours), one re-send per run
    assert(with404.fact.count() === 14 * 2 + 13 + 13 + 12)
  }

  test("an ingest run releases its parse without a drain wait") {
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_nodrain").toString
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    graft.operators.Lifecycle.substrateStatsSnapshot() // zero the counters
    val r = Ingest.run(spark, Ingest.CannedSource(Seq(
      payload(1, "Hanoi", 1764129600, 22.0), payload(2, "Hue", 1764129600, 28.0))),
      s"$base/cities", s"$base/fact")
    val (drainMs, drainTimeouts, _, _) = graft.operators.Lifecycle.substrateStatsSnapshot()
    assert(drainMs === 0L && drainTimeouts === 0L)
    // the merges' localCheckpoints stay registered (checkpointed); the
    // cached parse must not
    val leaked = (sc.getPersistentRDDs -- cachedBefore).values.filterNot(_.isCheckpointed)
    assert(leaked.isEmpty, leaked.map(_.toDebugString).mkString("\n"))
    assert(r.okCount === 2 && r.fact.count() === 2)
  }

  test("forecast okCount counts exploded rows: an empty or absent list adds 0") {
    val base = java.nio.file.Files.createTempDirectory("graft_fc_count").toString
    def doc(cityId: Long, list: Option[String]): String =
      s"""{${list.fold("")(l => s""""list":$l,""")}"city":{"id":$cityId,"name":"C$cityId",""" +
        s""""country":"VN","coord":{"lat":21.0,"lon":105.8},"population":1,"timezone":25200,""" +
        s""""sunrise":1764112440,"sunset":1764152047},"cod":"200"}"""
    def entry(dt: Long): String =
      s"""{"dt":$dt,"dt_txt":"x","main":{"temp":20.0,"humidity":40},""" +
        s""""weather":[{"id":800,"main":"Clear","description":"c","icon":"01d"}]}"""
    val r = Ingest.runForecast(spark, Ingest.CannedSource(Seq(
        doc(1, Some(s"[${entry(1764136800)},${entry(1764147600)}]")),
        doc(2, Some("[]")),
        doc(3, None))),
      s"$base/cities", s"$base/forecast")
    assert(r.okCount === 2 && r.badCount === 0)
    assert(r.fact.count() === r.okCount)
  }

  test("corpus SQL catalog exposes tables + graft functions") {
    graft.sources.Catalog.registerAll(spark, SharedSpark.sf0001)
    val r = spark.sql(
      """SELECT graft_lang_id(text) AS lg, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY n DESC""".stripMargin).collect()
    assert(r.nonEmpty)
    val cos = spark.sql(
      """SELECT graft_cosine(a.embedding, b.embedding) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin)
      .head().getDouble(0)
    assert(cos >= -1.0 && cos <= 1.0)
  }
}
