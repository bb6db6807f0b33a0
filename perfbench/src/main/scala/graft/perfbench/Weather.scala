package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.sources.MergeSink
import graft.weather.{Dashboard, Flatten, Ingest, Schemas, Store}

/** Canonical cell rendering shared by the replay and the collected rows:
  * timestamps as epoch seconds, doubles by their exact decimal form. */
final case class Ts(sec: Long)

object Canon {
  def cell(v: Any): String = v match {
    case null => "null"
    case Ts(s) => s.toString
    case t: java.sql.Timestamp => (t.getTime / 1000L).toString
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }
  def row(vs: Seq[Any]): String = vs.map(cell).mkString("|")
  def row(r: Row): String = row(r.toSeq)
}

/** Seeded generator for the hourly-ingest workload: a history for the
  * store, then one 14-document batch per hour and a 14 × 40 forecast pull
  * every 6th hour. Every batch has the same shape, and the seed changes
  * only values and targets: one document is a corrected re-send of a
  * history hour (≈ 7 %), and every 4th batch has one `cod:404` document
  * (≈ 2 %). Every measured value is a multiple of 1/4, so sums and means
  * are exact and the replay can match them bit for bit. */
object WeatherGen {
  final case class City(id: Long, name: String, lat: Double, lon: Double)
  val cities: IndexedSeq[City] = IndexedSeq(
    "Ha Noi" -> (21.0245, 105.8412), "Ho Chi Minh City" -> (10.75, 106.6667),
    "Da Nang" -> (16.0678, 108.2208), "Hai Phong" -> (20.8561, 106.6822),
    "Can Tho" -> (10.0333, 105.7833), "Hue" -> (16.4667, 107.6),
    "Nha Trang" -> (12.25, 109.1833), "Vung Tau" -> (10.346, 107.0843),
    "Da Lat" -> (11.9465, 108.4419), "Quy Nhon" -> (13.7667, 109.2333),
    "Vinh" -> (18.6734, 105.6923), "Buon Ma Thuot" -> (12.6667, 108.05),
    "Ha Long" -> (20.9511, 107.0807), "Phan Thiet" -> (10.9333, 108.1)
  ).zipWithIndex.map { case ((n, (la, lo)), i) => City(1560000L + 131L * i, n, la, lo) }
  val country = "VN"
  val timezone = 25200
  val startSec = 1735689600L // 2025-01-01T00:00:00Z
  val historyDays = 14
  val historyHours: Int = historyDays * 24
  val maxSteps = 160
  val forecastEvery = 6
  val notFoundEvery = 4

  private val conditions = IndexedSeq(
    (800, "Clear", "clear sky", "01d"), (801, "Clouds", "few clouds", "02d"),
    (803, "Clouds", "broken clouds", "04d"), (500, "Rain", "light rain", "10d"))

  /** One current-weather reading, in current_weather fact column order. */
  final case class Reading(cityIdx: Int, hour: Int, cond: Int, temp: Double, feels: Double,
                           tmin: Double, tmax: Double, pressure: Int, humidity: Int,
                           visibility: Int, wind: Double, windDeg: Int, gust: Double,
                           clouds: Int) {
    def city: City = cities(cityIdx)
    def dt: Long = startSec + hour * 3600L
    private def day: Long = startSec + (hour / 24) * 86400L
    def sunrise: Long = day - 1800L + cityIdx * 60L
    def sunset: Long = day + 39600L + cityIdx * 60L
    def factRow: Seq[Any] = {
      val (wid, wmain, wdesc, _) = conditions(cond)
      Seq(city.id, Ts(dt), wid, wmain, wdesc, "stations", temp, feels, tmin, tmax, pressure,
        humidity, visibility, wind, windDeg, gust, clouds, Ts(sunrise), Ts(sunset))
    }
    def json: String = {
      val (wid, wmain, wdesc, icon) = conditions(cond)
      s"""{"coord":{"lon":${city.lon},"lat":${city.lat}},""" +
        s""""weather":[{"id":$wid,"main":"$wmain","description":"$wdesc","icon":"$icon"}],""" +
        s""""base":"stations","main":{"temp":$temp,"feels_like":$feels,"temp_min":$tmin,""" +
        s""""temp_max":$tmax,"pressure":$pressure,"humidity":$humidity,"sea_level":$pressure,""" +
        s""""grnd_level":${pressure - 2}},"visibility":$visibility,""" +
        s""""wind":{"speed":$wind,"deg":$windDeg,"gust":$gust},"clouds":{"all":$clouds},""" +
        s""""dt":$dt,"sys":{"country":"$country","sunrise":$sunrise,"sunset":$sunset},""" +
        s""""timezone":$timezone,"id":${city.id},"name":"${city.name}","cod":200}"""
    }
  }

  def quarter(r: SplittableRandom, lo: Int, hi: Int): Double = r.nextInt(lo * 4, hi * 4 + 1) / 4.0

  def reading(r: SplittableRandom, cityIdx: Int, hour: Int): Reading = {
    val temp = quarter(r, 18, 36)
    Reading(cityIdx, hour, r.nextInt(conditions.length), temp, temp + quarter(r, -2, 3),
      temp - quarter(r, 0, 2), temp + quarter(r, 0, 2), r.nextInt(1000, 1021),
      r.nextInt(40, 101), r.nextInt(6, 11) * 1000, quarter(r, 0, 12), r.nextInt(0, 360),
      quarter(r, 0, 15), r.nextInt(0, 101))
  }

  /** One forecast list entry (3-hourly), in forecast fact column order. */
  final case class ForecastEntry(cityIdx: Int, hour: Int, cond: Int, temp: Double,
                                 humidity: Int, pressure: Int, wind: Double, pop: Double) {
    def city: City = cities(cityIdx)
    def dt: Long = startSec + hour * 3600L
    def dtTxt: String = java.time.Instant.ofEpochSecond(dt).toString.replace('T', ' ').stripSuffix("Z")
    def pod: String = if (hour % 24 < 12) "d" else "n"
    def factRow(sunrise: Long, sunset: Long): Seq[Any] = {
      val (wid, wmain, wdesc, _) = conditions(cond)
      Seq(city.id, Ts(dt), dtTxt, temp, temp, temp - 1.0, temp + 1.0, pressure, pressure,
        pressure - 2, humidity, 0.0, wid, wmain, wdesc, 40, wind, 90, wind + 1.0, 10000, pop,
        pod, Ts(sunrise), Ts(sunset))
    }
    def json: String = {
      val (wid, wmain, wdesc, icon) = conditions(cond)
      s"""{"dt":$dt,"dt_txt":"$dtTxt","main":{"temp":$temp,"feels_like":$temp,""" +
        s""""temp_min":${temp - 1.0},"temp_max":${temp + 1.0},"pressure":$pressure,""" +
        s""""sea_level":$pressure,"grnd_level":${pressure - 2},"humidity":$humidity,"temp_kf":0.0},""" +
        s""""weather":[{"id":$wid,"main":"$wmain","description":"$wdesc","icon":"$icon"}],""" +
        s""""clouds":{"all":40},"wind":{"speed":$wind,"deg":90,"gust":${wind + 1.0}},""" +
        s""""visibility":10000,"pop":$pop,"sys":{"pod":"$pod"}}"""
    }
  }

  final case class ForecastDoc(cityIdx: Int, pullHour: Int, entries: Seq[ForecastEntry]) {
    def city: City = cities(cityIdx)
    private def day: Long = startSec + (pullHour / 24) * 86400L
    def sunrise: Long = day - 1800L + cityIdx * 60L
    def sunset: Long = day + 39600L + cityIdx * 60L
    def json: String =
      s"""{"list":[${entries.map(_.json).mkString(",")}],"city":{"id":${city.id},""" +
        s""""name":"${city.name}","country":"$country","coord":{"lat":${city.lat},""" +
        s""""lon":${city.lon}},"population":${100000 + cityIdx * 7919},""" +
        s""""timezone":$timezone,"sunrise":$sunrise,"sunset":$sunset},"cod":"200"}"""
  }

  val notFoundJson = """{"cod":"404","message":"city not found"}"""

  /** A batch: per city slot either a reading (current or re-sent history
    * hour) or a 404; plus the forecast pull on every 6th hour, starting
    * with the first, so even a one-batch run measures both ingest paths. */
  final case class Batch(step: Int, docs: Seq[Option[Reading]], forecast: Seq[ForecastDoc])

  final case class Inputs(history: Seq[Reading], batches: IndexedSeq[Batch])

  def generate(seed: Long): Inputs = {
    val r = new SplittableRandom(seed)
    val history = for (h <- 0 until historyHours; c <- cities.indices) yield reading(r, c, h)
    val batches = (0 until maxSteps).map { s =>
      val hour = historyHours + s
      // every batch rewrites the current day and one full history day
      val resend = r.nextInt(cities.size)
      val notFound =
        if (s % notFoundEvery == notFoundEvery - 1) (resend + 1 + r.nextInt(cities.size - 1)) % cities.size
        else -1
      val docs = cities.indices.map { c =>
        if (c == notFound) None
        else if (c == resend) Some(reading(r, c, r.nextInt(historyHours)))
        else Some(reading(r, c, hour))
      }
      val forecast =
        if (s % forecastEvery == 0)
          cities.indices.map { c =>
            ForecastDoc(c, hour, (1 to 40).map { j =>
              ForecastEntry(c, hour + 3 * j, r.nextInt(conditions.length), quarter(r, 18, 36),
                r.nextInt(40, 101), r.nextInt(1000, 1021), quarter(r, 0, 12), r.nextInt(0, 5) / 4.0)
            })
          }
        else Nil
      Batch(s, docs, forecast)
    }
    Inputs(history, batches)
  }

  private def writeLines(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(f.toPath, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def batchDir(dir: File, s: Int): File = new File(dir, f"batches/b$s%05d")
  def forecastDir(dir: File, s: Int): File = new File(dir, f"forecast/f$s%05d")

  /** Write the generated documents as JSON-lines files under `dir`. */
  def write(in: Inputs, dir: File): Unit = {
    writeLines(new File(dir, "history/part-0.json"), in.history.iterator.map(_.json))
    in.batches.foreach { b =>
      writeLines(new File(batchDir(dir, b.step), "part-0.json"),
        b.docs.iterator.map(_.fold(notFoundJson)(_.json)))
      if (b.forecast.nonEmpty)
        writeLines(new File(forecastDir(dir, b.step), "part-0.json"), b.forecast.iterator.map(_.json))
    }
  }
}

/** Plain-Scala replay of the store: a last-wins fold of every batch, and
  * the dashboard widgets computed from it. */
final class WeatherReplay(history: Seq[WeatherGen.Reading]) {
  import WeatherGen._
  val fact = mutable.Map.empty[(Long, Long), Reading]
  val forecast = mutable.Map.empty[(Long, Long), Seq[Any]]
  val dim = mutable.Map.empty[Long, City]
  history.foreach(upsert)

  private def upsert(r: Reading): Unit = {
    fact((r.city.id, r.dt)) = r
    dim(r.city.id) = r.city
  }

  /** Apply a batch; returns the expected (ok, bad) counts of each call. */
  def apply(b: Batch): ((Long, Long), Option[(Long, Long)]) = {
    b.docs.flatten.foreach(upsert)
    b.forecast.foreach { d =>
      dim(d.city.id) = d.city
      d.entries.foreach(e => forecast((d.city.id, e.dt)) = e.factRow(d.sunrise, d.sunset))
    }
    val fc = if (b.forecast.isEmpty) None else Some((b.forecast.map(_.entries.size.toLong).sum, 0L))
    ((b.docs.count(_.nonEmpty).toLong, b.docs.count(_.isEmpty).toLong), fc)
  }

  def dimRows: Seq[String] = dim.values.toSeq.sortBy(_.id).map(c =>
    Canon.row(Seq(c.id, c.name, country, c.lat, c.lon, timezone)))
  def factRows: Seq[String] = fact.values.toSeq.sortBy(r => (r.city.id, r.dt)).map(r => Canon.row(r.factRow))
  def forecastRows: Seq[String] = forecast.toSeq.sortBy(_._1).map(kv => Canon.row(kv._2))

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def avg(xs: Seq[Double]): Double = round4(xs.sum / xs.size)

  /** Widgets whose collected rows differ from the replay. */
  def widgetErrors(step: Int, f: WeatherBench.Filter, shown: Map[String, Seq[String]]): Seq[String] = {
    val expect = widgets(f)
    shown.toSeq.sortBy(_._1).flatMap { case (k, rows) =>
      if (rows == expect(k)) Nil
      else Seq(s"step $step $k $f: got ${rows.take(3)}…, want ${expect(k).take(3)}…")
    }
  }

  /** Stored tables (canonical rows, any order) that differ from the fold. */
  def storeErrors(fact: Seq[String], cities: Seq[String], fc: Seq[String]): Seq[String] = {
    def cmp(what: String, got: Seq[String], want: Seq[String]): Seq[String] = {
      val (g, w) = (got.sorted, want.sorted)
      if (g == w) Nil
      else Seq(s"$what store differs from the last-wins replay: ${g.size} rows vs ${w.size}; " +
        s"first difference ${g.diff(w).take(2)} / ${w.diff(g).take(2)}")
    }
    cmp("fact", fact, factRows) ++ cmp("cities", cities, dimRows) ++ cmp("forecast", fc, forecastRows)
  }

  /** Expected rendering of every widget for one filter. */
  def widgets(f: WeatherBench.Filter): Map[String, Seq[String]] = {
    val rows = fact.values.filter { r =>
      r.dt >= f.fromSec && r.dt <= f.toSec && f.city.forall(_ == r.city.name)
    }.toSeq
    val latest = rows.groupBy(_.city.id).values.map(_.maxBy(_.dt)).toSeq.sortBy(_.city.id)
    Map(
      "latestPerCity" -> latest.map(r => Canon.row(Seq(r.city.id, Ts(r.dt), r.temp))),
      "scorecards" -> Seq(Canon.row(Seq(avg(rows.map(_.humidity.toDouble)),
        avg(rows.map(_.pressure.toDouble)), avg(rows.map(_.wind))))),
      "temperatureByHour" -> rows.groupBy(_.dt).toSeq.sortBy(_._1).map { case (h, rs) =>
        Canon.row(Seq(Ts(h), avg(rs.map(_.temp)))) },
      "cityMap" -> latest.map(r => Canon.row(Seq(r.city.id, r.city.name, r.city.lat, r.city.lon,
        r.temp, Ts(r.dt)))),
      "temperatureScale" -> Seq(Canon.row(Seq(rows.map(_.temp).min, rows.map(_.temp).max))))
  }
}

/** `weather_hourly`: closed-loop hourly ingest into a parquet store, then
  * a dashboard refresh after every batch. */
final class WeatherBench(seed: Long, workDir: File) extends Workload {
  import WeatherBench._
  val name = "weather_hourly"
  // one Ingest.run call per pass, and op_p50_s is their median; the
  // first timed pass also pulls a forecast, so three passes would leave
  // only two ordinary ones
  override val minTimedPasses = 4
  private var inputs: WeatherGen.Inputs = _
  private var inDir: File = _
  private val store = new File(workDir, "store")
  // store tables are addressed by qualified file: URIs, the form cluster
  // deployments use (hdfs://, s3a://); see README "Known program defects"
  private def uri(f: File): String = "file:" + f.getAbsolutePath
  private def citiesPath = uri(new File(store, "cities"))
  private def factPath = uri(new File(store, "fact"))
  private def forecastPath = uri(new File(store, "forecast"))
  private var replay: WeatherReplay = _
  private var step = 0

  def setup(spark: SparkSession, dir: File): Unit = {
    inputs = WeatherGen.generate(seed)
    WeatherGen.write(inputs, dir)
    inDir = dir
    // seed the store: history flattened by the program and written
    // through its partitioned fact writer and the dim snapshot sink
    implicit val s: SparkSession = spark
    val pristine = new File(dir, "store")
    val wide = Flatten.flattenCurrent(Flatten.parseCurrent(
      spark.read.textFile(new File(dir, "history").getPath)))
    Store.writeFactPartitioned(Flatten.currentFact(wide), new File(pristine, "fact").getPath,
      "dt", Seq(col("city_id"), col("dt")))
    Store.ParquetSnapshotSink(new File(pristine, "cities").getPath)
      .mergeLastWins(Flatten.citiesDim(wide), Seq("city_id"))
    resetStore()
  }

  /** Every phase starts from the same freshly seeded store. */
  private def resetStore(): Unit = {
    Harness.deleteRecursively(store)
    copyTree(new File(inDir, "store").toPath, store.toPath)
    replay = new WeatherReplay(inputs.history)
    step = 0
  }

  override def beforeTimed(spark: SparkSession): Unit = resetStore()

  private final class TracedSink(inner: MergeSink, t: Tracer) extends MergeSink {
    def mergeLastWins(updates: DataFrame, keys: Seq[String]): Unit =
      t.span("sources.MergeSink.mergeLastWins")(inner.mergeLastWins(updates, keys))
    def mergeIfAbsent(updates: DataFrame, keys: Seq[String]): Unit =
      t.span("sources.MergeSink.mergeIfAbsent")(inner.mergeIfAbsent(updates, keys))
    def read(spark: SparkSession): DataFrame = inner.read(spark)
  }

  def pass(spark: SparkSession, i: Int, t: Tracer): PassOut = {
    require(step < WeatherGen.maxSteps, s"ran past the ${WeatherGen.maxSteps} generated batches")
    val b = inputs.batches(step)
    step += 1
    val ops = mutable.ArrayBuffer.empty[Long]
    val calls = mutable.ArrayBuffer.empty[(String, Long)]
    // the sinks Ingest.run and runForecast build, wrapped so that a traced
    // pass splits the merges out of the call's self time
    def ingest(name: String, dir: File, fact: String,
               run: (SparkSession, Ingest.PayloadSource, MergeSink, MergeSink) => Ingest.IngestResult)
        : (Long, Long) = {
      val t0 = System.nanoTime()
      val res = t.span(name)(run(spark, Ingest.FileSource(dir.getPath),
        new TracedSink(Store.ParquetSnapshotSink(citiesPath), t),
        new TracedSink(Store.ParquetDateSink(fact), t)))
      // op_p50_s samples Ingest.run only: every pass makes exactly one such
      // call, so the metric does not depend on how many passes fit a run
      if (name == "weather.Ingest.run") ops += System.nanoTime() - t0
      (res.okCount, res.badCount)
    }
    val got = ingest("weather.Ingest.run", WeatherGen.batchDir(inDir, b.step), factPath,
      Ingest.runCurrent)
    val gotFc = if (b.forecast.isEmpty) None else Some(ingest("weather.Ingest.runForecast",
      WeatherGen.forecastDir(inDir, b.step), forecastPath, Ingest.runForecastWith))

    val f = filterFor(seed, i)
    val fact = t.span("weather.Store.readFact")(Store.readFact(spark, factPath))
    val cities = t.span("sources.read.cities")(spark.read.parquet(citiesPath))
    val view = Dashboard.withFilters(
      fact.join(broadcast(cities.select("city_id", "city_name")), "city_id"),
      f.city, Some(f.fromTxt), Some(f.toTxt))
    def widget(n: String)(df: => DataFrame): Seq[String] =
      Harness.timedCollect(t, s"weather.Dashboard.$n", calls)(df).toSeq.map(Canon.row)
    val shown = Map(
      "latestPerCity" -> widget("latestPerCity")(
        Dashboard.latestPerCity(view).select("city_id", "dt", "temp").orderBy("city_id")),
      "scorecards" -> widget("scorecards")(Dashboard.scorecards(view)),
      "temperatureByHour" -> widget("temperatureByHour")(Dashboard.temperatureByHour(view)),
      "cityMap" -> widget("cityMap")(Dashboard.cityMap(view.drop("city_name"), cities)),
      "temperatureScale" -> widget("temperatureScale")(Dashboard.temperatureScale(view)))

    val items = b.docs.size + b.forecast.size
    PassOut(ops.toSeq, calls.toSeq, items, 1 + gotFc.size + shown.size, () => {
      val (want, wantFc) = replay.apply(b)
      val counts =
        (if (got != want) Seq(s"step ${b.step} ingest (ok, bad) $got, want $want") else Nil) ++
          (if (gotFc != wantFc) Seq(s"step ${b.step} forecast (ok, bad) $gotFc, want $wantFc") else Nil)
      counts ++ replay.widgetErrors(b.step, f, shown)
    })
  }

  override def afterTracedPass(spark: SparkSession, i: Int, passStartMs: Long): Map[String, Double] =
    Map("sources.store.files_written_per_batch" ->
      dataFiles(store).count(_.lastModified() >= passStartMs).toDouble)

  override def finish(spark: SparkSession): (Int, Seq[String]) = {
    def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
      df.select(cols.map(col): _*).collect().toSeq.map(Canon.row)
    val fc =
      if (new File(store, "forecast").exists())
        rows(Store.readFact(spark, forecastPath), Schemas.forecastWeatherColumns)
      else Nil
    (3, replay.storeErrors(rows(Store.readFact(spark, factPath), Schemas.currentWeatherColumns),
      rows(spark.read.parquet(citiesPath), Schemas.cityDimColumns), fc))
  }

  override def endGauges(spark: SparkSession): Map[String, Double] = {
    val files = dataFiles(store)
    val rows = replay.fact.size + replay.dim.size + replay.forecast.size
    Map("sources.store.files" -> files.size.toDouble,
      "sources.store.bytes_per_row" -> files.map(_.length()).sum.toDouble / rows)
  }
}

object WeatherBench {
  /** A dashboard filter: an optional city and a date window. */
  final case class Filter(city: Option[String], fromSec: Long, toSec: Long) {
    private def txt(s: Long) = java.time.Instant.ofEpochSecond(s).toString.replace('T', ' ').stripSuffix("Z")
    def fromTxt: String = txt(fromSec)
    def toTxt: String = txt(toSec)
  }

  val filterDays = 3

  /** The seeded filter of a refresh: one city and a `filterDays` window
    * inside the history, so every refresh reads the same number of rows
    * and the seed changes only which. */
  def filterFor(seed: Long, pass: Int): Filter = {
    val r = new SplittableRandom(seed * 1000003L + pass)
    val city = WeatherGen.cities(r.nextInt(WeatherGen.cities.size)).name
    val fromDay = r.nextInt(WeatherGen.historyDays - filterDays)
    Filter(Some(city), WeatherGen.startSec + fromDay * 86400L,
      WeatherGen.startSec + (fromDay + filterDays) * 86400L)
  }

  def dataFiles(root: File): Seq[File] =
    if (!root.exists()) Nil
    else {
      val it = Files.walk(root.toPath)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.map(_.toFile).filter { f =>
          f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")
        }.toList
      } finally it.close()
    }

  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val it = Files.walk(from)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.foreach { p =>
        val q = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    } finally it.close()
  }
}
