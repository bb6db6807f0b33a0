package graft.weather

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Pure DataFrame→DataFrame flattening transforms for the weather ingest
  * (SURVEY.md §2.2 P1–P6, §2.3 S3/F1, §2.8 X1). Everything is a declared
  * projection over `from_json` output — whole-stage codegen, no UDFs, and
  * the same plan works whether the source is 14 driver-side rows or a
  * distributed table of raw payloads (SURVEY.md §7.4 risk 5).
  */
object Flatten {

  /** Parse raw current-weather JSON strings into typed rows. The raw
    * string rides along as `json`: a document that FAILS to parse has a
    * null/empty `d`, and the quarantine channel must preserve the
    * original bytes for replay, not a lossy re-serialization. */
  def parseCurrent(raw: Dataset[String])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    raw.toDF("json").select($"json", from_json($"json", Schemas.currentWeatherRaw).as("d"))
  }

  def parseForecast(raw: Dataset[String])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    raw.toDF("json").select($"json", from_json($"json", Schemas.forecastRaw).as("d"))
  }

  /** S3 gate: keep only HTTP-200 documents (`etl.py:34-35`). Bad records
    * can be captured separately via `badRecords`. */
  def gateOk(parsed: DataFrame): DataFrame =
    parsed.filter(col("d.cod") === "200")

  def badRecords(parsed: DataFrame): DataFrame =
    parsed.filter(!isOk)

  /** The gate as a never-null predicate over a parsed row: true exactly
    * for the rows `gateOk` keeps, false for the rows `badRecords` keeps. */
  def isOk: Column = coalesce(col("d.cod") === "200", lit(false))

  /** P1/P2/P6 + X1: flatten one current-weather document to the wide
    * 24-column row (dim + fact attributes, epochs → UTC timestamps).
    * `weather[0]` via try_element_at — NULL (not an ANSI error) when the
    * array is empty/absent (null-by-absence, SURVEY.md §1.4). */
  def flattenCurrent(parsed: DataFrame): DataFrame = {
    val w = try_element_at(col("d.weather"), lit(1))
    gateOk(parsed).select(
      col("d.id").as("city_id"),
      col("d.name").as("city_name"),
      col("d.sys.country").as("country"),
      col("d.coord.lat").as("coord_lat"),
      col("d.coord.lon").as("coord_lon"),
      col("d.timezone").as("timezone"),
      timestamp_seconds(col("d.dt")).as("dt"),
      w.getField("id").as("weather_id"),
      w.getField("main").as("weather_main"),
      w.getField("description").as("description"),
      col("d.base").as("base"),
      col("d.main.temp").as("temp"),
      col("d.main.feels_like").as("feels_like"),
      col("d.main.temp_min").as("temp_min"),
      col("d.main.temp_max").as("temp_max"),
      col("d.main.pressure").as("pressure"),
      col("d.main.humidity").as("humidity"),
      col("d.visibility").as("visibility"),
      col("d.wind.speed").as("wind_speed"),
      col("d.wind.deg").as("wind_deg"),
      col("d.wind.gust").as("wind_gust"),
      col("d.clouds.all").as("clouds_all"),
      timestamp_seconds(col("d.sys.sunrise")).as("sunrise"),
      timestamp_seconds(col("d.sys.sunset")).as("sunset")
    )
  }

  /** P3: forecast fan-out — one row per list[] entry with the city
    * attributes broadcast onto every row (notebook cell 11). */
  def flattenForecast(parsed: DataFrame): DataFrame = {
    val exploded = gateOk(parsed)
      .select(col("d.city").as("city"), explode(col("d.list")).as("e"))
    val w = try_element_at(col("e.weather"), lit(1))
    exploded.select(
      col("city.id").as("city_id"),
      col("city.name").as("city_name"),
      col("city.country").as("country"),
      col("city.coord.lat").as("coord_lat"),
      col("city.coord.lon").as("coord_lon"),
      col("city.population").as("population"),
      col("city.timezone").as("timezone"),
      timestamp_seconds(col("e.dt")).as("dt"),
      col("e.dt_txt").as("dt_txt"),
      col("e.main.temp").as("temp"),
      col("e.main.feels_like").as("feels_like"),
      col("e.main.temp_min").as("temp_min"),
      col("e.main.temp_max").as("temp_max"),
      col("e.main.pressure").as("pressure"),
      col("e.main.sea_level").as("sea_level"),
      col("e.main.grnd_level").as("grnd_level"),
      col("e.main.humidity").as("humidity"),
      col("e.main.temp_kf").as("temp_kf"),
      w.getField("id").as("weather_id"),
      w.getField("main").as("weather_main"),
      w.getField("description").as("description"),
      col("e.clouds.all").as("clouds_all"),
      col("e.wind.speed").as("wind_speed"),
      col("e.wind.deg").as("wind_deg"),
      col("e.wind.gust").as("wind_gust"),
      col("e.visibility").as("visibility"),
      col("e.pop").as("pop"),
      col("e.sys.pod").as("sys_pod"),
      timestamp_seconds(col("city.sunrise")).as("sunrise"),
      timestamp_seconds(col("city.sunset")).as("sunset")
    )
  }

  /** A1: the cities dimension — distinct projection of city attributes
    * (notebook cell 19 drop_duplicates). */
  def citiesDim(flatWide: DataFrame): DataFrame =
    flatWide.select(Schemas.cityDimColumns.map(col): _*).distinct()

  /** P4+P5: project the wide row down to the current_weather fact in DDL
    * column order (notebook cells 20/24). */
  def currentFact(flatWide: DataFrame): DataFrame =
    flatWide.select(Schemas.currentWeatherColumns.map(col): _*)

  /** P4+P5 for the forecast fact (notebook cells 22/25). */
  def forecastFact(flatWide: DataFrame): DataFrame =
    flatWide.select(Schemas.forecastWeatherColumns.map(col): _*)

  /** X2: presentation-layer timezone conversion (UTC instants stored;
    * convert only at the edge — SURVEY.md §1.4 decision). */
  def toLocalTime(df: DataFrame, tsCols: Seq[String], tz: String = "Asia/Ho_Chi_Minh"): DataFrame =
    tsCols.foldLeft(df)((acc, c) => acc.withColumn(c, from_utc_timestamp(col(c), tz)))

  /** P7: derived insertion-time column (`created_at` — designed in
    * notebook cell 4's schema table). Nondeterministic, so excluded from
    * oracle queries (SURVEY.md §2.11). */
  def withCreatedAt(df: DataFrame): DataFrame =
    df.withColumn("created_at", current_timestamp())

  /** X3: type the forecast's textual datetime (`dt_txt`,
    * "2025-11-26 06:00:00" — notebook cell 11). */
  def withTypedDtTxt(df: DataFrame): DataFrame =
    df.withColumn("dt_txt_ts", to_timestamp(col("dt_txt"), "yyyy-MM-dd HH:mm:ss"))

  /** Typed Dataset view of the current_weather fact (§1.3: compile-time
    * field checks for the Scala API). */
  def typedCurrent(fact: DataFrame)(implicit spark: SparkSession): Dataset[CurrentWeather] = {
    import spark.implicits._
    fact.as[CurrentWeather]
  }
}

/** Typed row of the current_weather fact (sql/createtable.sql:12-33). */
final case class CurrentWeather(
    city_id: Long,
    dt: java.sql.Timestamp,
    weather_id: Option[Int],
    weather_main: Option[String],
    description: Option[String],
    base: Option[String],
    temp: Option[Double],
    feels_like: Option[Double],
    temp_min: Option[Double],
    temp_max: Option[Double],
    pressure: Option[Int],
    humidity: Option[Int],
    visibility: Option[Int],
    wind_speed: Option[Double],
    wind_deg: Option[Int],
    wind_gust: Option[Double],
    clouds_all: Option[Int],
    sunrise: Option[java.sql.Timestamp],
    sunset: Option[java.sql.Timestamp])
