package graft.weather

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Lifecycle, Relational}

/** The dashboard query set Q1–Q6 (SURVEY.md §3.3) — the Looker-Studio
  * widgets' generated SQL re-expressed as parameterized DataFrame
  * programs. All take the fact (and dim where needed) as inputs plus
  * optional city/date filters (F3/F4); filters are plain Catalyst
  * predicates, so they push down to the parquet scan as data filters
  * (row-group statistics). Over a fact from [[Store.readFact]] the `dt`
  * window also prunes date partitions: `graft.plans.DatePartitionBounds`
  * derives `p_date >= date(from) - 1` and `p_date <= date(to) + 1` (the
  * day of slack covers the writer's time zone), so the slice opens only
  * the window's days. The window's literals reach generated code as
  * `graft.plans.ParamLiteral`s, so a moved window compiles no new class.
  */
object Dashboard {

  /** F3/F4, the filter controls: the one place a refresh reads the store.
    * The filtered slice is held in the query scope and filled at once
    * (jobs described `Dashboard.withFilters:slice`), so the widgets
    * over it read the cache: a snapshot taken at this call,
    * valid until the owner's boundary (`Lifecycle.releaseDeferred`).
    * A slice no larger than `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * comes back as one partition, which every widget's distribution
    * accepts: each plans no exchange and runs as one job (`cityMap`
    * adds its dim broadcast). A larger slice keeps its partitioning. */
  def withFilters(df: DataFrame, city: Option[String] = None,
                  from: Option[String] = None, to: Option[String] = None): DataFrame = {
    val slice = Seq(
      city.map(c => col("city_name") === lit(c)),
      from.map(f => col("dt") >= lit(f).cast("timestamp")),
      to.map(t => col("dt") <= lit(t).cast("timestamp"))
    ).flatten.foldLeft(df)(_ filter _)
    val bytes = Lifecycle.holdNow(slice, "Dashboard.withFilters:slice")
    val advisory = slice.queryExecution.sparkSession.sessionState.conf
      .getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (bytes <= advisory) slice.coalesce(1) else slice
  }

  /** Q1 (A7/W1): latest reading per city — "stores latest weather readings
    * per city" (README.md:66,111). */
  def latestPerCity(fact: DataFrame): DataFrame =
    Relational.latestPerKey(fact, Seq("city_id"), Seq(col("dt").desc))

  /** Q2–Q4 (A2–A4): the scorecard averages — humidity, pressure, wind. */
  def scorecards(fact: DataFrame): DataFrame =
    fact.agg(
      round(avg(col("humidity")), 4).as("avg_humidity"),
      round(avg(col("pressure")), 4).as("avg_pressure"),
      round(avg(col("wind_speed")), 4).as("avg_wind_speed"))

  /** Q5 (A5/O2): temperature time series by hour. */
  def temperatureByHour(fact: DataFrame): DataFrame =
    fact.groupBy(date_trunc("hour", col("dt")).as("hour"))
      .agg(round(avg(col("temp")), 4).as("avg_temp"))
      .orderBy("hour")

  /** Q6 (J1/A6): the map — latest temp per city joined to the broadcast
    * cities dim for name/coords, plus the min/max color scale. */
  def cityMap(fact: DataFrame, cities: DataFrame): DataFrame =
    latestPerCity(fact)
      .join(broadcast(cities), "city_id")
      .select("city_id", "city_name", "coord_lat", "coord_lon", "temp", "dt")
      .orderBy("city_id")

  def temperatureScale(fact: DataFrame): DataFrame =
    fact.agg(min(col("temp")).as("temp_min"), max(col("temp")).as("temp_max"))

  /** X6 compact scorecard display — the "1.0K"/"2.3M" number format the
    * reference dashboard renders on its record-count tiles
    * (README.md:109-111; Looker Studio's default compact numerals).
    * Pure Catalyst projection (conditional + format_number — codegen,
    * no UDF), presentation-only by SURVEY §2.11 convention: display
    * strings are locale-shaped, so they stay out of the DuckDB gate.
    *
    * One decimal place below 10 of a unit, none at/above (Looker's
    * shape: 1.0K, 9.9K, 10K, 456K, 1.2M); plain integers below 1000;
    * sign carried through.
    */
  def compactNumber(n: Column): Column = {
    val abs0 = abs(n.cast("double"))
    // Tier thresholds sit at the ROUNDING boundary (999.5·unit), not the
    // unit itself, so 999,999 renders "1.0M" — never the "1,000K" a
    // naive >=1e6 split would emit after format_number rounds up. Same
    // boundary logic picks the decimal count: one decimal only while the
    // 1-dp rounding stays below 10.0 (< 9.95 of a unit).
    def scaled(div: Double, suffix: String): Column =
      concat(
        when(abs0 / div < 9.95, format_number(n.cast("double") / div, 1))
          .otherwise(format_number(n.cast("double") / div, 0)),
        lit(suffix))
    when(n.isNull, lit(null).cast("string"))
      .when(abs0 >= 999.5e6, scaled(1e9, "B"))
      .when(abs0 >= 999.5e3, scaled(1e6, "M"))
      .when(abs0 >= 999.5, scaled(1e3, "K"))
      .otherwise(format_number(n.cast("double"), 0))
  }
}
