package graft.weather

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, greatest, lit, size, sum, when}

import graft.sources.MergeSink

/** The scheduled ingest pipeline — the engine equivalent of the
  * reference's `dags/etl.py main()` (SURVEY.md §3.1): fetch payloads →
  * flatten → upsert cities dim (DO UPDATE) + current_weather fact
  * (DO UPDATE on (city_id, dt)).
  *
  * The payload source is pluggable (S1 note in SURVEY.md §2.1): the same
  * pipeline runs from a canned fixture list, a directory of dropped JSON
  * files, or a distributed HTTP fetch stage ([[graft.sources.Http]]).
  * Nothing downstream changes because every stage is DataFrame→DataFrame.
  *
  * Storage is pluggable the same way ([[graft.sources.MergeSink]]): the
  * default is partition-pruned parquet — each run reads and rewrites only
  * the `p_date` partitions the batch touches, O(touched days) not
  * O(table) — and a JDBC database or transactional table format slots in
  * behind the same two merge calls.
  */
object Ingest {

  /** Payload source abstraction: yields raw JSON documents (one per
    * city-fetch). */
  trait PayloadSource {
    def fetch(spark: SparkSession): Dataset[String]
  }

  /** Driver-side canned payloads (the 14-row case — mirrors the
    * reference's sequential REST loop, minus the network). */
  final case class CannedSource(payloads: Seq[String]) extends PayloadSource {
    def fetch(spark: SparkSession): Dataset[String] = {
      import spark.implicits._
      spark.createDataset(payloads)
    }
  }

  /** Distributed file-drop source: payloads landed as one-JSON-per-line
    * files; scales to any volume (each executor parses its split). */
  final case class FileSource(dir: String) extends PayloadSource {
    def fetch(spark: SparkSession): Dataset[String] = {
      import spark.implicits._
      spark.read.textFile(dir)
    }
  }

  /** `bad` carries the gated-out documents (S3 gate: missing/non-200
    * `cod`, unparseable payloads) for quarantine — the DataFrame analogue
    * of the reference's failure log lines (etl.py logging, ST5). */
  final case class IngestResult(cities: DataFrame, fact: DataFrame,
                                okCount: Long, badCount: Long,
                                bad: DataFrame)

  /** Persist rejected documents to an append-only quarantine: the RAW
    * payload (the original bytes — an unparseable document must be
    * replayable after the parser is fixed, and re-serializing through the
    * declared schema would drop undeclared fields) plus an arrival stamp.
    * Append-only by design — each run adds its failures, nothing is
    * rewritten. Falls back to re-serializing `d` for frames built without
    * a raw column (e.g. the streaming file-drop path, where the source
    * already parsed). */
  def quarantine(bad: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val payload =
      if (bad.columns.contains("json")) col("json")
      else to_json(col("d"))
    bad.select(payload.as("payload"), current_timestamp().as("rejected_at"))
      .write.mode("append").parquet(path)
  }

  /** One batch run against parquet storage: parse → gate → flatten →
    * incremental merge into the stored dim and fact. Absent paths (first
    * run) start empty. */
  def run(spark: SparkSession, source: PayloadSource,
          citiesPath: String, factPath: String): IngestResult =
    runCurrent(spark, source,
      Store.ParquetSnapshotSink(citiesPath), Store.ParquetDateSink(factPath))

  /** Storage-agnostic variant: any [[MergeSink]] pair (parquet, JDBC, …). */
  def runCurrent(spark: SparkSession, source: PayloadSource,
                 citiesSink: MergeSink, factSink: MergeSink): IngestResult = {
    implicit val s: SparkSession = spark
    // cache the PARSED payloads: the counts, the bad channel and both
    // merges derive from them, and with an HTTP source an uncached
    // lineage would re-fetch every URL per downstream action — doubling
    // quota use and making the channels disagree under flaky endpoints.
    // The flattened rows are NOT cached: re-flattening a cached batch is
    // cheaper than the extra job a second cache's build costs.
    val parsed = Flatten.parseCurrent(source.fetch(spark)).cache()
    val (okCount, badCount, bad) = countAndQuarantine(parsed, lit(1))
    val wide = Flatten.flattenCurrent(parsed)

    citiesSink.mergeLastWins(Flatten.citiesDim(wide), Seq("city_id"))
    factSink.mergeLastWins(Flatten.currentFact(wide), Seq("city_id", "dt"))
    // both merges are synchronous writes and `bad` is materialized, so no
    // job of this call still reads the parse: no drain to wait out
    parsed.unpersist(blocking = false)
    IngestResult(citiesSink.read(spark), factSink.read(spark), okCount, badCount, bad)
  }

  /** One aggregate over the cached parse gives both counts: `okRows` is
    * the number of rows an ok document flattens to, and every other
    * document counts one bad. Bad documents are few by the gate's nature
    * and most batches have none, so `bad` is materialized (once, before
    * the cached source is released, so quarantine never re-executes the
    * fetch lineage) only when there is one; otherwise it is an empty
    * frame with the parse's schema. */
  private def countAndQuarantine(parsed: DataFrame, okRows: Column)
      : (Long, Long, DataFrame) = {
    val ok = Flatten.isOk
    val counts = parsed.agg(
      coalesce(sum(when(ok, okRows).otherwise(0)), lit(0L)),
      coalesce(sum(when(ok, 0).otherwise(1)), lit(0L))).head()
    val badCount = counts.getLong(1)
    val bad =
      if (badCount > 0) Flatten.badRecords(parsed).localCheckpoint(true)
      else parsed.sparkSession.createDataFrame(
        java.util.Collections.emptyList[Row](), parsed.schema)
    (counts.getLong(0), badCount, bad)
  }

  /** Forecast backfill (the notebook's §3.2 path): 40-entry fan-out per
    * city (P3 explode), upsert keyed (city_id, dt) — re-pulls refresh
    * forecasts for the same horizon (DO UPDATE). Also refreshes the
    * cities dim (the forecast payload carries the same city attributes
    * plus population). */
  def runForecast(spark: SparkSession, source: PayloadSource,
                  citiesPath: String, factPath: String): IngestResult =
    runForecastWith(spark, source,
      Store.ParquetSnapshotSink(citiesPath), Store.ParquetDateSink(factPath))

  def runForecastWith(spark: SparkSession, source: PayloadSource,
                      citiesSink: MergeSink, factSink: MergeSink): IngestResult = {
    implicit val s: SparkSession = spark
    // cached for the same single-fetch guarantee as runCurrent
    val parsed = Flatten.parseForecast(source.fetch(spark)).cache()
    // an ok document flattens to one row per `list` entry (explode), so
    // a null or empty list counts 0 (`size` of null is null or -1)
    val (okCount, badCount, bad) =
      countAndQuarantine(parsed, greatest(size(col("d.list")), lit(0)))
    val wide = Flatten.flattenForecast(parsed)

    citiesSink.mergeLastWins(Flatten.citiesDim(wide), Seq("city_id"))
    factSink.mergeLastWins(Flatten.forecastFact(wide), Seq("city_id", "dt"))
    parsed.unpersist(blocking = false) // no drain, as in runCurrent
    IngestResult(citiesSink.read(spark), factSink.read(spark), okCount, badCount, bad)
  }
}
