package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * Columnar parquet scans: Catalyst pushes predicates + prunes columns at
  * the scan, so callers should select/filter as early as possible and let
  * the optimizer do the rest. At 100 TB these become partitioned/ bucketed
  * table scans; the API surface (DataFrame in/out) is unchanged. Loading
  * runs no Spark job: the schema comes from a driver-side footer read
  * ([[FsUtil.readParquet]]), not from Spark's one-task inference job.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    FsUtil.readParquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet stores ts as TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read nanos as long and convert to a µs TimestampType
    * with integer division (DIV — ns epochs exceed double's exact range,
    * so no float path). The corpus has no sub-µs components, so the
    * conversion is lossless.
    *
    * The `nanosAsLong` legacy conf is applied only inside a throwaway
    * child session (`newSession` shares the SparkContext but has its own
    * SQLConf) to INFER the schema; the returned DataFrame is built on the
    * caller's session with that schema made explicit, which the reader
    * accepts without the conf. No caller-visible conf is mutated.
    */
  // ts-flavor schema inference memoized per path: the throwaway-session
  // footer read is driver-side work on EVERY events query (dozens per
  // bench/verify sweep over the same immutable file) — cache the result.
  // The corpus dirs are read-only fixtures, so staleness is not a thing;
  // a caller pointing at a rewritten path of the same name restarts the
  // JVM (tests and the driver both do).
  private val inferredSchemas =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    val inferred = inferredSchemas.computeIfAbsent(path, { p =>
      val iso = s.newSession()
      iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      iso.read.parquet(p).schema
    })
    val raw = s.read.schema(inferred).parquet(path)
    // nanos arrive as LongType under the inferred-as-long schema; a
    // µs-encoded events table (e.g. one this engine wrote) infers as a
    // timestamp directly (the conf only affects NANOS columns)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // a µs-encoded table written WITHOUT isAdjustedToUTC infers as
      // TIMESTAMP_NTZ; normalize to the session (UTC-pinned) instant
      // type so downstream unix_micros()/casts see one timestamp kind
      // regardless of which writer produced the file
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
