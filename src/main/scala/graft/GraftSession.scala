package graft

import org.apache.spark.sql.SparkSession

/** The engine's single session factory and per-query run protocol.
  *
  * Every session the drivers (Bench, Verify, IngestMain), the dev tools
  * and the test suites open is configured here, so the conf the oracle
  * gate checks is the conf the bench times. Core count is the only thing
  * a caller varies: it sets `local[N]` and the shuffle partition count.
  *
  * Only settings that differ from Spark's defaults are listed. AQE
  * (runtime re-plan, skew-join handling, post-shuffle coalescing with
  * parallelism first at a 64 MiB advisory size) runs at Spark's defaults,
  * which GraftSessionSpec pins so an upgrade cannot flip them silently.
  */
object GraftSession {

  /** Cluster width: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Every setting the factory makes beyond master and shuffle partitions. */
  val settings: Map[String, String] = Map(
    // typed-Aggregator (udaf) partials run in ObjectHashAggregateExec,
    // whose default sort-based fallback triggers at 128 distinct keys —
    // far below any real group count, silently turning a hash partial
    // into a full sort of the input stream. 64 Ki keys keeps every
    // sketch/centroid aggregate hash-based at its actual group counts
    // while bounding worst-case partial-map memory: 2^16 keys × ~2 KiB
    // buffer (k=256-long bottom-k, the largest shipped) ≈ 128 MiB per
    // task — safe headroom, where the previous 2^20 admitted ~2 GiB
    // before the graceful sort fallback could engage
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    // results reproducible against any oracle engine
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Long sessions (a full bench/verify sweep) accumulate dead
    // cached/checkpointed blocks: the ContextCleaner only frees a
    // block once the driver GC collects the RDD handle, and a large,
    // mostly-idle driver heap can go tens of minutes between full
    // GCs — in local mode driver and executor share that heap, so
    // storage memory silently fills with garbage blocks and live
    // caches start evicting/spilling (the measured 3× run-to-run
    // spread on the graph tier). Spark's own knob for exactly this
    // ships at 30min; 90s bounds the garbage window to roughly one
    // query. On a real cluster this stays harmless: a periodic
    // System.gc() on an idle driver heap is microseconds.
    "spark.cleaner.periodicGC.interval" -> "90s",
    // Compiled generated classes live in one JVM-wide LRU cache,
    // `CodeGenerator.cache`, sized from this key once: when the
    // CodeGenerator object is first used. At Spark's 100 entries it
    // thrashes. One pass of the iterative graph family (pagerank, PPR,
    // label propagation, HITS, k-core) compiles 127 distinct classes,
    // and the first hourly weather ingest + dashboard pass 116 new ones
    // (perfbench, local[4]). Each pass uses its classes in the same
    // cyclic order, so LRU evicts every class before its next use, and
    // every warm pass recompiled 93 graph classes (76-104 weather) in
    // janino. 1000 holds about 8x the largest working set measured; the
    // larger cache raised perfbench's live-heap peak by 1-3 MiB. Because
    // the size is fixed at first use, no codegen may run in a JVM before
    // a factory session exists: GraftExtensionsSpec builds SharedSpark
    // before its own session for this reason too.
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    // graft SQL functions, as-of join, MERGE INTO lowering (graft.plans.SqlMerge)
    "spark.sql.extensions" -> "graft.plans.GraftExtensions")

  def builder(appName: String = "graft",
              cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(settings)

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Query-boundary reset, run between measured or verified queries:
    * release the query scope (`Lifecycle.releaseDeferred`: what
    * operators and `Dashboard.withFilters` held or wrote), then clear
    * any remaining SQL-cache entry, so no query substitutes an
    * earlier query's InMemoryTableScan for its own computation or runs
    * against the storage footprint earlier queries left behind. */
  def resetQueryState(spark: SparkSession): Unit = {
    graft.operators.Lifecycle.releaseDeferred(spark)
    spark.catalog.clearCache()
  }
}
