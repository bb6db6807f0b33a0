package graft.weather

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField}

import graft.operators.Relational
import graft.sources.{FsUtil, MergeSink}

/** Table maintenance for plain-parquet storage: the reference's two upsert
  * policies (SURVEY.md §2.1 S4/S5, §2.4 J2/J3) without a transactional
  * table format — dedup-merge + partition overwrite (§7.4 risk 1).
  *
  * Layout decisions (SURVEY.md §4): facts partitioned by `date(dt)`, so
  * a merge reads and rewrites only the days it touches; the cities dim is
  * tiny and unpartitioned (always broadcast in J1). The dashboard's `dt`
  * window prunes those partitions although [[readFact]] drops `p_date`:
  * the read names its `tsCol`, and `graft.plans.DatePartitionBounds`
  * derives `p_date` bounds from the window's `dt` bounds with one day of
  * slack each side (a writer's local date is at most a day from the UTC
  * date), which the scan takes as `PartitionFilters`. The `dt` bounds
  * stay data filters and decide which rows survive.
  *
  * Every read of a stored table goes through [[FsUtil.parquetTable]]: the
  * schema comes from one footer read on the driver, so a read launches
  * no Spark job (`spark.read.parquet` runs a one-task inference job).
  *
  * Scale posture: every fact merge is INCREMENTAL — the batch's touched
  * `p_date` set is computed first, only those partitions are read for the
  * merge, and dynamic partition overwrite rewrites only them. An hourly
  * upsert run is O(touched days), never O(table).
  */
object Store {

  /** ON CONFLICT DO UPDATE (last-write-wins, etl.py:71-76,97-114): merge
    * `updates` into `existing` keyed by `keys`; on conflict the update row
    * wins. Idempotent under replay: applying the same batch twice is a
    * no-op (ScalaTest property). */
  def upsertLastWins(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    Relational.lastWins(existing, updates, keys, lit(0))

  /** ON CONFLICT DO NOTHING (first-write-wins, notebook cell 19): existing
    * rows kept verbatim, only absent keys appended. */
  def upsertDoNothing(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(Relational.insertIfAbsent(updates, existing, keys))

  /** Write a fact table partitioned by event date with dynamic partition
    * overwrite: only the partitions present in `df` are replaced, and the
    * swap happens at job COMMIT (no upfront delete), so reading the same
    * table the write replaces is safe. The overwrite mode is a per-write
    * DataFrameWriter option — no session-global conf is touched.
    *
    * `distributeBy` spreads each day's rows over extra shuffle keys so a
    * large day is written by many tasks (AQE coalesces small batches back
    * to few); default keeps one shuffle partition per day. Rows are
    * SORTED by `distributeBy` within each write task: parquet row-group
    * min/max statistics then form tight, monotone key ranges, so point
    * and range lookups on those keys skip row groups at the scan — free
    * layout optimization paid once at write time with a per-task sort. */
  def writeFactPartitioned(df: DataFrame, path: String, tsCol: String = "dt",
                           distributeBy: Seq[Column] = Nil): Unit = {
    val dated = df.withColumn("p_date", to_date(col(tsCol)))
      .repartition(col("p_date") +: distributeBy: _*)
    val laidOut =
      if (distributeBy.nonEmpty)
        dated.sortWithinPartitions(col("p_date") +: distributeBy: _*)
      else dated
    laidOut.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_date")
      .mode("overwrite")
      .parquet(path)
  }

  private val pDate = StructField("p_date", DateType)

  /** The stored fact without its `p_date` column. Contract: `path` was
    * written by [[writeFactPartitioned]] (or a merge into it) with the
    * same `tsCol`, so `p_date = to_date(tsCol)` in the writer's session
    * time zone. The read marks its relation with `tsCol`, and a filter
    * that bounds `tsCol` by constants then prunes `p_date` partitions
    * (`graft.plans.DatePartitionBounds`). */
  def readFact(spark: SparkSession, path: String, tsCol: String = "dt"): DataFrame =
    FsUtil.readParquet(spark, path, Map(graft.plans.DatePartitionBounds.OptionKey -> tsCol), pDate)
      .drop("p_date")

  /** The distinct event dates an update batch touches — O(days in the
    * batch), bounded by the ingest cadence (an hourly run touches 1–2
    * days), never O(data). Each task keeps its partition's distinct
    * dates and the driver merges them: one job, no shuffle, and
    * O(partitions × days) rows collected. Bringing this tiny set to the
    * driver is the same move Delta's `replaceWhere` makes to build its
    * partition predicate. Null-`tsCol` rows surface as a null entry. */
  def touchedDates(updates: DataFrame, tsCol: String = "dt"): Seq[java.sql.Date] =
    updates.select(to_date(col(tsCol))).as(Encoders.DATE)
      .mapPartitions(_.toSet.iterator)(Encoders.DATE)
      .collect().distinct.toSeq

  /** The stored fact restricted to the given `p_date` partitions — the
    * `isin` predicate is a static partition filter, so the scan lists and
    * reads ONLY those partitions' files. */
  def prunedFact(spark: SparkSession, path: String,
                 dates: Seq[java.sql.Date]): DataFrame =
    pruned(FsUtil.readParquet(spark, path, pDate), dates)

  private def pruned(stored: DataFrame, dates: Seq[java.sql.Date]): DataFrame = {
    val (nulls, real) = dates.partition(_ == null)
    val realPred = col("p_date").isin(real.map(d => lit(d)): _*)
    val pred = if (nulls.nonEmpty) realPred || col("p_date").isNull else realPred
    stored.where(pred).drop("p_date")
  }

  /** Incremental MERGE (DO UPDATE) into a date-partitioned parquet fact:
    * read ONLY the partitions the batch touches, merge, rewrite only
    * those. Untouched partitions are neither read nor written — their
    * files stay byte-identical (asserted in StoreSpec). */
  def mergeFactLastWins(updates: DataFrame, path: String, keys: Seq[String],
                        tsCol: String = "dt"): Unit =
    mergeFact(updates, path, keys, tsCol, lastWins = true)

  /** Incremental MERGE (DO NOTHING) into a date-partitioned parquet fact:
    * same partition pruning, first-write-wins within the touched days. */
  def mergeFactIfAbsent(updates: DataFrame, path: String, keys: Seq[String],
                        tsCol: String = "dt"): Unit =
    mergeFact(updates, path, keys, tsCol, lastWins = false)

  private def mergeFact(updates: DataFrame, path: String, keys: Seq[String],
                        tsCol: String, lastWins: Boolean): Unit = {
    // the partition key must be PART of the merge key: if a batch could
    // move a key's tsCol to another date, the old date's partition is
    // never read and a stale copy of the key would survive — loud
    // failure here beats silent duplicate keys (use ParquetSnapshotSink
    // for merge keys that don't pin the date). The dedicated decline
    // type lets the SQL MERGE lowering fall back to a full rewrite on
    // exactly this condition and nothing else.
    if (!keys.contains(tsCol)) throw new graft.sources.IncrementalMergeDeclined(
      s"date-partitioned merge keys $keys must include the partition timestamp '$tsCol'")
    FsUtil.parquetTable(updates.sparkSession, path, pDate) match {
      case None =>
        writeFactPartitioned(updates.dropDuplicates(keys), path, tsCol, keys.map(col))
      case Some(stored) =>
        val dates = touchedDates(updates, tsCol)
        // an empty batch has nothing to merge and nothing to rewrite
        if (dates.nonEmpty) {
          // the STORED schema, not the batch's: a stored table that lacks
          // a batch column fails here, loudly, instead of reading as nulls
          val existing = pruned(stored, dates).select(updates.columns.map(col).toIndexedSeq: _*)
          writeFactPartitioned(mergeBatch(existing, updates, keys, lastWins),
            path, tsCol, keys.map(col))
        }
    }
  }

  /** One merge policy over the stored rows, with every path seeing one
    * batch row per key: the DO UPDATE window keeps one row per key by
    * itself, so only DO NOTHING collapses within-batch duplicates first
    * (its anti-join would append both). That spares DO UPDATE a dedup
    * exchange. */
  private def mergeBatch(existing: DataFrame, updates: DataFrame, keys: Seq[String],
                         lastWins: Boolean): DataFrame =
    if (lastWins) upsertLastWins(existing, updates, keys)
    else upsertDoNothing(existing, updates.dropDuplicates(keys), keys)

  /** Date-partitioned parquet [[MergeSink]] — the default fact backend.
    * Merges are partition-pruned and incremental (see mergeFact*).
    *
    * Durability contract: SINGLE WRITER, and not crash-atomic — dynamic
    * partition overwrite commits per partition, so a writer killed
    * mid-merge across several touched dates can leave some dates
    * rewritten and others not (each individual date stays consistent).
    * Replaying the batch repairs the table (merges are idempotent), so
    * this sink suits schedulers that re-run failed jobs. When torn
    * multi-date states are unacceptable mid-crash, use
    * [[graft.sources.TxnParquet.TxnParquetSink]] — same incremental
    * merge behind an atomic manifest swap. */
  final case class ParquetDateSink(path: String, tsCol: String = "dt")
      extends graft.sources.DatePartitionedSink {
    def mergeLastWins(updates: DataFrame, keys: Seq[String]): Unit =
      mergeFactLastWins(updates, path, keys, tsCol)
    def mergeIfAbsent(updates: DataFrame, keys: Seq[String]): Unit =
      mergeFactIfAbsent(updates, path, keys, tsCol)
    def read(spark: SparkSession): DataFrame = readFact(spark, path, tsCol)

    /** Full rewrite (general MERGE write-back): STATIC overwrite so
      * partitions absent from `merged` (fully-deleted days) disappear —
      * dynamic mode would leave them stale. Materialized first because a
      * static overwrite deletes the target before the write job could
      * scan it. */
    override def overwriteAll(merged: DataFrame): Unit =
      merged.localCheckpoint(true)
        .withColumn("p_date", to_date(col(tsCol)))
        .repartition(col("p_date"))
        .write.partitionBy("p_date").mode("overwrite").parquet(path)

    def prunedRead(spark: SparkSession, dates: Seq[java.sql.Date]): DataFrame =
      prunedFact(spark, path, dates)

    /** Replace EXACTLY `dates` with `kept`: dynamic partition overwrite
      * rewrites the dates present in `kept` (commit-time swap, so the
      * self-read is safe), and dates the operation EMPTIED — which
      * dynamic mode would silently leave stale — have their partition
      * directories deleted explicitly. O(touched dates); untouched
      * partitions' files stay byte-identical. NOT crash-atomic across
      * several dates (the documented ParquetDateSink durability trade —
      * use TxnParquetSink when torn multi-date states are unacceptable). */
    def replaceDates(dates: Seq[java.sql.Date], kept: DataFrame): Unit = {
      require(dates.nonEmpty, "replaceDates needs at least one date")
      val spark = kept.sparkSession
      // the emptied-date set needs the kept dates ANYWAY; localCheckpoint
      // the kept frame once so the dates pass and the write share the scan
      val k = kept.localCheckpoint(true)
      val present = touchedDates(k, tsCol)
      val stray = present.filterNot(dates.contains)
      require(stray.isEmpty,
        s"ParquetDateSink.replaceDates: kept rows carry dates " +
          s"${stray.mkString(", ")} outside the replaced set")
      if (present.nonEmpty) writeFactPartitioned(k, path, tsCol)
      val emptied = dates.filterNot(present.contains)
      if (emptied.nonEmpty) {
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        emptied.foreach { d =>
          val dir = if (d == null) "__HIVE_DEFAULT_PARTITION__" else d.toString
          fs.delete(new org.apache.hadoop.fs.Path(root, s"p_date=$dir"), true)
        }
      }
    }
  }

  /** Unpartitioned snapshot [[MergeSink]] for SMALL dimension tables
    * (cities): full merge + atomic snapshot rewrite, O(dim) per run.
    *
    * The merged frame is materialized (localCheckpoint) BEFORE the
    * overwrite: a static-mode overwrite deletes the target before the
    * write job scans it, so writing a plan that still reads those files
    * fails with FILE_NOT_EXIST (or worse, races). Severing the lineage
    * first makes the read-modify-overwrite safe. */
  final case class ParquetSnapshotSink(path: String) extends MergeSink {
    def mergeLastWins(updates: DataFrame, keys: Seq[String]): Unit =
      write(merge(updates, keys, lastWins = true))
    def mergeIfAbsent(updates: DataFrame, keys: Seq[String]): Unit =
      write(merge(updates, keys, lastWins = false))
    def read(spark: SparkSession): DataFrame = FsUtil.readParquet(spark, path)

    /** Full rewrite (general MERGE write-back) — same materialize-then-
      * overwrite as every other write through this sink. */
    override def overwriteAll(merged: DataFrame): Unit = write(merged)

    private def merge(updates: DataFrame, keys: Seq[String], lastWins: Boolean): DataFrame =
      FsUtil.parquetTable(updates.sparkSession, path) match {
        // stored schema, as in mergeFact: a missing batch column fails
        case Some(stored) =>
          mergeBatch(stored.select(updates.columns.map(col).toIndexedSeq: _*), updates, keys, lastWins)
        case None => updates.dropDuplicates(keys)
      }
    private def write(merged: DataFrame): Unit =
      merged.localCheckpoint(true).write.mode("overwrite").parquet(path)
  }

  /** Small-file maintenance for a date-partitioned table: rewrite ONLY the
    * partitions holding more than `maxFiles` data files, one output file
    * per day after compaction. Long-running ingest and append channels
    * accumulate files; at scale, file count drives scan task count and
    * NameNode/listing pressure, so periodic compaction is part of the
    * table's lifecycle. Partitions within budget are untouched (dynamic
    * overwrite), and the self-read is safe (commit-time swap). */
  def compactFact(spark: SparkSession, path: String, maxFiles: Int = 8): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val offenders = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_date="))
      .filter { dir =>
        fs.listStatus(dir.getPath).count { f =>
          f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")
        } > maxFiles
      }
      .map(_.getPath.getName.stripPrefix("p_date="))
    if (offenders.isEmpty) return Nil
    // the null-date partition surfaces as the Hive default sentinel — it
    // is a legal partition (null-tsCol rows) and must compact too, via an
    // isNull predicate rather than an unparseable Date literal
    val (sentinel, realDays) =
      offenders.partition(_ == "__HIVE_DEFAULT_PARTITION__")
    val realPred = col("p_date").isin(realDays.map(d => lit(java.sql.Date.valueOf(d))): _*)
    val pred = if (sentinel.nonEmpty) realPred || col("p_date").isNull else realPred
    FsUtil.readParquet(spark, path, pDate)
      .where(pred)
      .repartition(col("p_date")) // one task → one file per compacted day
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_date")
      .mode("overwrite")
      .parquet(path)
    offenders
  }

  /** Compact an unpartitioned append-only channel (e.g. the ingest
    * quarantine) down to `targetFiles` files. Materializes before the
    * overwrite (same lineage rule as ParquetSnapshotSink) — intended for
    * small operational tables, not facts. A channel that was never
    * written (no rejects yet) is a no-op, like compactFact. */
  def compactSnapshot(spark: SparkSession, path: String, targetFiles: Int = 1): Unit =
    FsUtil.parquetTable(spark, path).foreach(_.localCheckpoint(true)
      .coalesce(targetFiles).write.mode("overwrite").parquet(path))

  /** Bucketed table write: pre-shuffles once at write time so every
    * subsequent equi-join/aggregation on `bucketCol` between co-bucketed
    * tables runs with NO exchange — the classic amortization for fact⋈fact
    * joins that repeat across a workload (SURVEY.md §4: "repartition/
    * bucketing for co-located joins"). Requires a session catalog
    * (saveAsTable); bucket counts must match across join partners.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** FK-style referential check (S7: Spark enforces no constraints — this
    * is the validation-job equivalent): fact rows whose key is missing
    * from the dimension. Empty result = constraint holds. */
  def orphanedFacts(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    fact.join(dim.select(col(key)).distinct(), Seq(key), "left_anti")

  /** ON DELETE CASCADE as a maintenance job: remove dim rows by predicate
    * and return (newDim, newFact) with the cascade applied. */
  def cascadeDelete(dim: DataFrame, fact: DataFrame, key: String,
                    deletePredicate: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    val keepDim = dim.filter(!deletePredicate)
    val keepFact = fact.join(keepDim.select(col(key)).distinct(), Seq(key), "left_semi")
    (keepDim, keepFact)
  }
}
