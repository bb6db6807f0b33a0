package graft.weather

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Upsert-policy divergence + idempotence (SURVEY.md §5.3, FIXTURES.md §2:
  * "same (city_id, dt) twice with changed temp — DO UPDATE keeps the new
  * value, DO NOTHING keeps the old"). */
class StoreSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def existing = Seq((1L, "2025-11-26 04:00:00", 22.0), (2L, "2025-11-26 04:00:00", 25.0))
    .toDF("city_id", "dt", "temp")
  def batch = Seq((1L, "2025-11-26 04:00:00", 99.0), (3L, "2025-11-26 04:00:00", 30.0))
    .toDF("city_id", "dt", "temp")
  val keys = Seq("city_id", "dt")

  test("DO UPDATE keeps the new value (etl.py:97-114)") {
    val m = Store.upsertLastWins(existing, batch, keys)
    assert(m.count() === 3)
    assert(m.filter($"city_id" === 1L).head().getAs[Double]("temp") === 99.0)
    assert(m.filter($"city_id" === 3L).head().getAs[Double]("temp") === 30.0)
  }

  test("DO NOTHING keeps the old value (notebook cell 19)") {
    val m = Store.upsertDoNothing(existing, batch, keys)
    assert(m.count() === 3)
    assert(m.filter($"city_id" === 1L).head().getAs[Double]("temp") === 22.0)
    assert(m.filter($"city_id" === 3L).head().getAs[Double]("temp") === 30.0)
  }

  test("upsert is idempotent under replay (ST2: re-runs are no-ops)") {
    val once  = Store.upsertLastWins(existing, batch, keys)
    val twice = Store.upsertLastWins(once, batch, keys)
    assert(twice.exceptAll(once).count() === 0)
    assert(once.exceptAll(twice).count() === 0)
  }

  test("orphanedFacts flags FK violations; cascadeDelete removes them (S7)") {
    val dim = Seq((1L, "Hanoi"), (2L, "Hue")).toDF("city_id", "city_name")
    val fact = Seq((1L, 22.0), (2L, 25.0), (9L, 0.0)).toDF("city_id", "temp")
    assert(Store.orphanedFacts(fact, dim, "city_id").select("city_id").head().getLong(0) === 9L)
    val (d2, f2) = Store.cascadeDelete(dim, fact, "city_id", col("city_name") === "Hue")
    assert(d2.count() === 1)
    assert(f2.select("city_id").as[Long].collect().toSet === Set(1L))
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def partFiles(dir: String, day: String): Map[String, (Long, String)] = {
    val p = java.nio.file.Paths.get(dir, s"p_date=$day")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(p).iterator().asScala
      .filter(f => f.getFileName.toString.startsWith("part-"))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f)
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
        f.getFileName.toString ->
          (java.nio.file.Files.getLastModifiedTime(f).toMillis, md5)
      }.toMap
  }

  test("incremental merge: untouched partitions stay byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val initial = Seq(
      (1L, ts("2025-11-26 04:00:00"), 22.0), (2L, ts("2025-11-26 05:00:00"), 23.0),
      (1L, ts("2025-11-27 04:00:00"), 24.0)).toDF("city_id", "dt", "temp")
    Store.mergeFactLastWins(initial, dir, keys)
    val day1Before = partFiles(dir, "2025-11-26")
    assert(day1Before.nonEmpty)

    // upsert one day-2 correction + one new day-2 row
    val batch = Seq(
      (1L, ts("2025-11-27 04:00:00"), 99.0), (3L, ts("2025-11-27 06:00:00"), 30.0))
      .toDF("city_id", "dt", "temp")
    Store.mergeFactLastWins(batch, dir, keys)

    // day-1 partition: same file names, mtimes, and content hashes
    assert(partFiles(dir, "2025-11-26") === day1Before)
    // merged table correct: day-1 rows intact, day-2 corrected + appended
    val back = Store.readFact(spark, dir).orderBy("dt", "city_id")
      .select("city_id", "temp").as[(Long, Double)].collect().toSeq
    assert(back === Seq((1L, 22.0), (2L, 23.0), (1L, 99.0), (3L, 30.0)))
  }

  test("a store under a '_'-prefixed directory keeps other rows of a merged date") {
    // FsUtil.hasData once compared qualified file paths against the
    // unqualified root, walked past it, and took the hidden ancestor
    // for a hidden table: every merge then overwrote the touched date
    // with the batch alone
    val parent = java.nio.file.Files.createTempDirectory("_graft_hidden")
    val dir = parent.resolve("fact").toString // plain path, no scheme
    Store.mergeFactLastWins(Seq(
      (1L, ts("2025-11-26 04:00:00"), 22.0),
      (2L, ts("2025-11-26 05:00:00"), 23.0)).toDF("city_id", "dt", "temp"),
      dir, keys)
    assert(graft.sources.FsUtil.hasData(spark, dir))
    Store.mergeFactLastWins(Seq(
      (1L, ts("2025-11-26 04:00:00"), 99.0)).toDF("city_id", "dt", "temp"),
      dir, keys)
    val back = Store.readFact(spark, dir).orderBy("dt", "city_id")
      .select("city_id", "temp").as[(Long, Double)].collect().toSeq
    assert(back === Seq((1L, 99.0), (2L, 23.0)))
  }

  test("prunedFact reads only the requested partitions' files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val rows = Seq(
      (1L, ts("2025-11-26 04:00:00"), 22.0), (1L, ts("2025-11-27 04:00:00"), 24.0),
      (1L, ts("2025-11-28 04:00:00"), 26.0)).toDF("city_id", "dt", "temp")
    Store.writeFactPartitioned(rows, dir)
    val scanned = Store.prunedFact(spark, dir, Seq(java.sql.Date.valueOf("2025-11-27")))
      .select(input_file_name().as("f")).distinct().as[String].collect()
    assert(scanned.nonEmpty && scanned.forall(_.contains("p_date=2025-11-27")))
  }

  test("mergeFactIfAbsent: existing keys keep old values, absent keys append") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ifabs").toString
    Store.mergeFactIfAbsent(
      Seq((1L, ts("2025-11-26 04:00:00"), 22.0)).toDF("city_id", "dt", "temp"), dir, keys)
    Store.mergeFactIfAbsent(Seq(
      (1L, ts("2025-11-26 04:00:00"), 99.0), // conflict: must keep 22.0
      (2L, ts("2025-11-26 04:00:00"), 30.0)).toDF("city_id", "dt", "temp"), dir, keys)
    val back = Store.readFact(spark, dir).orderBy("city_id")
      .select("temp").as[Double].collect().toSeq
    assert(back === Seq(22.0, 30.0))
  }

  test("DO NOTHING merge into an EXISTING table also collapses batch duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ifabs_dup").toString
    Store.mergeFactIfAbsent(
      Seq((9L, ts("2025-11-26 04:00:00"), 1.0)).toDF("city_id", "dt", "temp"), dir, keys)
    // batch duplicates an ABSENT key twice — exactly one row may append
    Store.mergeFactIfAbsent(Seq(
      (1L, ts("2025-11-26 04:00:00"), 22.0),
      (1L, ts("2025-11-26 04:00:00"), 23.0)).toDF("city_id", "dt", "temp"), dir, keys)
    assert(Store.readFact(spark, dir).filter($"city_id" === 1L).count() === 1)
  }

  test("date-partitioned merge refuses keys that don't pin the partition date") {
    val dir = java.nio.file.Files.createTempDirectory("graft_badkeys").toString
    intercept[IllegalArgumentException] {
      Store.mergeFactLastWins(
        Seq((1L, ts("2025-11-26 04:00:00"), 22.0)).toDF("city_id", "dt", "temp"),
        dir, Seq("city_id")) // dt missing from keys → stale-copy hazard
    }
  }

  test("first write into an empty fact collapses within-batch duplicate keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft_firstdup").toString
    Store.mergeFactLastWins(Seq(
      (1L, ts("2025-11-26 04:00:00"), 22.0),
      (1L, ts("2025-11-26 04:00:00"), 23.0)).toDF("city_id", "dt", "temp"), dir, keys)
    assert(Store.readFact(spark, dir).count() === 1)
    val snap = Store.ParquetSnapshotSink(
      java.nio.file.Files.createTempDirectory("graft_firstdup2").toString)
    snap.mergeLastWins(Seq((1L, "A"), (1L, "B")).toDF("city_id", "name"), Seq("city_id"))
    assert(snap.read(spark).count() === 1)
  }

  test("ParquetSnapshotSink: keys absent from a batch survive the rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val sink = Store.ParquetSnapshotSink(dir)
    sink.mergeLastWins(Seq((1L, "Hanoi"), (2L, "Hue")).toDF("city_id", "name"), Seq("city_id"))
    // second batch misses city 1 entirely — the merge must not drop it
    sink.mergeLastWins(Seq((2L, "Hue2"), (3L, "Danang")).toDF("city_id", "name"), Seq("city_id"))
    val back = sink.read(spark).orderBy("city_id")
      .select("city_id", "name").as[(Long, String)].collect().toSeq
    assert(back === Seq((1L, "Hanoi"), (2L, "Hue2"), (3L, "Danang")))
  }

  test("compactFact rewrites only the many-file partitions; data identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // day1: many small files via appends; day2: single clean file
    (1 to 10).foreach { i =>
      Seq((i.toLong, ts("2025-11-26 04:00:00"), i.toDouble))
        .toDF("city_id", "dt", "temp")
        .withColumn("p_date", to_date($"dt"))
        .write.partitionBy("p_date").mode("append").parquet(dir)
    }
    Seq((1L, ts("2025-11-27 04:00:00"), 50.0)).toDF("city_id", "dt", "temp")
      .withColumn("p_date", to_date($"dt"))
      .write.partitionBy("p_date").mode("append").parquet(dir)

    val day2Before = partFiles(dir, "2025-11-27")
    val before = Store.readFact(spark, dir).orderBy("city_id", "dt")
      .collect().map(_.toString).toSeq
    assert(partFiles(dir, "2025-11-26").size === 10)

    val compacted = Store.compactFact(spark, dir, maxFiles = 8)
    assert(compacted === Seq("2025-11-26"))
    assert(partFiles(dir, "2025-11-26").size === 1)
    assert(partFiles(dir, "2025-11-27") === day2Before) // untouched
    val after = Store.readFact(spark, dir).orderBy("city_id", "dt")
      .collect().map(_.toString).toSeq
    assert(after === before)

    // second pass: nothing over budget, nothing rewritten
    assert(Store.compactFact(spark, dir, maxFiles = 8) === Nil)
  }

  test("compactSnapshot collapses an append-only channel to one file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compsnap").toString
    (1 to 5).foreach { i =>
      Seq((i.toLong, s"payload$i")).toDF("id", "payload")
        .write.mode("append").parquet(dir)
    }
    Store.compactSnapshot(spark, dir)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator()
    import scala.jdk.CollectionConverters._
    assert(files.asScala.count(_.getFileName.toString.startsWith("part-")) === 1)
    assert(spark.read.parquet(dir).count() === 5)
  }

  test("merged facts are written key-sorted within files (row-group pruning layout)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    // write through the merge path (which passes keys as distributeBy),
    // with ids deliberately shuffled in the input
    val rows = Seq(5L, 1L, 4L, 2L, 3L, 9L, 7L, 6L, 8L, 0L)
      .map(i => (i, ts("2025-11-26 04:00:00"), i.toDouble))
      .toDF("city_id", "dt", "temp")
    Store.mergeFactLastWins(rows, dir, keys)
    // each data file must be internally sorted by the merge keys
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "p_date=2025-11-26"))
      .iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }
      .map(_.toString).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.parquet(f).select("city_id").as[Long].collect().toSeq
      assert(ids === ids.sorted, s"file $f not key-sorted: $ids")
    }
  }

  test("jobless schema read equals Spark's inferred schema") {
    val factDir = java.nio.file.Files.createTempDirectory("graft_schema_fact").toString
    Store.mergeFactLastWins(Seq(
      (1L, ts("2025-11-26 04:00:00"), 22.0), (2L, ts("2025-11-27 05:00:00"), 23.0),
      (3L, null, 24.0)).toDF("city_id", "dt", "temp"), factDir, keys)
    assert(graft.sources.FsUtil.readParquet(spark, factDir,
      org.apache.spark.sql.types.StructField("p_date", org.apache.spark.sql.types.DateType)).schema
      === spark.read.parquet(factDir).schema)
    assert(Store.readFact(spark, factDir).schema === spark.read.parquet(factDir).drop("p_date").schema)

    val citiesDir = java.nio.file.Files.createTempDirectory("graft_schema_dim").toString
    val sink = Store.ParquetSnapshotSink(citiesDir)
    sink.mergeLastWins(Seq((1L, "Hanoi", 21.0)).toDF("city_id", "city_name", "coord_lat"),
      Seq("city_id"))
    assert(sink.read(spark).schema === spark.read.parquet(citiesDir).schema)

    // written by another engine: no Spark schema in the footer metadata
    Seq("orders", "lineitem").foreach { t =>
      assert(graft.sources.Tables.load(spark, SharedSpark.sf0001, t).schema
        === spark.read.parquet(s"${SharedSpark.sf0001}/$t.parquet").schema, t)
    }
    // none of these reads launches a Spark job (inference runs one each)
    assert(org.apache.spark.graft.JobCount(spark.sparkContext) {
      Store.readFact(spark, factDir); sink.read(spark)
      graft.sources.Tables.load(spark, SharedSpark.sf0001, "orders")
    } === 0)
    // a path without data fails as spark.read.parquet does
    val empty = java.nio.file.Files.createTempDirectory("graft_schema_empty").toString
    intercept[org.apache.spark.sql.AnalysisException](Store.readFact(spark, empty))
    intercept[org.apache.spark.sql.AnalysisException](Store.readFact(spark, s"$empty/absent"))
  }

  test("a merge into a stored table that lacks a batch column fails loudly") {
    val wider = Seq((1L, ts("2025-11-26 04:00:00"), 99.0, 40))
      .toDF("city_id", "dt", "temp", "humidity")
    val factDir = java.nio.file.Files.createTempDirectory("graft_narrow_fact").toString
    Store.mergeFactLastWins(
      Seq((1L, ts("2025-11-26 04:00:00"), 22.0)).toDF("city_id", "dt", "temp"), factDir, keys)
    intercept[org.apache.spark.sql.AnalysisException] {
      Store.mergeFactLastWins(wider, factDir, keys)
    }
    val snap = Store.ParquetSnapshotSink(
      java.nio.file.Files.createTempDirectory("graft_narrow_dim").toString)
    snap.mergeLastWins(Seq((1L, "Hanoi")).toDF("city_id", "name"), Seq("city_id"))
    intercept[org.apache.spark.sql.AnalysisException] {
      snap.mergeLastWins(Seq((1L, "Hanoi", 21.0)).toDF("city_id", "name", "lat"), Seq("city_id"))
    }
  }

  test("DO UPDATE into an existing table writes one row for a key duplicated in the batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dup_update").toString
    Store.mergeFactLastWins(Seq(
      (1L, ts("2025-11-26 04:00:00"), 22.0), (2L, ts("2025-11-26 04:00:00"), 23.0))
      .toDF("city_id", "dt", "temp"), dir, keys)
    Store.mergeFactLastWins(Seq(
      (1L, ts("2025-11-26 04:00:00"), 50.0), (1L, ts("2025-11-26 04:00:00"), 51.0),
      (3L, ts("2025-11-26 04:00:00"), 30.0), (3L, ts("2025-11-26 04:00:00"), 31.0))
      .toDF("city_id", "dt", "temp"), dir, keys)
    val back = Store.readFact(spark, dir).select("city_id", "temp").as[(Long, Double)].collect()
    assert(back.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L))
    assert(Set(50.0, 51.0).contains(back.find(_._1 == 1L).get._2))

    val snap = Store.ParquetSnapshotSink(
      java.nio.file.Files.createTempDirectory("graft_dup_update_dim").toString)
    snap.mergeLastWins(Seq((1L, "A"), (2L, "B")).toDF("city_id", "name"), Seq("city_id"))
    snap.mergeLastWins(Seq((1L, "C"), (1L, "D")).toDF("city_id", "name"), Seq("city_id"))
    val dim = snap.read(spark).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(dim.map(_._1) === Seq(1L, 2L) && Set("C", "D").contains(dim.head._2))
  }

  test("touchedDates: the distinct dates over every partition, null included") {
    val rows = Seq(
      (1L, ts("2025-11-26 04:00:00")), (2L, ts("2025-11-26 05:00:00")),
      (3L, ts("2025-11-27 04:00:00")), (4L, null), (5L, ts("2025-11-26 06:00:00")))
      .toDF("city_id", "dt").repartition(3)
    val got = Store.touchedDates(rows)
    assert(got.size === 3)
    assert(got.toSet === Set(java.sql.Date.valueOf("2025-11-26"),
      java.sql.Date.valueOf("2025-11-27"), null))
  }

  test("library writes/reads leave session confs untouched (hygiene)") {
    val overwriteBefore = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    val dir = java.nio.file.Files.createTempDirectory("graft_conf").toString
    Store.writeFactPartitioned(
      Seq((1L, ts("2025-11-26 04:00:00"), 22.0)).toDF("city_id", "dt", "temp"), dir)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") === overwriteBefore)

    def nanosConf = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    assert(!nanosConf.contains("true"))
    val ev = graft.sources.Tables.events(spark, graft.SharedSpark.sf0001)
    assert(ev.count() > 0)
    assert(ev.schema("ts").dataType.typeName === "timestamp")
    assert(!nanosConf.contains("true"))
  }

  test("partitioned fact write: dynamic overwrite touches only present dates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fact").toString
    val day1 = Seq((1L, java.sql.Timestamp.valueOf("2025-11-26 04:00:00"), 22.0))
      .toDF("city_id", "dt", "temp")
    val day2 = Seq((1L, java.sql.Timestamp.valueOf("2025-11-27 04:00:00"), 23.0))
      .toDF("city_id", "dt", "temp")
    Store.writeFactPartitioned(day1.unionByName(day2), dir)
    // overwrite day2 only; day1 partition must survive
    val day2v2 = Seq((1L, java.sql.Timestamp.valueOf("2025-11-27 04:00:00"), 99.0))
      .toDF("city_id", "dt", "temp")
    Store.writeFactPartitioned(day2v2, dir)
    val back = Store.readFact(spark, dir).orderBy("dt")
      .select("temp").as[Double].collect().toSeq
    assert(back === Seq(22.0, 99.0))
  }

  /** `q` over the window-marked read of a stored fact: its one scan in
    * the final plan, its rows, and the rows of `q` over a plain read of
    * the same files (no derived bounds). Over `Dashboard.withFilters`
    * the scan ran in the held slice's cached plan, so it is found there. */
  private def windowed(path: String, q: DataFrame => DataFrame, tsCol: String = "dt")
      : (FileSourceScanExec, Seq[String], Seq[String]) = {
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toString).sorted
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    }.flatten
    val df = q(Store.readFact(spark, path, tsCol))
    val got = rows(df)
    val Seq(scan) = scans(df.queryExecution.executedPlan)
    (scan, got, rows(q(spark.read.parquet(path).drop("p_date"))))
  }
  private def pDateBounded(scan: FileSourceScanExec): Boolean =
    scan.partitionFilters.exists(f => f.references.exists(_.name == "p_date") &&
      !f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull])
  private def numFiles(scan: FileSourceScanExec): Long = scan.metrics("numFiles").value
  private def instant(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  test("a dt window prunes p_date partitions: strict, non-strict, flipped and equal bounds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_window").toString
    // 14 daily partitions, a reading every 6 h for two cities, and a
    // null-dt row in the null partition: 15 files
    val t0 = instant("2025-01-01T00:00:00Z").getTime
    val rows = (for (h <- 0 until 14 * 24 by 6; c <- 1L to 2L)
      yield (c, new java.sql.Timestamp(t0 + h * 3600000L), h + c * 0.5, h % 50, 1000 + h % 9, c * 1.5)) :+
      ((3L, null, 1.0, 1, 1, 1.0))
    Store.writeFactPartitioned(
      rows.toDF("city_id", "dt", "temp", "humidity", "pressure", "wind_speed"), dir)

    val t = (s: String) => lit(s).cast("timestamp")
    val cases = Seq[(String, DataFrame => DataFrame, Seq[String], Int)](
      ("non-strict window", f => Dashboard.scorecards(Dashboard.withFilters(f,
        from = Some("2025-01-05 00:00:00"), to = Some("2025-01-07 18:00:00"))),
        Seq("GreaterThanOrEqual(dt,", "LessThanOrEqual(dt,"), 6),
      ("strict window", f => Dashboard.temperatureByHour(
        f.where(col("dt") > t("2025-01-05 00:00:00") && col("dt") < t("2025-01-07 18:00:00"))),
        Seq("GreaterThan(dt,", "LessThan(dt,"), 6),
      ("flipped operands", f => Dashboard.scorecards(
        f.where(t("2025-01-05 00:00:00") <= col("dt") && t("2025-01-07 18:00:00") > col("dt"))),
        Seq("GreaterThanOrEqual(dt,", "LessThan(dt,"), 6),
      ("dt = x", f => f.where(col("dt") === t("2025-01-06 06:00:00")),
        Seq("EqualTo(dt,"), 3),
      ("window ending at midnight", f => Dashboard.temperatureByHour(Dashboard.withFilters(f,
        from = Some("2025-01-05 00:00:00"), to = Some("2025-01-07 00:00:00"))),
        Seq("GreaterThanOrEqual(dt,", "LessThanOrEqual(dt,"), 5))
    cases.foreach { case (name, q, pushed, maxFiles) =>
      val (scan, got, want) = windowed(dir, q)
      assert(got === want, name)
      assert(got.nonEmpty, name)
      assert(pDateBounded(scan), s"$name: ${scan.partitionFilters}")
      assert(numFiles(scan) <= maxFiles, name)
      pushed.foreach(p => assert(scan.metadata("PushedFilters").contains(p), s"$name: $p"))
    }
    // `dt <= to` at exact midnight keeps the midnight readings
    val (_, midnight, _) = windowed(dir, f => Dashboard.withFilters(f,
      from = Some("2025-01-05 00:00:00"), to = Some("2025-01-07 00:00:00")).select("dt"))
    assert(midnight.last === "[2025-01-07 00:00:00.0]" && midnight.size === 18)
    // the null-dt row: a window drops it, and without a bound nothing prunes
    val (scan, nulls, plain) = windowed(dir, _.where(col("dt").isNull))
    assert(nulls === plain && nulls.size === 1 && !pDateBounded(scan))
    assert(numFiles(scan) === 15)
  }

  test("p_date bounds keep every matching row of a store written in another time zone") {
    val zone = "spark.sql.session.timeZone"
    Seq("Asia/Ho_Chi_Minh", "America/Los_Angeles").foreach { tz =>
      val dir = java.nio.file.Files.createTempDirectory("graft_window_tz").toString
      val t0 = instant("2025-01-01T00:00:00Z").getTime
      val rows = (0 until 10 * 24).map(h => (1L, new java.sql.Timestamp(t0 + h * 3600000L), h.toDouble))
      spark.conf.set(zone, tz)
      try Store.writeFactPartitioned(rows.toDF("city_id", "dt", "temp"), dir)
      finally spark.conf.set(zone, "UTC")
      // bounds 7 h before and 7 h after a UTC midnight
      Seq("2025-01-04 17:00:00" -> "2025-01-07 17:00:00",
          "2025-01-05 07:00:00" -> "2025-01-08 07:00:00").foreach { case (from, to) =>
        val (scan, got, want) = windowed(dir, f => Dashboard.withFilters(f,
          from = Some(from), to = Some(to)).select("dt", "temp"))
        assert(got === want && got.size === 73, s"$tz $from..$to")
        assert(pDateBounded(scan) && numFiles(scan) < 11, s"$tz $from..$to")
      }
    }
  }

  test("a window on another timestamp column derives no p_date bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft_window_other").toString
    val t0 = instant("2025-01-01T00:00:00Z").getTime
    // `dt` runs five days behind the partition timestamp `event_ts`
    val rows = (0 until 10 * 24 by 3).map { h =>
      val ev = new java.sql.Timestamp(t0 + h * 3600000L)
      (1L, ev, new java.sql.Timestamp(ev.getTime - 5 * 86400000L), h.toDouble)
    }.toDF("city_id", "event_ts", "dt", "temp")
    val sink = Store.ParquetDateSink(dir, "event_ts")
    sink.mergeLastWins(rows, Seq("city_id", "event_ts"))
    val byDt = (f: DataFrame) => Dashboard.withFilters(f,
      from = Some("2025-01-02 00:00:00"), to = Some("2025-01-03 00:00:00"))
    val (scan, got, want) = windowed(dir, byDt, "event_ts")
    assert(got === want && got.size === 9)
    assert(!pDateBounded(scan))
    assert(sink.read(spark).transform(byDt).count() === 9)
    val (evScan, evGot, evWant) = windowed(dir,
      _.where(col("event_ts") >= lit("2025-01-07 00:00:00").cast("timestamp")), "event_ts")
    assert(evGot === evWant && evGot.size === 32 && pDateBounded(evScan))
  }
}
