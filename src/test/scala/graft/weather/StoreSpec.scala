package graft.weather

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Upsert-policy divergence + idempotence (SURVEY.md §5.3, FIXTURES.md §2:
  * "same (city_id, dt) twice with changed temp — DO UPDATE keeps the new
  * value, DO NOTHING keeps the old"). */
class StoreSpec extends AnyFunSuite {
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
}
