package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SqlMerge
import graft.sources.DeltaLake.DeltaDateSink
import graft.sources.TxnParquet.TxnParquetSink

/** Delta-protocol interop (DeltaLake.scala): log replay, snapshot
  * reconstruction, the DeltaDateSink commit/merge/DML surface, the
  * TxnParquet export, checkpoints, vacuum, and the concurrency/
  * unsupported-feature failure modes. */
class DeltaLakeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.SharedSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def df(rows: Seq[(Int, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "dt_s", "v").withColumn("dt", to_timestamp(col("dt_s")))
      .drop("dt_s").select("k", "dt", "v")
  }

  private def asSet(d: DataFrame): Set[(Int, String, Double)] =
    d.select(col("k"), date_format(col("dt"), "yyyy-MM-dd HH:mm:ss"), col("v"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet

  // ------------------------------------------------------------ native sink

  test("DeltaDateSink: create + read round-trips; layout is hive-style; log exists") {
    val dir = tmp("delta_create")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    val base = df(Seq((1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-02 10:00:00", 2.0)))
    sink.overwriteAll(base)
    assert(sink.version(spark).contains(0L))
    assert(asSet(sink.read(spark)) === asSet(base))
    // spec-conformant bits on disk
    val log = new java.io.File(dir, "_delta_log")
    assert(log.isDirectory)
    assert(new java.io.File(log, "0" * 20 + ".json").isFile)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("p_date=")))
  }

  test("DeltaDateSink: incremental last-wins merge rewrites ONLY touched dates") {
    val dir = tmp("delta_merge")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq(
      (1, "2024-01-01 10:00:00", 1.0),
      (2, "2024-01-02 10:00:00", 2.0),
      (3, "2024-01-03 10:00:00", 3.0))))
    val untouched = new java.io.File(dir, "p_date=2024-01-02")
      .listFiles().map(f => f.getName -> f.lastModified()).toSet

    sink.mergeLastWins(df(Seq(
      (1, "2024-01-01 10:00:00", 10.0),   // update day 1
      (4, "2024-01-03 11:00:00", 4.0))),  // insert into day 3
      Seq("k", "dt"))

    assert(asSet(sink.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 10.0),
      (2, "2024-01-02 10:00:00", 2.0),
      (3, "2024-01-03 10:00:00", 3.0),
      (4, "2024-01-03 11:00:00", 4.0)))
    // day 2's files untouched byte-for-byte (same names, same mtimes)
    val after = new java.io.File(dir, "p_date=2024-01-02")
      .listFiles().map(f => f.getName -> f.lastModified()).toSet
    assert(after === untouched)
    // the commit removed/added only day 1 and day 3 files
    val s = DeltaLake.snapshotAt(spark, dir, 1L)
    assert(s.adds.exists(_.partitionValues("p_date").contains("2024-01-02")))
  }

  test("DeltaDateSink: mergeIfAbsent keeps existing rows verbatim") {
    val dir = tmp("delta_ifabsent")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0))))
    sink.mergeIfAbsent(df(Seq(
      (1, "2024-01-01 10:00:00", 99.0),
      (2, "2024-01-01 11:00:00", 2.0))), Seq("k", "dt"))
    assert(asSet(sink.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 1.0),
      (2, "2024-01-01 11:00:00", 2.0)))
  }

  test("DeltaDateSink: merge keys must pin the partition timestamp (declined)") {
    val dir = tmp("delta_decline")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0))))
    intercept[IncrementalMergeDeclined] {
      sink.mergeLastWins(df(Seq((1, "2024-01-01 10:00:00", 2.0))), Seq("k"))
    }
  }

  test("DeltaDateSink: prunedRead + replaceDates rewrite only the asked dates") {
    val dir = tmp("delta_replace")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq(
      (1, "2024-01-01 10:00:00", 1.0),
      (2, "2024-01-02 10:00:00", 2.0),
      (3, "2024-01-02 11:00:00", 3.0))))
    val d2 = java.sql.Date.valueOf("2024-01-02")
    assert(asSet(sink.prunedRead(spark, Seq(d2))) === Set(
      (2, "2024-01-02 10:00:00", 2.0), (3, "2024-01-02 11:00:00", 3.0)))
    // keep only k=3 on day 2 — kept READS the current files (no-hazard path)
    val kept = sink.prunedRead(spark, Seq(d2)).filter(col("k") === 3)
    sink.replaceDates(Seq(d2), kept)
    assert(asSet(sink.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 1.0), (3, "2024-01-02 11:00:00", 3.0)))
    // emptying a date removes it from the live version
    sink.replaceDates(Seq(d2), kept.filter(col("k") === -1))
    assert(asSet(sink.read(spark)) === Set((1, "2024-01-01 10:00:00", 1.0)))
    // stray rows outside the replaced dates are rejected
    intercept[IllegalArgumentException] {
      sink.replaceDates(Seq(d2), df(Seq((9, "2024-01-05 10:00:00", 9.0))))
    }
  }

  test("DeltaDateSink: time travel by version; graft VERSION AS OF works") {
    val dir = tmp("delta_travel")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    sink.mergeLastWins(df(Seq((1, "2024-01-01 10:00:00", 5.0))), Seq("k", "dt")) // v1
    assert(asSet(sink.readVersion(spark, 0L)) === Set((1, "2024-01-01 10:00:00", 1.0)))
    assert(asSet(sink.readVersion(spark, 1L)) === Set((1, "2024-01-01 10:00:00", 5.0)))
    intercept[IllegalArgumentException] { sink.readVersion(spark, 7L) }
    SqlMerge.register(spark, "delta_travel_t", sink)
    val viaSql = spark.sql(
      "SELECT k, v FROM delta_travel_t VERSION AS OF 0 ORDER BY k")
    assert(viaSql.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
      === Seq((1, 1.0)))
  }

  test("DeltaDateSink: SQL MERGE/UPDATE/DELETE run against the Delta table") {
    import spark.implicits._
    val dir = tmp("delta_sql")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq(
      (1, "2024-01-01 10:00:00", 1.0),
      (2, "2024-01-02 10:00:00", 2.0))))
    SqlMerge.register(spark, "delta_sql_t", sink)
    df(Seq((1, "2024-01-01 10:00:00", 10.0), (3, "2024-01-03 10:00:00", 3.0)))
      .createOrReplaceTempView("delta_sql_src")
    spark.sql(
      """MERGE INTO delta_sql_t USING delta_sql_src
        |ON delta_sql_t.k = delta_sql_src.k AND delta_sql_t.dt = delta_sql_src.dt
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(asSet(sink.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 10.0),
      (2, "2024-01-02 10:00:00", 2.0),
      (3, "2024-01-03 10:00:00", 3.0)))
    spark.sql("UPDATE delta_sql_t SET v = v + 100.0 WHERE k = 2")
    spark.sql("DELETE FROM delta_sql_t WHERE k = 1")
    assert(asSet(sink.read(spark)) === Set(
      (2, "2024-01-02 10:00:00", 102.0),
      (3, "2024-01-03 10:00:00", 3.0)))
  }

  test("DeltaDateSink: schema widening via merge; old rows read as typed NULLs") {
    val dir = tmp("delta_evolve")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0))))
    val widened = df(Seq((2, "2024-01-01 11:00:00", 2.0)))
      .withColumn("extra", lit("x"))
    sink.mergeLastWins(widened, Seq("k", "dt"))
    val out = sink.read(spark).orderBy("k")
      .select("k", "extra").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq === Seq((1, null), (2, "x")))
    // dropping a column must fail loudly
    intercept[IllegalArgumentException] {
      sink.mergeLastWins(df(Seq((3, "2024-01-01 12:00:00", 3.0))).drop("v"),
        Seq("k", "dt"))
    }
  }

  test("checkpoint: replay from parquet checkpoint + JSON tail matches full replay") {
    val dir = tmp("delta_ckpt")
    val sink = DeltaDateSink(dir, tsCol = "dt", checkpointInterval = 2)
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    sink.mergeLastWins(df(Seq((2, "2024-01-02 10:00:00", 2.0))), Seq("k", "dt")) // v1
    sink.mergeLastWins(df(Seq((3, "2024-01-03 10:00:00", 3.0))), Seq("k", "dt")) // v2 -> ckpt
    assert(new java.io.File(new java.io.File(dir, "_delta_log"),
      f"${2L}%020d.checkpoint.parquet").isFile)
    assert(new java.io.File(new java.io.File(dir, "_delta_log"),
      "_last_checkpoint").isFile)
    sink.mergeLastWins(df(Seq((4, "2024-01-04 10:00:00", 4.0))), Seq("k", "dt")) // v3
    // delete pre-checkpoint JSON commits: replay must ride the checkpoint
    (0L to 1L).foreach { v =>
      new java.io.File(new java.io.File(dir, "_delta_log"), f"$v%020d.json").delete()
    }
    assert(asSet(sink.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-02 10:00:00", 2.0),
      (3, "2024-01-03 10:00:00", 3.0), (4, "2024-01-04 10:00:00", 4.0)))
    // but a version BEHIND the vacuumed history must fail loudly
    intercept[IllegalArgumentException] { sink.readVersion(spark, 1L) }
  }

  test("commit concurrency: second writer of the same version loses loudly") {
    val dir = tmp("delta_race")
    DeltaDateSink(dir, tsCol = "dt")
      .overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    // the race: `loser` snapshots v0, then (preCommit seam) `other`
    // lands v1 first; loser's rename to v1 must fail loudly
    val other = DeltaDateSink(dir, tsCol = "dt")
    val loser = DeltaDateSink(dir, tsCol = "dt", preCommit = () =>
      other.mergeLastWins(df(Seq((2, "2024-01-02 10:00:00", 2.0))), Seq("k", "dt")))
    val ex = intercept[IllegalStateException] {
      loser.mergeLastWins(df(Seq((3, "2024-01-03 10:00:00", 3.0))), Seq("k", "dt"))
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the winner's commit is intact; the loser wrote nothing
    assert(asSet(other.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-02 10:00:00", 2.0)))
  }

  test("vacuum: files outside the retention window are reclaimed, window reads survive") {
    val dir = tmp("delta_vacuum")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    sink.mergeLastWins(df(Seq((1, "2024-01-01 10:00:00", 2.0))), Seq("k", "dt")) // v1
    sink.mergeLastWins(df(Seq((1, "2024-01-01 10:00:00", 3.0))), Seq("k", "dt")) // v2
    sink.vacuum(spark, retain = 2)
    // live + previous still read
    assert(asSet(sink.readVersion(spark, 2L)) === Set((1, "2024-01-01 10:00:00", 3.0)))
    assert(asSet(sink.readVersion(spark, 1L)) === Set((1, "2024-01-01 10:00:00", 2.0)))
    // v0's file is gone: reconstruction fails loudly, never serves wrong rows
    intercept[Exception] { sink.readVersion(spark, 0L).collect() }
  }

  test("TIMESTAMP AS OF: mtime-resolved version floor; pre-history fails loudly") {
    val dir = tmp("delta_tsasof")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    sink.mergeLastWins(df(Seq((1, "2024-01-01 10:00:00", 5.0))),
      Seq("k", "dt")) // v1
    // pin commit mtimes deterministically (the resolution basis)
    val log = new java.io.File(dir, "_delta_log")
    def pin(v: Long, iso: String): Unit =
      assert(new java.io.File(log, f"$v%020d.json")
        .setLastModified(java.time.Instant.parse(iso).toEpochMilli))
    pin(0L, "2024-06-01T00:00:00Z")
    pin(1L, "2024-06-02T00:00:00Z")
    SqlMerge.register(spark, "delta_ts_t", sink)
    def q(ts: String): Seq[(Int, Double)] =
      spark.sql(s"SELECT k, v FROM delta_ts_t TIMESTAMP AS OF '$ts' ORDER BY k")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(q("2024-06-01 12:00:00") === Seq((1, 1.0))) // between commits → v0
    assert(q("2024-06-02 00:00:00") === Seq((1, 5.0))) // exactly v1's mtime
    assert(q("2025-01-01 00:00:00") === Seq((1, 5.0))) // past live → live
    val ex = intercept[Exception] { spark.sql(
      "SELECT k, v FROM delta_ts_t TIMESTAMP AS OF '2020-01-01 00:00:00'") }
    assert(ex.getMessage.contains("predates the retained history"))
    // the function spelling resolves identically
    assert(spark.sql("SELECT k, v FROM graft_version_ts('delta_ts_t', " +
      "'2024-06-01 12:00:00')").collect().map(r => (r.getInt(0), r.getDouble(1)))
      .toSeq === Seq((1, 1.0)))
  }

  test("txn ledger: replayed micro-batch versions are skipped exactly-once") {
    val dir = tmp("delta_txn")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    // batch 0 applies
    assert(sink.mergeLastWinsTxn(df(Seq((2, "2024-01-02 10:00:00", 2.0))),
      Seq("k", "dt"), "app-a", 0L))
    assert(sink.lastTxnVersion(spark, "app-a").contains(0L))
    // REPLAY of batch 0 (crash-after-commit retry): recognized, skipped,
    // even with different (corrupt) replay contents
    assert(!sink.mergeLastWinsTxn(df(Seq((2, "2024-01-02 10:00:00", 999.0))),
      Seq("k", "dt"), "app-a", 0L))
    assert(asSet(sink.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-02 10:00:00", 2.0)))
    // batch 1 applies; an unrelated app has its own ledger
    assert(sink.mergeLastWinsTxn(df(Seq((3, "2024-01-03 10:00:00", 3.0))),
      Seq("k", "dt"), "app-a", 1L))
    assert(sink.mergeLastWinsTxn(df(Seq((4, "2024-01-04 10:00:00", 4.0))),
      Seq("k", "dt"), "app-b", 0L))
    assert(sink.lastTxnVersion(spark, "app-a").contains(1L))
    assert(sink.lastTxnVersion(spark, "app-b").contains(0L))
    // an EMPTY batch still advances the ledger (data-less commit)
    assert(sink.mergeLastWinsTxn(
      df(Seq.empty[(Int, String, Double)]), Seq("k", "dt"), "app-a", 2L))
    assert(sink.lastTxnVersion(spark, "app-a").contains(2L))
    assert(!sink.mergeLastWinsTxn(
      df(Seq.empty[(Int, String, Double)]), Seq("k", "dt"), "app-a", 2L))
  }

  test("txn ledger survives checkpoint compaction") {
    val dir = tmp("delta_txn_ckpt")
    val sink = DeltaDateSink(dir, tsCol = "dt", checkpointInterval = 2)
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    assert(sink.mergeLastWinsTxn(df(Seq((2, "2024-01-02 10:00:00", 2.0))),
      Seq("k", "dt"), "stream-x", 7L)) // v1
    sink.mergeLastWins(df(Seq((3, "2024-01-03 10:00:00", 3.0))),
      Seq("k", "dt")) // v2 -> checkpoint written
    // delete the pre-checkpoint JSON commits: the ledger must come back
    // from the checkpoint parquet alone
    val log = new java.io.File(dir, "_delta_log")
    (0L to 1L).foreach { v =>
      new java.io.File(log, f"$v%020d.json").delete()
    }
    assert(sink.lastTxnVersion(spark, "stream-x").contains(7L))
    assert(!sink.mergeLastWinsTxn(df(Seq((9, "2024-01-09 10:00:00", 9.0))),
      Seq("k", "dt"), "stream-x", 7L))
  }

  test("streaming upsertSinkExactlyOnce: end-to-end through foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = tmp("delta_stream")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0))))
    val mem = MemoryStream[(Int, String, Double)]
    mem.addData((2, "2024-01-02 10:00:00", 2.0), (1, "2024-01-01 10:00:00", 5.0))
    val stream = mem.toDF.toDF("k", "dt_s", "v")
      .withColumn("dt", to_timestamp(col("dt_s"))).drop("dt_s")
      .select("k", "dt", "v")
    Streams.upsertSinkExactlyOnce(stream, sink, Seq("k", "dt"), "q-demo")
      .start().awaitTermination()
    assert(asSet(sink.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 5.0), (2, "2024-01-02 10:00:00", 2.0)))
    assert(sink.lastTxnVersion(spark, "q-demo").contains(0L))
  }

  test("multi-part checkpoints replay like single-file ones; torn parts are ignored") {
    val dir = tmp("delta_multickpt")
    val sink = DeltaDateSink(dir, tsCol = "dt", checkpointInterval = 2)
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    sink.mergeLastWins(df(Seq((2, "2024-01-02 10:00:00", 2.0))), Seq("k", "dt")) // v1
    sink.mergeLastWins(df(Seq((3, "2024-01-03 10:00:00", 3.0))), Seq("k", "dt")) // v2 -> ckpt
    val log = new java.io.File(dir, "_delta_log")
    val single = new java.io.File(log, f"${2L}%020d.checkpoint.parquet")
    assert(single.isFile)
    // split the single checkpoint into the spec's multi-part form:
    // part 1 = protocol+metaData rows, part 2 = add rows
    val ck = spark.read.parquet(single.getAbsolutePath)
    def part(i: Int): java.io.File =
      new java.io.File(log, f"${2L}%020d.checkpoint.$i%010d.${2}%010d.parquet")
    def writePart(rows: org.apache.spark.sql.DataFrame, dest: java.io.File): Unit = {
      val tmpDir = new java.io.File(log, s".split-${dest.getName}")
      rows.coalesce(1).write.parquet(tmpDir.getAbsolutePath)
      val p = tmpDir.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(p.toPath, dest.toPath)
      def rmrf(f0: java.io.File): Unit = {
        if (f0.isDirectory) f0.listFiles().foreach(rmrf); f0.delete(); ()
      }
      rmrf(tmpDir)
    }
    writePart(ck.where(col("add").isNull), part(1))
    writePart(ck.where(col("add").isNotNull), part(2))
    assert(single.delete())
    // pre-checkpoint JSONs gone too: replay MUST ride the multi-part ckpt
    (0L to 1L).foreach(v => new java.io.File(log, f"$v%020d.json").delete())
    assert(asSet(sink.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-02 10:00:00", 2.0),
      (3, "2024-01-03 10:00:00", 3.0)))
    // a TORN multi-part checkpoint (missing part) must not count at all
    assert(part(2).delete())
    val ex = intercept[IllegalArgumentException] { sink.read(spark) }
    assert(ex.getMessage.contains("history gap") ||
      ex.getMessage.contains("not present"))
  }

  // --------------------------------------------------------- protocol gates

  test("reader rejects column mapping and deletion vectors loudly") {
    val dir = tmp("delta_reject")
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    def write(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        new java.io.File(log, f"$v%020d.json").toPath, lines.mkString("\n") + "\n")
    val schema = """{"type":"struct","fields":[{"name":"k","type":"integer","nullable":true,"metadata":{}}]}"""
    write(0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t1","format":{"provider":"parquet","options":{}},"schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build().writeValueAsString(schema)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"},"createdTime":1}}"""))
    val e1 = intercept[IllegalArgumentException] { DeltaLake.readTable(spark, dir) }
    assert(e1.getMessage.contains("column mapping"))

    val dir2 = tmp("delta_reject_dv")
    val log2 = new java.io.File(dir2, "_delta_log"); log2.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(log2, "0" * 20 + ".json").toPath,
      Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"t2","format":{"provider":"parquet","options":{}},"schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build().writeValueAsString(schema)},"partitionColumns":[],"configuration":{},"createdTime":1}}""",
        """{"add":{"path":"f.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":1,"cardinality":1}}}"""
      ).mkString("\n") + "\n")
    val e2 = intercept[IllegalArgumentException] { DeltaLake.readTable(spark, dir2) }
    assert(e2.getMessage.contains("deletion vector"))
  }

  test("reader reconstructs non-hive layouts from partitionValues (never from paths)") {
    import spark.implicits._
    val dir = tmp("delta_nonhive")
    // data file at a FLAT path; partition value only in the log
    val data = Seq((1, 1.0), (2, 2.0)).toDF("k", "v")
    data.coalesce(1).write.parquet(s"$dir/flat")
    val part = new java.io.File(s"$dir/flat").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(dir, "chunk-a.parquet")
    java.nio.file.Files.move(part.toPath, dest.toPath)
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    val fullSchema = new org.apache.spark.sql.types.StructType()
      .add("k", "integer").add("v", "double").add("d", "date")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.writeString(
      new java.io.File(log, "0" * 20 + ".json").toPath,
      Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"t3","format":{"provider":"parquet","options":{}},"schemaString":${m.writeValueAsString(fullSchema.json)},"partitionColumns":["d"],"configuration":{},"createdTime":1}}""",
        s"""{"add":{"path":"chunk-a.parquet","partitionValues":{"d":"2024-02-03"},"size":${dest.length()},"modificationTime":1,"dataChange":true}}"""
      ).mkString("\n") + "\n")
    val out = DeltaLake.readTable(spark, dir).orderBy("k")
      .select(col("k"), col("v"), col("d").cast("string"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2)))
    assert(out.toSeq === Seq((1, 1.0, "2024-02-03"), (2, 2.0, "2024-02-03")))
  }

  // ------------------------------------------------------- TxnParquet export

  test("publish: a TxnParquet table becomes a readable Delta table, zero data movement") {
    val dir = tmp("delta_publish")
    val txn = TxnParquetSink(dir, tsCol = "dt")
    txn.overwriteAll(df(Seq(
      (1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-02 10:00:00", 2.0))))
    val v0 = DeltaLake.publish(spark, dir)
    assert(v0 === 0L)
    val viaDelta = DeltaLake.readTable(spark, dir).drop("p_date")
    assert(asSet(viaDelta) === asSet(txn.read(spark)))
    // idempotent: unchanged manifest commits nothing
    assert(DeltaLake.publish(spark, dir) === 0L)
    // a merge then republish: Delta view catches up, old version pinned
    txn.mergeLastWins(df(Seq((1, "2024-01-01 10:00:00", 9.0))), Seq("k", "dt"))
    val v1 = DeltaLake.publish(spark, dir)
    assert(v1 === 1L)
    assert(asSet(DeltaLake.readTable(spark, dir).drop("p_date"))
      === asSet(txn.read(spark)))
    assert(asSet(DeltaLake.readVersion(spark, dir, 0L).drop("p_date")) === Set(
      (1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-02 10:00:00", 2.0)))
  }

  // ------------------------------------------- round-12 hardening (ADVICE)

  test("commit put-if-absent: simultaneous racers of one version — exactly one wins") {
    val dir = tmp("delta_race_sim")
    DeltaDateSink(dir, tsCol = "dt")
      .overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    // Both sinks snapshot v0, then meet at a barrier INSIDE preCommit so
    // both race the physical publication of v1 at the same instant — the
    // window the seam-based test above never reaches (there the loser's
    // exists() check already sees the winner). A plain POSIX rename would
    // let BOTH "win", the second silently clobbering the first; the
    // link(2)/rename(NONE) put-if-absent cannot.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Option[Throwable]]()
    def racer(k: Int, day: String): Thread = new Thread(() => {
      try {
        DeltaDateSink(dir, tsCol = "dt",
          preCommit = () => barrier.await(30, java.util.concurrent.TimeUnit.SECONDS))
          .mergeLastWins(df(Seq((k, day, k.toDouble))), Seq("k", "dt"))
        results.put(k, None)
      } catch { case t: Throwable => results.put(k, Some(t)) }
    })
    val t2 = racer(2, "2024-01-02 10:00:00")
    val t3 = racer(3, "2024-01-03 10:00:00")
    t2.start(); t3.start(); t2.join(120000); t3.join(120000)
    assert(results.size === 2)
    val outcomes = Seq(2, 3).map(k => k -> results.get(k))
    val winners = outcomes.collect { case (k, None) => k }
    val losers = outcomes.collect { case (k, Some(t)) => (k, t) }
    assert(winners.size === 1, s"expected exactly one winner, got $outcomes")
    assert(losers.size === 1)
    assert(losers.head._2.isInstanceOf[IllegalStateException] &&
      losers.head._2.getMessage.contains("concurrent commit"),
      s"loser must fail loudly as a concurrency loser: ${losers.head._2}")
    // the committed v1 is the WINNER's content, uncorrupted
    val sink = DeltaDateSink(dir, tsCol = "dt")
    assert(sink.version(spark).contains(1L))
    val w = winners.head
    assert(asSet(sink.read(spark)) === Set(
      (1, "2024-01-01 10:00:00", 1.0),
      (w, s"2024-01-0$w 10:00:00", w.toDouble)))
  }

  test("hive partition unescape: %XX only — '+' stays '+', multibyte runs decode") {
    assert(DeltaLake.hiveUnescape("a+b") === "a+b") // URLDecoder would say "a b"
    assert(DeltaLake.hiveUnescape("a%3Db") === "a=b")
    assert(DeltaLake.hiveUnescape("%C3%A9t%C3%A9") === "\u00e9t\u00e9") // UTF-8 run
    assert(DeltaLake.hiveUnescape("50%") === "50%") // lone % passes through
    assert(DeltaLake.hiveUnescape("%G1") === "%G1") // non-hex passes through
    // round-trips its own escaper on the characters Spark writers escape
    for (s <- Seq("2024-01-01", "a=b", "a/b", "a%b", "a+b", "caf\u00e9", "x:y"))
      assert(DeltaLake.hiveUnescape(DeltaLake.escapePart(s)) === s, s)
  }

  test("add.path log form is RFC 2396 encoded; literal '%' and space round-trip") {
    assert(DeltaLake.encodePath("p_date=2024-01-01/f.parquet")
      === "p_date=2024-01-01/f.parquet") // identity on the common layout
    assert(DeltaLake.encodePath("p_date=a%3Db/f.parquet")
      === "p_date=a%253Db/f.parquet") // on-disk '%' must survive foreign readers
    assert(DeltaLake.encodePath("dir with space/f.parquet")
      === "dir%20with%20space/f.parquet")
    for (p <- Seq("p_date=a%3Db/f.parquet", "dir with space/f.parquet",
      "p_date=caf\u00e9/f.parquet"))
      assert(DeltaLake.decodePath(DeltaLake.encodePath(p)) === p, p)
    // AddFile.rawPath is the encoded form a remove must reference
    assert(DeltaLake.AddFile("a b/f.parquet", Map.empty, 0L, 0L).rawPath
      === "a%20b/f.parquet")
  }

  test("TIMESTAMP AS OF never resolves to a torn multi-part checkpoint version") {
    val dir = tmp("delta_ts_torn")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    sink.mergeLastWins(df(Seq((1, "2024-01-01 10:00:00", 5.0))), Seq("k", "dt")) // v1
    val log = new java.io.File(dir, "_delta_log")
    def pin(f: java.io.File, iso: String): Unit =
      assert(f.setLastModified(java.time.Instant.parse(iso).toEpochMilli))
    pin(new java.io.File(log, "0" * 20 + ".json"), "2024-06-01T00:00:00Z")
    pin(new java.io.File(log, "0" * 19 + "1.json"), "2024-06-02T00:00:00Z")
    // torn multi-part checkpoint at v5: part 1 of 2 present, part 2 missing
    val torn = new java.io.File(log,
      "0" * 19 + "5.checkpoint.0000000001.0000000002.parquet")
    assert(torn.createNewFile())
    pin(torn, "2024-06-03T00:00:00Z")
    def at(iso: String): Option[Long] = DeltaLake.versionAtTime(spark, dir,
      java.time.Instant.parse(iso).toEpochMilli * 1000L)
    // before the fix this resolved to 5 and snapshotAt(5) then threw;
    // now the timestamp path answers from the same VALIDATED version set
    assert(at("2024-06-10T00:00:00Z") === Some(1L))
    assert(at("2024-06-01T12:00:00Z") === Some(0L))
    assert(DeltaLake.latestVersion(spark, dir) === Some(1L))
    // and the resolved version actually replays
    assert(asSet(sink.readVersion(spark, 1L)) === Set((1, "2024-01-01 10:00:00", 5.0)))
  }

  test("vacuum sweeps aged crashed-writer debris, never in-flight staging") {
    val dir = tmp("delta_debris")
    val sink = DeltaDateSink(dir, tsCol = "dt")
    sink.overwriteAll(df(Seq((1, "2024-01-01 10:00:00", 1.0)))) // v0
    val old = System.currentTimeMillis() - 3 * 60 * 60 * 1000L
    def mk(parent: java.io.File, name: String, dirLike: Boolean,
           stale: Boolean): java.io.File = {
      val f = new java.io.File(parent, name)
      if (dirLike) { assert(f.mkdir())
        val inner = new java.io.File(f, "part-x.parquet")
        assert(inner.createNewFile())
        if (stale) assert(inner.setLastModified(old))
      } else assert(f.createNewFile())
      if (stale) assert(f.setLastModified(old))
      f
    }
    val root = new java.io.File(dir)
    val log = new java.io.File(dir, "_delta_log")
    val staleStage = mk(root, ".stage-deadbeef0001", dirLike = true, stale = true)
    val freshStage = mk(root, ".stage-cafebabe0002", dirLike = true, stale = false)
    val staleTmp = mk(log, ".tmp-deadbeef0001.json", dirLike = false, stale = true)
    val freshTmp = mk(log, ".tmp-cafebabe0002.json", dirLike = false, stale = false)
    val staleCkpt = mk(log, ".ckpt-deadbeef0001", dirLike = true, stale = true)
    sink.vacuum(spark, retain = 1)
    assert(!staleStage.exists() && !staleTmp.exists() && !staleCkpt.exists(),
      "aged debris must be reclaimed")
    assert(freshStage.exists() && freshTmp.exists(),
      "young (possibly in-flight) staging must survive")
    // the table itself is untouched
    assert(asSet(sink.read(spark)) === Set((1, "2024-01-01 10:00:00", 1.0)))
  }
}
