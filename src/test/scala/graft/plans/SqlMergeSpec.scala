package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnParquet.TxnParquetSink
import graft.weather.Store.{ParquetDateSink, ParquetSnapshotSink}

/** SQL-facing MERGE INTO over registered MergeSink temp views
  * (SqlMerge.scala): the reference's ON CONFLICT DO UPDATE / DO NOTHING
  * driven from `spark.sql`, plus the general conditional-action shapes. */
class SqlMergeSpec extends AnyFunSuite {

  // merge lowering needs the injected analyzer rules, which the shared
  // session carries like every GraftSession-built session
  private lazy val spark: SparkSession = graft.SharedSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def snapshotSink(view: String, rows: Seq[(Int, String, Double)]): ParquetSnapshotSink = {
    import spark.implicits._
    val sink = ParquetSnapshotSink(tmp(s"sqlmerge_$view"))
    sink.overwriteAll(rows.toDF("k", "name", "v"))
    SqlMerge.register(spark, view, sink)
    sink
  }

  private def asSet(df: DataFrame): Set[(Int, String, Double)] =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet

  private def tableSet(view: String): Set[(Int, String, Double)] =
    asSet(spark.sql(s"SELECT k, name, v FROM $view"))

  test("DO UPDATE shape: UPDATE SET * / INSERT * lowers to last-wins merge") {
    import spark.implicits._
    snapshotSink("t_up", Seq((1, "a", 10.0), (2, "b", 20.0)))
    Seq((2, "B", 99.0), (3, "c", 30.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_up")
    spark.sql(
      """MERGE INTO t_up USING s_up ON t_up.k = s_up.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(tableSet("t_up") ===
      Set((1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0)))
  }

  test("DO NOTHING shape: INSERT * alone lowers to insert-if-absent") {
    import spark.implicits._
    snapshotSink("t_dn", Seq((1, "a", 10.0), (2, "b", 20.0)))
    Seq((2, "B", 99.0), (3, "c", 30.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_dn")
    spark.sql(
      """MERGE INTO t_dn USING s_dn ON t_dn.k = s_dn.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(tableSet("t_dn") ===
      Set((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
  }

  test("merge is idempotent under replay (DO UPDATE shape)") {
    import spark.implicits._
    snapshotSink("t_replay", Seq((1, "a", 10.0)))
    Seq((1, "A", 11.0), (2, "b", 22.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_replay")
    val sql =
      """MERGE INTO t_replay USING s_replay ON t_replay.k = s_replay.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    spark.sql(sql)
    val once = tableSet("t_replay")
    spark.sql(sql)
    assert(tableSet("t_replay") === once)
    assert(once === Set((1, "A", 11.0), (2, "b", 22.0)))
  }

  test("general path: conditional UPDATE, DELETE, explicit INSERT, NOT MATCHED BY SOURCE") {
    import spark.implicits._
    snapshotSink("t_gen", Seq((1, "a", 10.0), (2, "b", 20.0), (4, "d", 40.0)))
    Seq((2, "B", 99.0), (3, "c", 30.0), (4, "D", 1.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_gen")
    spark.sql(
      """MERGE INTO t_gen USING s_gen ON t_gen.k = s_gen.k
        |WHEN MATCHED AND s_gen.v > 50 THEN UPDATE SET name = s_gen.name, v = s_gen.v + 1
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (k, name, v) VALUES (s_gen.k, s_gen.name, s_gen.v)
        |WHEN NOT MATCHED BY SOURCE AND t_gen.k = 1 THEN DELETE""".stripMargin)
    // k=1: target-only, by-source DELETE fires → gone
    // k=2: matched, v=99>50 → updated to (B, 100.0)
    // k=3: source-only → inserted
    // k=4: matched, v=1 → second action DELETE → gone
    assert(tableSet("t_gen") === Set((2, "B", 100.0), (3, "c", 30.0)))
  }

  test("general path: UPDATE leaves unassigned columns untouched") {
    import spark.implicits._
    snapshotSink("t_part", Seq((1, "a", 10.0)))
    Seq((1, "ZZZ", 77.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_part")
    spark.sql(
      """MERGE INTO t_part USING s_part ON t_part.k = s_part.k
        |WHEN MATCHED THEN UPDATE SET v = s_part.v""".stripMargin)
    assert(tableSet("t_part") === Set((1, "a", 77.0)))
  }

  test("cardinality violation: two source rows matching one target row fail loudly") {
    import spark.implicits._
    snapshotSink("t_card", Seq((1, "a", 10.0)))
    Seq((1, "x", 1.0), (1, "y", 2.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_card")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO t_card USING s_card ON t_card.k = s_card.k
          |WHEN MATCHED AND s_card.v > 1 THEN UPDATE SET v = s_card.v""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality violation"))
    // nothing was written
    assert(tableSet("t_card") === Set((1, "a", 10.0)))
  }

  test("unregistered targets are left to Spark (its own unsupported error)") {
    import spark.implicits._
    Seq((1, "a", 10.0)).toDF("k", "name", "v").createOrReplaceTempView("t_unreg")
    Seq((1, "b", 11.0)).toDF("k", "name", "v").createOrReplaceTempView("s_unreg")
    intercept[Exception] {
      spark.sql(
        """MERGE INTO t_unreg USING s_unreg ON t_unreg.k = s_unreg.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
  }

  test("TxnParquetSink target: fast path increments the manifest version; general path rewrites") {
    import spark.implicits._
    val sink = TxnParquetSink(tmp("sqlmerge_txn"), tsCol = "dt")
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    sink.mergeLastWins(
      Seq((1, d1, 10.0), (2, d2, 20.0)).toDF("id", "dt", "v"), Seq("id", "dt"))
    SqlMerge.register(spark, "t_txn", sink)
    Seq((2, d2, 99.0), (3, d2, 30.0)).toDF("id", "dt", "v")
      .createOrReplaceTempView("s_txn")

    // fast path: star merge keyed on (id, dt) — incremental txn merge
    spark.sql(
      """MERGE INTO t_txn USING s_txn ON t_txn.id = s_txn.id AND t_txn.dt = s_txn.dt
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(sink.version(spark).contains(2L))
    val afterFast = spark.sql("SELECT id, v FROM t_txn").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(afterFast === Set((1, 10.0), (2, 99.0), (3, 30.0)))

    // general path: conditional DELETE — full rewrite, next version
    spark.sql(
      """MERGE INTO t_txn USING s_txn ON t_txn.id = s_txn.id AND t_txn.dt = s_txn.dt
        |WHEN MATCHED AND s_txn.v > 50 THEN DELETE""".stripMargin)
    assert(sink.version(spark).contains(3L))
    val afterDel = spark.sql("SELECT id, v FROM t_txn").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(afterDel === Set((1, 10.0), (3, 30.0)))
  }

  test("date sink without partition key in ON: falls back to full rewrite, stays correct") {
    import spark.implicits._
    val sink = ParquetDateSink(tmp("sqlmerge_date"), tsCol = "dt")
    val d1 = java.sql.Date.valueOf("2024-02-01")
    val d2 = java.sql.Date.valueOf("2024-02-02")
    sink.mergeLastWins(
      Seq((1, d1, 10.0), (2, d1, 20.0)).toDF("id", "dt", "v"), Seq("id", "dt"))
    SqlMerge.register(spark, "t_fallback", sink)
    // the batch MOVES id=2 to another date: keyed on id alone the
    // incremental merge must decline (its require) and the lowering
    // must take the rewrite path instead
    Seq((2, d2, 99.0)).toDF("id", "dt", "v").createOrReplaceTempView("s_fallback")
    spark.sql(
      """MERGE INTO t_fallback USING s_fallback ON t_fallback.id = s_fallback.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT id, dt, v FROM t_fallback").collect()
      .map(r => (r.getInt(0), r.getDate(1).toString, r.getDouble(2))).toSet
    assert(got === Set((1, "2024-02-01", 10.0), (2, "2024-02-02", 99.0)))
  }

  test("delete-all leaves a readable empty txn table") {
    import spark.implicits._
    val sink = TxnParquetSink(tmp("sqlmerge_empty"), tsCol = "dt")
    val d1 = java.sql.Date.valueOf("2024-03-01")
    sink.mergeLastWins(Seq((1, d1, 1.0)).toDF("id", "dt", "v"), Seq("id", "dt"))
    SqlMerge.register(spark, "t_empty", sink)
    Seq((1, d1, 1.0)).toDF("id", "dt", "v").createOrReplaceTempView("s_empty")
    spark.sql(
      """MERGE INTO t_empty USING s_empty ON t_empty.id = s_empty.id AND t_empty.dt = s_empty.dt
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT * FROM t_empty").count() === 0)
    assert(sink.read(spark).schema.fieldNames.toSeq === Seq("id", "dt", "v"))
  }

  test("SQL UPDATE over a registered sink: conditional, unassigned columns intact") {
    import spark.implicits._
    snapshotSink("t_updml", Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    spark.sql("UPDATE t_updml SET v = v * 2 WHERE k >= 2")
    assert(tableSet("t_updml") ===
      Set((1, "a", 10.0), (2, "b", 40.0), (3, "c", 60.0)))
    // unconditional form touches every row
    spark.sql("UPDATE t_updml SET name = concat(name, '!')")
    assert(tableSet("t_updml") ===
      Set((1, "a!", 10.0), (2, "b!", 40.0), (3, "c!", 60.0)))
  }

  test("SQL DELETE over a registered sink: NULL predicate keeps the row") {
    import spark.implicits._
    val sink = ParquetSnapshotSink(tmp("sqlmerge_delml"))
    sink.overwriteAll(Seq((1, Some(10.0)), (2, None), (3, Some(30.0)))
      .toDF("k", "v"))
    SqlMerge.register(spark, "t_delml", sink)
    spark.sql("DELETE FROM t_delml WHERE v > 15.0")
    val got = spark.sql("SELECT k FROM t_delml").collect()
      .map(_.getInt(0)).toSet
    // k=3 deleted; k=2 has NULL v -> predicate NULL -> KEPT (SQL rule)
    assert(got === Set(1, 2))
  }

  test("partition-pruned SQL DELETE on TxnParquetSink: untouched chunks byte-identical, emptied date dropped") {
    import spark.implicits._
    val dir = tmp("sqlmerge_prune_txn")
    val sink = TxnParquetSink(dir, tsCol = "dt")
    val d1 = java.sql.Date.valueOf("2024-05-01")
    val d2 = java.sql.Date.valueOf("2024-05-02")
    val d3 = java.sql.Date.valueOf("2024-05-03")
    sink.mergeLastWins(Seq(
      (1, d1, 10.0), (2, d1, 20.0),
      (3, d2, 99.0), (4, d2, 5.0),
      (5, d3, 500.0)).toDF("id", "dt", "v"), Seq("id", "dt"))
    SqlMerge.register(spark, "t_prune", sink)
    def files(): Map[String, Long] = {
      val out = scala.collection.mutable.Map.empty[String, Long]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet"))
          out(f.getAbsolutePath) = f.lastModified()
      walk(new java.io.File(dir, "data"))
      out.toMap
    }
    val before = files()
    // touches d2 (one row deleted, one kept) and d3 (emptied); d1 untouched
    spark.sql("DELETE FROM t_prune WHERE v > 50.0")
    val after = files()
    assert(before.filter(_._1.contains("p_dir=2024-05-01"))
      .forall { case (p, m) => after.get(p).contains(m) },
      "the untouched date's chunk files must remain byte-identical (same files)")
    assert(sink.version(spark).contains(2L))
    val got = spark.sql("SELECT id FROM t_prune").collect().map(_.getInt(0)).toSet
    assert(got === Set(1, 2, 4))
    // d3 vanished from the manifest: a pruned read of it is empty
    assert(sink.prunedRead(spark, Seq(d3)).count() === 0)
  }

  test("partition-pruned SQL UPDATE on ParquetDateSink: only touched partitions rewritten") {
    import spark.implicits._
    val dir = tmp("sqlmerge_prune_date")
    val sink = ParquetDateSink(dir, tsCol = "dt")
    val d1 = java.sql.Date.valueOf("2024-06-01")
    val d2 = java.sql.Date.valueOf("2024-06-02")
    sink.mergeLastWins(Seq(
      (1, d1, 10.0), (2, d2, 99.0), (3, d2, 5.0)).toDF("id", "dt", "v"),
      Seq("id", "dt"))
    SqlMerge.register(spark, "t_prune_upd", sink)
    def files(sub: String): Set[(String, Long)] = {
      val d = new java.io.File(dir, sub)
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSet
    }
    val d1Before = files("p_date=2024-06-01")
    assert(d1Before.nonEmpty)
    spark.sql("UPDATE t_prune_upd SET v = v + 1.0 WHERE v > 50.0")
    assert(files("p_date=2024-06-01") === d1Before,
      "the untouched partition's files must be byte-identical")
    val got = spark.sql("SELECT id, v FROM t_prune_upd").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(got === Set((1, 10.0), (2, 100.0), (3, 5.0)))
    // delete that empties a whole date: its partition dir must go away
    spark.sql("DELETE FROM t_prune_upd WHERE dt = DATE'2024-06-02'")
    assert(files("p_date=2024-06-02").isEmpty,
      "an emptied date's partition directory must be deleted")
    assert(spark.sql("SELECT id FROM t_prune_upd").collect()
      .map(_.getInt(0)).toSet === Set(1))
  }

  test("UPDATE that reassigns the partition timestamp falls back to full rewrite, stays correct") {
    import spark.implicits._
    val sink = ParquetDateSink(tmp("sqlmerge_move_dt"), tsCol = "dt")
    val d1 = java.sql.Date.valueOf("2024-07-01")
    sink.mergeLastWins(Seq((1, d1, 10.0), (2, d1, 20.0)).toDF("id", "dt", "v"),
      Seq("id", "dt"))
    SqlMerge.register(spark, "t_move", sink)
    spark.sql("UPDATE t_move SET dt = DATE'2024-07-05' WHERE id = 2")
    val got = spark.sql("SELECT id, dt FROM t_move").collect()
      .map(r => (r.getInt(0), r.getDate(1).toString)).toSet
    assert(got === Set((1, "2024-07-01"), (2, "2024-07-05")))
  }

  test("SQL time travel: graft_version(name, v) reads a pinned manifest") {
    import spark.implicits._
    val sink = TxnParquetSink(tmp("sqlmerge_tt"), tsCol = "dt")
    val d1 = java.sql.Date.valueOf("2024-08-01")
    sink.mergeLastWins(Seq((1, d1, 10.0), (2, d1, 20.0)).toDF("id", "dt", "v"),
      Seq("id", "dt"))
    SqlMerge.register(spark, "t_tt", sink)
    spark.sql(
      """MERGE INTO t_tt USING (SELECT 2 AS id, DATE'2024-08-01' AS dt, 99.0 AS v) s
        |ON t_tt.id = s.id AND t_tt.dt = s.dt
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val v1 = spark.sql("SELECT id, v FROM graft_version('t_tt', 1) ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val v2 = spark.sql("SELECT id, v FROM graft_version('t_tt', 2) ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(v1 === Seq((1, 10.0), (2, 20.0)))
    assert(v2 === Seq((1, 10.0), (2, 99.0)))
    // the function composes with the rest of SQL (join pinned vs live)
    val drift = spark.sql(
      """SELECT count(*) FROM graft_version('t_tt', 1) a
        |JOIN t_tt b ON a.id = b.id AND a.v <> b.v""".stripMargin)
      .collect().head.getLong(0)
    assert(drift === 1L)
    // loud errors: unknown name, versionless sink kind, GC'd version
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_version('nope', 1)").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_version('t_tt', 99)").collect()
    }
    // NATIVE syntax (parser rewrite): same pinned reads, same results
    val n1 = spark.sql("SELECT id, v FROM t_tt VERSION AS OF 1 ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val n2 = spark.sql("SELECT id, v FROM t_tt VERSION AS OF 2 ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(n1 === v1)
    assert(n2 === v2)
    // composes with joins and aliases like any relation
    val nd = spark.sql(
      """SELECT count(*) FROM (SELECT * FROM t_tt VERSION AS OF 1) a
        |JOIN t_tt b ON a.id = b.id AND a.v <> b.v""".stripMargin)
      .collect().head.getLong(0)
    assert(nd === 1L)
    // unregistered targets keep Spark's own loud time-travel error
    Seq((1, 1.0)).toDF("id", "v").createOrReplaceTempView("s_tt_unreg")
    intercept[Exception] {
      spark.sql("SELECT * FROM s_tt_unreg VERSION AS OF 1").collect()
    }
    // GC'd/unknown version through the native clause is loud too
    intercept[Exception] {
      spark.sql("SELECT * FROM t_tt VERSION AS OF 99").collect()
    }
  }

  test("no matched actions: multi-matched target rows are NOT duplicated (insert-only)") {
    import spark.implicits._
    // k=1 matches TWO source rows; with no WHEN MATCHED action it must
    // come through exactly once (the full-outer lowering would fan it out)
    snapshotSink("t_fan", Seq((1, "a", 10.0), (2, "b", 20.0)))
    Seq((1, "x", 1.0), (1, "y", 2.0), (3, "c", 30.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_fan")
    spark.sql(
      """MERGE INTO t_fan USING s_fan ON t_fan.k = s_fan.k
        |WHEN NOT MATCHED AND s_fan.v > 5 THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT k, name, v FROM t_fan").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows.size === 3, s"target row fan-out: $rows")
    assert(rows.toSet === Set((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
  }

  test("no matched actions: by-source-only merge neither fans out nor loses rows") {
    import spark.implicits._
    snapshotSink("t_bysrc", Seq((1, "a", 10.0), (2, "b", 20.0), (5, "e", 50.0)))
    Seq((1, "x", 1.0), (1, "y", 2.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_bysrc")
    spark.sql(
      """MERGE INTO t_bysrc USING s_bysrc ON t_bysrc.k = s_bysrc.k
        |WHEN NOT MATCHED BY SOURCE AND t_bysrc.k = 2 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t_bysrc.k = 5 THEN UPDATE SET v = t_bysrc.v + 1""".stripMargin)
    val rows = spark.sql("SELECT k, name, v FROM t_bysrc").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    // k=1 matched twice but untouched → exactly once; k=2 deleted; k=5 updated
    assert(rows.size === 2, s"unexpected multiplicity: $rows")
    assert(rows.toSet === Set((1, "a", 10.0), (5, "e", 51.0)))
  }

  test("fast path: duplicate source keys fail loudly on the DO UPDATE shape") {
    import spark.implicits._
    snapshotSink("t_dupfast", Seq((1, "a", 10.0)))
    Seq((2, "x", 1.0), (2, "y", 2.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_dupfast")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO t_dupfast USING s_dupfast ON t_dupfast.k = s_dupfast.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality violation"))
    assert(tableSet("t_dupfast") === Set((1, "a", 10.0)), "nothing written")
    // DO NOTHING stays tolerant (Postgres): one row per absent key
    spark.sql(
      """MERGE INTO t_dupfast USING s_dupfast ON t_dupfast.k = s_dupfast.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val ks = spark.sql("SELECT k FROM t_dupfast").collect().map(_.getInt(0)).toSeq
    assert(ks.sorted === Seq(1, 2))
  }

  test("DML against an outer view wrapping a registered view is NOT silently rewritten") {
    import spark.implicits._
    snapshotSink("t_inner", Seq((1, "a", 10.0), (2, "b", 20.0)))
    // an UNREGISTERED view whose definition reads from the registered one
    spark.sql("CREATE OR REPLACE TEMP VIEW t_outer AS SELECT * FROM t_inner WHERE k = 1")
    intercept[Exception] { spark.sql("UPDATE t_outer SET v = 0.0") }
    intercept[Exception] { spark.sql("DELETE FROM t_outer WHERE k = 1") }
    intercept[Exception] {
      spark.sql(
        """MERGE INTO t_outer USING (SELECT 1 AS k, 'z' AS name, 0.0 AS v) s
          |ON t_outer.k = s.k WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    // the registered table is untouched
    assert(tableSet("t_inner") === Set((1, "a", 10.0), (2, "b", 20.0)))
    // an explicit alias of the REGISTERED view still works
    spark.sql("UPDATE t_inner SET v = v + 1.0 WHERE k = 1")
    assert(tableSet("t_inner") === Set((1, "a", 11.0), (2, "b", 20.0)))
  }

  test("nested-field assignment fails loudly instead of silently writing nothing") {
    import spark.implicits._
    val sink = ParquetSnapshotSink(tmp("sqlmerge_nested"))
    sink.overwriteAll(
      Seq((1, ("x", 10.0))).toDF("k", "s")
        .selectExpr("k", "named_struct('name', s._1, 'v', s._2) AS s"))
    SqlMerge.register(spark, "t_nested", sink)
    val e = intercept[Exception] {
      spark.sql("UPDATE t_nested SET s.v = 99.0 WHERE k = 1")
    }
    assert(e.getMessage.contains("nested-field assignment"))
    val e2 = intercept[Exception] {
      spark.sql(
        """MERGE INTO t_nested USING (SELECT 1 AS k, 99.0 AS nv) src
          |ON t_nested.k = src.k
          |WHEN MATCHED THEN UPDATE SET s.v = src.nv""".stripMargin)
    }
    assert(e2.getMessage.contains("nested-field assignment"))
    // whole-column struct assignment is the supported spelling
    spark.sql("UPDATE t_nested SET s = named_struct('name', s.name, 'v', 99.0) WHERE k = 1")
    val got = spark.sql("SELECT s.v FROM t_nested").collect().map(_.getDouble(0)).toSeq
    assert(got === Seq(99.0))
  }

  test("only IncrementalMergeDeclined triggers the rewrite fallback; other failures propagate") {
    import spark.implicits._
    val boom = new graft.sources.MergeSink {
      var fellBack = false
      def mergeLastWins(updates: DataFrame, keys: Seq[String]): Unit =
        throw new IllegalArgumentException("unrelated sink bug — must propagate")
      def mergeIfAbsent(updates: DataFrame, keys: Seq[String]): Unit = ()
      def read(s: SparkSession): DataFrame = {
        import s.implicits._
        Seq((1, "a", 10.0)).toDF("k", "name", "v")
      }
      override def overwriteAll(merged: DataFrame): Unit = { fellBack = true }
    }
    SqlMerge.register(spark, "t_boom", boom)
    Seq((2, "b", 2.0)).toDF("k", "name", "v").createOrReplaceTempView("s_boom")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO t_boom USING s_boom ON t_boom.k = s_boom.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("must propagate") ||
      Option(e.getCause).exists(_.getMessage.contains("must propagate")))
    assert(!boom.fellBack, "a plain IllegalArgumentException must NOT downgrade to a rewrite")
    SqlMerge.unregister(spark, "t_boom")
  }

  test("source can be an arbitrary subquery") {
    import spark.implicits._
    snapshotSink("t_sub", Seq((1, "a", 10.0), (2, "b", 20.0)))
    Seq((2, "B", 99.0), (2, "IGNORED", 1.0), (3, "c", 30.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("s_sub_raw")
    spark.sql(
      """MERGE INTO t_sub USING (
        |  SELECT k, max_by(name, v) AS name, max(v) AS v FROM s_sub_raw GROUP BY k
        |) src ON t_sub.k = src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(tableSet("t_sub") ===
      Set((1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0)))
  }
}
