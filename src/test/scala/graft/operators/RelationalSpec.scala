package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class RelationalSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("latestPerKey returns exactly one max-order row per key (A7/W1)") {
    val df = Seq((1L, 1, "a"), (1L, 3, "b"), (1L, 2, "c"), (2L, 5, "d"))
      .toDF("k", "v", "tag")
    val r = Relational.latestPerKey(df, Seq("k"), Seq(col("v").desc))
      .orderBy("k").collect()
    assert(r.map(_.getString(2)).toSeq === Seq("b", "d"))
  }

  test("topK is deterministic under ties (tiebreak column)") {
    val df = Seq((1L, 10.0), (2L, 10.0), (3L, 5.0)).toDF("id", "x")
    val r = Relational.topK(df, 2, Seq(col("x").desc, col("id").asc))
      .select("id").as[Long].collect().toSeq
    assert(r === Seq(1L, 2L))
  }

  test("asOfJoin: most recent right row at-or-before left ts, inclusive ties, left-outer") {
    val clicks = Seq((100L, 1L, 10L), (101L, 1L, 5L), (102L, 2L, 7L), (103L, 3L, 1L))
      .toDF("event_id", "user_id", "ts")
    val purchases = Seq((1L, 5L, 50.0), (1L, 8L, 80.0), (2L, 9L, 90.0))
      .toDF("user_id", "p_ts", "p_value")
    val r = Relational.asOfJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts")
      .orderBy("event_id")
      .select("event_id", "p_value").collect()
    assert(r(0).getDouble(1) === 80.0)      // click@10 ← purchase@8
    assert(r(1).getDouble(1) === 50.0)      // click@5 ← purchase@5 (inclusive)
    assert(r(2).isNullAt(1))                // click@7 before purchase@9 → null
    assert(r(3).isNullAt(1))                // user with no purchases → null
  }

  test("topKPerKey: k rows per key, deterministic order, WindowGroupLimit plan") {
    val df = (1 to 40).map(i => (s"k${i % 4}", i.toLong)).toDF("k", "v")
    val top = Relational.topKPerKey(df, Seq("k"), 3, Seq(col("v").desc))
    val got = top.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(got.length === 12)
    assert(got.filter(_._1 == "k0").sortBy(_._3).map(_._2).toSeq === Seq(40L, 36L, 32L))
    // the rank<=k predicate must push below the exchange (map-side prune)
    top.collect()
    val plan = top.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("asOfJoin forward: nearest right row at-or-after, inclusive ties") {
    val clicks = Seq((100L, 1L, 10L), (101L, 1L, 5L), (102L, 1L, 6L), (103L, 2L, 7L))
      .toDF("event_id", "user_id", "ts")
    val purchases = Seq((1L, 5L, 50.0), (1L, 8L, 80.0))
      .toDF("user_id", "p_ts", "p_value")
    val r = Relational.asOfJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts",
        direction = "forward")
      .orderBy("event_id")
      .select("event_id", "p_value").collect()
    assert(r(0).isNullAt(1))                // click@10 has nothing at-or-after
    assert(r(1).getDouble(1) === 50.0)      // click@5 → purchase@5 (inclusive)
    assert(r(2).getDouble(1) === 80.0)      // click@6 → purchase@8 (nearest after)
    assert(r(3).isNullAt(1))                // user 2: no purchases
  }

  test("asOfJoin tolerance: out-of-window nearest match nulls out, no fallback") {
    val clicks = Seq((1L, 1L, 100L), (2L, 1L, 10L)).toDF("event_id", "user_id", "ts")
    val purchases = Seq((1L, 8L, 80.0), (1L, 95L, 95.0)).toDF("user_id", "p_ts", "p_value")
    val r = Relational.asOfJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts",
        tolerance = Some(lit(5L)))
      .orderBy("event_id").select("event_id", "p_value").collect()
    assert(r(0).getDouble(1) === 95.0)      // ts 100, nearest 95, dist 5 ≤ 5
    // ts 10: nearest prior is 8 (dist 2 ≤ 5) → matches; NOT the case where
    // nearest is out of window and an older one sneaks in:
    assert(r(1).getDouble(1) === 80.0)
    val tight = Relational.asOfJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts",
        tolerance = Some(lit(1L)))
      .orderBy("event_id").select("event_id", "p_value").collect()
    assert(tight(0).isNullAt(1) && tight(1).isNullAt(1))
  }

  test("intervalJoin: half-open bounds, bucket-boundary straddle, no dupes") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq(
      (1L, ts("2024-01-01 00:00:00")),  // == start (inclusive)
      (2L, ts("2024-01-02 00:00:00")),  // == end (exclusive)
      (3L, ts("2024-01-05 12:00:00")),  // inside an interval straddling buckets
      (4L, ts("2024-03-01 00:00:00"))   // matches nothing
    ).toDF("pid", "ts")
    val ivs = Seq(
      (10L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")),
      (11L, ts("2024-01-04 06:00:00"), ts("2024-01-06 06:00:00"))
    ).toDF("iv", "s", "e")
    val r = Relational.intervalJoin(pts, "ts", ivs, "s", "e", bucketSeconds = 86400)
      .select("pid", "iv").as[(Long, Long)].collect().toSet
    assert(r === Set((1L, 10L), (3L, 11L)))
    // equals the naive theta join on larger random-ish data
    val manyPts = (0 until 500).map(i => (i.toLong, ts(f"2024-01-${1 + i % 28}%02d ${i % 24}%02d:30:00")))
      .toDF("pid", "ts")
    val naive = manyPts.join(ivs, col("ts") >= col("s") && col("ts") < col("e"))
      .select("pid", "iv").as[(Long, Long)].collect().toSet
    val fast = Relational.intervalJoin(manyPts, "ts", ivs, "s", "e", 86400)
      .select("pid", "iv").as[(Long, Long)].collect().toSet
    assert(fast === naive)
  }

  test("insertIfAbsent appends only new keys (S5)") {
    val ex = Seq((1L, "old")).toDF("k", "v")
    val in = Seq((1L, "new"), (2L, "fresh")).toDF("k", "v")
    val r = Relational.insertIfAbsent(in, ex, Seq("k")).collect()
    assert(r.length === 1 && r.head.getString(1) === "fresh")
  }

  test("lastWins prefers the update batch on key conflict (S4)") {
    val base = Seq((1L, "old"), (2L, "keep")).toDF("k", "v")
    val upd  = Seq((1L, "new")).toDF("k", "v")
    val r = Relational.lastWins(base, upd, Seq("k"), lit(0))
      .orderBy("k").select("v").as[String].collect().toSeq
    assert(r === Seq("new", "keep"))
  }

  test("rollupReagg / cubeReagg match native rollup/cube exactly, incl null group values") {
    val df = Seq(
      ("A", "x", 10L), ("A", "y", 5L), ("B", "x", 7L),
      ("A", "x", 3L), (null, "y", 2L) // a NULL key value must not merge with the rollup's ALL row
    ).toDF("g1", "g2", "v")
    val base = Seq(sum($"v").as("s"), count(lit(1)).as("n"),
      min($"v").as("mn"), max($"v").as("mx"))
    val re = Seq(sum($"s").as("s"), sum($"n").as("n"),
      min($"mn").as("mn"), max($"mx").as("mx"))
    // multiset equality via a total sort over every column (grouping_id
    // is not evaluable post-agg, and row identity is what matters here)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().toSeq.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    val nativeRollup = canon(df.rollup($"g1", $"g2")
      .agg(sum($"v").as("s"), count(lit(1)).as("n"), min($"v").as("mn"), max($"v").as("mx")))
    assert(canon(Relational.rollupReagg(df, Seq("g1", "g2"), base, re)) === nativeRollup)
    val nativeCube = canon(df.cube($"g1", $"g2")
      .agg(sum($"v").as("s"), count(lit(1)).as("n"), min($"v").as("mn"), max($"v").as("mx")))
    assert(canon(Relational.cubeReagg(df, Seq("g1", "g2"), base, re)) === nativeCube)
  }

  test("snapshotDiff tags inserts/deletes/updates, null-safe, drops unchanged") {
    val before = Seq(
      (1L, Some("a"), 10), (2L, Some("b"), 20), (3L, Option.empty[String], 30),
      (4L, Some("gone"), 40)
    ).toDF("id", "tag", "v")
    val after = Seq(
      (1L, Some("a"), 10),                 // unchanged -> absent
      (2L, Some("b2"), 20),                // updated (value change)
      (3L, Some("now"), 30),               // updated (NULL -> value)
      (5L, Some("new"), 50)                // inserted
    ).toDF("id", "tag", "v")
    val d = Relational.snapshotDiff(before, after, Seq("id"), Seq("tag", "v"))
      .collect().map(r => r.getLong(0) -> (r.getString(3), r.getString(1))).toMap
    assert(d.keySet === Set(2L, 3L, 4L, 5L))
    assert(d(2L) === ("updated", "b2"))   // after-image
    assert(d(3L) === ("updated", "now"))  // NULL -> value counts as change
    assert(d(4L) === ("deleted", "gone")) // before-image for deletes
    assert(d(5L) === ("inserted", "new"))
  }

  test("snapshotDiff: value->NULL updates surface NULL; NULL keys pair null-safely") {
    val before = Seq((Option(1L), Option("x")), (Option.empty[Long], Option("nk")))
      .toDF("id", "tag")
    // id=1's tag goes NULL (a real update whose after-image IS NULL);
    // the NULL-keyed row is unchanged and must NOT appear in the diff
    val after = Seq((Option(1L), Option.empty[String]),
      (Option.empty[Long], Option("nk"))).toDF("id", "tag")
    val d = Relational.snapshotDiff(before, after, Seq("id"), Seq("tag")).collect()
    assert(d.length === 1)
    assert(d.head.getLong(0) === 1L && d.head.getString(2) === "updated")
    assert(d.head.isNullAt(1), "after-image must be NULL, not the before value")
    // and a CHANGED null-keyed row is one update, not delete+insert
    val after2 = Seq((Option(1L), Option("x")), (Option.empty[Long], Option("nk2")))
      .toDF("id", "tag")
    val d2 = Relational.snapshotDiff(before, after2, Seq("id"), Seq("tag")).collect()
    assert(d2.length === 1 && d2.head.getString(2) === "updated")
    assert(d2.head.isNullAt(0) && d2.head.getString(1) === "nk2")
  }

  test("globalRank matches a driver-side sort across many partitions") {
    val vals = (0 until 5000).map(i => ((i * 2654435761L) % 100003, i.toLong))
    val df = vals.toDF("k", "tie").repartition(17)
    val got = Relational.globalRank(df, Seq(col("k"), col("tie")))
      .select("k", "tie", "rank")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val want = vals.sorted.zipWithIndex.map { case (kv, i) => kv -> (i + 1L) }.toMap
    assert(got === want)
  }

  test("globalRank spans partitions (no single-partition collapse)") {
    val df = (0 until 2000).map(_.toLong).toDF("k").repartition(16)
    val ranked = Relational.globalRank(df, Seq(col("k")))
    // the rank pass must never plan a SinglePartition exchange (that is
    // exactly the bottleneck globalRank exists to avoid) — AQE may still
    // coalesce TINY data to one partition at runtime, which is fine
    ranked.collect()
    // AQE's toString repeats the tree under "== Initial Plan ==" — keep
    // only the final plan section
    val plan = ranked.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // both the counts pass and the rank pass must read the ONE persisted
    // range-partitioned frame (the shared barrier that pins sampling-
    // derived bounds), and the row number must come from the sorted
    // cache's monotonically_increasing_id — never a row-scaled window
    assert(plan.contains("InMemoryTableScan"), plan)
    assert(!plan.contains("windowspecdefinition(__pid"), plan)
    // ... and it is ONE frame: the offsets pass and the rank pass each
    // scan the same cache, so the range exchange under it runs once
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def cacheScans(p: SparkPlan): Seq[InMemoryTableScanExec] = p match {
      case s: InMemoryTableScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => cacheScans(a.executedPlan)
      case q: QueryStageExec => cacheScans(q.plan)
      case other => other.children.flatMap(cacheScans)
    }
    val scans = cacheScans(ranked.queryExecution.executedPlan)
    assert(scans.size === 2, plan)
    assert(scans.forall(_.relation.cacheBuilder eq scans.head.relation.cacheBuilder), plan)
    // the ONE allowed SinglePartition exchange is the offsets cumsum,
    // which runs over the O(#partitions)-row counts frame, and must
    // feed the broadcast side only (i.e. sit near the tiny count
    // aggregate)
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(single <= 1, plan)
    if (single == 1)
      assert("""Exchange SinglePartition[\s\S]{0,800}HashAggregate\(keys=\[__pid""".r
        .findFirstIn(plan).isDefined, plan)
    assert(ranked.agg(min("rank"), max("rank")).as[(Long, Long)].head() === ((1L, 2000L)))
  }

  test("globalRank: chained ranks stay linear and exact (the RFM shape)") {
    // three successive rankings of the same frame — the q206 chain that
    // made the duplicated-subtree form exponential; with the persisted
    // barrier each level reads one InMemoryRelation and ranks stay exact
    val vals = (0 until 3000).map(i => (i * 48271L % 9973, i.toLong))
    val df = vals.toDF("a", "tie").repartition(13)
    val r1 = Relational.globalRank(df, Seq(col("a").asc, col("tie").asc))
      .withColumnRenamed("rank", "r1")
    val r2 = Relational.globalRank(r1, Seq(col("a").desc, col("tie").asc))
      .withColumnRenamed("rank", "r2")
    val r3 = Relational.globalRank(r2, Seq(col("tie").desc))
      .withColumnRenamed("rank", "r3")
    val got = r3.select("a", "tie", "r1", "r2", "r3").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val asc = vals.sortBy { case (a, t) => (a, t) }.zipWithIndex
      .map { case (kv, i) => kv -> (i + 1L) }.toMap
    val desc = vals.sortBy { case (a, t) => (-a, t) }.zipWithIndex
      .map { case (kv, i) => kv -> (i + 1L) }.toMap
    val byTie = vals.sortBy { case (_, t) => -t }.zipWithIndex
      .map { case (kv, i) => kv -> (i + 1L) }.toMap
    got.foreach { case (a, t, g1, g2, g3) =>
      assert(g1 === asc((a, t)), s"r1 of ($a,$t)")
      assert(g2 === desc((a, t)), s"r2 of ($a,$t)")
      assert(g3 === byTie((a, t)), s"r3 of ($a,$t)")
    }
  }

  test("asOfNearest: nearer side wins, tie prefers backward, tolerance gates") {
    val left = Seq(("k", 100L, "l1"), ("k", 205L, "l2"), ("k", 900L, "l3"))
      .toDF("k", "t", "tag")
    val right = Seq(("k", 90L, "r90"), ("k", 210L, "r210"),
      ("k", 200L, "r200"), ("k", 110L, "r110")).toDF("k", "rt", "v")
    val out = Relational.asOfNearest(left, right, Seq("k"), "t", "rt",
        lit(50L))
      .collect().map(r => r.getString(2) ->
        ((Option(r.getAs[String]("v")), Option(r.get(r.fieldIndex("matched_ts")))
          .map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("gap_us"))).map(_.asInstanceOf[Long]),
          Option(r.getAs[String]("side"))))).toMap
    // l1@100: backward r90 (gap 10) beats forward r110 (gap 10)? tie → backward
    assert(out("l1") === ((Some("r90"), Some(90L), Some(10L), Some("backward"))))
    // l2@205: backward r200 gap 5 beats forward r210 gap 5 → tie backward
    assert(out("l2") === ((Some("r200"), Some(200L), Some(5L), Some("backward"))))
    // l3@900: nearest is r210 at gap 690 — beyond tol 50 → no match
    assert(out("l3") === ((None, None, None, None)))
  }

  test("asOfNearest: forward wins when strictly nearer; equal ts matches at gap 0") {
    val left = Seq(("k", 100L, "a"), ("k", 300L, "b")).toDF("k", "t", "tag")
    val right = Seq(("k", 20L, "far_b"), ("k", 103L, "near_f"),
      ("k", 300L, "exact")).toDF("k", "rt", "v")
    val out = Relational.asOfNearest(left, right, Seq("k"), "t", "rt",
        lit(1000L))
      .collect().map(r => r.getString(2) ->
        ((r.getAs[String]("v"), r.getAs[Long]("gap_us"),
          r.getAs[String]("side")))).toMap
    assert(out("a") === (("near_f", 3L, "forward")))
    assert(out("b") === (("exact", 0L, "backward")))
  }

  test("asOfNearest matches a driver-side nearest computation on random data; layout-proof") {
    val left = (0L until 500L).map(i => (s"k${i % 5}", (i * 97) % 10000, i))
    val right = (0L until 400L).map(i => (s"k${i % 5}", (i * 61) % 10000, i * 10))
    val tol = 150L
    val expect = left.map { case (k, t, id) =>
      val cands = right.filter(_._1 == k).map { case (_, rt, v) =>
        (math.abs(rt - t), if (rt <= t) 0 else 1, rt, v)
      }.filter(_._1 <= tol)
      val best = if (cands.isEmpty) None
        else Some(cands.minBy(c => (c._1, c._2, -c._3))) // tie → backward;
      // among equal-distance same-side (impossible: distinct rt per side tie)
      id -> best.map(c => (c._4, c._1))
    }.toMap
    val ldf = left.toDF("k", "t", "lid")
    val rdf = right.toDF("k", "rt", "v")
    Seq(1, 13).foreach { parts =>
      val got = Relational.asOfNearest(ldf.repartition(parts), rdf,
          Seq("k"), "t", "rt", lit(tol))
        .collect().map(r => r.getAs[Long]("lid") ->
          (if (r.isNullAt(r.fieldIndex("side"))) None
           else Some((r.getAs[Long]("v"), r.getAs[Long]("gap_us"))))).toMap
      assert(got === expect)
    }
  }

  test("asOfNearest: tied right timestamps pick a deterministic struct, layout-proof") {
    // three right rows share (k, rt=100): backward must pick the MAX
    // carried struct, forward the MIN — the same one on every layout
    val left = Seq(("k", 100L, "at"), ("k", 90L, "fwd")).toDF("k", "t", "tag")
    val right = Seq(("k", 100L, "m"), ("k", 100L, "z"), ("k", 100L, "a"))
      .toDF("k", "rt", "v")
    Seq(1, 3, 7).foreach { parts =>
      val out = Relational.asOfNearest(left, right.repartition(parts),
          Seq("k"), "t", "rt", lit(1000L))
        .collect().map(r => r.getString(2) ->
          ((r.getAs[String]("v"), r.getAs[String]("side")))).toMap
      assert(out("at") === (("z", "backward"))) // max struct among ties
      assert(out("fwd") === (("a", "forward"))) // min struct among ties
    }
  }

  test("overlapJoin: hand pairs — overlap, touch, disjoint, cross-key") {
    import spark.implicits._
    // key 1: L[0,100] overlaps R[50,150]; L[0,100] touches R[100,200]
    // (closed: overlap_us 0); L[0,100] vs R[300,400] disjoint.
    // key 2: R[50,150] must NOT pair with key 1's left.
    val left = Seq((1L, 10L, 0L, 100L), (2L, 11L, 0L, 100L))
      .toDF("k", "id", "s", "e")
    val right = Seq((1L, 20L, 50L, 150L), (1L, 21L, 100L, 200L),
      (1L, 22L, 300L, 400L), (2L, 23L, 50L, 150L))
      .toDF("k", "id", "s", "e")
    val out = Relational.overlapJoin(left, right,
        col("k"), col("id"), col("s"), col("e"),
        col("k"), col("id"), col("s"), col("e"), bucketUs = 30L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getAs[Long]("overlap_us")).toMap
    assert(out === Map((1L, 10L, 20L) -> 50L, (1L, 10L, 21L) -> 0L,
      (2L, 11L, 23L) -> 50L))
  }

  test("overlapJoin: each pair emitted exactly once regardless of bucket width") {
    import spark.implicits._
    // long intervals spanning MANY buckets — the bucket pin must still
    // emit one row per overlapping pair, for every width
    val left = Seq((1L, 1L, 0L, 1000L), (1L, 2L, 500L, 1500L))
      .toDF("k", "id", "s", "e")
    val right = Seq((1L, 7L, 900L, 2000L), (1L, 8L, 1400L, 1450L))
      .toDF("k", "id", "s", "e")
    val expect = Map((1L, 1L, 7L) -> 100L, (1L, 2L, 7L) -> 600L,
      (1L, 2L, 8L) -> 50L)
    Seq(3L, 50L, 1000L, 100000L).foreach { w =>
      val got = Relational.overlapJoin(left, right,
          col("k"), col("id"), col("s"), col("e"),
          col("k"), col("id"), col("s"), col("e"), bucketUs = w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
          r.getAs[Long]("overlap_us")).toMap
      assert(got === expect, s"width $w")
    }
  }

  test("overlapJoin: malformed intervals dropped; layout-proof; no NestedLoop") {
    import spark.implicits._
    val left = Seq((1L, 1L, 0L, Some(100L)),
      (1L, 2L, 50L, Some(10L)), // end < start
      (1L, 3L, 0L, Option.empty[Long]))
      .toDF("k", "id", "s", "e")
    val right = Seq((1L, 7L, 40L, 60L)).toDF("k", "id", "s", "e")
    def run(lp: Int) = Relational.overlapJoin(left.repartition(lp), right,
      col("k"), col("id"), col("s"), col("e"),
      col("k"), col("id"), col("s"), col("e"), bucketUs = 25L)
    val rows = run(1).collect()
    assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSet ===
      Set((1L, 7L)))
    assert(run(7).collect() === rows)
    val phys = run(1).queryExecution.executedPlan.toString
    assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"),
      s"range join must plan as an equi join:\n$phys")
  }

  test("overlapJoin: sentinel-wide interval dropped by the span guard") {
    import spark.implicits._
    // id 2 is ordered but absurd: ~4e15 us / bucket 25 us would explode
    // into ~1.6e14 bucket rows without the pre-explode span guard
    val left = Seq((1L, 1L, 0L, 100L),
      (1L, 2L, 0L, 4102444800000000L)) // sentinel end (year 2100)
      .toDF("k", "id", "s", "e")
    val right = Seq((1L, 7L, 40L, 60L)).toDF("k", "id", "s", "e")
    val got = Relational.overlapJoin(left, right,
        col("k"), col("id"), col("s"), col("e"),
        col("k"), col("id"), col("s"), col("e"),
        bucketUs = 25L, maxSpanBuckets = 1000L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 7L))) // id 2 dropped, never exploded
    // raising the ceiling readmits it
    val wide = Relational.overlapJoin(left, right,
        col("k"), col("id"), col("s"), col("e"),
        col("k"), col("id"), col("s"), col("e"),
        bucketUs = 1000000000000000L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(wide === Set((1L, 7L), (2L, 7L)))
  }

  test("overlapJoin: span-guard drops are counted, and fail-loud on request") {
    import spark.implicits._
    val left = Seq((1L, 1L, 0L, 100L),
      (1L, 2L, 0L, 4102444800000000L), // sentinel end (year 2100)
      (1L, 3L, 0L, 4102444800000000L))
      .toDF("k", "id", "s", "e")
    val right = Seq((1L, 7L, 40L, 60L)).toDF("k", "id", "s", "e")
    val lAcc = spark.sparkContext.longAccumulator("overlap_l_oversize")
    val rAcc = spark.sparkContext.longAccumulator("overlap_r_oversize")
    val got = Relational.overlapJoin(left, right,
        col("k"), col("id"), col("s"), col("e"),
        col("k"), col("id"), col("s"), col("e"),
        bucketUs = 25L, maxSpanBuckets = 1000L,
        oversizeLeft = Some(lAcc), oversizeRight = Some(rAcc))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 7L)))
    assert(lAcc.value === 2L,
      "both sentinel-wide left intervals must be counted")
    assert(rAcc.value === 0L)
    // fail-loud mode: the first oversize row kills the job with a
    // message naming the offender
    val e = intercept[Exception] {
      Relational.overlapJoin(left, right,
          col("k"), col("id"), col("s"), col("e"),
          col("k"), col("id"), col("s"), col("e"),
          bucketUs = 25L, maxSpanBuckets = 1000L,
          failOnOversize = true)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("maxSpanBuckets")), messages(e))
  }
}
