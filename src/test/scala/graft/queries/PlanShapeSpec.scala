package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Plan-shape regression guards: the optimizations the engine's scale
  * posture depends on must be visible in the physical plan — a code
  * change that silently breaks pushdown or reintroduces a cross join
  * should fail here, not in a 100 TB run. */
class PlanShapeSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  /** Plan of the probe's OPERATOR path, the body Bench times (the
    * self-oracled probes wrap the operator in an audit whose bounded
    * exact-truth pass deliberately cross-joins scalar aggregates — the
    * shape guard is about the operator users run). */
  def planOf(name: String): String = {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    Probes.benchBody(name)(spark, SharedSpark.sf0001)
      .queryExecution.executedPlan.toString
  }

  test("q02: predicates and column pruning reach the parquet scan") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
    // only the 6 needed columns in ReadSchema (no l_partkey etc.)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"))
  }

  test("q03: dims join via broadcast hash join") {
    val p = planOf("q03_join_dim")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q07: latest-per-key plans with WindowGroupLimit (rank pushdown)") {
    val p = planOf("q07_latest_per_key")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q09: deterministic top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = planOf("q09_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q19: as-of join uses exactly one hash shuffle (no range join explosion)") {
    val p = planOf("q19_asof_join")
    assert(!p.contains("NestedLoop"))
    val hashExchanges = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(hashExchanges === 1, s"expected 1 hash exchange, plan:\n$p")
  }

  test("q27/q38: similarity and range joins never plan a cross join") {
    assert(!planOf("q27_minhash_neardup").contains("Cross"))
    assert(!planOf("q38_interval_join").contains("NestedLoop"))
  }

  test("q42: embedding near-dup self-join is bucket-keyed, never a cross join") {
    val p = planOf("q42_cosine_neardup_lsh")
    assert(!p.contains("Cross") && !p.contains("NestedLoop"))
    assert(p.contains("__bucket")) // candidate generation keyed on the LSH bucket
  }

  test("q84: SemDeDup pair generation is cluster-keyed with native kernels, never a cross join") {
    val p = planOf("q84_semdedup")
    assert(!p.contains("Cross") && !p.contains("NestedLoop"))
    // candidate join keyed on the cluster id; gate + assignment run the
    // codegen'd kernels, not interpreted HOF lambdas
    assert(p.contains("clusterassign("))
    assert(p.contains("longdot("))
  }

  test("q86/q89: window passes share one group-keyed exchange") {
    // running-sum + peak (q86) and median + MAD (q89) each plan TWO
    // Window nodes over ONE hashpartitioning exchange — the second
    // window must not re-shuffle
    for (q <- Seq("q86_peak_concurrency", "q89_hampel")) {
      val p = planOf(q)
      assert("Window \\[".r.findAllIn(p).size === 2, q)
      assert("Exchange (hash|range)partitioning".r.findAllIn(p).size <= 2, q) // group hash + final sort
    }
  }

  test("q83: the bigram model joins broadcast at dictionary scale") {
    val p = planOf("q83_lm_fluency")
    assert(!p.contains("Cross") && !p.contains("NestedLoop"))
    assert(p.contains("BroadcastHashJoin")) // pair-stream ⋈ model
  }

  test("q103: triangle wedge enumeration is equi-joined, never a cross join") {
    val p = planOf("q103_triangles")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q104/q110: digest-ordered sampling and sharding avoid data-path single partitions") {
    // bottom-k: the rank-≤-k cut must push below the exchange
    assert(planOf("q104_bottomk_sample").contains("WindowGroupLimit"))
    // global shuffle: rank comes from globalRank — a range exchange on
    // the digest, plus a window over the O(#partitions) offsets frame
    // only. The probe's own total ORDER BY (display) may single-sort the
    // RESULT; the guard is on the operator path.
    // (the range exchange itself is inside globalRank's eager
    // checkpoint, so the visible plan starts after it)
    import org.apache.spark.sql.functions._
    val op = graft.operators.Sampling.shuffleShard(
      graft.sources.Tables.documents(spark, graft.SharedSpark.sf0001),
      col("doc_id"), nShards = 8)
    // a SinglePartition exchange DOES appear — on the O(#partitions)
    // offsets cumsum frame, which is the documented tiny-frame window;
    // the guard is that the row-scaled rank comes from the persisted
    // sorted frame's per-partition row id (monotonically_increasing_id
    // over the range-partitioned cache), never an unkeyed global
    // row_number window over the whole table
    val p = op.queryExecution.executedPlan.toString
    assert(p.contains("monotonically_increasing_id"),
      s"expected the per-partition row id from globalRank's sorted cache in:\n$p")
    assert(!p.contains("windowspecdefinition(rank"),
      s"unexpected row-scaled rank window in:\n$p")
  }

  test("q113: Count-Min build aggregates with a map-side partial") {
    val p = planOf("q113_countmin")
    // partial_count before the exchange — the sketch-sized-shuffle claim
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"expected partial aggregation in:\n$p")
  }

  test("q111: the correlation matrix is ONE aggregate over the scan") {
    val p = planOf("q111_correlation")
    // exactly one pair of HashAggregates (partial+final) on the moment
    // pass — no per-pair scans
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected one lineitem scan, got $scans:\n$p")
  }

  test("q161: Benford scans and aggregates lineitem once") {
    val p = planOf("q161_benford")
    // the total is a window over the 9 joined rows, not a second
    // aggregate branch over its own scan
    val scans = "FileScan parquet [^\\n]*l_extendedprice".r.findAllIn(p).length
    assert(scans == 1, s"expected one l_extendedprice scan, got $scans:\n$p")
  }

  test("q194: ANN margin-kNN plans bucket-keyed — no cross join, no dedup re-exchange") {
    val p = planOf("q194_margin_ann")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"ANN margin path must never cross-join:\n$p")
    assert(p.contains("__bucket"), "candidate generation keyed on the LSH bucket")
    // the removed dropDuplicates would reappear as a
    // (query, candidate)-keyed HashAggregate before the rank window
    assert(!"keys=\\[query_id#\\d+L?, vec_id#".r.findFirstIn(p).isDefined,
      s"unexpected candidate-stream dedup aggregate:\n$p")
  }

  test("q183: exact two-hop ships neighbor ARRAYS, never wedge rows through an exchange") {
    // twoHopReach's plan reads its held statics, and the printed tree
    // carries their build plans too, so substring checks on it would
    // match the statics' operators; the guard mirrors its internal reach
    // shape — adjacency arrays, the O(m)-row array-shipping join, and
    // ONE distinct-union aggregate — kept in sync with Graph.scala by
    // hand. The r12 wedge form joined adj⋈adj and shipped Σ deg² rows;
    // its signature in the plan was a row-exploding join ABOVE the
    // reach aggregate. Here the aggregate consumes array rows and no
    // Generate/explode sits on the reach path at all.
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.lineitem(spark, SharedSpark.sf0001)
      .select(col("l_suppkey").as("a"), col("l_partkey").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val nbrs = adj.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v").cast("long"))).as("__nbrs"))
    val shipped = adj.select(col("u"), col("v").as("__mid"))
      .join(nbrs.select(col("u").as("__mid"), col("__nbrs")), "__mid")
      .select(col("u"), col("__nbrs"))
    val reach = nbrs.select(col("u"), col("__nbrs")).unionAll(shipped)
      .select(col("u"),
        array_remove(col("__nbrs"), col("u").cast("long")).as("__nbrs"))
      .groupBy(col("u"))
      .agg(size(array_distinct(flatten(collect_list(col("__nbrs")))))
        .cast("long").as("reach2"))
    val p = reach.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert(!p.contains("Generate"),
      s"no explode may sit on the exact-reach path (wedge-row regression):\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the distinct-union must plan as ObjectHashAggregate partials:\n$p")
  }

  test("q196: KMV two-hop plans sketch-sized — mergeable bottom-k agg, no wedge cross join") {
    val p = planOf("q196_two_hop_kmv")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    // the sketches build in ObjectHashAggregate partials (the mergeable
    // bottomKDistinct/bottomKDistinctMerge buffers dedup+truncate
    // map-side) — the round-8 replacement for the WindowGroupLimit +
    // distinct() double shuffle; a sort-based fallback would mean the
    // 128-key threshold regression resurfaced
    assert(p.contains("ObjectHashAggregate"),
      s"bottom-k sketches must plan as ObjectHashAggregate partials:\n$p")
  }

  test("q199: changepoint — the window and the totals agg share ONE key exchange each way") {
    val p = planOf("q199_changepoint")
    // one exchange for the per-key window+candidates, one for the key
    // totals agg, plus the final presentation sort — nothing per-split
    val ex = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(ex <= 3, s"changepoint must not add per-split exchanges ($ex):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("q202: decile lift ranks via globalRank's persisted barrier, no row-scaled global window") {
    val p = planOf("q202_decile_lift")
    // globalRank persists the range-partitioned sorted frame (its
    // offsets pass and rank pass MUST share one physical layout; the
    // cache is recomputable, unlike the localCheckpoint it replaced) —
    // the downstream plan reads that one in-memory relation
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"globalRank's persisted barrier missing:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q207: temporal join is a plain (broadcast or hash) equi-join — no range explosion") {
    val p = planOf("q207_temporal_join")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"interval filter must ride the key equi-join:\n$p")
  }

  test("q208: attribution joins on the entity key, never a time-range cross join") {
    val p = planOf("q208_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"window predicate must ride the entity equi-join:\n$p")
  }

  test("q205: covariance moments — ONE scan feeds the Aggregator (per-dim sums excepted)") {
    val p = planOf("q205_cov_moments")
    assert(p.contains("graft.functions.Aggregators"),
      s"the one-pass Aggregator must be in the plan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q213: KMV rollup plans sketch-sized — mergeable bottom-k agg") {
    val p = planOf("q213_kmv_rollup")
    // round 8: signatures and rollups build in ObjectHashAggregate
    // partials (bottomKDistinct/bottomKDistinctMerge buffers) — the
    // WindowGroupLimit cascade no longer exists; see the q196 guard
    assert(p.contains("ObjectHashAggregate"),
      s"bottom-k sketches must plan as ObjectHashAggregate partials:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q216: windowed funnel is a cascade of key joins — no time-range cross join") {
    val p = planOf("q216_funnel_windowed")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"gap predicate must ride the entity equi-join:\n$p")
  }

  test("q219: session stats share ONE entity exchange — windows and the " +
      "session aggregate all ride it") {
    val p = planOf("q219_session_stats")
    val nEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nEx == 1,
      s"expected exactly one hash exchange (entity), got $nEx:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("graph tier: with broadcasts OFF the round join reuses the " +
      "clustered edge cache — no Exchange above InMemoryTableScan") {
    // The 1000-executor contract behind q78/q90/q198/q200/q212: the
    // per-round rank⋈edges join must reuse the persisted
    // repartition(src) layout, exchanging ONLY the (small) rank frame.
    // Locally the rank frame broadcasts, which hides a broken layout —
    // so this guard disables broadcasts and counts exchanges in the
    // exact join shape pagerankMicro executes each round.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf
      .getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val edges = (0L until 4000L)
        .map(i => (i % 97, (i * 7 + 1) % 97)).toDF("src", "dst")
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val eDeg = edges.join(deg, "src").repartition(col("src")).persist()
      eDeg.count() // materialize the clustered cache
      try {
        val ranks = spark.range(97)
          .select(col("id").as("src"), lit(1000000L).as("rank"))
        val round = eDeg.join(ranks, "src")
          .select(col("dst"), expr("(rank * 1000000L) DIV deg").as("c"))
        // walk the LIVE plan tree (InMemoryTableScan is a leaf — its
        // printed build lineage contains exchanges that never re-run,
        // so substring counting would overcount)
        val plan = round.queryExecution.executedPlan
        val live = plan.collectFirst {
          case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => a.executedPlan
        }.getOrElse(plan)
        assert(live.collect {
          case s: org.apache.spark.sql.execution.columnar
              .InMemoryTableScanExec => s
        }.nonEmpty, s"edge cache must feed the join:\n$live")
        assert(live.collect {
          case b: org.apache.spark.sql.execution.joins
              .BroadcastHashJoinExec => b
        }.isEmpty, s"broadcasts are disabled for this guard:\n$live")
        val nEx = live.collect {
          case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => e
        }.length
        assert(nEx == 1,
          s"only the rank side may exchange (got $nEx):\n$live")
      } finally eDeg.unpersist()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      prevA match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("incremental merge reads the stored fact with a partition filter") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_planprune").toString
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2025-11-26 04:00:00"), 22.0),
      (1L, java.sql.Timestamp.valueOf("2025-11-27 04:00:00"), 24.0))
      .toDF("city_id", "dt", "temp")
    graft.weather.Store.writeFactPartitioned(rows, dir)
    val p = graft.weather.Store
      .prunedFact(spark, dir, Seq(java.sql.Date.valueOf("2025-11-27")))
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("p_date"),
      s"expected a p_date partition filter in:\n$p")
  }

  test("round-7 cells pair joins plan as equi joins, never NestedLoop (kendall, mann-kendall)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // with broadcasts OFF the null-safe group key must still carry
      // the join as SMJ/SHJ; the lexicographic dedup is a post filter
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = (0 until 300).map(i =>
        (s"g${i % 3}", (i % 11).toLong, ((i * 7) % 13).toLong))
        .toDF("g", "x", "y")
      val pk = graft.operators.Profile.kendallTau(df, col("g"),
        col("x"), col("y")).queryExecution.executedPlan.toString
      assert(!pk.contains("NestedLoop") && !pk.contains("Cartesian"),
        s"kendall pair join must stay equi:\n$pk")
      val pm = graft.operators.TimeSeries.mannKendall(df, col("g"),
        col("x"), col("y")).queryExecution.executedPlan.toString
      assert(!pm.contains("NestedLoop") && !pm.contains("Cartesian"),
        s"mann-kendall pair join must stay equi:\n$pm")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("markovBacktest broadcasts the states-sized model to the test stream") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = (0 until 400).map { i =>
      ((i % 20).toLong, (i / 20).toLong * 10, s"s${(i * 7) % 4}")
    }.toDF("u", "t", "s")
    val p = graft.operators.Analytics.markovBacktest(rows, col("u"),
        col("t"), col("t"), col("s"), splitTsUs = 100L)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop") ||
      p.contains("BroadcastExchange"),
      s"the model/baseline frames must broadcast, not shuffle the test stream:\n$p")
  }
}
