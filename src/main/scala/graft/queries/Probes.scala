package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Relational, Similarity, TextDedup}
import graft.functions.Text
import graft.plans.HashExprs

/** Operator-inventory probe queries (SURVEY.md §2) over the driver corpus.
  *
  * Each probe is (a) a DataFrame program exercising one operator family and
  * (b) where ANSI-expressible, a DuckDB oracle SQL producing the identical
  * result (same column names, same total ORDER BY, doubles rounded —
  * SURVEY.md §2.11).
  *
  * Determinism rules applied throughout:
  *  - every query ends in a total ORDER BY (full key appended);
  *  - SUM over doubles rounded to 2 decimals, AVG to 4;
  *  - raw double *columns* (untouched parquet values) are passed through
  *    unrounded — both engines read identical bits;
  *  - timestamps stay in UTC (both sessions pinned).
  */
object Probes {

  final case class Probe(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      // What Bench times when it differs from the gate query: the five
      // approximate-operator probes wrap the operator in a self-oracle
      // audit (bounded exact truth + invariant booleans) for the
      // correctness gate; benchmarking that harness would hide operator
      // regressions behind audit cost, so Bench runs the raw operator.
      benchRun: Option[(SparkSession, String) => DataFrame] = None
  )

  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** The corpus' double measures are 2-decimal quantized; summing them as
    * DECIMAL(18,2) is exact in both Spark and DuckDB, which makes every
    * rounded aggregate bit-deterministic (no float-summation-order flap —
    * SURVEY.md §2.11 / §7.4 risk 3). */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact-sum decimal aggregate, emitted as a rounded double. */
  private def sumExact(c: Column, scale: Int = 2): Column =
    round(sum(dec(c)), scale).cast("double")

  /** Binary-deterministic rounding for DOUBLE results: floor(x·10^s + .5).
    * Spark's round() rounds the shortest decimal STRING of the double
    * (BigDecimal.valueOf) while DuckDB rounds the BINARY value — they
    * disagree whenever the shortest repr lands exactly on a midpoint
    * (e.g. 0.73935). floor over identical IEEE ops can't diverge. Oracle
    * SQL must use the same floor formula. */
  private def binRound(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * p + 0.5) / p
  }

  /** Deterministic average: exact decimal sum, one IEEE double division,
    * then binary-deterministic rounding — identical bits in any engine. */
  private def avgExact(c: Column, scale: Int = 4): Column =
    binRound(sum(dec(c)).cast("double") / count(lit(1)), scale)

  // ---------------------------------------------------------------------
  // Aggregation / filter / projection probes (SURVEY.md §2.2, §2.3, §2.5)
  // ---------------------------------------------------------------------

  /** A2-A4/A5 analogue: grouped aggregation with partial (map-side) combine.
    * One hash shuffle on the 6-group key; whole-stage codegen end-to-end. */
  val pricingSummary = Probe(
    "q01_pricing_summary",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumExact(col("l_quantity")).as("sum_qty"),
          sumExact(col("l_extendedprice")).as("sum_base_price"),
          round(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))), 2)
            .cast("double").as("sum_disc_price"),
          avgExact(col("l_quantity")).as("avg_qty"),
          avgExact(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")
        )
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
           |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
           |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
           |  floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_qty,
           |  floor(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  )

  /** F1/F3/F4 + P5: selective filter + narrow projection. The predicate and
    * the 5-column ReadSchema both reach the parquet scan (pushdown). */
  val filterProject = Probe(
    "q02_filter_project",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_shipdate").between(ts("1997-01-01 00:00:00"), ts("1997-12-31 00:00:00")) &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
           |FROM lineitem
           |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
           |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
  )

  // ---------------------------------------------------------------------
  // Join probes (SURVEY.md §2.4)
  // ---------------------------------------------------------------------

  /** J1: dim⋈fact star join. nation/region are broadcast explicitly (tiny
    * dims, always); customer joins by shuffle hash — the scale-correct
    * choice at 100 TB — and AQE demotes it to broadcast at small SF. */
  val joinDim = Probe(
    "q03_join_dim",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sumExact(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders")
        )
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name,
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue, count(*) AS n_orders
           |FROM orders
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name, n_name
           |ORDER BY r_name, n_name""".stripMargin)
  )

  /** J2: anti join — customers with no large (>200k) order (NOT EXISTS). */
  val antiJoin = Probe(
    "q04_anti_join",
    (s, d) =>
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d).filter(col("o_totalprice") > 200000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name, c_mktsegment
           |FROM customer c
           |WHERE NOT EXISTS (SELECT 1 FROM orders o
           |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
           |ORDER BY c_custkey""".stripMargin)
  )

  /** Semi join — customers with at least one finished ('F') order (EXISTS). */
  val semiJoin = Probe(
    "q05_semi_join",
    (s, d) =>
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d).filter(col("o_orderstatus") === "F")
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name, c_acctbal
           |FROM customer c
           |WHERE EXISTS (SELECT 1 FROM orders o
           |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
           |ORDER BY c_custkey""".stripMargin)
  )

  // ---------------------------------------------------------------------
  // Dedup / window / sort probes (SURVEY.md §2.5 A1/A7, §2.6, §2.7)
  // ---------------------------------------------------------------------

  /** A1: distinct projection (ReplaceDeduplicateWithAggregate → one hash
    * shuffle on the distinct key). */
  val distinctDim = Probe(
    "q06_distinct",
    (s, d) =>
      Tables.customer(s, d)
        .select("c_mktsegment", "c_nationkey")
        .distinct()
        .orderBy("c_mktsegment", "c_nationkey"),
    Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
           |ORDER BY c_mktsegment, c_nationkey""".stripMargin)
  )

  /** A7/W1: latest row per key — the reference's "latest weather per city"
    * pattern (README.md:66,111) on orders/customer. */
  val latestPerKey = Probe(
    "q07_latest_per_key",
    (s, d) =>
      Relational
        .latestPerKey(Tables.orders(s, d), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey"),
    Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
           |FROM (SELECT *, row_number() OVER
           |        (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           |      FROM orders)
           |WHERE rn = 1
           |ORDER BY o_custkey""".stripMargin)
  )

  /** W2/frame-spec windows: running total + 3-row rolling average per
    * customer (the time-series extension of SURVEY.md §2.6). */
  val windowRunning = Probe(
    "q08_window_running",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun  = w.rowsBetween(Window.unboundedPreceding, 0)
      val wRoll = w.rowsBetween(-2, 0)
      Tables.orders(s, d)
        .withColumn("running_spend",
          round(sum(dec(col("o_totalprice"))).over(wRun), 2).cast("double"))
        .withColumn("rolling_avg3",
          binRound(sum(dec(col("o_totalprice"))).over(wRoll).cast("double") /
            count(lit(1)).over(wRoll), 4))
        .select("o_custkey", "o_orderkey", "o_orderdate", "running_spend", "rolling_avg3")
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE) AS running_spend,
           |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS DOUBLE) / (count(*) OVER w3) * 10000 + 0.5) / 10000 AS rolling_avg3
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |       w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)
  )

  /** O2/O3: deterministic top-k (TakeOrderedAndProject — per-partition
    * top-k, tiny driver merge; no global sort). */
  val topK = Probe(
    "q09_topk",
    (s, d) =>
      Relational
        .topK(Tables.orders(s, d), 10, Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select("o_orderkey", "o_custkey", "o_totalprice"),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)
  )

  /** O1: union-by-name of two branches (pandas-concat analogue). */
  val unionBranches = Probe(
    "q10_union",
    (s, d) => {
      val o = Tables.orders(s, d)
      val open   = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_totalprice"), lit("open").as("bucket"))
      val closed = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"), lit("closed").as("bucket"))
      open.unionByName(closed).orderBy("bucket", "o_orderkey")
    },
    Some("""SELECT o_orderkey, o_totalprice, 'open' AS bucket FROM orders WHERE o_orderstatus = 'O'
           |UNION ALL
           |SELECT o_orderkey, o_totalprice, 'closed' AS bucket FROM orders WHERE o_orderstatus = 'F'
           |ORDER BY bucket, o_orderkey""".stripMargin)
  )

  // ---------------------------------------------------------------------
  // Time-series / scalar-function probes (SURVEY.md §2.5 A5/A6, §2.8)
  // ---------------------------------------------------------------------

  /** A5/Q5: the dashboard's "temperature by hour" time series, on events. */
  val timeSeries = Probe(
    "q11_timeseries",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(
          count(lit(1)).as("n_events"),
          avgExact(col("value")).as("avg_value"),
          sumExact(col("value")).as("sum_value")
        )
        .orderBy("hour"),
    Some("""WITH ev AS (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events)
           |SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events,
           |  floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_value,
           |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
           |FROM ev GROUP BY 1 ORDER BY hour""".stripMargin)
  )

  /** A6: min/max scale per group (the map color-scale query). */
  val minMax = Probe(
    "q12_minmax",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          count(lit(1)).as("n")
        )
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, min(l_extendedprice) AS min_price,
           |  max(l_extendedprice) AS max_price, count(*) AS n
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )

  /** S4/J3: last-write-wins upsert merge (the reference's ON CONFLICT DO
    * UPDATE) via graft.operators.Relational.lastWins. */
  val upsertLastWins = Probe(
    "q13_upsert_lastwins",
    (s, d) => {
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_totalprice")
      val upd = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"))
      Relational.lastWins(base, upd, Seq("o_orderkey"), lit(0))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""WITH base AS (SELECT o_orderkey, o_totalprice, 0 AS prec FROM orders WHERE o_orderkey % 2 = 0),
           |upd AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice, 1 AS prec FROM orders WHERE o_orderkey % 3 = 0),
           |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
           |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY prec DESC) AS rn FROM u)
           |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
           |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)
  )

  /** S5/J2: first-write-wins insert-if-absent (ON CONFLICT DO NOTHING). */
  val insertIfAbsent = Probe(
    "q14_insert_if_absent",
    (s, d) => {
      val o = Tables.orders(s, d)
      val existing = o.filter(col("o_orderkey") % 2 === 0)
      val incoming = o.filter(col("o_orderkey") % 3 === 0)
      Relational.insertIfAbsent(incoming, existing, Seq("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
           |FROM orders i
           |WHERE o_orderkey % 3 = 0
           |  AND NOT EXISTS (SELECT 1 FROM orders e
           |                  WHERE e.o_orderkey % 2 = 0 AND e.o_orderkey = i.o_orderkey)
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** X5/P1 (semi-structured): JSON field extraction from the events.props
    * payload — the flatten-JSON capability of the reference's ingest. */
  val jsonExtract = Probe(
    "q15_json_extract",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), avgExact(col("value")).as("avg_value"))
        .orderBy("k"),
    Some("""SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           |  count(*) AS n,
           |  floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_value
           |FROM events GROUP BY 1 ORDER BY k""".stripMargin)
  )

  /** X1/X6: datetime scalar surface — truncation, extraction, arithmetic,
    * formatting (output as strings for engine-neutral comparison). */
  val datetimeScalars = Probe(
    "q16_datetime",
    (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day_str"),
          hour(col("ts")).cast("long").as("hr"),
          minute(col("ts")).cast("long").as("mins"),
          date_format(col("ts") + expr("INTERVAL 1 HOUR"), "yyyy-MM-dd HH:mm:ss").as("next_hour"),
          // X3: parse a textual datetime back into a typed timestamp
          to_timestamp(date_format(col("ts"), "yyyy-MM-dd HH:mm"), "yyyy-MM-dd HH:mm")
            .as("ts_minute")
        )
        .orderBy("event_id"),
    Some("""WITH ev AS (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events)
           |SELECT event_id, strftime(ts, '%Y-%m-%d') AS day_str,
           |  EXTRACT(hour FROM ts) AS hr, EXTRACT(minute FROM ts) AS mins,
           |  strftime(ts + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS next_hour,
           |  strptime(strftime(ts, '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M') AS ts_minute
           |FROM ev ORDER BY event_id""".stripMargin)
  )

  /** X2: timezone conversion — store UTC, convert at presentation
    * (SURVEY.md §1.4; golden pairs in FIXTURES.md §1.3). */
  val tzConvert = Probe(
    "q17_tz_convert",
    (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          date_format(from_utc_timestamp(col("ts"), "Asia/Ho_Chi_Minh"), "yyyy-MM-dd HH:mm:ss")
            .as("local_str"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
           |  strftime(timezone('Asia/Ho_Chi_Minh', timezone('UTC', ts)), '%Y-%m-%d %H:%M:%S') AS local_str
           |FROM events ORDER BY event_id""".stripMargin)
  )

  /** Grouping-sets surface: ROLLUP over the pricing hierarchy. Group keys
    * coalesced to 'ALL' so NULL-ordering differences between engines can't
    * flap the sort. */
  val rollup = Probe(
    "q18_rollup",
    (s, d) =>
      // re-aggregation form: one Expand-free pass over the raw rows, the
      // grouping-set Expand touches only the 6 grouped rows (Relational
      // .rollupReagg scaladoc has the 100 TB arithmetic)
      Relational.rollupReagg(Tables.lineitem(s, d),
          Seq("l_returnflag", "l_linestatus"),
          baseAggs = Seq(sum(dec(col("l_extendedprice"))).as("__rev"),
            count(lit(1)).as("__n")),
          reAggs = Seq(round(sum(col("__rev")), 2).cast("double").as("revenue"),
            sum(col("__n")).as("n")))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("revenue"), col("n"))
        .orderBy("rf", "ls"),
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
           |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue, count(*) AS n
           |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
           |ORDER BY rf, ls""".stripMargin)
  )

  /** As-of join (point-in-time): for each click, the user's most recent
    * purchase value at-or-before the click. DuckDB oracle uses its native
    * ASOF JOIN; our engine composes union + last-ignore-nulls window
    * (single shuffle — see Relational.asOfJoin). */
  val asOfJoin = Probe(
    "q19_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      Relational.asOfJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts")
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"), col("p_value"))
        .orderBy("event_id")
    },
    Some("""WITH ev AS (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events),
           |clicks AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
           |p AS (SELECT user_id, ts AS p_ts, value AS p_value FROM ev WHERE event_type = 'purchase')
           |SELECT c.event_id, c.user_id, c.ts AS click_ts, p.p_value
           |FROM clicks c ASOF LEFT JOIN p
           |  ON c.user_id = p.user_id AND p.p_ts <= c.ts
           |ORDER BY c.event_id""".stripMargin)
  )

  /** Interval (range) join: events matched into weekly one-day windows.
    * Ours bucketizes to an equi-join (Relational.intervalJoin); the DuckDB
    * oracle uses its native inequality join — same semantics. */
  val intervalJoin = Probe(
    "q38_interval_join",
    (s, d) => {
      val windows = s.range(8).select(
        col("id").as("window_id"),
        (lit("2024-01-01 00:00:00").cast("timestamp") +
          expr("make_interval(0, 0, 0, CAST(id * 7 AS INT), 0, 0, 0)")).as("w_start"))
        .withColumn("w_end", col("w_start") + expr("INTERVAL 1 DAY"))
      Relational.intervalJoin(Tables.events(s, d), "ts", windows, "w_start", "w_end")
        .select(col("window_id"), col("event_id"), col("event_type"))
        .orderBy("window_id", "event_id")
    },
    Some("""WITH ev AS (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events),
           |w AS (SELECT i AS window_id,
           |        TIMESTAMP '2024-01-01 00:00:00' + i * 7 * INTERVAL 1 DAY AS w_start,
           |        TIMESTAMP '2024-01-01 00:00:00' + (i * 7 + 1) * INTERVAL 1 DAY AS w_end
           |      FROM range(8) t(i))
           |SELECT w.window_id, e.event_id, e.event_type
           |FROM ev e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
           |ORDER BY window_id, event_id""".stripMargin)
  )

  /** The NATIVE as-of join (custom LogicalPlan + Rule + Strategy +
    * merge-join SparkPlan, graft.plans.AsOfJoinPlan) on the same inputs
    * and oracle as q19 — both implementations must match DuckDB's ASOF
    * JOIN independently. */
  val asOfJoinNative = Probe(
    "q39_asof_join_native",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      graft.plans.AsOf.join(clicks, purchases, Seq("user_id"), "ts", "p_ts")
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"), col("p_value"))
        .orderBy("event_id")
    },
    asOfJoin.oracle
  )

  /** RANGE-frame time window — the frame type q08's ROWS frames don't
    * cover: 30-day trailing spend per customer measured in DATE distance,
    * not row count. Rows sharing a date are frame PEERS and aggregate
    * identically, so the result is deterministic under any within-date
    * row order (no tiebreak column needed inside the frame). */
  val rollingTimeWindow = Probe(
    "q44_rolling_time_window",
    (s, d) => {
      val day = datediff(to_date(col("o_orderdate")),
        lit(java.sql.Date.valueOf("1970-01-01")))
      val w = Window.partitionBy(col("o_custkey")).orderBy(day).rangeBetween(-29, 0)
      // both frame columns in ONE select: chained withColumn calls would
      // plan two Window operators with a redundant re-sort between them
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(sum(dec(col("o_totalprice"))).over(w), 2).cast("double").as("spend_30d"),
          count(lit(1)).over(w).as("n_orders_30d"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE) AS spend_30d,
           |  count(*) OVER w AS n_orders_30d
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey
           |             ORDER BY (o_orderdate::DATE - DATE '1970-01-01')
           |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
           |ORDER BY o_custkey, o_orderkey""".stripMargin)
  )

  /** Pivot (crosstab): status → columns with explicit value list, so the
    * output schema is static and the agg per cell is the exact-DECIMAL
    * sum. Compiles to conditional aggregation — which is exactly how the
    * oracle expresses it. */
  val pivotStatus = Probe(
    "q45_pivot",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(dec(col("o_totalprice"))), 2).cast("double"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
           |  CAST(round(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS "F",
           |  CAST(round(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS "O",
           |  CAST(round(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS "P"
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  )

  /** Unpivot (melt): wide numeric columns → (key, metric, value) long
    * form — the inverse reshaping, value columns cast to one type as
    * unpivot requires. */
  val unpivotPart = Probe(
    "q46_unpivot",
    (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")), "metric", "value")
        .orderBy("p_partkey", "metric"),
    Some("""SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
           |UNION ALL
           |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
           |ORDER BY p_partkey, metric""".stripMargin)
  )

  /** Exact DISCRETE percentiles per group — the deterministic complement
    * of the q35 sketch surface. percentile_disc returns an actual data
    * element (smallest value at-or-above the cumulative fraction), so
    * both engines emit the SAME stored double and the hash compare is
    * categorically safe. The interpolated variant (percentile_cont /
    * quantile_cont) was rejected for the gate: its result is a fresh
    * arithmetic combination whose operation order differs across
    * engines — ulp-level drift the floor-rounding rule can't absorb
    * (verified equal across engines here including integer p·n
    * positions, where disc conventions could diverge). */
  val percentiles = Probe(
    "q47_percentiles",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice)").as("p99"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
           |  quantile_disc(o_totalprice, 0.5) AS p50,
           |  quantile_disc(o_totalprice, 0.9) AS p90,
           |  quantile_disc(o_totalprice, 0.99) AS p99
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  )

  /** lag/lead offset windows: per-customer deltas vs the previous order
    * (gap in days, spend delta) — null on each partition's first row. */
  val lagLead = Probe(
    "q48_lag_lead",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          datediff(to_date(col("o_orderdate")),
            to_date(lag(col("o_orderdate"), 1).over(w))).cast("long").as("days_since_prev"),
          round(dec(col("o_totalprice")) - lag(dec(col("o_totalprice")), 1).over(w), 2)
            .cast("double").as("delta_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
           |  datediff('day', lag(o_orderdate::DATE) OVER w, o_orderdate::DATE) AS days_since_prev,
           |  CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) -
           |       lag(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE) AS delta_spend
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           |ORDER BY o_custkey, o_orderkey""".stripMargin)
  )

  /** CUBE — all grouping-set combinations (q18's rollup covers only the
    * hierarchical prefixes); null grouping cells coalesced to a sentinel
    * exactly as q18 does. */
  val cubeAgg = Probe(
    "q51_cube",
    (s, d) =>
      Relational.cubeReagg(Tables.lineitem(s, d),
          Seq("l_returnflag", "l_linestatus"),
          baseAggs = Seq(sum(dec(col("l_extendedprice"))).as("__rev"),
            count(lit(1)).as("__n")),
          reAggs = Seq(round(sum(col("__rev")), 2).cast("double").as("revenue"),
            sum(col("__n")).as("n")))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("revenue"), col("n"))
        .orderBy("rf", "ls"),
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
           |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue, count(*) AS n
           |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
           |ORDER BY rf, ls""".stripMargin)
  )

  /** INTERSECT / EXCEPT — the set-op family beyond q10's union: customer
    * keys in both segments, and keys in the first only, tagged and
    * unioned into one deterministic result. Spark's intersect/except are
    * set semantics (dedup), same as the SQL operators. */
  val setOps = Probe(
    "q52_set_ops",
    (s, d) => {
      val cust = Tables.customer(s, d)
      val building = cust.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val positive = cust.filter(col("c_acctbal") > 0)
        .select(col("c_custkey"))
      building.intersect(positive).withColumn("tag", lit("both"))
        .unionByName(building.except(positive).withColumn("tag", lit("building_only")))
        .orderBy("tag", "c_custkey")
    },
    Some("""WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
           |p AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
           |SELECT c_custkey, 'both' AS tag FROM (SELECT * FROM b INTERSECT SELECT * FROM p)
           |UNION ALL
           |SELECT c_custkey, 'building_only' AS tag FROM (SELECT * FROM b EXCEPT SELECT * FROM p)
           |ORDER BY tag, c_custkey""".stripMargin)
  )

  /** Gap-based sessionization, batch formulation (gaps-and-islands: lag →
    * new-session flags → running flag sum = session id). This is the SAME
    * plan SessionizeSpec cross-checks against the streaming
    * flatMapGroupsWithState operator, so oracling it here transitively
    * checks the stateful path's session boundaries. Equal-timestamp ties
    * can't flip session membership (gap 0 < any threshold), so the result
    * is deterministic; sum_value (float-summation order) stays spec-land. */
  val sessionsBatch = Probe(
    "q49_sessions",
    (s, d) =>
      graft.streaming.Sessionize.sessionizeBatch(
          Tables.events(s, d).select(col("user_id"), col("ts"), col("value")),
          gapMinutes = 30)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events").cast("long").as("n_events"))
        .orderBy("user_id", "session_start"),
    Some("""WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
           |g AS (SELECT user_id, ts,
           |        CASE WHEN lag(ts) OVER w IS NULL
           |             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
           |        THEN 1 ELSE 0 END AS nf
           |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |s AS (SELECT user_id, ts,
           |        sum(nf) OVER (PARTITION BY user_id ORDER BY ts
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           |      FROM g)
           |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           |       count(*) AS n_events
           |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)
  )

  val relationalProbes: Seq[Probe] = Seq(
    pricingSummary, filterProject, joinDim, antiJoin, semiJoin, distinctDim,
    latestPerKey, windowRunning, topK, unionBranches, timeSeries, minMax,
    upsertLastWins, insertIfAbsent, jsonExtract, datetimeScalars, tzConvert,
    rollup, asOfJoin, intervalJoin, asOfJoinNative, rollingTimeWindow,
    pivotStatus, unpivotPart, percentiles, lagLead, sessionsBatch,
    cubeAgg, setOps
  )

  // ---------------------------------------------------------------------
  // LLM-pipeline extension probes (SURVEY.md §2.10 / driver north star):
  // text analysis, dedup, similarity search over documents + embeddings.
  // ---------------------------------------------------------------------

  /** Text stats: char length, word count, average word length — pure
    * narrow per-row transforms (no shuffle except the final sort). */
  val textStats = Probe(
    "q20_text_stats",
    (s, d) => {
      Tables.documents(s, d)
        .withColumn("__st", graft.plans.TextExprs.tokenStats(s, col("text")))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("text_len"),
          col("__st.n_words").cast("long").as("n_words"),
          when(col("__st.n_words") > 0,
            binRound(col("__st.sum_word_len").cast("double") / col("__st.n_words"), 4))
            .as("avg_word_len"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, text,
           |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ws
           |  FROM documents)
           |SELECT doc_id, length(text) AS text_len, len(ws) AS n_words,
           |  CASE WHEN len(ws) > 0 THEN
           |    floor(CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) * 10000 + 0.5) / 10000
           |  END AS avg_word_len
           |FROM t ORDER BY doc_id""".stripMargin)
  )

  /** Token counting: whitespace tokens + BPE-ish regex token estimate. */
  val tokenCount = Probe(
    "q21_token_count",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("__st", graft.plans.TextExprs.tokenStats(s, col("text")))
        .select(
          col("doc_id"),
          col("__st.n_words").cast("long").as("n_ws_tokens"),
          Text.tokenCountRegex(col("text")).cast("long").as("n_re_tokens"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS n_ws_tokens,
           |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_re_tokens
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Per-document stopword ratio — higher-order filter over the token
    * array (a quality-gate primitive). Exact rational → deterministic. */
  val stopwordRatio = Probe(
    "q22_stopword_ratio",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("__sw", graft.plans.TextExprs.stopwordStats(s, col("text")))
        .select(col("doc_id"), col("lang"),
          binRound(when(col("__sw.n_words") > 0,
            col("__sw.hits").cast("double") / col("__sw.n_words")).otherwise(0.0), 4)
            .as("stop_ratio"))
        .orderBy("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, lang,
            |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ws
            |  FROM documents)
            |SELECT doc_id, lang,
            |  floor((CASE WHEN len(ws) > 0 THEN
            |    CAST(len(list_filter(ws, x -> x IN (${Text.englishStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) / len(ws)
            |    ELSE 0.0 END) * 10000 + 0.5) / 10000 AS stop_ratio
            |FROM t ORDER BY doc_id""".stripMargin)
  )

  /** Exact dedup stats per source: doc counts vs distinct content digests
    * (16-byte md5 shuffle keys, not document bodies). */
  val dedupExact = Probe(
    "q23_dedup_exact",
    (s, d) => TextDedup.exactStats(Tables.documents(s, d), "source"),
    Some("""SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique
           |FROM documents GROUP BY source ORDER BY source""".stripMargin)
  )

  /** P3-style generator: explode tokens → global word frequencies, top 50.
    * Partial aggregation makes the shuffle carry ≤|vocab| rows per task. */
  val wordFreq = Probe(
    "q24_word_freq",
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(Text.words(col("text"))).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(50),
    Some("""SELECT word, count(*) AS n
           |FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |                    x -> len(x) > 0)) AS word FROM documents)
           |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin)
  )

  /** Brute-force cosine top-k (exact ANN baseline): 5 query vectors
    * broadcast against the corpus, re-ranked per query. Double-precision
    * sequential fold on both engines → deterministic sims. */
  val knnBruteForce = Probe(
    "q25_knn_cosine",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(emb, queries, 10)
        .select(col("query_id"), col("vec_id"), binRound(col("sim"), 4).as("sim"), col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |           FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
           |sc AS (SELECT query_id, vec_id,
           |         list_dot_product(cv, qv) /
           |           NULLIF(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0) AS sim
           |       FROM c, q WHERE vec_id <> query_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
           |      FROM sc)
           |SELECT query_id, vec_id, floor(sim * 10000 + 0.5) / 10000 AS sim, rnk
           |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)
  )

  /** Embedding centroid per label (custom-aggregate surface): posexplode →
    * per-(label, dim) average. */
  val centroid = Probe(
    "q26_centroid",
    (s, d) => Similarity.centroids(Tables.embeddings(s, d), "label"),
    Some("""SELECT label, i AS dim, floor(avg(embedding[i]::DOUBLE) * 10000 + 0.5) / 10000 AS centroid_val
           |FROM embeddings, range(1, 65) t(i)
           |GROUP BY label, i ORDER BY label, dim""".stripMargin)
  )

  /** MinHash+LSH near-dup pipeline, self-oracled: the hash family isn't
    * ANSI-expressible, so the probe runs the FULL pipeline (shingle →
    * signature → band join → exact-Jaccard verify ≥ 0.5, unbounded ids)
    * and then checks its defining invariants against an independently
    * computed exact truth set on a bounded id range — whose size is the
    * one number DuckDB recomputes from scratch (real cross-engine check):
    *  - n_true_pairs: |{(a,b): a<b<300, J(a,b) ≥ 0.5}|;
    *  - ok_verified:  no emitted pair is below the threshold (the verify
    *    stage can never pass a false positive);
    *  - ok_subset:    bounded LSH pairs ⊆ the exact truth set;
    *  - ok_recall:    ≥ 80% of bounded truth pairs found (measured 1.0 at
    *    sf0.001/0.01/0.1; banding 12×4 misses <4% per pair at J=0.7). */
  val minhashNearDup = Probe(
    "q27_minhash_neardup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val lsh = TextDedup.minhashNearDups(docs, threshold = 0.5, bands = 12, rows = 4)
      val bdocs = docs.filter(col("doc_id") < 300)
      val ids = bdocs.select(col("doc_id").as("id_a"))
        .crossJoin(bdocs.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      val truth = TextDedup.jaccardVerify(ids, bdocs)
        .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
      val lshB = lsh.filter(col("id_a") < 300 && col("id_b") < 300)
        .select("id_a", "id_b")
      val truthAgg = truth.agg(count(lit(1)).as("n_true_pairs"))
      val hitAgg = truth.join(lshB, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("__n_hit"))
      val violAgg = lshB.join(truth, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("__n_viol"))
      val verifAgg = lsh.agg(min(col("jaccard")).as("__min_j"))
      truthAgg.crossJoin(hitAgg).crossJoin(violAgg).crossJoin(verifAgg)
        .select(
          col("n_true_pairs"),
          coalesce(col("__min_j") >= 0.5, lit(true)).as("ok_verified"),
          (col("__n_viol") === 0).as("ok_subset"),
          (col("n_true_pairs") === 0 ||
            col("__n_hit") >= col("n_true_pairs") * 0.8).as("ok_recall"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id < 300),
           |sh AS (
           |  SELECT doc_id,
           |    CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s
           |  FROM t),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |      NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) AS jaccard
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
           |SELECT count(*) AS n_true_pairs, true AS ok_verified,
           |       true AS ok_subset, true AS ok_recall
           |FROM p WHERE jaccard >= 0.5""".stripMargin),
    benchRun = Some((s, d) =>
      TextDedup.minhashNearDups(Tables.documents(s, d), threshold = 0.5, bands = 12, rows = 4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"))
  )

  /** Exact n-gram Jaccard near-dup pairs on a bounded id range — the
    * oracle-checkable ground truth for the LSH pipeline. */
  val ngramJaccard = Probe(
    "q28_ngram_jaccard",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val ids = docs.select(col("doc_id").as("id_a"))
        .crossJoin(docs.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      TextDedup.jaccardVerify(ids, docs)
        .filter(col("jaccard") >= 0.3)
        .select(col("id_a"), col("id_b"), binRound(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    },
    Some("""WITH t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id < 300),
           |sh AS (
           |  SELECT doc_id,
           |    CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s
           |  FROM t),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |      NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) AS jaccard
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
           |SELECT id_a, id_b, floor(jaccard * 10000 + 0.5) / 10000 AS jaccard
           |FROM p WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin)
  )

  /** SimHash self-oracle: the hash family isn't expressible in ANSI SQL,
    * so the probe recomputes every signature through an INDEPENDENT
    * interpreted reimplementation (Text.simhash62Ref, written from the
    * published FNV-1a/splitmix64 constants) and emits per-document
    * bitwise agreement with the codegen'd native expression; the DuckDB
    * oracle asserts the agreement column is uniformly true. */
  val simhashSig = Probe(
    "q29_simhash",
    (s, d) => {
      // null text normalizes to "" on BOTH sides — the native expression
      // null-propagates while the reference coalesces, and a NULL ok
      // column would spuriously fail the uniformly-true oracle
      val t = coalesce(col("text"), lit(""))
      Tables.documents(s, d)
        .select(col("doc_id"),
          (HashExprs.simhash62(s, t) === Text.simhash62Ref(t)).as("ok"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, true AS ok FROM documents ORDER BY doc_id"),
    benchRun = Some((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          HashExprs.simhash62(s, coalesce(col("text"), lit(""))).as("simhash"))
        .orderBy("doc_id"))
  )

  /** LSH-bucketed ANN, self-oracled: the full scale path runs (every
    * vector queries the bucketed index), then its output is audited
    * against an in-query exact brute-force top-1 on a bounded query set.
    * DuckDB recomputes the bounded query count; the booleans assert:
    *  - ok_never_above_exact: an approximate neighbor's similarity can
    *    never exceed the true nearest neighbor's (catches any sim-math
    *    or ranking drift between the two paths);
    *  - ok_found: ≥95% of bounded queries got an in-bucket neighbor
    *    (measured ≥0.996 at sf0.001/0.01/0.1);
    *  - ok_recall1: recall@1 ≥ 1% (measured 0.03–0.07 — 64 buckets over
    *    a near-uniform synthetic corpus is recall-poor by design; the
    *    multi-probe and IVF variants are the recall levers). */
  val annLsh = Probe(
    "q30_ann_lsh",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val lsh = Similarity
        .lshTopK(emb, emb.select(col("vec_id").as("query_id"), col("embedding")), k = 1,
          bits = 6, dim = 64)
        .select(col("query_id"), col("sim").as("__lsh_sim"))
      val bq = emb.filter(col("vec_id") < 300)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(emb, bq, k = 1)
        .select(col("query_id"), col("sim").as("__exact_sim"))
      exact.join(lsh, Seq("query_id"), "left")
        .agg(
          count(lit(1)).as("n_queries"),
          count(col("__lsh_sim")).as("__n_found"),
          coalesce(sum(when(col("__lsh_sim") > col("__exact_sim") + 1e-9, 1L)
            .otherwise(0L)), lit(0L)).as("__n_viol"),
          coalesce(sum(when(col("__lsh_sim") >= col("__exact_sim") - 1e-9, 1L)
            .otherwise(0L)), lit(0L)).as("__n_hit1"))
        .select(
          col("n_queries"),
          (col("__n_viol") === 0).as("ok_never_above_exact"),
          (col("__n_found") >= col("n_queries") * 0.95).as("ok_found"),
          (col("__n_hit1") >= col("n_queries") * 0.01).as("ok_recall1"))
    },
    Some("""SELECT count(*) AS n_queries, true AS ok_never_above_exact,
           |       true AS ok_found, true AS ok_recall1
           |FROM embeddings WHERE vec_id < 300""".stripMargin),
    benchRun = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity
        .lshTopK(emb, emb.select(col("vec_id").as("query_id"), col("embedding")), k = 1,
          bits = 6, dim = 64)
        .select(col("query_id"), col("vec_id").as("nn_id"), round(col("sim"), 4).as("sim"))
        .orderBy("query_id")
    }
  )

  /** Fingerprint self-oracle: wrapping 64-bit arithmetic isn't
    * expressible in DuckDB SQL, so the probe compares the codegen'd
    * native Fingerprint64 expression against the interpreted UDF
    * reference per document; the oracle asserts uniform agreement. */
  val fingerprintProbe = Probe(
    "q31_fingerprint",
    (s, d) => {
      val t = coalesce(col("text"), lit("")) // null-safe: see q29
      Tables.documents(s, d)
        .select(col("doc_id"),
          (graft.plans.TextExprs.fingerprint(s, t) === Text.fingerprint(t)).as("ok"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, true AS ok FROM documents ORDER BY doc_id"),
    benchRun = Some((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.plans.TextExprs.fingerprint(s, coalesce(col("text"), lit(""))).as("fp"))
        .orderBy("doc_id"))
  )

  /** Composite quality score — oracled end-to-end (saturating length,
    * stopword, punctuation terms; identical IEEE arithmetic both sides). */
  val qualityScore = Probe(
    "q32_quality_score",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, text,
            |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ws
            |  FROM documents),
            |m AS (SELECT doc_id,
            |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
            |  CASE WHEN len(ws) > 0 THEN
            |    CAST(len(list_filter(ws, x -> x IN (${Text.englishStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) / len(ws)
            |    ELSE 0.0 END AS stop_ratio,
            |  CASE WHEN length(text) > 0 THEN
            |    CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}]')) AS DOUBLE) / length(text)
            |    ELSE 0.0 END AS punct_ratio
            |  FROM t)
            |SELECT doc_id,
            |  floor((len_score * 0.4 + least(stop_ratio * 5.0, 1.0) * 0.3 +
            |        (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.3) * 10000 + 0.5) / 10000 AS quality
            |FROM m ORDER BY doc_id""".stripMargin)
  )

  /** Language-ID self-oracle: the native LangIdExpr must agree with the
    * pure-built-ins HOF formulation (Text.langId — an independent
    * evaluation path through Catalyst's interpreted HOFs) on every
    * document; golden-value unit tests cover real snippets. */
  val langIdProbe = Probe(
    "q33_lang_id",
    (s, d) => {
      val t = coalesce(col("text"), lit("")) // null-safe: see q29
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          (graft.plans.TextExprs.langId(s, t) === Text.langId(t)).as("ok"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, lang, true AS ok FROM documents ORDER BY doc_id"),
    benchRun = Some((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.plans.TextExprs.langId(s, coalesce(col("text"), lit(""))).as("lang_pred"))
        .orderBy("doc_id"))
  )

  /** ST-surface (batch-equivalent of the streaming tumbling-window agg —
    * identical plan minus the watermark; the streaming variant is
    * cross-checked against this in ScalaTest). */
  val windowedAgg = Probe(
    "q34_windowed_agg",
    (s, d) =>
      graft.streaming.Streams.windowedEventStatsBatch(Tables.events(s, d))
        .orderBy("window_start", "event_type"),
    Some("""WITH ev AS (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events)
           |SELECT date_trunc('hour', ts) AS window_start, event_type,
           |  count(*) AS n_events,
           |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
           |FROM ev GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)
  )

  /** HLL sketch surface: exact distinct counts are fully oracled, and the
    * engine-specific approx values are checked as a BOUNDED-ERROR
    * invariant the oracle asserts alongside. approx_count_distinct's
    * default rsd is 0.05, so the bound is 0.15 ≈ 3σ — tight enough to
    * catch a broken sketch (orders-of-magnitude drift), loose enough that
    * a legal 1σ estimate on a fresh corpus can't flap the gate; the
    * ScalaTest spec additionally sweeps tighter bounds at higher
    * precisions. */
  val approxDistinct = Probe(
    "q35_approx_distinct",
    (s, d) =>
      Tables.lineitem(s, d).agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_orderkey")).as("approx_orders"))
      .select(col("exact_parts"), col("exact_orders"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          / col("exact_parts") < 0.15).as("ok_parts"),
        (abs(col("approx_orders") - col("exact_orders")).cast("double")
          / col("exact_orders") < 0.15).as("ok_orders")),
    Some("""SELECT count(DISTINCT l_partkey) AS exact_parts,
           |  count(DISTINCT l_orderkey) AS exact_orders,
           |  true AS ok_parts, true AS ok_orders FROM lineitem""".stripMargin),
    benchRun = Some((s, d) =>
      Tables.lineitem(s, d).agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_orderkey")).as("approx_orders")))
  )

  /** Multi-row generator (§2.10): document → fixed-size word chunks via
    * posexplode. Oracle replays the chunking with DuckDB list lambdas. */
  val textChunks = Probe(
    "q36_text_chunks",
    (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), posexplode(Text.chunks(col("text"), 16)).as(Seq("chunk_idx", "chunk")))
        .withColumn("chunk_idx", col("chunk_idx").cast("long"))
        .orderBy("doc_id", "chunk_idx"),
    Some("""WITH t AS (SELECT doc_id,
           |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ws
           |  FROM documents WHERE doc_id < 100),
           |c AS (SELECT doc_id,
           |  list_transform(range(0, CAST(ceil(len(ws) / 16.0) AS INTEGER)),
           |    i -> array_to_string(ws[i*16+1 : i*16+16], ' ')) AS chunks
           |  FROM t WHERE len(ws) > 0)
           |SELECT doc_id, unnest(range(0, len(chunks))) AS chunk_idx,
           |       unnest(chunks) AS chunk
           |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)
  )

  /** Multimodal plumbing probe, self-oracled: deterministic synthetic
    * binary assets → partition-local feature extraction (decode stubbed).
    * The generator's id→metadata mapping (media type cycle, payload
    * length) is plain arithmetic DuckDB reproduces over `range(1000)` —
    * a real cross-engine check that the binary column survived the
    * mapPartitions batch path with its row identity intact — while the
    * engine-internal values are asserted as invariants:
    *  - ok_dedup: content hash AND stub feature vector match asset 0's
    *    exactly when the generator planted a duplicate (every 10th id);
    *  - ok_features: the stub decoder emitted `dim`=16 floats in [-1,1). */
  val multimodalFeatures = Probe(
    "q37_multimodal",
    (s, d) => {
      implicit val spark = s
      import graft.multimodal.Multimodal
      val feats = Multimodal
        .extractFeatures(Multimodal.syntheticAssets(s, 1000, dupEvery = 10))
        .toDF()
      val zero = feats.filter(col("asset_id") === 0)
        .select(col("content_hash").as("__h0"), col("features").as("__f0"))
      feats.crossJoin(broadcast(zero))
        .select(
          col("asset_id"), col("media_type"), col("n_bytes"),
          (((col("content_hash") === col("__h0")) === (col("asset_id") % 10 === 0)) &&
            ((col("features") === col("__f0")) === (col("asset_id") % 10 === 0))).as("ok_dedup"),
          (size(col("features")) === 16 &&
            array_min(col("features")) >= -1.0 &&
            array_max(col("features")) < 1.0).as("ok_features"))
        .orderBy("asset_id")
    },
    Some("""SELECT i AS asset_id,
           |  CASE WHEN i % 3 = 0 THEN 'image'
           |       WHEN i % 3 = 1 THEN 'audio'
           |       ELSE 'video' END AS media_type,
           |  CAST(64 AS BIGINT) AS n_bytes,
           |  true AS ok_dedup, true AS ok_features
           |FROM range(0, 1000) t(i) ORDER BY asset_id""".stripMargin),
    benchRun = Some { (s, d) =>
      implicit val spark = s
      import graft.multimodal.Multimodal
      Multimodal.extractFeatures(Multimodal.syntheticAssets(s, 1000, dupEvery = 10))
        .toDF()
        .select(col("asset_id"), col("media_type"), col("n_bytes"), col("content_hash"))
        .orderBy("asset_id")
    }
  )

  /** IVF ANN (second index family next to SRP-LSH): k-means cells +
    * multi-cell probing + exact re-rank. Rows-only (k-means assignment is
    * engine-internal); the spec bounds recall against brute force. */
  /** q40's training stage: fit IVF centroids on a bounded
    * single-partition sample — k-means aggregation order (and therefore
    * the centroids and the probe's rows) stays identical at any
    * parallelism, and training cost stays flat as the corpus grows (the
    * standard fit-on-a-sample IVF recipe). Exposed separately so the
    * bench can report train vs search time. */
  def ivfTrainStage(s: SparkSession, d: String): Array[Double] =
    Similarity.ivfCentroids(
      Tables.embeddings(s, d).orderBy("vec_id").limit(512).coalesce(1),
      nCells = 8, dim = 64)

  /** q40's search stage against pre-trained centroids: cell assignment +
    * multi-cell probe + in-cell exact re-rank. */
  def ivfSearchStage(s: SparkSession, d: String, cents: Array[Double]): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfTopK(emb, queries, k = 3, nCells = 8, nProbe = 3, dim = 64, cents)
      .select(col("query_id"), col("vec_id").as("nn_id"),
        binRound(col("sim"), 4).as("sim"), col("rank").cast("long").as("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** IVF ANN, self-oracled: train + search run in full (k=3, 3 of 8
    * cells probed), then the output is audited against an in-query exact
    * top-1 and its own top-k contract. DuckDB recomputes the query
    * count; booleans assert (thresholds hold with wide margin at
    * sf0.001/0.01/0.1 — measured recall@1 0.62–0.88, found 1.0):
    *  - ok_never_above_exact: rank-1 IVF sim ≤ true NN sim (+ rounding);
    *  - ok_found / ok_recall1: ≥95% answered, recall@1 ≥ 40%;
    *  - ok_topk_shape: per query, ranks are exactly 1..n with n ≤ k. */
  val annIvf = Probe(
    "q40_ann_ivf",
    (s, d) => {
      val out = ivfSearchStage(s, d, ivfTrainStage(s, d))
      val emb = Tables.embeddings(s, d)
      val bq = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(emb, bq, k = 1)
        .select(col("query_id"), col("sim").as("__exact_sim"))
      val top1 = out.filter(col("rnk") === 1)
        .select(col("query_id"), col("sim").as("__ivf_sim"))
      // out.sim is binRound'ed to 4 decimals → compare with 1e-4 slack
      val audit = exact.join(top1, Seq("query_id"), "left")
        .agg(
          count(lit(1)).as("n_queries"),
          count(col("__ivf_sim")).as("__n_found"),
          coalesce(sum(when(col("__ivf_sim") > col("__exact_sim") + 1e-4, 1L)
            .otherwise(0L)), lit(0L)).as("__n_viol"),
          coalesce(sum(when(col("__ivf_sim") >= col("__exact_sim") - 1e-4, 1L)
            .otherwise(0L)), lit(0L)).as("__n_hit1"))
      val shape = out.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__n"), min(col("rnk")).as("__minr"), max(col("rnk")).as("__maxr"))
        .agg(coalesce(sum(when(
          col("__n") === col("__maxr") && col("__minr") === 1 && col("__maxr") <= 3, 0L)
          .otherwise(1L)), lit(0L)).as("__n_bad_shape"))
      audit.crossJoin(shape)
        .select(
          col("n_queries"),
          (col("__n_viol") === 0).as("ok_never_above_exact"),
          (col("__n_found") >= col("n_queries") * 0.95).as("ok_found"),
          (col("__n_hit1") >= col("n_queries") * 0.4).as("ok_recall1"),
          (col("__n_bad_shape") === 0).as("ok_topk_shape"))
    },
    Some("""SELECT count(*) AS n_queries, true AS ok_never_above_exact,
           |       true AS ok_found, true AS ok_recall1, true AS ok_topk_shape
           |FROM embeddings WHERE vec_id < 50""".stripMargin),
    benchRun = Some((s, d) => ivfSearchStage(s, d, ivfTrainStage(s, d)))
  )

  /** Embedding-cosine near-dup, exact baseline on a bounded id range —
    * the oracle-checkable ground truth for the LSH-bucketed variant
    * (same bounded-probe pattern as q28 for MinHash). The id bound is
    * absolute, so the cross join stays ≤300 vectors at any scale
    * factor. */
  val cosineNearDupExact = Probe(
    "q41_cosine_neardup",
    (s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("__vec_a"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("__vec_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("sim", HashExprs.cosine(s, col("__vec_a"), col("__vec_b")))
        .filter(col("sim") >= 0.35)
        .select(col("id_a"), col("id_b"), binRound(col("sim"), 4).as("sim"))
        .orderBy("id_a", "id_b")
    },
    Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |           FROM embeddings WHERE vec_id < 300),
           |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |        list_dot_product(a.v, b.v) /
           |          NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0) AS sim
           |      FROM c a, c b WHERE a.vec_id < b.vec_id)
           |SELECT id_a, id_b, floor(sim * 10000 + 0.5) / 10000 AS sim
           |FROM p WHERE sim >= 0.35 ORDER BY id_a, id_b""".stripMargin)
  )

  /** Embedding-cosine near-dup via the SRP-LSH self-join — the scale
    * path (linear shuffle, no all-pairs) — self-oracled against the
    * bounded exact truth (q41's pair set, recomputed in-query AND by
    * DuckDB as the cross-engine count):
    *  - ok_verified: every emitted pair really has cosine ≥ 0.35;
    *  - ok_subset: bounded LSH pairs ⊆ exact pairs (LSH can only lose
    *    recall, never fabricate a pair);
    *  - ok_recall: ≥15% of bounded truth found (measured 0.27–0.34 —
    *    threshold 0.35 sits far below the bucket-collision sweet spot;
    *    planted near-dups are the recall target, per the ScalaTest
    *    spec). */
  val cosineNearDupLsh = Probe(
    "q42_cosine_neardup_lsh",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val lsh = Similarity.cosineNearDups(emb, threshold = 0.35, bits = 4, dim = 64, nProbe = 3)
      val bemb = emb.filter(col("vec_id") < 300)
      val truth = bemb.select(col("vec_id").as("id_a"), col("embedding").as("__vec_a"))
        .crossJoin(bemb.select(col("vec_id").as("id_b"), col("embedding").as("__vec_b")))
        .filter(col("id_a") < col("id_b"))
        .withColumn("__sim", HashExprs.cosine(s, col("__vec_a"), col("__vec_b")))
        .filter(col("__sim") >= 0.35)
        .select("id_a", "id_b")
      val lshB = lsh.filter(col("id_a") < 300 && col("id_b") < 300)
        .select("id_a", "id_b")
      val truthAgg = truth.agg(count(lit(1)).as("n_true_pairs"))
      val hitAgg = truth.join(lshB, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("__n_hit"))
      val violAgg = lshB.join(truth, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("__n_viol"))
      val verifAgg = lsh.agg(min(col("sim")).as("__min_sim"))
      truthAgg.crossJoin(hitAgg).crossJoin(violAgg).crossJoin(verifAgg)
        .select(
          col("n_true_pairs"),
          coalesce(col("__min_sim") >= 0.35, lit(true)).as("ok_verified"),
          (col("__n_viol") === 0).as("ok_subset"),
          (col("n_true_pairs") === 0 ||
            col("__n_hit") >= col("n_true_pairs") * 0.15).as("ok_recall"))
    },
    Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |           FROM embeddings WHERE vec_id < 300),
           |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |        list_dot_product(a.v, b.v) /
           |          NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0) AS sim
           |      FROM c a, c b WHERE a.vec_id < b.vec_id)
           |SELECT count(*) AS n_true_pairs, true AS ok_verified,
           |       true AS ok_subset, true AS ok_recall
           |FROM p WHERE sim >= 0.35""".stripMargin),
    benchRun = Some((s, d) =>
      Similarity.cosineNearDups(Tables.embeddings(s, d),
          threshold = 0.35, bits = 4, dim = 64, nProbe = 3)
        .select(col("id_a"), col("id_b"), binRound(col("sim"), 4).as("sim"))
        .orderBy("id_a", "id_b"))
  )

  /** Deterministic hash-split (train/val/test): the exact total is
    * oracled, and the split quality is checked as invariants — splits
    * exhaustive (counts sum to total) and each fraction within ±0.1 of
    * its weight (≥5σ at the corpus sizes; the hash family itself isn't
    * ANSI-reproducible). Stability across runs/partitionings is
    * spec-asserted. */
  val hashSplit = Probe(
    "q43_hash_split",
    (s, d) => {
      val tagged = Tables.documents(s, d).withColumn("split",
        graft.operators.Sampling.assignSplit(
          col("doc_id"), Seq(0.8, 0.1, 0.1), Seq("train", "val", "test")))
      tagged.agg(
        count(lit(1)).as("n_total"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      .select(col("n_total"),
        (col("n_train") + col("n_val") + col("n_test") === col("n_total")).as("ok_exhaustive"),
        (abs(col("n_train").cast("double") / col("n_total") - 0.8) < 0.1).as("ok_train"),
        (abs(col("n_val").cast("double") / col("n_total") - 0.1) < 0.1).as("ok_val"),
        (abs(col("n_test").cast("double") / col("n_total") - 0.1) < 0.1).as("ok_test"))
    },
    Some("""SELECT count(*) AS n_total, true AS ok_exhaustive,
           |  true AS ok_train, true AS ok_val, true AS ok_test
           |FROM documents""".stripMargin)
  )

  /** Transitive dedup clusters: connected components over the bounded
    * exact-Jaccard pair graph (q28's ground-truth pairs) — if A≈B and
    * B≈C, all three share one cluster even though A,C never matched
    * directly. The iterative min-label propagation is oracled against
    * DuckDB's recursive-CTE transitive closure. */
  val dedupClustersProbe = Probe(
    "q50_dedup_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val ids = docs.select(col("doc_id").as("id_a"))
        .crossJoin(docs.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      val pairs = TextDedup.jaccardVerify(ids, docs)
        .filter(col("jaccard") >= 0.3)
        .select("id_a", "id_b")
      TextDedup.connectedComponents(pairs).orderBy("id")
    },
    Some("""WITH RECURSIVE t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id < 300),
           |sh AS (
           |  SELECT doc_id,
           |    CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s
           |  FROM t),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
           |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |        NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) >= 0.3),
           |edges AS (SELECT id_a AS s, id_b AS t FROM p
           |          UNION ALL SELECT id_b, id_a FROM p),
           |reach AS (
           |  SELECT s AS id, t AS r FROM edges
           |  UNION
           |  SELECT reach.id, edges.t FROM reach JOIN edges ON reach.r = edges.s)
           |SELECT id, least(id, min(r)) AS component
           |FROM reach GROUP BY id ORDER BY id""".stripMargin)
  )

  /** Within-document repetition ratio (Gopher-style repeated-3-gram
    * quality rule): 1 − distinct/total over the document's word 3-grams.
    * Integer-exact division — bit-deterministic, fully oracled. */
  val repetitionProbe = Probe(
    "q53_repetition",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          // null text → "" → 0.0, matching the oracle's CASE (the native
          // expression would null-propagate; see q29)
          graft.plans.TextExprs.repetitionRatio(s, coalesce(col("text"), lit("")), n = 3)
            .as("rep_ratio"))
        .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
           |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents),
           |g AS (SELECT doc_id,
           |  CASE WHEN len(wl) >= 3 THEN
           |    list_transform(range(1, len(wl) - 1),
           |      i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2])
           |  ELSE CAST([] AS VARCHAR[]) END AS gr
           |  FROM t)
           |SELECT doc_id,
           |  CASE WHEN len(gr) > 0 THEN
           |    CAST(1 AS DOUBLE) - CAST(len(list_distinct(gr)) AS DOUBLE) / len(gr)
           |  ELSE 0.0 END AS rep_ratio
           |FROM g ORDER BY doc_id""".stripMargin)
  )

  /** Corpus TF-IDF top terms per document (linear idf — see
    * CorpusStats.tfidfTopTerms for why log idf can never gate): the
    * corpus-level term-salience operator. Bounded to doc_id < 100 so the
    * result stays a readable sample; tf/df/N are computed over the FULL
    * corpus on both engines. */
  val tfidfProbe = Probe(
    "q54_tfidf_topterms",
    (s, d) =>
      graft.operators.CorpusStats.tfidfTopTerms(Tables.documents(s, d), k = 3)
        .filter(col("doc_id") < 100)
        .orderBy("doc_id", "rnk"),
    Some("""WITH t AS (SELECT doc_id,
           |  unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |         x -> len(x) > 0)) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM documents),
           |s AS (SELECT doc_id, term, tf, df,
           |        CAST(tf * n AS DOUBLE) / df AS score
           |      FROM tf JOIN dfq USING (term) CROSS JOIN n),
           |r AS (SELECT *, row_number() OVER
           |        (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
           |      FROM s)
           |SELECT doc_id, term, tf, df, score, rnk
           |FROM r WHERE rnk <= 3 AND doc_id < 100
           |ORDER BY doc_id, rnk""".stripMargin)
  )

  /** Batch face of the stream-stream interval join (ST-surface): the
    * SAME `Streams.attributedPurchases` plan runs the gate query on the
    * batch events table (watermarks apply only on streaming inputs);
    * StreamsSpec replays the events through a real two-stream join and
    * asserts stream output == this batch output. */
  val streamAttribution = Probe(
    "q55_stream_attribution",
    (s, d) =>
      graft.streaming.Streams.attributedPurchases(Tables.events(s, d))
        .orderBy("click_id", "purchase_id"),
    Some("""WITH ev AS (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events),
           |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
           |      FROM ev WHERE event_type = 'click'),
           |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
           |             value AS amount
           |      FROM ev WHERE event_type = 'purchase')
           |SELECT c.user_id, click_id, purchase_id, amount
           |FROM c JOIN p ON c.user_id = p.user_id
           |  AND purchase_ts >= click_ts
           |  AND purchase_ts <= click_ts + INTERVAL 1 HOUR
           |ORDER BY click_id, purchase_id""".stripMargin)
  )

  /** PII redaction probe: every document gets a deterministic synthetic
    * PII suffix derived from doc_id (e-mail, 7+-digit number, IPv4), so
    * all three redaction rules fire on every row; both engines build the
    * identical raw string and apply the identical RE2-safe patterns —
    * the oracle is a true cross-engine replay of the whole transform. */
  val redactPiiProbe = Probe(
    "q56_redact_pii",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Text.redactPii(concat(
            coalesce(col("text"), lit("")),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call "),
            (col("doc_id") * 7919 + 1234567).cast("string"),
            lit(" ip 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
            .as("clean"))
        .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
           |  coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
           |    || '@example.com or call '
           |    || CAST(doc_id * 7919 + 1234567 AS VARCHAR)
           |    || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS raw
           |  FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(raw,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
           |    '[0-9]{7,}', '<NUM>', 'g') AS clean
           |FROM t ORDER BY doc_id""".stripMargin)
  )

  /** REAL-codec roundtrip probe: builds genuine PNG and WAV byte streams
    * on executors (through the JDK's own encoders), pushes them through
    * the REAL decode path ([[graft.multimodal.Multimodal.decodeAndExtract]]
    * → `javax.imageio` / `javax.sound.sampled`), and emits only
    * arithmetic-predictable outputs: decoded dimensions and duration
    * (exact integers DuckDB recomputes from the asset id) plus invariant
    * booleans (single-bin luminance histogram for a solid image; every
    * RMS window ≈ amp/√2 for a constant-amplitude sine). This is the
    * cross-engine evidence that the multimodal decode is no longer a
    * stub: a codec regression breaks width/height/duration equality or
    * flips an ok_* column. */
  /** The q57 fixture: 100 solid PNGs + 100 constant-amplitude sine WAVs
    * whose decoded properties are pure arithmetic in the asset id —
    * shared by the gate run and benchRun so Bench always times exactly
    * the workload the gate validates. */
  private def codecAssets(s: SparkSession) = {
    implicit val spark = s
    import spark.implicits._
    import graft.multimodal.{Codecs, Multimodal}
    spark.range(200).map { i =>
      if (i % 2 == 0) {
        val w = (4 + i % 13).toInt; val h = (3 + (i * 3) % 11).toInt
        val g = (i * 17 % 256).toInt
        Multimodal.Asset(i, "image",
          Codecs.solidPng(w, h, (g << 16) | (g << 8) | g), None, None, None)
      } else {
        val n = (800 + (i % 5) * 400).toInt
        val amp = 0.1f + (i % 4) * 0.2f
        Multimodal.Asset(i, "audio",
          Codecs.sineWav(n, 8000f, amp, 1000f), None, None, None)
      }
    }
  }

  val codecRoundtrip = Probe(
    "q57_codec_roundtrip",
    (s, d) => {
      implicit val spark = s
      import graft.multimodal.Multimodal
      val dec = Multimodal.decodeAndExtract(codecAssets(s), dim = 16).toDF()
      // expected values recomputed from the id — pure column arithmetic
      val g = col("asset_id") * 17 % 256
      val expRms = (lit(0.1) + (col("asset_id") % 4).cast("double") * 0.2) /
        math.sqrt(2.0)
      dec.select(
        col("asset_id"), col("media_type"), col("decoded"),
        col("width"), col("height"), col("duration_ms"),
        when(col("media_type") === "image",
          // solid image: ALL mass lands in luma bin g*16/256 (1-indexed at)
          element_at(col("features"), (g * 16 / 256).cast("int") + 1) === 1.0f)
          .otherwise(
            // constant-amplitude sine: every RMS window within 2% of a/√2
            array_min(col("features")) >= expRms - lit(0.02) &&
              array_max(col("features")) <= expRms + lit(0.02))
          .as("ok_feat"))
        .orderBy("asset_id")
    },
    Some("""SELECT i AS asset_id,
           |  CASE WHEN i % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
           |  true AS decoded,
           |  CAST(CASE WHEN i % 2 = 0 THEN 4 + i % 13 END AS INTEGER) AS width,
           |  CAST(CASE WHEN i % 2 = 0 THEN 3 + (i * 3) % 11 END AS INTEGER) AS height,
           |  CAST(CASE WHEN i % 2 = 1 THEN (800 + (i % 5) * 400) // 8 END AS BIGINT)
           |    AS duration_ms,
           |  true AS ok_feat
           |FROM range(0, 200) t(i) ORDER BY asset_id""".stripMargin),
    benchRun = Some { (s, d) =>
      implicit val spark = s
      import graft.multimodal.Multimodal
      Multimodal.decodeAndExtract(codecAssets(s), dim = 16).toDF()
        .select(col("asset_id"), col("media_type"), col("decoded"),
          col("width"), col("height"), col("duration_ms"))
        .orderBy("asset_id")
    }
  )

  /** Declarative data-quality suite (Deequ pattern): seven constraints
    * over lineitem evaluated in ONE aggregation pass + a referential-
    * integrity join against orders. Every observed value is a ratio of
    * exact counts (one IEEE division — deterministic cross-engine), so
    * the full report gates, not just the verdicts. */
  val qualitySuite = Probe(
    "q58_quality",
    (s, d) => {
      import graft.operators.Quality
      import graft.operators.Quality._
      val li = Tables.lineitem(s, d)
      val report = Quality.check(li, Seq(
        Complete("l_shipdate"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        InRange("l_quantity", 1.0, 50.0),
        InRange("l_discount", 0.0, 0.1),
        Matches("l_returnflag", "^[ANR]$"),
        IsIn("l_linestatus", Seq("O", "F")),
        RowCountBetween(1L)))
      report
        .unionByName(Quality.checkReferential(
          li, "l_orderkey", Tables.orders(s, d), "o_orderkey"))
        .orderBy("kind", "target")
    },
    Some("""WITH m AS (SELECT
           |    CAST(count(l_shipdate) AS DOUBLE) / count(*) AS complete_comment,
           |    CAST((SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber
           |          FROM lineitem)) AS DOUBLE) / count(*) AS uniq_pk,
           |    CAST(count(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 END) AS DOUBLE)
           |      / count(l_quantity) AS qty_range,
           |    CAST(count(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 1 END) AS DOUBLE)
           |      / count(l_discount) AS disc_range,
           |    CAST(count(CASE WHEN regexp_matches(l_returnflag, '^[ANR]$') THEN 1 END)
           |      AS DOUBLE) / count(l_returnflag) AS flag_match,
           |    CAST(count(CASE WHEN l_linestatus IN ('O','F') THEN 1 END) AS DOUBLE)
           |      / count(l_linestatus) AS status_in,
           |    CAST(count(*) AS DOUBLE) AS n_rows,
           |    CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o
           |          ON l.l_orderkey = o.o_orderkey
           |          WHERE o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL)
           |      AS DOUBLE) AS orphans,
           |    CAST(count(l_orderkey) AS DOUBLE) AS fk_n
           |  FROM lineitem)
           |SELECT * FROM (
           |  SELECT 'complete' AS kind, 'l_shipdate' AS target,
           |         complete_comment AS observed, CAST(1.0 AS DOUBLE) AS threshold,
           |         complete_comment >= 1.0 AS passed FROM m
           |  UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber', uniq_pk, 1.0,
           |         uniq_pk >= 1.0 FROM m
           |  UNION ALL SELECT 'in_range', 'l_quantity', qty_range, 1.0,
           |         qty_range >= 1.0 FROM m
           |  UNION ALL SELECT 'in_range', 'l_discount', disc_range, 1.0,
           |         disc_range >= 1.0 FROM m
           |  UNION ALL SELECT 'matches', 'l_returnflag', flag_match, 1.0,
           |         flag_match >= 1.0 FROM m
           |  UNION ALL SELECT 'is_in', 'l_linestatus', status_in, 1.0,
           |         status_in >= 1.0 FROM m
           |  UNION ALL SELECT 'row_count', '*', n_rows, 1.0,
           |         n_rows >= 1.0 FROM m
           |  UNION ALL SELECT 'ref_integrity', 'l_orderkey',
           |         1.0 - orphans / greatest(fk_n, 1), 1.0, orphans = 0 FROM m)
           |ORDER BY kind, target""".stripMargin)
  )

  /** Bloom-filter membership pruning (the explicit runtime-filter
    * pattern): sketch the urgent orders' keys, prune lineitem at the
    * scan BEFORE any exchange, then audit the prune against the exact
    * semi-join in one pass. Gated columns: the exact match count
    * (DuckDB recomputes it), plus two invariants a bloom filter must
    * satisfy — zero false negatives (pruned ⊇ semi-join, the
    * correctness contract) and a false-positive count within 3× the
    * configured fpp (the efficiency contract; bloom bits are
    * deterministic, so this is a stable boolean, not a flaky one). */
  val bloomPrune = Probe(
    "q59_bloom_prune",
    (s, d) => {
      import graft.operators.Bloom
      val li = Tables.lineitem(s, d).select(col("l_orderkey"))
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val sk = Bloom.sketch(urgent, col("o_orderkey"),
        expectedItems = math.max(1024L, urgent.count()), fpp = 0.01)
      li.withColumn("__pruned", Bloom.mightContain(sk, col("l_orderkey")))
        .join(urgent.withColumn("__m", lit(1)),
          col("l_orderkey") === col("o_orderkey"), "left_outer")
        .agg(
          count(lit(1)).as("__n_total"),
          sum(when(col("__m") === 1, 1L).otherwise(0L)).as("__n_exact"),
          sum(when(col("__pruned") && col("__m") === 1, 1L).otherwise(0L))
            .as("__n_pruned_match"),
          sum(when(col("__pruned") && col("__m").isNull, 1L).otherwise(0L))
            .as("__n_fp"))
        .select(
          col("__n_exact").as("n_exact"),
          (col("__n_pruned_match") === col("__n_exact"))
            .as("ok_no_false_negatives"),
          (col("__n_fp").cast("double") <= greatest(lit(50.0),
            lit(0.03) * (col("__n_total") - col("__n_exact")).cast("double")))
            .as("ok_fpr"))
    },
    Some("""SELECT (SELECT count(*) FROM lineitem l
           |        WHERE EXISTS (SELECT 1 FROM orders o
           |                      WHERE o.o_orderkey = l.l_orderkey
           |                        AND o.o_orderpriority = '1-URGENT')) AS n_exact,
           |  true AS ok_no_false_negatives,
           |  true AS ok_fpr""".stripMargin),
    benchRun = Some { (s, d) =>
      // raw operator path: sketch build + codegen'd scan-side prune,
      // no audit join
      import graft.operators.Bloom
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      Bloom.semiPrune(Tables.lineitem(s, d).select(col("l_orderkey")),
        col("l_orderkey"), urgent, col("o_orderkey"),
        expectedItems = math.max(1024L, urgent.count()), fpp = 0.01)
    }
  )

  /** Benchmark decontamination (8-gram overlap, the GPT-3/Gopher
    * leakage guard): every 50th document stands in for an eval set;
    * each corpus doc reports how many distinct 8-word grams it shares
    * with that set and whether it would be purged. Fully oracled —
    * DuckDB rebuilds the same lowercase/whitespace grams and the same
    * broadcast-shaped overlap join relationally. */
  val decontaminateProbe = Probe(
    "q60_decontaminate",
    (s, d) => {
      import graft.operators.Decontaminate
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select(col("text").as("btext"))
      Decontaminate.flag(docs, col("doc_id"), col("text"),
          bench, col("btext"), n = 8)
        .select(col("doc_id"), col("overlap_ngrams"), col("contaminated"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(wl) - 6),
           |         i -> array_to_string(wl[i:i+7], ' ')))) AS g
           |  FROM t WHERE len(wl) >= 8),
           |b AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
           |o AS (SELECT grams.doc_id, count(*) AS overlap
           |      FROM grams JOIN b USING (g) GROUP BY grams.doc_id)
           |SELECT t.doc_id AS doc_id, CAST(coalesce(o.overlap, 0) AS BIGINT) AS overlap_ngrams,
           |       coalesce(o.overlap, 0) >= 1 AS contaminated
           |FROM t LEFT JOIN o ON t.doc_id = o.doc_id
           |ORDER BY t.doc_id""".stripMargin)
  )

  /** Incremental dedup: a batch of edited documents (every 20th doc
    * under id 300, one suffix appended, re-idded +1M) admitted against
    * the corpus' persisted MinHash band index. Self-oracled like q27:
    * DuckDB recomputes the bounded exact truth (batch × sub-300 corpus
    * Jaccard ≥ 0.5) and the probe emits subset/recall/verified
    * invariants; the absolute id bound keeps the audit cross join
    * constant-size at any scale factor. */
  val incrementalDedupProbe = Probe(
    "q61_incremental_dedup",
    (s, d) => {
      import graft.operators.IncrementalDedup
      val docs = Tables.documents(s, d)
      val batch = docs.filter(col("doc_id") % 20 === 0 && col("doc_id") < 300)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" incremental batch suffix")).as("text"))
      val dir = freshDir(s, "graft_q61_index")
      IncrementalDedup.writeIndex(docs, dir)
      val dups = IncrementalDedup.dedupeBatch(batch, docs, dir, threshold = 0.5)

      // bounded exact truth: batch × corpus(id < 300), exact Jaccard
      val sub = docs.filter(col("doc_id") < 300)
      val ids = batch.select(col("doc_id").as("id_a"))
        .crossJoin(sub.select(col("doc_id").as("id_b")))
      val truth = TextDedup.jaccardVerify(ids,
          batch.unionByName(sub.select("doc_id", "text")))
        .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
      val found = dups.filter(col("corpus_id") < 300)
        .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"))
      val truthAgg = truth.agg(count(lit(1)).as("n_true_pairs"))
      val hitAgg = truth.join(found, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("__n_hit"))
      val violAgg = found.join(truth, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("__n_viol"))
      val verifAgg = dups.agg(min(col("jaccard")).as("__min_j"))
      truthAgg.crossJoin(hitAgg).crossJoin(violAgg).crossJoin(verifAgg)
        .select(
          col("n_true_pairs"),
          coalesce(col("__min_j") >= 0.5, lit(true)).as("ok_verified"),
          (col("__n_viol") === 0).as("ok_subset"),
          (col("n_true_pairs") === 0 ||
            col("__n_hit") >= col("n_true_pairs") * 0.8).as("ok_recall"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id < 300),
           |b AS (
           |  SELECT doc_id + 1000000 AS doc_id,
           |    list_filter(string_split_regex(lower(text || ' incremental batch suffix'), '\s+'),
           |                x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id % 20 = 0 AND doc_id < 300),
           |cs AS (
           |  SELECT doc_id, CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s FROM c),
           |bs AS (
           |  SELECT doc_id, CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s FROM b),
           |p AS (
           |  SELECT a.doc_id AS id_a, c2.doc_id AS id_b,
           |    CAST(len(list_intersect(a.s, c2.s)) AS DOUBLE) /
           |      NULLIF(len(list_distinct(list_concat(a.s, c2.s))), 0) AS jaccard
           |  FROM bs a, cs c2)
           |SELECT count(*) AS n_true_pairs, true AS ok_verified,
           |       true AS ok_subset, true AS ok_recall
           |FROM p WHERE jaccard >= 0.5""".stripMargin),
    benchRun = Some { (s, d) =>
      // raw operator path: index build + batch admission, no bounded-
      // truth audit (that cross join is gate-only scaffolding)
      import graft.operators.IncrementalDedup
      val docs = Tables.documents(s, d)
      val batch = docs.filter(col("doc_id") % 20 === 0 && col("doc_id") < 300)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" incremental batch suffix")).as("text"))
      val dir = freshDir(s, "graft_q61_index_bench")
      IncrementalDedup.writeIndex(docs, dir)
      IncrementalDedup.dedupeBatch(batch, docs, dir, threshold = 0.5)
    }
  )

  /** Exact stratified sampling: 20% per (lang, source) stratum. The
    * WHICH-rows draw is a seeded hash rank (not SQL-expressible), but
    * the HOW-MANY contract — exactly ceil(0.2·n) per stratum, no
    * Bernoulli variance — is the operator's point and is fully oracled;
    * membership correctness (subset, determinism) lives in SamplingSpec. */
  val stratifiedSampleProbe = Probe(
    "q62_stratified_sample",
    (s, d) => {
      import graft.operators.Sampling
      val docs = Tables.documents(s, d)
      val sampled = Sampling.stratifiedExact(docs, Seq("lang", "source"),
        col("doc_id"), fraction = 0.2)
      val got = sampled.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_sampled"))
      docs.groupBy("lang", "source").agg(count(lit(1)).as("n_total"))
        .join(got, Seq("lang", "source"), "left_outer")
        .select(col("lang"), col("source"), col("n_total"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("lang", "source")
    },
    Some("""SELECT lang, source, count(*) AS n_total,
           |  CAST(ceil(0.2 * count(*)) AS BIGINT) AS n_sampled
           |FROM documents GROUP BY lang, source
           |ORDER BY lang, source""".stripMargin)
  )

  /** Context-window packing: documents greedily packed into 2000-char
    * bins per language in doc_id order. Fully oracled — greedy packing
    * is sequential by construction, so DuckDB replays the identical
    * recurrence with a recursive CTE stepping one row per group; every
    * bin assignment and offset must agree exactly. */
  val packingProbe = Probe(
    "q63_sequence_packing",
    (s, d) => {
      import graft.operators.Packing
      Packing.packGreedy(Tables.documents(s, d),
          col("lang"), col("doc_id"), col("n_chars"), budget = 2000L)
        .orderBy("group", "id")
    },
    Some("""WITH RECURSIVE t AS (
           |  SELECT lang AS grp, doc_id, n_chars AS sz,
           |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           |  FROM documents),
           |r AS (
           |  SELECT grp, doc_id, sz, rn,
           |    CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS off, sz AS used
           |  FROM t WHERE rn = 1
           |  UNION ALL
           |  SELECT t.grp, t.doc_id, t.sz, t.rn,
           |    CASE WHEN r.used + t.sz <= 2000 THEN r.bin ELSE r.bin + 1 END,
           |    CASE WHEN r.used + t.sz <= 2000 THEN r.used ELSE CAST(0 AS BIGINT) END,
           |    CASE WHEN r.used + t.sz <= 2000 THEN r.used + t.sz ELSE t.sz END
           |  FROM r JOIN t ON t.grp = r.grp AND t.rn = r.rn + 1)
           |SELECT grp AS "group", doc_id AS id, sz AS size,
           |       bin AS bin_seq, off AS bin_offset
           |FROM r ORDER BY "group", id""".stripMargin)
  )

  /** Z-order curve values over (l_partkey, l_suppkey) — the arithmetic
    * the multi-dimensional layout ([[graft.operators.Layout]]) sorts
    * by. Pure built-in bit ops on both engines, so the full mapping is
    * oracled exactly; the layout's file-locality benefit is asserted in
    * LayoutSpec (span comparison vs a linear sort). Bounded to the
    * first 2000 lineitems: this gates arithmetic, not throughput. */
  val zorderProbe = Probe(
    "q64_zorder_value",
    (s, d) => {
      import graft.operators.Layout
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          Layout.zValue(col("l_partkey"), col("l_suppkey"), 10).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  CAST(list_sum(list_transform(range(10),
           |    k -> ((((l_partkey % 1024) >> k) & 1) << (2*k)) +
           |         ((((l_suppkey % 1024) >> k) & 1) << (2*k+1)))) AS BIGINT) AS z
           |FROM lineitem WHERE l_orderkey < 500
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
  )

  /** The corpus RELEASE pipeline end-to-end — the composition a real
    * training-data build runs: language gate → quality gate → exact
    * dedup → benchmark decontamination → context-window packing. Every
    * stage is one of this engine's operators, and every stage boundary
    * count plus the final bin count is recomputed relationally by
    * DuckDB (the quality threshold applies to the binary-rounded score
    * on both engines, so the gate can't flap on a last-ulp difference). */
  val corpusReleaseProbe = Probe(
    "q65_corpus_release",
    (s, d) => {
      import graft.operators.{Decontaminate, Packing}
      val docs = Tables.documents(s, d)
      val en = docs.filter(col("lang") === "en")
      val quality = en.filter(
        binRound(Text.qualityScore(col("text")), 4) >= 0.5)
      val unique = TextDedup.exact(quality)
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select(col("text").as("btext"))
      val clean = Decontaminate.purge(unique, col("doc_id"), col("text"),
        bench, col("btext"), n = 8)
      val packed = Packing.packGreedy(clean, col("lang"), col("doc_id"),
        col("n_chars"), budget = 2000L)
      docs.agg(count(lit(1)).as("n_total"))
        .crossJoin(en.agg(count(lit(1)).as("n_en")))
        .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
        .crossJoin(unique.agg(count(lit(1)).as("n_unique")))
        .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
        .crossJoin(packed.agg(
          countDistinct(col("group"), col("bin_seq")).as("n_bins"),
          count(lit(1)).as("n_packed")))
    },
    Some(s"""WITH RECURSIVE en AS (SELECT doc_id, text, n_chars, lang FROM documents WHERE lang = 'en'),
            |qm AS (SELECT doc_id, text, n_chars, lang,
            |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS ws
            |  FROM en),
            |qs AS (SELECT doc_id, text, n_chars, lang,
            |  floor((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
            |    least(CASE WHEN len(ws) > 0 THEN
            |      CAST(len(list_filter(ws, x -> x IN (${Text.englishStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) / len(ws)
            |      ELSE 0.0 END * 5.0, 1.0) * 0.3 +
            |    (1.0 - least(CASE WHEN length(text) > 0 THEN
            |      CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}]')) AS DOUBLE) / length(text)
            |      ELSE 0.0 END * 10.0, 1.0)) * 0.3) * 10000 + 0.5) / 10000 AS q
            |  FROM qm),
            |qual AS (SELECT doc_id, text, n_chars, lang FROM qs WHERE q >= 0.5),
            |uniq AS (SELECT doc_id, text, n_chars, lang FROM qual
            |  WHERE doc_id IN (SELECT min(doc_id) FROM qual GROUP BY md5(text))),
            |allw AS (SELECT doc_id,
            |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS wl
            |  FROM documents),
            |bgrams AS (SELECT DISTINCT unnest(list_transform(range(1, len(wl) - 6),
            |    i -> array_to_string(wl[i:i+7], ' '))) AS g
            |  FROM allw WHERE doc_id % 50 = 0 AND len(wl) >= 8),
            |ugrams AS (SELECT u.doc_id, unnest(list_distinct(list_transform(range(1, len(w.wl) - 6),
            |    i -> array_to_string(w.wl[i:i+7], ' ')))) AS g
            |  FROM uniq u JOIN allw w ON u.doc_id = w.doc_id WHERE len(w.wl) >= 8),
            |contam AS (SELECT DISTINCT ugrams.doc_id FROM ugrams JOIN bgrams USING (g)),
            |clean AS (SELECT doc_id, n_chars, lang FROM uniq
            |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
            |seq AS (SELECT lang AS grp, doc_id, n_chars AS sz,
            |  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn FROM clean),
            |r AS (
            |  SELECT grp, doc_id, sz, rn, CAST(0 AS BIGINT) AS bin, sz AS used
            |  FROM seq WHERE rn = 1
            |  UNION ALL
            |  SELECT seq.grp, seq.doc_id, seq.sz, seq.rn,
            |    CASE WHEN r.used + seq.sz <= 2000 THEN r.bin ELSE r.bin + 1 END,
            |    CASE WHEN r.used + seq.sz <= 2000 THEN r.used + seq.sz ELSE seq.sz END
            |  FROM r JOIN seq ON seq.grp = r.grp AND seq.rn = r.rn + 1)
            |SELECT (SELECT count(*) FROM documents) AS n_total,
            |  (SELECT count(*) FROM en) AS n_en,
            |  (SELECT count(*) FROM qual) AS n_quality,
            |  (SELECT count(*) FROM uniq) AS n_unique,
            |  (SELECT count(*) FROM clean) AS n_clean,
            |  (SELECT count(DISTINCT (grp, bin)) FROM r) AS n_bins,
            |  (SELECT count(*) FROM r) AS n_packed""".stripMargin)
  )

  /** Column profiling: one scan, every column's exact stats (the
    * discovery pass that precedes a Quality constraint suite). All
    * counts/extrema plus one IEEE division for avg string length —
    * fully oracled per column. */
  val profileProbe = Probe(
    "q66_profile",
    (s, d) => {
      import graft.operators.Profile
      Profile.profile(Tables.documents(s, d),
        Seq("doc_id", "n_chars", "lang", "text"))
    },
    Some("""SELECT * FROM (
           |  SELECT 'doc_id' AS "column", count(*) AS n_rows,
           |    count(*) - count(doc_id) AS n_nulls,
           |    count(DISTINCT doc_id) AS n_distinct,
           |    CAST(min(doc_id) AS DOUBLE) AS min_num,
           |    CAST(max(doc_id) AS DOUBLE) AS max_num,
           |    CAST(NULL AS DOUBLE) AS avg_len FROM documents
           |  UNION ALL
           |  SELECT 'n_chars', count(*), count(*) - count(n_chars),
           |    count(DISTINCT n_chars),
           |    CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
           |    CAST(NULL AS DOUBLE) FROM documents
           |  UNION ALL
           |  SELECT 'lang', count(*), count(*) - count(lang),
           |    count(DISTINCT lang), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           |    CAST(sum(length(lang)) AS DOUBLE) / count(lang) FROM documents
           |  UNION ALL
           |  SELECT 'text', count(*), count(*) - count(text),
           |    count(DISTINCT text), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           |    CAST(sum(length(text)) AS DOUBLE) / count(text) FROM documents)
           |ORDER BY "column"""".stripMargin)
  )

  /** Exact equi-width histogram over l_extendedprice: floor-arithmetic
    * bucketing with end-bucket clamping — deterministic counts and
    * edges, fully oracled. */
  val histogramProbe = Probe(
    "q67_histogram",
    (s, d) => {
      import graft.operators.Profile
      Profile.histogram(Tables.lineitem(s, d), col("l_extendedprice"),
        lo = 0.0, hi = 80000.0, nBuckets = 16)
    },
    Some("""SELECT bucket, CAST(bucket * 5000.0 AS DOUBLE) AS lo_edge,
           |  CAST((bucket + 1) * 5000.0 AS DOUBLE) AS hi_edge, count(*) AS n
           |FROM (SELECT greatest(0, least(15,
           |    CAST(floor((l_extendedprice - 0.0) / 80000.0 * 16) AS BIGINT))) AS bucket
           |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
           |GROUP BY bucket ORDER BY bucket""".stripMargin)
  )

  /** Snapshot diff / CDC: a synthetic "next day" of orders (every 97th
    * key deleted, every 13th re-prioritized, every 101st re-inserted
    * under a shifted key) diffed against the original — fully oracled
    * via a DuckDB full-outer reconstruction of the same change set. */
  val snapshotDiffProbe = Probe(
    "q68_snapshot_diff",
    (s, d) => {
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val after = o.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 13 === 0, lit("CHANGED"))
            .otherwise(col("o_orderpriority")))
        .unionByName(o.filter(col("o_orderkey") % 101 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderpriority"), col("o_totalprice")))
      Relational.snapshotDiff(o, after, Seq("o_orderkey"),
          Seq("o_orderpriority", "o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""WITH b AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
           |a AS (
           |  SELECT o_orderkey,
           |    CASE WHEN o_orderkey % 13 = 0 THEN 'CHANGED'
           |         ELSE o_orderpriority END AS o_orderpriority,
           |    o_totalprice
           |  FROM orders WHERE o_orderkey % 97 <> 0
           |  UNION ALL
           |  SELECT o_orderkey + 10000000, o_orderpriority, o_totalprice
           |  FROM orders WHERE o_orderkey % 101 = 0),
           |d AS (
           |  -- presence-based images (NOT per-column coalesce): an update
           |  -- that sets a tracked column to NULL must surface the NULL
           |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_orderpriority
           |         ELSE b.o_orderpriority END AS o_orderpriority,
           |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_totalprice
           |         ELSE b.o_totalprice END AS o_totalprice,
           |    CASE WHEN a.o_orderkey IS NULL THEN 'deleted'
           |         WHEN b.o_orderkey IS NULL THEN 'inserted'
           |         WHEN a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
           |           OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
           |           THEN 'updated' END AS change_type
           |  FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
           |SELECT o_orderkey, o_orderpriority, o_totalprice, change_type
           |FROM d WHERE change_type IS NOT NULL ORDER BY o_orderkey""".stripMargin)
  )

  /** SCD2 dimension maintenance through the gate: initialize a type-2
    * dimension from orders at t0, merge a deterministic update batch
    * (every 13th key re-prioritized, every 101st inserted under a
    * shifted key) at t1, emit the full versioned dimension. DuckDB
    * reconstructs the exact version set relationally — closed rows,
    * new currents, untouched passthroughs, bookkeeping timestamps. */
  val scd2Probe = Probe(
    "q69_scd2_merge",
    (s, d) => {
      import graft.operators.Scd2
      val base = Tables.orders(s, d).select(
        col("o_orderkey").as("id"),
        col("o_orderpriority").as("prio"),
        col("o_totalprice").as("price"))
      val dim0 = Scd2.initialize(base, lit("2024-01-01 00:00:00"))
      val updates = base.filter(col("id") % 13 === 0)
        .withColumn("prio", lit("CHANGED"))
        .unionByName(base.filter(col("id") % 101 === 0)
          .select((col("id") + 10000000L).as("id"), col("prio"), col("price")))
      Scd2.merge(dim0, updates, Seq("id"), Seq("prio", "price"),
          lit("2024-06-01 00:00:00"))
        .orderBy("id", "valid_from")
    },
    Some("""WITH b AS (SELECT o_orderkey AS id, o_orderpriority AS prio,
           |                  o_totalprice AS price FROM orders)
           |SELECT id, prio, price,
           |  TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
           |  CASE WHEN id % 13 = 0 THEN TIMESTAMP '2024-06-01 00:00:00' END AS valid_to,
           |  (id % 13 <> 0) AS is_current
           |FROM b
           |UNION ALL
           |SELECT id, 'CHANGED', price, TIMESTAMP '2024-06-01 00:00:00',
           |  CAST(NULL AS TIMESTAMP), true
           |FROM b WHERE id % 13 = 0
           |UNION ALL
           |SELECT id + 10000000, prio, price, TIMESTAMP '2024-06-01 00:00:00',
           |  CAST(NULL AS TIMESTAMP), true
           |FROM b WHERE id % 101 = 0
           |ORDER BY id, valid_from""".stripMargin)
  )

  /** Dataset mixture weighting: sources up-/down-sampled by epoch
    * weight (2.5 / 1.0 / 0.4 / dropped, by source index mod 4). The
    * WHICH-rows of the partial epoch is hash-rank drawn (not SQL-
    * expressible) but the mix's shape — every (source, epoch) cell
    * count — is exact arithmetic and fully oracled: floor(w) full
    * epochs of n rows plus ceil(frac·n) in the last. */
  val mixtureProbe = Probe(
    "q70_data_mixture",
    (s, d) => {
      import graft.operators.Mixture
      val w = {
        val idx = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
        when(idx % 4 === 0, 2.5).when(idx % 4 === 1, 1.0)
          .when(idx % 4 === 2, 0.4).otherwise(0.0)
      }
      Mixture.materialize(Tables.documents(s, d), Seq("source"),
          col("doc_id"), w)
        .groupBy("source", "epoch")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("source", "epoch")
    },
    Some("""WITH s AS (SELECT source, count(*) AS n,
           |  CASE CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) % 4
           |    WHEN 0 THEN 2.5 WHEN 1 THEN 1.0 WHEN 2 THEN 0.4
           |    ELSE 0.0 END AS w
           |  FROM documents GROUP BY source),
           |e AS (SELECT source, n, w,
           |  unnest(range(CAST(floor(w) AS BIGINT) +
           |    CASE WHEN w - floor(w) > 0 THEN 1 ELSE 0 END)) AS epoch
           |  FROM s WHERE w > 0)
           |SELECT source, epoch,
           |  CASE WHEN epoch < floor(w) THEN n
           |       ELSE CAST(ceil(n * (w - floor(w))) AS BIGINT) END AS n_rows
           |FROM e ORDER BY source, epoch""".stripMargin)
  )

  /** Exact heavy hitters over the token stream: every word with
    * frequency > n/100, found via the bounded Misra-Gries sketch + an
    * exact verification pass (the result is exact counts, so the whole
    * output is oracled — DuckDB recomputes the same set from a full
    * group-by, which is the luxury the sketch exists to avoid at
    * scale). */
  val heavyHittersProbe = Probe(
    "q71_heavy_hitters",
    (s, d) => {
      import graft.operators.HeavyHitters
      val words = Tables.documents(s, d)
        .select(explode(Text.words(col("text"))).as("w"))
      HeavyHitters.exactHeavyHitters(words, col("w"), k = 100)
    },
    Some("""WITH w AS (SELECT unnest(list_filter(
           |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS word
           |  FROM documents),
           |t AS (SELECT count(*) AS n FROM w)
           |SELECT word AS item, count(*) AS n_item
           |FROM w, t GROUP BY word, t.n HAVING count(*) * 100 > t.n
           |ORDER BY n_item DESC, item""".stripMargin)
  )

  /** Approximate quantiles (Greenwald-Khanna via percentile_approx) with
    * a checked rank-error invariant: for each reported value v at target
    * quantile q, the EXACT empirical CDF at v must sit within q ± 0.01
    * (GK at accuracy 10000 guarantees ±0.0001 rank error; the slack
    * absorbs duplicate-value mass). q47 is the exact counterpart — this
    * is the one you run at 100 TB, a single mergeable-sketch pass with
    * no per-group sort. */
  val approxQuantiles = Probe(
    "q72_approx_quantiles",
    (s, d) => {
      val qs = Seq(0.5, 0.9, 0.99)
      val orders = Tables.orders(s, d)
      val approx = orders.groupBy(col("o_orderpriority"))
        .agg(percentile_approx(col("o_totalprice"),
          array(qs.map(lit): _*), lit(10000)).as("__vs"))
        .select(col("o_orderpriority"),
          posexplode(col("__vs")).as(Seq("__qi", "__v")))
        .withColumn("__q", element_at(array(qs.map(lit): _*), col("__qi") + 1))
      val audited = approx
        .join(orders.select(col("o_orderpriority"), col("o_totalprice")),
          Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"), col("__qi"), col("__q"), col("__v"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("o_totalprice") <= col("__v"), 1L).otherwise(0L)).as("__le"))
        .withColumn("__ok",
          abs(col("__le").cast("double") / col("__n") - col("__q")) <= 0.01)
      audited.groupBy(col("o_orderpriority"))
        .agg(max(col("__n")).as("n"),
          max(when(col("__qi") === 0, col("__ok"))).as("ok_p50"),
          max(when(col("__qi") === 1, col("__ok"))).as("ok_p90"),
          max(when(col("__qi") === 2, col("__ok"))).as("ok_p99"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
           |  true AS ok_p50, true AS ok_p90, true AS ok_p99
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    benchRun = Some((s, d) =>
      Tables.orders(s, d).groupBy(col("o_orderpriority"))
        .agg(percentile_approx(col("o_totalprice"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("qs")))
  )

  /** Weekly cohort retention over the event stream (fully oracled):
    * one user-keyed shuffle with calendar-bounded per-user state, then
    * a weeks²-cardinality count — the 100 TB shape. */
  val retentionProbe = Probe(
    "q73_retention_cohorts",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.retention(Tables.events(s, d), col("user_id"), col("ts"))
    },
    Some("""WITH a AS (SELECT user_id AS u, date_trunc('week', ts)::DATE AS wk
           |           FROM events GROUP BY 1, 2),
           |c AS (SELECT u, min(wk) AS cohort FROM a GROUP BY u),
           |r AS (SELECT c.cohort, CAST(datediff('day', c.cohort, a.wk) // 7 AS INT) AS week_offset,
           |        count(*) AS n_active
           |      FROM a JOIN c ON a.u = c.u GROUP BY 1, 2)
           |SELECT cohort AS cohort_week, week_offset, n_active,
           |  floor(CAST(n_active AS DOUBLE)
           |        / max(CASE WHEN week_offset = 0 THEN n_active END)
           |            OVER (PARTITION BY cohort) * 10000 + 0.5) / 10000 AS retention_pct
           |FROM r ORDER BY cohort_week, week_offset""".stripMargin)
  )

  /** Ordered conversion funnel view → click → purchase (fully oracled):
    * strictly-after first-touch semantics via a conditional-min cascade,
    * every stage keyed on the same user column. */
  val funnelProbe = Probe(
    "q74_funnel",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.funnel(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"))
    },
    Some("""WITH t1 AS (SELECT user_id AS u, min(ts) AS t FROM events
           |            WHERE event_type = 'view' GROUP BY u),
           |t2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
           |       JOIN t1 ON e.user_id = t1.u AND e.ts > t1.t
           |       WHERE e.event_type = 'click' GROUP BY 1),
           |t3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
           |       JOIN t2 ON e.user_id = t2.u AND e.ts > t2.t
           |       WHERE e.event_type = 'purchase' GROUP BY 1),
           |c AS (SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM t1
           |      UNION ALL SELECT 2, 'click', count(*) FROM t2
           |      UNION ALL SELECT 3, 'purchase', count(*) FROM t3)
           |SELECT stage_idx, stage, n_users,
           |  CASE WHEN lag(n_users) OVER (ORDER BY stage_idx) IS NULL THEN CAST(1 AS DOUBLE)
           |       WHEN lag(n_users) OVER (ORDER BY stage_idx) = 0 THEN CAST(0 AS DOUBLE)
           |       ELSE floor(CAST(n_users AS DOUBLE)
           |              / lag(n_users) OVER (ORDER BY stage_idx) * 10000 + 0.5) / 10000
           |  END AS pct_of_prev
           |FROM c ORDER BY stage_idx""".stripMargin)
  )

  /** Blocked fuzzy entity matching (fully oracled, including the native
    * Jaro-Winkler kernel vs DuckDB's implementation): distinct part
    * names blocked by their last token, within-block pairs scored by
    * Levenshtein ≤ 3 plus Jaro-Winkler. Candidate generation is an
    * equi-join on the block key — O(Σ b²) within blocks, never corpus
    * all-pairs. */
  val fuzzyMatchProbe = Probe(
    "q75_fuzzy_match",
    (s, d) => {
      import graft.operators.Fuzzy
      val out = Fuzzy.nearNames(Tables.part(s, d), col("p_name"),
        element_at(split(col("p_name"), " "), -1), maxEdits = 3)
      out.select(col("block"), col("name_a"), col("name_b"),
          col("dist").cast("long").as("dist"), binRound(col("jw"), 6).as("jw"))
        .orderBy("block", "name_a", "name_b")
    },
    Some("""WITH v AS (SELECT DISTINCT string_split(p_name, ' ')[-1] AS block,
           |                  p_name AS n FROM part)
           |SELECT a.block AS block, a.n AS name_a, b.n AS name_b,
           |  CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist,
           |  floor(jaro_winkler_similarity(a.n, b.n) * 1000000 + 0.5) / 1000000 AS jw
           |FROM v a JOIN v b ON a.block = b.block AND a.n < b.n
           |WHERE levenshtein(a.n, b.n) <= 3
           |ORDER BY block, name_a, name_b""".stripMargin)
  )

  /** BM25 retrieval for a fixed 3-term query (fully oracled): per-term
    * scores in one pinned IEEE op order, floor-rounded to integer
    * micro-units, summed exactly — see [[graft.operators.Bm25]] for the
    * determinism contract. */
  val bm25Probe = Probe(
    "q76_bm25",
    (s, d) => {
      import graft.operators.Bm25
      Bm25.score(Tables.documents(s, d), col("doc_id"), col("text"),
          terms = Seq("spark", "join", "stream"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, list_filter(
           |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS t
           |  FROM documents),
           |dl AS (SELECT doc_id, len(t) AS dl FROM toks),
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |                 CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           |          FROM dl),
           |w AS (SELECT doc_id, unnest(t) AS term FROM toks),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM w
           |       WHERE term IN ('spark', 'join', 'stream') GROUP BY 1, 2),
           |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT tf.doc_id,
           |         CAST(floor(
           |           ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           |           * (tf.tf * (CAST(1.2 AS DOUBLE) + 1))
           |           / (tf.tf + CAST(1.2 AS DOUBLE) *
           |              (1 - CAST(0.75 AS DOUBLE) +
           |               CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / stats.avgdl))
           |           * 1000000.0 + 0.5) AS BIGINT) AS micro
           |       FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
           |SELECT doc_id, count(*) AS n_terms,
           |       CAST(sum(micro) AS DOUBLE) / 1000000.0 AS score
           |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  def pqTrainStage(s: SparkSession, d: String): Array[Double] =
    Similarity.pqCodebooks(
      Tables.embeddings(s, d).orderBy("vec_id").limit(512).coalesce(1),
      m = 8, k = 16, dim = 64)

  /** q77's search stage against pre-trained codebooks: encode + ADC
    * table-walk shortlist + exact re-rank of survivors. */
  def pqSearchStage(s: SparkSession, d: String, books: Array[Double]): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.pqTopK(emb, queries, k = 3, m = 8, kCodes = 16, dim = 64, books,
        shortlist = 32)
      .select(col("query_id"), col("vec_id").as("nn_id"),
        binRound(col("sim"), 4).as("sim"), col("rank").cast("long").as("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Product-quantization ANN (third index family: memory-compressed
    * codes + ADC shortlist + exact re-rank), self-oracled with the same
    * audit as q40: emitted sims are TRUE cosines of re-ranked
    * candidates, so rank-1 can never beat the exact NN; recall@1 is
    * measured against the in-query brute-force truth. */
  val annPq = Probe(
    "q77_ann_pq",
    (s, d) => {
      val out = pqSearchStage(s, d, pqTrainStage(s, d))
      val emb = Tables.embeddings(s, d)
      val bq = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(emb, bq, k = 1)
        .select(col("query_id"), col("sim").as("__exact_sim"))
      val top1 = out.filter(col("rnk") === 1)
        .select(col("query_id"), col("sim").as("__pq_sim"))
      val audit = exact.join(top1, Seq("query_id"), "left")
        .agg(
          count(lit(1)).as("n_queries"),
          count(col("__pq_sim")).as("__n_found"),
          coalesce(sum(when(col("__pq_sim") > col("__exact_sim") + 1e-4, 1L)
            .otherwise(0L)), lit(0L)).as("__n_viol"),
          coalesce(sum(when(col("__pq_sim") >= col("__exact_sim") - 1e-4, 1L)
            .otherwise(0L)), lit(0L)).as("__n_hit1"))
      val shape = out.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__n"), min(col("rnk")).as("__minr"), max(col("rnk")).as("__maxr"))
        .agg(coalesce(sum(when(
          col("__n") === col("__maxr") && col("__minr") === 1 && col("__maxr") <= 3, 0L)
          .otherwise(1L)), lit(0L)).as("__n_bad_shape"))
      audit.crossJoin(shape)
        .select(
          col("n_queries"),
          (col("__n_viol") === 0).as("ok_never_above_exact"),
          (col("__n_found") >= col("n_queries") * 0.95).as("ok_found"),
          (col("__n_hit1") >= col("n_queries") * 0.4).as("ok_recall1"),
          (col("__n_bad_shape") === 0).as("ok_topk_shape"))
    },
    Some("""SELECT count(*) AS n_queries, true AS ok_never_above_exact,
           |       true AS ok_found, true AS ok_recall1, true AS ok_topk_shape
           |FROM embeddings WHERE vec_id < 50""".stripMargin),
    benchRun = Some((s, d) => pqSearchStage(s, d, pqTrainStage(s, d)))
  )

  /** Integer-arithmetic PageRank over the bipartite customer↔part
    * co-purchase graph, 5 iterations, FULLY oracled — DuckDB replays
    * the identical integer recurrence as an unrolled CTE chain (exact
    * 64-bit ops, so cross-engine equality is bit-level, something float
    * PageRank can never give). Node ids are namespaced 2·cust / 2·part+1. */
  val pagerankProbe = Probe(
    "q78_pagerank",
    (s, d) => {
      import graft.operators.Graph
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val cp = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = cp.unionByName(cp.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pagerankMicro(edges, iters = 5)
        .select(
          when(col("node") % 2 === 0, "cust").otherwise("part").as("node_type"),
          expr("node DIV 2").as("node_key"),
          col("rank").as("rank_micro"))
        .orderBy(desc("rank_micro"), col("node_type"), col("node_key"))
    },
    Some("""WITH cp AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_partkey * 2 + 1 AS dst
           |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |e AS (SELECT src, dst FROM cp UNION ALL SELECT dst AS src, src AS dst FROM cp),
           |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
           |v AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM v),
           |i1 AS (SELECT e.dst AS node, CAST((85 * sum(r0.rank // deg.d)) // 100 AS BIGINT) AS s
           |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY e.dst),
           |r1 AS (SELECT v.node, CAST(150000 + coalesce(i1.s, 0) AS BIGINT) AS rank
           |       FROM v LEFT JOIN i1 ON v.node = i1.node),
           |i2 AS (SELECT e.dst AS node, CAST((85 * sum(r1.rank // deg.d)) // 100 AS BIGINT) AS s
           |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
           |r2 AS (SELECT v.node, CAST(150000 + coalesce(i2.s, 0) AS BIGINT) AS rank
           |       FROM v LEFT JOIN i2 ON v.node = i2.node),
           |i3 AS (SELECT e.dst AS node, CAST((85 * sum(r2.rank // deg.d)) // 100 AS BIGINT) AS s
           |       FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY e.dst),
           |r3 AS (SELECT v.node, CAST(150000 + coalesce(i3.s, 0) AS BIGINT) AS rank
           |       FROM v LEFT JOIN i3 ON v.node = i3.node),
           |i4 AS (SELECT e.dst AS node, CAST((85 * sum(r3.rank // deg.d)) // 100 AS BIGINT) AS s
           |       FROM e JOIN deg USING (src) JOIN r3 ON r3.node = e.src GROUP BY e.dst),
           |r4 AS (SELECT v.node, CAST(150000 + coalesce(i4.s, 0) AS BIGINT) AS rank
           |       FROM v LEFT JOIN i4 ON v.node = i4.node),
           |i5 AS (SELECT e.dst AS node, CAST((85 * sum(r4.rank // deg.d)) // 100 AS BIGINT) AS s
           |       FROM e JOIN deg USING (src) JOIN r4 ON r4.node = e.src GROUP BY e.dst),
           |r5 AS (SELECT v.node, CAST(150000 + coalesce(i5.s, 0) AS BIGINT) AS rank
           |       FROM v LEFT JOIN i5 ON v.node = i5.node)
           |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'part' END AS node_type,
           |       node // 2 AS node_key, rank AS rank_micro
           |FROM r5 ORDER BY rank_micro DESC, node_type, node_key""".stripMargin)
  )

  /** BPE tokenizer: merge table trained on the bounded lowest-id sample
    * (flat cost in corpus size), corpus tokenized by the native
    * expression. Self-oracled q29/q31-style: DuckDB recomputes the
    * SQL-expressible measures (word/char counts) exactly, and the
    * booleans assert (a) the native encoder agrees bitwise with the
    * independent HOF reference applied as a UDF, (b) token counts sit in
    * the provable [n_words, n_chars] envelope. */
  val bpeProbe = Probe(
    "q79_bpe_tokens",
    (s, d) => {
      import graft.operators.Bpe
      import graft.plans.TextExprs
      val docs = Tables.documents(s, d)
      val merges = Bpe.train(docs, col("text"), col("doc_id"), nMerges = 200,
        maxSample = 512)
      val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
      val refUdf = udf((t: String) => Bpe.countTokensRef(t, ranks))
      docs.select(
          col("doc_id"),
          size(Text.words(col("text"))).as("n_words"),
          length(regexp_replace(col("text"), "\\s", "")).as("n_chars"),
          TextExprs.bpeCount(s, col("text"), merges).as("__bpe"),
          refUdf(col("text")).as("__bpe_ref"))
        .select(col("doc_id"), col("n_words"), col("n_chars"),
          (col("__bpe") === col("__bpe_ref")).as("ok_agree"),
          (col("__bpe") >= col("n_words") && col("__bpe") <= col("n_chars"))
            .as("ok_bounds"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS INT) AS n_words,
           |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS INT) AS n_chars,
           |  true AS ok_agree, true AS ok_bounds
           |FROM documents ORDER BY doc_id""".stripMargin),
    benchRun = Some((s, d) => {
      import graft.operators.Bpe
      import graft.plans.TextExprs
      val docs = Tables.documents(s, d)
      val merges = Bpe.train(docs, col("text"), col("doc_id"), nMerges = 200,
        maxSample = 512)
      docs.select(col("doc_id"),
        TextExprs.bpeCount(s, col("text"), merges).as("n_bpe"))
    })
  )

  /** Substring-level duplicate-passage statistics (fully oracled):
    * 8-word windows shared across ≥2 documents, reported as per-doc
    * duplicated-window counts and ratios — the corpus-internal
    * counterpart of q60's corpus-vs-eval decontamination. */
  val dupPassagesProbe = Probe(
    "q80_dup_passages",
    (s, d) => {
      val out = TextDedup.duplicatePassageStats(Tables.documents(s, d), k = 8)
      out.select(col("doc_id"), col("n_grams"), col("n_dup"),
          binRound(col("dup_ratio"), 4).as("dup_ratio"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, list_filter(
           |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
           |  FROM documents),
           |occ AS (SELECT doc_id, w,
           |          unnest(generate_series(0, len(w) - 8)) AS i
           |        FROM toks),
           |g AS (SELECT doc_id,
           |        list_aggregate(w[i+1:i+8], 'string_agg', ' ') AS gram
           |      FROM occ),
           |shared AS (SELECT gram, 1 AS dup FROM g
           |           GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |per AS (SELECT g.doc_id, count(*) AS n_grams,
           |          CAST(coalesce(sum(shared.dup), 0) AS BIGINT) AS n_dup
           |        FROM g LEFT JOIN shared ON g.gram = shared.gram
           |        GROUP BY g.doc_id)
           |SELECT d.doc_id,
           |  coalesce(per.n_grams, 0) AS n_grams,
           |  coalesce(per.n_dup, 0) AS n_dup,
           |  CASE WHEN coalesce(per.n_grams, 0) = 0 THEN CAST(0 AS DOUBLE)
           |       ELSE floor(CAST(per.n_dup AS DOUBLE) / per.n_grams * 10000 + 0.5) / 10000
           |  END AS dup_ratio
           |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
           |ORDER BY d.doc_id""".stripMargin)
  )

  /** Integer EWMA over each priority's daily revenue (fully oracled):
    * the sequential recurrence runs as typed group iteration with
    * calendar-bounded state, in exact integer cents — DuckDB replays
    * the identical recurrence with a recursive CTE. */
  val ewmaProbe = Probe(
    "q81_ewma",
    (s, d) => {
      import graft.operators.TimeSeries
      val daily = TimeSeries.dedupDays(Tables.orders(s, d),
        col("o_orderpriority"), to_date(col("o_orderdate")),
        (dec(col("o_totalprice")) * 100).cast("long"))
      TimeSeries.ewmaInt(daily, col("g"), col("day"), col("v"),
          alphaNum = 20, alphaDen = 100)
        .select(col("g").as("o_orderpriority"), col("day"),
          col("v").as("cents"), col("ewma"))
        .orderBy("o_orderpriority", "day")
    },
    Some("""WITH RECURSIVE d AS (
           |  SELECT o_orderpriority AS g, o_orderdate::DATE AS day,
           |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
           |  FROM orders GROUP BY 1, 2),
           |i AS (SELECT g, day, cents,
           |        row_number() OVER (PARTITION BY g ORDER BY day) AS rn FROM d),
           |rec AS (
           |  SELECT g, day, rn, cents, cents AS ewma FROM i WHERE rn = 1
           |  UNION ALL
           |  SELECT i.g, i.day, i.rn, i.cents, (20 * i.cents + 80 * rec.ewma) // 100
           |  FROM i JOIN rec ON i.g = rec.g AND i.rn = rec.rn + 1)
           |SELECT g AS o_orderpriority, day, cents, ewma
           |FROM rec ORDER BY o_orderpriority, day""".stripMargin)
  )

  /** Calendar gap filling with LOCF over the same daily series (fully
    * oracled): per-group date spine from a generator, one left join,
    * one window pass carrying the last observation forward. */
  val gapFillProbe = Probe(
    "q82_gap_fill",
    (s, d) => {
      import graft.operators.TimeSeries
      val daily = TimeSeries.dedupDays(Tables.orders(s, d),
        col("o_orderpriority"), to_date(col("o_orderdate")),
        (dec(col("o_totalprice")) * 100).cast("long"))
      TimeSeries.gapFillLocf(daily, col("g"), col("day"), col("v"))
        .select(col("g").as("o_orderpriority"), col("day"),
          col("v").as("cents"), col("v_filled").as("cents_filled"), col("filled"))
        .orderBy("o_orderpriority", "day")
    },
    Some("""WITH d AS (
           |  SELECT o_orderpriority AS g, o_orderdate::DATE AS day,
           |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
           |  FROM orders GROUP BY 1, 2),
           |span AS (SELECT g, min(day) AS d0, max(day) AS d1 FROM d GROUP BY g),
           |spine AS (SELECT g,
           |            CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
           |          FROM span),
           |j AS (SELECT spine.g, spine.day, d.cents
           |      FROM spine LEFT JOIN d ON spine.g = d.g AND spine.day = d.day)
           |SELECT g AS o_orderpriority, day, cents,
           |  last_value(cents IGNORE NULLS) OVER (
           |    PARTITION BY g ORDER BY day
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_filled,
           |  cents IS NULL AS filled
           |FROM j ORDER BY o_orderpriority, day""".stripMargin)
  )

  /** Bigram-LM fluency scoring (fully oracled): the n-gram-LM quality
    * filter of corpus pipelines, scored in exact integer ppm so DuckDB
    * reproduces every document's score bit-for-bit (the log-space
    * variant is float; SURVEY.md §2.11 excludes libm from the gate).
    * One shuffle to count bigrams, one to aggregate per-doc scores; the
    * pair→model join is AQE broadcast at this scale. */
  val lmFluencyProbe = Probe(
    "q83_lm_fluency",
    (s, d) => {
      import graft.operators.LangModel
      LangModel.fluency(Tables.documents(s, d), col("text"), col("doc_id"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'),
           |                x -> len(x) > 0) AS ws
           |  FROM documents),
           |p AS (
           |  SELECT doc_id,
           |    unnest(ws[1:len(ws)-1]) AS w1,
           |    unnest(ws[2:len(ws)])   AS w2
           |  FROM w WHERE len(ws) >= 2),
           |m AS (SELECT w1, w2, count(*) AS cnt FROM p GROUP BY w1, w2),
           |h AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS head_cnt FROM m GROUP BY w1),
           |sc AS (
           |  SELECT p.doc_id, (1000000 * m.cnt) // h.head_cnt AS p_ppm
           |  FROM p JOIN m USING (w1, w2) JOIN h USING (w1))
           |SELECT doc_id, count(*) AS n_bigrams,
           |  CAST(sum(p_ppm) // count(*) AS BIGINT) AS fluency_ppm
           |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** SemDeDup — cluster-then-dedup-within-cluster (fully oracled,
    * k-means INCLUDED): the integer-arithmetic Lloyd's iterations are
    * bit-reproducible, so DuckDB replays both rounds as unrolled CTEs
    * and every vector's (cluster, kept) decision is hash-compared.
    * Pair work is bounded by cluster size — the candidate-generation
    * contract that survives 100 TB. */
  val semDedupProbe = Probe(
    "q84_semdedup",
    (s, d) => {
      import graft.operators.SemDedup
      SemDedup.semDedup(Tables.embeddings(s, d), col("embedding"), col("vec_id"),
          k = 8, iters = 2, thr = 0.35)
        .orderBy("vec_id")
    },
    Some("""WITH q AS (
           |  SELECT vec_id,
           |    list_transform(embedding::DOUBLE[],
           |                   x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS qv
           |  FROM embeddings),
           |comp AS (SELECT vec_id, unnest(qv) AS x,
           |                unnest(range(1, len(qv) + 1)) AS pos FROM q),
           |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv
           |       FROM q ORDER BY vec_id LIMIT 8),
           |c0c AS (SELECT cid, unnest(qv) AS cx,
           |               unnest(range(1, len(qv) + 1)) AS pos FROM c0),
           |d1 AS (SELECT comp.vec_id, c0c.cid,
           |         sum((comp.x - c0c.cx) * (comp.x - c0c.cx)) AS dist
           |       FROM comp JOIN c0c USING (pos) GROUP BY 1, 2),
           |a1 AS (SELECT vec_id, cid FROM (
           |         SELECT vec_id, cid,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |         FROM d1) WHERE rn = 1),
           |c1c AS (SELECT a1.cid, comp.pos,
           |          CAST(floor(CAST(sum(comp.x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
           |        FROM comp JOIN a1 USING (vec_id) GROUP BY 1, 2),
           |d2 AS (SELECT comp.vec_id, c1c.cid,
           |         sum((comp.x - c1c.cx) * (comp.x - c1c.cx)) AS dist
           |       FROM comp JOIN c1c USING (pos) GROUP BY 1, 2),
           |a2 AS (SELECT vec_id, cid FROM (
           |         SELECT vec_id, cid,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |         FROM d2) WHERE rn = 1),
           |c2c AS (SELECT a2.cid, comp.pos,
           |          CAST(floor(CAST(sum(comp.x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
           |        FROM comp JOIN a2 USING (vec_id) GROUP BY 1, 2),
           |d3 AS (SELECT comp.vec_id, c2c.cid,
           |         sum((comp.x - c2c.cx) * (comp.x - c2c.cx)) AS dist
           |       FROM comp JOIN c2c USING (pos) GROUP BY 1, 2),
           |a3 AS (SELECT vec_id, cid FROM (
           |         SELECT vec_id, cid,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |         FROM d3) WHERE rn = 1),
           |norm AS (SELECT vec_id, sum(x * x) AS n2 FROM comp GROUP BY 1),
           |dots AS (SELECT pa.vec_id AS ia, pb.vec_id AS ib,
           |           sum(ca.x * cb.x) AS dot
           |         FROM a3 pa JOIN a3 pb
           |           ON pa.cid = pb.cid AND pa.vec_id < pb.vec_id
           |         JOIN comp ca ON ca.vec_id = pa.vec_id
           |         JOIN comp cb ON cb.vec_id = pb.vec_id AND cb.pos = ca.pos
           |         GROUP BY 1, 2),
           |dup AS (SELECT DISTINCT d.ib FROM dots d
           |        JOIN norm na ON na.vec_id = d.ia
           |        JOIN norm nb ON nb.vec_id = d.ib
           |        WHERE d.dot > 0
           |          AND CAST(d.dot AS DOUBLE) * CAST(d.dot AS DOUBLE) >=
           |              (CAST(0.35 AS DOUBLE) * CAST(0.35 AS DOUBLE)) *
           |              (CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
           |SELECT a3.vec_id, a3.cid AS cluster, dup.ib IS NULL AS kept
           |FROM a3 LEFT JOIN dup ON a3.vec_id = dup.ib
           |ORDER BY a3.vec_id""".stripMargin)
  )

  /** HTML → text extraction (fully oracled): markup is planted around
    * every document on BOTH engines — script/style blocks with raw `<`
    * in code, attributes, entities, an `&amp;`-escaped entity — then
    * stripped by the same rule chain. Narrow per-row transform. */
  val stripHtmlProbe = Probe(
    "q85_strip_html",
    (s, d) => {
      val html = concat(
        lit("<html><head><style>p { color: red }</style></head><body class=\"main\"><h1>Doc "),
        col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit(" &amp; more &lt;tags&gt;</p><script>if (x<y && y>0) { f(); }</script></body></html>"))
      Tables.documents(s, d)
        .select(col("doc_id"), Text.stripHtml(html).as("clean"))
        .withColumn("n_clean", length(col("clean")).cast("long"))
        .orderBy("doc_id")
    },
    Some("""WITH h AS (SELECT doc_id,
           |    '<html><head><style>p { color: red }</style></head><body class="main"><h1>Doc '
           |    || doc_id || '</h1><p>' || text ||
           |    ' &amp; more &lt;tags&gt;</p><script>if (x<y && y>0) { f(); }</script></body></html>'
           |    AS html FROM documents),
           |s1 AS (SELECT doc_id,
           |         regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g') AS t
           |       FROM h),
           |s2 AS (SELECT doc_id,
           |         regexp_replace(t, '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS t
           |       FROM s1),
           |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
           |s4 AS (SELECT doc_id,
           |         replace(replace(replace(replace(replace(replace(t,
           |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           |           '&nbsp;', ' '), '&amp;', '&') AS t FROM s3),
           |s5 AS (SELECT doc_id,
           |         trim(regexp_replace(t, '[ \t\n\r\f]+', ' ', 'g')) AS clean
           |       FROM s4)
           |SELECT doc_id, clean, len(clean) AS n_clean
           |FROM s5 ORDER BY doc_id""".stripMargin)
  )

  /** Sweep-line peak concurrency (fully oracled): max overlapping
    * 30-minute sessions per event type — interval endpoints become ±1
    * deltas, one group-keyed shuffle, one window pass. */
  val peakConcurrencyProbe = Probe(
    "q86_peak_concurrency",
    (s, d) => {
      import graft.operators.Analytics
      val ev = Tables.events(s, d)
      Analytics.peakConcurrency(ev, col("event_type"),
          col("ts"), col("ts") + expr("INTERVAL 30 MINUTES"))
        .withColumnRenamed("group", "event_type")
        .orderBy("event_type")
    },
    Some("""WITH iv AS (SELECT event_type, ts::TIMESTAMP AS st,
           |              ts::TIMESTAMP + INTERVAL 30 MINUTE AS en FROM events),
           |dl AS (SELECT event_type, st AS t, CAST(1 AS BIGINT) AS dlt FROM iv
           |       UNION ALL
           |       SELECT event_type, en, CAST(-1 AS BIGINT) FROM iv),
           |r AS (SELECT event_type, t,
           |        sum(dlt) OVER (PARTITION BY event_type ORDER BY t, dlt
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           |      FROM dl),
           |p AS (SELECT event_type, CAST(max(run) AS BIGINT) AS peak FROM r GROUP BY 1)
           |SELECT r.event_type, p.peak, min(r.t) AS peak_at
           |FROM r JOIN p ON r.event_type = p.event_type AND r.run = p.peak
           |GROUP BY r.event_type, p.peak ORDER BY r.event_type""".stripMargin)
  )

  /** Exact per-group OLS trend (fully oracled): normal-equation sums in
    * exact integer arithmetic — slope numerator/denominator and the
    * trend sign are bit-deterministic; no float summation anywhere. */
  val trendProbe = Probe(
    "q87_trend",
    (s, d) => {
      import graft.operators.Analytics
      val ev = Tables.events(s, d)
      Analytics.trend(ev, col("event_type"),
          col("ts").cast("long"),
          floor(col("value") * 1000000 + 0.5).cast("long"))
        .withColumnRenamed("group", "event_type")
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_type,
           |    epoch_us(ts::TIMESTAMP) // 1000000 AS x,
           |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
           |  FROM events),
           |c AS (SELECT event_type, x - min(x) OVER (PARTITION BY event_type) AS xc, y
           |      FROM e),
           |a AS (SELECT event_type, count(*) AS n, sum(xc) AS sx, sum(y) AS sy,
           |        sum(xc * y) AS sxy, sum(xc * xc) AS sxx
           |      FROM c GROUP BY 1)
           |SELECT event_type, CAST(n AS BIGINT) AS n,
           |  CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
           |  CAST(n * sxy - sx * sy AS DOUBLE) AS slope_num,
           |  CAST(n * sxx - sx * sx AS DOUBLE) AS slope_den,
           |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
           |            ELSE sign(n * sxy - sx * sy) END AS INT) AS trend
           |FROM a ORDER BY event_type""".stripMargin)
  )

  /** Exact rolling median over the trailing 5 events per user (fully
    * oracled): integer fixed-point values make Spark's interpolating
    * `percentile` and DuckDB's `median` agree bit-for-bit. */
  val rollingMedianProbe = Probe(
    "q88_rolling_median",
    (s, d) => {
      import graft.operators.TimeSeries
      val ev = Tables.events(s, d).filter(col("user_id") < 30)
        .withColumn("v", floor(col("value") * 1000000 + 0.5).cast("long"))
      TimeSeries.rollingMedianInt(ev, col("user_id"),
          Seq(col("ts"), col("event_id")), col("v"), window = 5)
        .select(col("user_id"), col("event_id"), col("v"), col("med"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts,
           |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
           |  FROM events WHERE user_id < 30)
           |SELECT user_id, event_id, v,
           |  median(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med
           |FROM e ORDER BY user_id, event_id""".stripMargin)
  )

  /** Hampel anomaly filter (fully oracled): centered rolling median +
    * rolling MAD in exact integer fixed-point — every median lands on
    * an integer or exact midpoint, deviations are doubled into longs,
    * and the k·MAD gate is one exact IEEE multiply, so the anomaly
    * decisions are bit-identical across engines. */
  val hampelProbe = Probe(
    "q89_hampel",
    (s, d) => {
      import graft.operators.TimeSeries
      val ev = Tables.events(s, d).filter(col("user_id") < 30)
        .withColumn("v", floor(col("value") * 1000000 + 0.5).cast("long"))
      TimeSeries.hampel(ev, col("user_id"),
          Seq(col("ts"), col("event_id")), col("v"), half = 3, k = 3)
        .select(col("user_id"), col("event_id"), col("v"), col("med"),
          col("dev2"), col("mad2"), col("anomaly"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts,
           |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
           |  FROM events WHERE user_id < 30),
           |m AS (SELECT user_id, event_id, ts, v,
           |        median(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS med
           |      FROM e),
           |dd AS (SELECT *, abs(2 * v - CAST(2 * med AS BIGINT)) AS dev2 FROM m),
           |f AS (SELECT *, median(dev2) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS mad2 FROM dd)
           |SELECT user_id, event_id, v, med, dev2, mad2,
           |  CAST(dev2 AS DOUBLE) > CAST(3 AS DOUBLE) * mad2 AS anomaly
           |FROM f ORDER BY user_id, event_id""".stripMargin)
  )

  /** Synchronous label propagation over the cust–part bipartite graph
    * (fully oracled): integer labels, majority vote with smallest-label
    * ties — 3 rounds replayed exactly by DuckDB as unrolled CTEs, like
    * q78's PageRank. */
  val labelPropProbe = Probe(
    "q90_label_propagation",
    (s, d) => {
      import graft.operators.Graph
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val cp = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = cp.unionByName(cp.select(col("dst").as("src"), col("src").as("dst")))
      Graph.labelPropagation(edges, iters = 3)
        .select(
          when(col("node") % 2 === 0, "cust").otherwise("part").as("node_type"),
          expr("node DIV 2").as("node_key"),
          col("label"))
        .orderBy("node_type", "node_key")
    },
    Some("""WITH cp AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_partkey * 2 + 1 AS dst
           |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |e AS (SELECT src, dst FROM cp UNION ALL SELECT dst, src FROM cp),
           |v AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |l0 AS (SELECT node, node AS label FROM v),
           |c1 AS (SELECT e.dst AS node, l.label, count(*) AS c
           |       FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
           |w1 AS (SELECT node, label FROM (
           |         SELECT node, label,
           |           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |         FROM c1) WHERE rn = 1),
           |l1 AS (SELECT l0.node, coalesce(w1.label, l0.label) AS label
           |       FROM l0 LEFT JOIN w1 USING (node)),
           |c2 AS (SELECT e.dst AS node, l.label, count(*) AS c
           |       FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
           |w2 AS (SELECT node, label FROM (
           |         SELECT node, label,
           |           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |         FROM c2) WHERE rn = 1),
           |l2 AS (SELECT l1.node, coalesce(w2.label, l1.label) AS label
           |       FROM l1 LEFT JOIN w2 USING (node)),
           |c3 AS (SELECT e.dst AS node, l.label, count(*) AS c
           |       FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
           |w3 AS (SELECT node, label FROM (
           |         SELECT node, label,
           |           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |         FROM c3) WHERE rn = 1),
           |l3 AS (SELECT l2.node, coalesce(w3.label, l2.label) AS label
           |       FROM l2 LEFT JOIN w3 USING (node))
           |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'part' END AS node_type,
           |  node // 2 AS node_key, label
           |FROM l3 ORDER BY node_type, node_key""".stripMargin)
  )

  /** Domain-level curation (fully oracled): deterministic URLs planted
    * per document on both engines, host extracted by the same RE2-safe
    * regex, then the RefinedWeb-style rollup — per-domain doc counts,
    * exact char volume, and how many docs survive a cap of 5 per
    * domain (lowest doc_id first). The cap path sorts ONLY over-cap
    * hosts (pruned window). */
  val domainCapProbe = Probe(
    "q91_domain_cap",
    (s, d) => {
      import graft.operators.Domains
      val withUrl = Tables.documents(s, d)
        .withColumn("url", concat(lit("https://site"), col("doc_id") % 37,
          lit(".example/p/"), col("doc_id")))
        .withColumn("host", Domains.host(col("url")))
      val capped = Domains.capPerDomain(withUrl, col("host"), col("doc_id"), cap = 5)
      capped.groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept").cast("long")).as("n_kept"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .orderBy("host")
    },
    Some("""WITH u AS (SELECT doc_id, n_chars,
           |    'https://site' || (doc_id % 37) || '.example/p/' || doc_id AS url
           |  FROM documents),
           |h AS (SELECT doc_id, n_chars,
           |        regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host FROM u),
           |r AS (SELECT doc_id, n_chars, host,
           |        row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn
           |      FROM h)
           |SELECT host, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM r GROUP BY host ORDER BY host""".stripMargin)
  )

  /** EXACT set-similarity join via prefix filtering — the oracle is the
    * literal all-pairs Jaccard scan over the same bounded subset, so a
    * hash match PROVES the prefix filter loses no pair (exactness, not
    * recall). Same shingle semantics as q28/q50. */
  val prefixJoinProbe = Probe(
    "q92_prefix_filter_join",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      TextDedup.prefixFilterJoin(docs, threshold = 0.3)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id < 300),
           |sh AS (
           |  SELECT doc_id,
           |    CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s
           |  FROM t),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |      NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) AS jaccard
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
           |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.3
           |ORDER BY id_a, id_b""".stripMargin)
  )

  /** URL canonicalization + URL-level dedup (fully oracled): four messy
    * variants planted per doc pair — uppercase+tracking, default port,
    * fragment, tracking-only query — every canonicalization step is
    * RE2-safe regex replayed verbatim by DuckDB ('g' flag: DuckDB
    * replaces first-only by default, Spark replaces all). Docs collapse
    * in pairs (2k, 2k+1) → kept = even ids. */
  val urlDedupProbe = Probe(
    "q93_url_dedup",
    (s, d) => {
      import graft.operators.Domains
      val url = {
        val pbase = col("doc_id") - col("doc_id") % 2
        val h = pbase % 37
        when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://Site"), h, lit(".Example/p/"), pbase,
            lit("?utm_source=feed")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://site"), h, lit(".example:443/p/"), pbase))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://site"), h, lit(".example/p/"), pbase,
              lit("#section")))
          .otherwise(
            concat(lit("https://site"), h, lit(".example/p/"), pbase,
              lit("?utm_medium=email&utm_term=z")))
      }
      Domains.dedupByUrl(
        Tables.documents(s, d).withColumn("url", url),
        col("url"), col("doc_id"))
        .select(col("doc_id"), col("curl"), col("kept").cast("int").as("kept"))
        .orderBy("doc_id")
    },
    Some("""WITH raw AS (
           |  SELECT doc_id,
           |    CASE doc_id % 4
           |      WHEN 0 THEN 'HTTPS://Site' || ((doc_id - doc_id % 2) % 37) || '.Example/p/' || (doc_id - doc_id % 2) || '?utm_source=feed'
           |      WHEN 1 THEN 'https://site' || ((doc_id - doc_id % 2) % 37) || '.example:443/p/' || (doc_id - doc_id % 2)
           |      WHEN 2 THEN 'https://site' || ((doc_id - doc_id % 2) % 37) || '.example/p/' || (doc_id - doc_id % 2) || '#section'
           |      ELSE 'https://site' || ((doc_id - doc_id % 2) % 37) || '.example/p/' || (doc_id - doc_id % 2) || '?utm_medium=email&utm_term=z'
           |    END AS url
           |  FROM documents),
           |s1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '', 'g') AS u FROM raw),
           |s2 AS (SELECT doc_id, u,
           |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
           |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
           |  FROM s1),
           |s3 AS (SELECT doc_id, scheme,
           |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
           |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
           |         ELSE hostport END AS host,
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(
           |          regexp_replace(rest,
           |            '([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid)=[^&#]*', '\1', 'g'),
           |          '&&+', '&', 'g'),
           |        '\?&', '?', 'g'),
           |      '[?&]+$', '', 'g') AS q
           |  FROM s2),
           |c AS (SELECT doc_id,
           |    CASE WHEN scheme = '' OR host = '' THEN NULL
           |         ELSE scheme || '://' || host ||
           |              CASE WHEN q = '' THEN '/' ELSE q END END AS curl
           |  FROM s3)
           |SELECT doc_id, curl,
           |  CAST(curl IS NULL OR doc_id = min(doc_id) OVER (PARTITION BY curl) AS INT) AS kept
           |FROM c ORDER BY doc_id""".stripMargin)
  )

  /** Sorted-neighborhood ER blocking (fully oracled): one GLOBAL
    * lexicographic rank (distributed — Relational.globalRank, never a
    * single-partition window) pairs each distinct name with its next 7
    * neighbors; Levenshtein ≤ 8 keeps the candidates. The oracle's
    * row_number() reproduces the same rank because the order is total
    * (names are distinct). jw is bin-rounded like q75. */
  val sortedNeighborhoodProbe = Probe(
    "q94_sorted_neighborhood",
    (s, d) => {
      import graft.operators.Fuzzy
      val out = Fuzzy.sortedNeighborhood(Tables.part(s, d), col("p_name"),
        window = 8, maxEdits = 8)
      out.select(col("name_a"), col("name_b"),
          col("dist").cast("long").as("dist"), binRound(col("jw"), 6).as("jw"))
        .orderBy("name_a", "name_b")
    },
    Some("""WITH v AS (SELECT DISTINCT p_name AS n FROM part),
           |r AS (SELECT n, row_number() OVER (ORDER BY n) AS rnk FROM v)
           |SELECT a.n AS name_a, b.n AS name_b,
           |  CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist,
           |  floor(jaro_winkler_similarity(a.n, b.n) * 1000000 + 0.5) / 1000000 AS jw
           |FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 7
           |WHERE levenshtein(a.n, b.n) <= 8
           |ORDER BY name_a, name_b""".stripMargin)
  )

  /** Winsorization at exact per-group order statistics (fully oracled):
    * bounds are the values at positions ⌈p·n⌉ — pure position
    * arithmetic both engines replay, no interpolated quantiles. The
    * clipped column is aggregated with the DECIMAL exact-sum pattern. */
  val winsorizeProbe = Probe(
    "q95_winsorize",
    (s, d) => {
      import graft.operators.Profile
      val clipped = Profile.winsorize(Tables.lineitem(s, d),
        col("l_returnflag"), col("l_extendedprice"),
        pLo = 0.05, pHi = 0.95)
      clipped.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sumExact(col("clipped")).as("sum_clipped"),
          min(col("clipped")).as("min_clipped"),
          max(col("clipped")).as("max_clipped"))
        .orderBy("l_returnflag")
    },
    Some("""WITH r AS (
           |  SELECT l_returnflag AS g, l_extendedprice AS v,
           |    row_number() OVER (PARTITION BY l_returnflag
           |                       ORDER BY l_extendedprice) AS rn,
           |    count(l_extendedprice) OVER (PARTITION BY l_returnflag) AS n
           |  FROM lineitem),
           |b AS (SELECT g,
           |    max(CASE WHEN rn = GREATEST(CAST(ceil(0.05 * n) AS BIGINT), 1)
           |             THEN v END) AS lo,
           |    max(CASE WHEN rn = GREATEST(CAST(ceil(0.95 * n) AS BIGINT), 1)
           |             THEN v END) AS hi
           |  FROM r GROUP BY g),
           |c AS (SELECT r.g,
           |    CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END AS cv
           |  FROM r JOIN b ON r.g = b.g)
           |SELECT g AS l_returnflag, count(*) AS n,
           |  CAST(round(sum(CAST(cv AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_clipped,
           |  min(cv) AS min_clipped, max(cv) AS max_clipped
           |FROM c GROUP BY g ORDER BY l_returnflag""".stripMargin)
  )

  /** Forward as-of join with a tolerance window (pandas merge_asof
    * parity, fully oracled): each click matches its NEAREST purchase
    * at-or-after, and an out-of-tolerance nearest match nulls out —
    * never falls back to a farther one. DuckDB replays it natively
    * (ASOF with >= plus a CASE gate). */
  val asOfForwardProbe = Probe(
    "q96_asof_forward_tolerance",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      Relational.asOfJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts",
          direction = "forward", tolerance = Some(expr("INTERVAL 2 DAYS")),
          keepMatchedTs = true)
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"),
          col("p_value"), col("p_ts"))
        .orderBy("event_id")
    },
    Some("""WITH ev AS (SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events),
           |clicks AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
           |p AS (SELECT user_id, ts AS p_ts, value AS p_value FROM ev WHERE event_type = 'purchase')
           |SELECT c.event_id, c.user_id, c.ts AS click_ts,
           |  CASE WHEN p.p_ts - c.ts <= INTERVAL 2 DAY THEN p.p_value END AS p_value,
           |  CASE WHEN p.p_ts - c.ts <= INTERVAL 2 DAY THEN p.p_ts END AS p_ts
           |FROM clicks c ASOF LEFT JOIN p
           |  ON c.user_id = p.user_id AND p.p_ts >= c.ts
           |ORDER BY c.event_id""".stripMargin)
  )

  /** Equi-depth binning over the distributed global rank (fully
    * oracled): bin = (rank−1)·nb DIV n — integer arithmetic both
    * engines replay; populations differ by ≤ 1 by construction. */
  val equiDepthProbe = Probe(
    "q97_equidepth_bins",
    (s, d) => {
      import graft.operators.Profile
      val binned = Profile.equiDepthBins(Tables.lineitem(s, d),
        Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
        nb = 16)
      binned.groupBy(col("bin"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .orderBy("bin")
    },
    Some("""WITH r AS (
           |  SELECT l_extendedprice AS v,
           |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
           |                       l_linenumber) AS rnk,
           |    count(*) OVER () AS n
           |  FROM lineitem)
           |SELECT CAST(((rnk - 1) * 16) // n AS INT) AS bin,
           |  count(*) AS n_rows, min(v) AS lo, max(v) AS hi
           |FROM r GROUP BY bin ORDER BY bin""".stripMargin)
  )

  /** Top-k per key (fully oracled): WindowGroupLimit pushes rank ≤ k
    * below the exchange — k·#keys rows shuffle, not the table. */
  val topKPerKeyProbe = Probe(
    "q98_topk_per_key",
    (s, d) => {
      Relational.topKPerKey(Tables.lineitem(s, d), Seq("l_returnflag"), 3,
          Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")))
        .select(col("l_returnflag"), col("l_orderkey"), col("l_extendedprice"),
          col("pos").cast("long").as("pos"))
        .orderBy("l_returnflag", "pos")
    },
    Some("""WITH r AS (
           |  SELECT l_returnflag, l_orderkey, l_extendedprice,
           |    row_number() OVER (PARTITION BY l_returnflag
           |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS pos
           |  FROM lineitem)
           |SELECT l_returnflag, l_orderkey, l_extendedprice,
           |  CAST(pos AS BIGINT) AS pos
           |FROM r WHERE pos <= 3 ORDER BY l_returnflag, pos""".stripMargin)
  )

  /** Incremental profile maintenance (fully oracled): per-day partial
    * stats re-aggregated to globals — the oracle computes the same
    * globals DIRECTLY, so a hash match proves merge(partials) ==
    * scan(table) with zero history rescan. Sums ride DECIMAL. */
  val incrementalStatsProbe = Probe(
    "q99_incremental_stats",
    (s, d) => {
      import graft.operators.Profile
      val partials = Profile.statsByPartition(Tables.events(s, d),
        to_date(col("ts")), col("value").cast("decimal(18,2)"))
      Profile.mergeStats(partials)
        .select(col("n_rows"), col("n_nonnull"),
          round(col("sum_v"), 2).cast("double").as("sum_v"),
          col("min_v").cast("double").as("min_v"),
          col("max_v").cast("double").as("max_v"))
    },
    Some("""SELECT count(*) AS n_rows, count(value) AS n_nonnull,
           |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_v,
           |  CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
           |  CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_v
           |FROM events""".stripMargin)
  )

  /** k-anonymity audit (fully oracled): per-row equivalence-class size
    * over (nation, segment) quasi-identifiers + the suppress verdict —
    * one aggregate + join-back on both engines. */
  val kAnonymityProbe = Probe(
    "q100_k_anonymity",
    (s, d) => {
      import graft.operators.Quality
      Quality.kAnonymity(Tables.customer(s, d),
          Seq("c_nationkey", "c_mktsegment"), k = 3)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("class_size"), col("suppress").cast("int").as("suppress"))
        .orderBy("c_custkey")
    },
    Some("""WITH sz AS (
           |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
           |  FROM customer GROUP BY 1, 2)
           |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, sz.class_size,
           |  CAST(sz.class_size < 3 AS INT) AS suppress
           |FROM customer c
           |JOIN sz ON c.c_nationkey = sz.c_nationkey
           |       AND c.c_mktsegment = sz.c_mktsegment
           |ORDER BY c.c_custkey""".stripMargin)
  )

  /** Deterministic negative sampling (fully oracled): the MINSTD-style
    * candidate formula is replayed verbatim by DuckDB (operands < 2^45 —
    * no BIGINT overflow), so both engines derive the IDENTICAL negative
    * set: first-seen dedup, anti-join on true positives, k lowest draws
    * per user. */
  val negativeSampleProbe = Probe(
    "q101_negative_sample",
    (s, d) => {
      import graft.operators.Sampling
      // greatest/coalesce for degenerate corpora: max over nothing is NULL
      // (zero-row) and the one-row slice's only p_partkey is 0 — either
      // way negativeSample requires nItems >= 1 (a degenerate item space
      // still yields a sample, not a throw). sf >= 0.001 has max >= 1, so
      // the oracle's plain max(p_partkey) agrees wherever the gate runs.
      val nItems = Tables.part(s, d)
        .agg(greatest(coalesce(max(col("p_partkey")), lit(1L)), lit(1L)))
        .head.getLong(0)
      val positives = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      Sampling.negativeSample(positives,
          col("o_custkey"), col("l_partkey"), nItems, k = 3, m = 12)
        .select(col("user").as("usr"), col("item"),
          col("draw").cast("long").as("draw"))
        .orderBy("usr", "draw")
    },
    Some("""WITH pos AS (
           |  SELECT DISTINCT o_custkey AS usr, l_partkey AS item
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |ni AS (SELECT max(p_partkey) AS n FROM part),
           |u AS (SELECT DISTINCT usr FROM pos),
           |c AS (
           |  SELECT usr, r.range AS j,
           |    (((usr % 2147483647) * 48271 + r.range * 16807) % 2147483647)
           |      % (SELECT n FROM ni) + 1 AS item
           |  FROM u, range(0, 12) r),
           |f AS (SELECT usr, item, min(j) AS j FROM c GROUP BY 1, 2),
           |neg AS (
           |  SELECT f.usr, f.item, f.j FROM f
           |  WHERE NOT EXISTS (SELECT 1 FROM pos
           |                    WHERE pos.usr = f.usr AND pos.item = f.item)),
           |r AS (SELECT usr, item, j,
           |        row_number() OVER (PARTITION BY usr ORDER BY j) AS draw
           |      FROM neg)
           |SELECT usr, item, CAST(draw AS BIGINT) AS draw
           |FROM r WHERE draw <= 3 ORDER BY usr, draw""".stripMargin)
  )

  /** Incremental DISTINCT maintenance via mergeable HLL sketches: the
    * oracle checks the exact distinct count plus two engine-verified
    * invariants — merge(per-day sketches) equals the direct whole-table
    * sketch estimate EXACTLY (sketch-union exactness), and the estimate
    * lands within the lgK error bound of the true count. */
  val incrementalDistinctProbe = Probe(
    "q102_incremental_distinct",
    (s, d) => {
      import graft.operators.Profile
      val ev = Tables.events(s, d)
      val partials = Profile.distinctSketchByPartition(ev,
        to_date(col("ts")), col("user_id"))
      val merged = Profile.mergeDistinctEstimate(partials)
      val direct = ev.agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(12))).as("direct_est"))
      val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
      exact.crossJoin(merged).crossJoin(direct)
        .select(col("n_exact"),
          (col("n_distinct_est") === col("direct_est")).cast("int")
            .as("merge_consistent"),
          (abs(col("n_distinct_est") - col("n_exact")).cast("double") /
            col("n_exact") < 0.05).cast("int").as("err_ok"))
    },
    Some("""SELECT count(DISTINCT user_id) AS n_exact,
           |  1 AS merge_consistent, 1 AS err_ok FROM events""".stripMargin)
  )

  /** Exact triangle counting (fully oracled): degree-ordered edge
    * orientation over the part co-purchase projection — each triangle
    * enumerated once at its unique apex, self-join fanout bounded by
    * the O(√m) max oriented out-degree (hubs emit no wedges). The
    * oracle replays the identical orientation + wedge-closing algebra
    * in SQL; counts are exact integers, lcc is one IEEE division. */
  val trianglesProbe = Probe(
    "q103_triangles",
    (s, d) => {
      import graft.operators.Graph
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val o2 = op.select(col("o"), col("p").as("p2"))
      val edges = op.join(o2, "o").filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      Graph.triangles(edges)
        .select(col("node"), col("degree"), col("triangles"),
          binRound(col("lcc"), 6).as("lcc"))
        .orderBy("node")
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e0 AS (SELECT DISTINCT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
           |       FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
           |deg AS (SELECT node, count(*) AS degree
           |        FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY node),
           |o AS (SELECT CASE WHEN (da.degree, e0.a) < (db.degree, e0.b) THEN e0.a ELSE e0.b END AS u,
           |             CASE WHEN (da.degree, e0.a) < (db.degree, e0.b) THEN e0.b ELSE e0.a END AS v
           |      FROM e0 JOIN deg da ON da.node = e0.a JOIN deg db ON db.node = e0.b),
           |wg AS (SELECT o1.u AS u, o1.v AS v, o2.v AS w FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v),
           |t AS (SELECT wg.u, wg.v, wg.w FROM wg JOIN e0 ON wg.v = e0.a AND wg.w = e0.b),
           |pn AS (SELECT node, count(*) AS triangles
           |       FROM (SELECT u AS node FROM t UNION ALL SELECT v FROM t UNION ALL SELECT w FROM t) GROUP BY node)
           |SELECT deg.node AS node, deg.degree AS degree, coalesce(pn.triangles, 0) AS triangles,
           |  CASE WHEN deg.degree < 2 THEN 0.0
           |       ELSE floor(CAST(coalesce(pn.triangles, 0) * 2 AS DOUBLE) / (deg.degree * (deg.degree - 1)) * 1000000 + 0.5) / 1000000 END AS lcc
           |FROM deg LEFT JOIN pn ON deg.node = pn.node
           |ORDER BY node""".stripMargin)
  )

  /** Deterministic bottom-k sample per source (fully oracled): md5
    * digest order makes the per-stratum sample uniform, reproducible
    * across engines, and monotone under corpus growth; WindowGroupLimit
    * ships at most k rows per stratum through the exchange. */
  val bottomKSampleProbe = Probe(
    "q104_bottomk_sample",
    (s, d) => {
      import graft.operators.Sampling
      Sampling.bottomKPerStratum(Tables.documents(s, d), Seq("source"),
          col("doc_id"), k = 20)
        .select(col("source"), col("doc_id"), col("pos").cast("long").as("pos"))
        .orderBy("source", "pos")
    },
    Some("""SELECT source, doc_id, pos FROM (
           |  SELECT source, doc_id,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
           |  FROM documents) WHERE pos <= 20 ORDER BY source, pos""".stripMargin)
  )

  /** Collocation mining by lift (fully oracled): adjacent-pair counts
    * via an in-row zip (no self-join), two map-side-combined n-gram
    * aggregates, vocabulary-sized broadcast joins; lift = c12·N² /
    * (M·c1·c2) in fixed-order double arithmetic so both engines emit
    * identical bits. Top 40 multi-word expressions of the corpus. */
  val collocationsProbe = Probe(
    "q105_collocations",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.collocations(Tables.documents(s, d), minCount = 5L)
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          binRound(col("lift"), 4).as("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(40)
    },
    Some("""WITH t AS (SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ws FROM documents),
           |uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
           |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
           |bg AS (SELECT w1, w2 FROM (SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2 FROM t)),
           |m AS (SELECT count(*) AS m_bigrams FROM bg),
           |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2 HAVING count(*) >= 5)
           |SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
           |  floor(CAST(c12 AS DOUBLE) * n_tokens * n_tokens / (CAST(m_bigrams AS DOUBLE) * u1.c * u2.c) * 10000 + 0.5) / 10000 AS lift
           |FROM big JOIN uni u1 ON u1.w = big.w1 JOIN uni u2 ON u2.w = big.w2, tot, m
           |ORDER BY lift DESC, w1, w2 LIMIT 40""".stripMargin)
  )

  /** Quantile normalization (fully oracled): empirical-quantile score
    * calibration via globalRank (range exchange + offset cumsum — no
    * single-partition sort); q = (rank−1)/(n−1), one IEEE division. */
  val quantileNormalizeProbe = Probe(
    "q106_quantile_normalize",
    (s, d) => {
      import graft.operators.Profile
      Profile.quantileNormalize(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars"), col("doc_id")))
        .select(col("doc_id"), col("n_chars"), col("rank"),
          binRound(col("quantile"), 6).as("quantile"))
        .orderBy("rank")
    },
    Some("""WITH r AS (SELECT doc_id, n_chars,
           |    row_number() OVER (ORDER BY n_chars, doc_id) AS rank,
           |    count(*) OVER () AS n FROM documents)
           |SELECT doc_id, n_chars, rank,
           |  CASE WHEN n = 1 THEN 0.0
           |       ELSE floor(CAST(rank - 1 AS DOUBLE) / (n - 1) * 1000000 + 0.5) / 1000000 END AS quantile
           |FROM r ORDER BY rank""".stripMargin)
  )

  /** EXACT trailing-24h distinct users per hour (fully oracled): the
    * gap-delta decomposition — (entity, bucket) distinct, per-entity
    * lead, ±1 deltas, prefix sum over the bucket spine — linear shuffle
    * volume where the naive range join replicates every event W times.
    * The oracle IS that naive range join (affordable at oracle scale),
    * so the hash match proves the decomposition exact. */
  val slidingDistinctProbe = Probe(
    "q107_sliding_distinct",
    (s, d) => {
      import graft.operators.TimeSeries
      TimeSeries.slidingDistinct(Tables.events(s, d), col("user_id"),
          expr("unix_micros(ts) DIV 3600000000"), window = 24)
        .select(col("bucket"),
          timestamp_micros(col("bucket") * 3600000000L).as("bucket_ts"),
          col("n_active"))
        .orderBy("bucket")
    },
    Some("""WITH ev AS (SELECT DISTINCT user_id,
           |    epoch_us(ts::TIMESTAMP) // 3600000000 AS b FROM events),
           |spine AS (SELECT unnest(generate_series((SELECT min(b) FROM ev),
           |    (SELECT max(b) FROM ev))) AS b)
           |SELECT s.b AS bucket, make_timestamp(s.b * 3600000000) AS bucket_ts,
           |  count(DISTINCT e.user_id) AS n_active
           |FROM spine s LEFT JOIN ev e ON e.b BETWEEN s.b - 23 AND s.b
           |GROUP BY s.b ORDER BY bucket""".stripMargin)
  )

  /** KMV bottom-k sketches with SET-OPERATION estimates (corpus-overlap
    * audit): daily-active keys per event type, k=512 signatures,
    * pairwise union/intersection/Jaccard estimates from sketches alone.
    * Exact pair cardinalities are fully oracled; the sketch estimates —
    * deterministic but not ANSI-expressible (xxhash64) — gate as
    * bounded-error invariant booleans (distinct within 20%, intersection
    * within 45%; measured maxima at this k are 10%/28%, so the bound
    * catches a broken sketch without flapping on legal variance). */
  val kmvOverlapProbe = Probe(
    "q108_kmv_overlap",
    (s, d) => {
      import graft.operators.Sketches
      val k = 512
      val elems = Tables.events(s, d).select(col("event_type"),
        (col("user_id") * 100 + dayofmonth(col("ts"))).as("elem"))
      val est = Sketches.kmvPairwise(
        Sketches.kmvSignatures(elems, col("event_type"), col("elem"), k), k)
      val de = elems.distinct()
      val ex1 = de.groupBy(col("event_type")).agg(countDistinct(col("elem")).as("n"))
      val exi = de.select(col("event_type").as("key_a"), col("elem"))
        .join(de.select(col("event_type").as("key_b"), col("elem")), "elem")
        .filter(col("key_a") < col("key_b"))
        .groupBy("key_a", "key_b").agg(countDistinct("elem").as("n_inter"))
      est.join(exi, Seq("key_a", "key_b"))
        .join(ex1.select(col("event_type").as("key_a"), col("n").as("n_a")), "key_a")
        .join(ex1.select(col("event_type").as("key_b"), col("n").as("n_b")), "key_b")
        .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"), col("n_inter"),
          (abs(col("est_a") - col("n_a")) / col("n_a") < 0.2 &&
            abs(col("est_b") - col("n_b")) / col("n_b") < 0.2)
            .cast("int").as("distinct_ok"),
          (abs(col("est_intersect") - col("n_inter")) / col("n_inter") < 0.45)
            .cast("int").as("intersect_ok"))
        .orderBy("key_a", "key_b")
    },
    Some("""WITH de AS (SELECT DISTINCT event_type,
           |    user_id * 100 + date_part('day', ts::TIMESTAMP) AS elem FROM events),
           |ex1 AS (SELECT event_type, count(*) AS n FROM de GROUP BY event_type),
           |exi AS (SELECT a.event_type AS key_a, b.event_type AS key_b,
           |          count(*) AS n_inter
           |        FROM de a JOIN de b ON a.elem = b.elem AND a.event_type < b.event_type
           |        GROUP BY 1, 2)
           |SELECT key_a, key_b, ea.n AS n_a, eb.n AS n_b, n_inter,
           |  1 AS distinct_ok, 1 AS intersect_ok
           |FROM exi JOIN ex1 ea ON ea.event_type = key_a
           |         JOIN ex1 eb ON eb.event_type = key_b
           |ORDER BY key_a, key_b""".stripMargin)
  )

  /** Char-entropy quality signal: native codegen'd kernel (fixed
    * ascending-char summation → layout-independent doubles). n_chars
    * and distinct_chars are fully oracled (DuckDB recounts them from
    * the string); the entropy value itself uses libm log (never gate on
    * libm bits cross-engine — SURVEY.md §2.11) so it gates as oracle-
    * verified invariants: 0 ≤ H ≤ log2(distinct), H = 0 iff one
    * distinct char. The spec cross-checks the kernel bitwise against
    * the Scala reference. */
  val charEntropyProbe = Probe(
    "q109_char_entropy",
    (s, d) => {
      import graft.plans.TextExprs
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextExprs.charEntropy(s, col("text")).as("ce"))
        .select(col("doc_id"), col("ce.n_chars").as("n_chars"),
          col("ce.distinct_chars").as("distinct_chars"),
          (col("ce.entropy") >= 0.0 &&
            col("ce.entropy") <= log2(col("ce.distinct_chars")) + 1e-9)
            .cast("int").as("bounds_ok"),
          ((col("ce.entropy") === 0.0) === (col("ce.distinct_chars") <= 1))
            .cast("int").as("zero_iff_uniform"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
           |  CAST(length(list_distinct(string_split(text, ''))) AS INT)
           |    AS distinct_chars,
           |  1 AS bounds_ok, 1 AS zero_iff_uniform
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Deterministic global shuffle + sharding (fully oracled): md5-
    * seeded permutation via globalRank (range exchange on a uniform
    * digest — balanced partitions by construction, no single-partition
    * sort) and round-robin shard assignment balanced to ±1. The oracle
    * replays the exact permutation. */
  val shuffleShardProbe = Probe(
    "q110_global_shuffle",
    (s, d) => {
      import graft.operators.Sampling
      Sampling.shuffleShard(Tables.documents(s, d), col("doc_id"), nShards = 8)
        .select(col("doc_id"), col("pos"), col("shard"))
        .orderBy("pos")
    },
    Some("""SELECT doc_id,
           |  row_number() OVER (ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) AS pos,
           |  CAST((row_number() OVER (ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8 AS INT) AS shard
           |FROM documents ORDER BY pos""".stripMargin)
  )

  /** Exact correlation matrix (fully oracled): all moments as integer
    * cent sums in ONE aggregate; r from a fixed tree of correctly-
    * rounded IEEE ops (sqrt/div/mul — never libm transcendentals), so
    * Spark and DuckDB agree to the bit before rounding. */
  val correlationProbe = Probe(
    "q111_correlation",
    (s, d) => {
      import graft.operators.Profile
      Profile.correlationMatrix(Tables.lineitem(s, d),
          Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
        .select(col("col_x"), col("col_y"), col("n"),
          binRound(col("r"), 6).as("r"))
        .orderBy("col_x", "col_y")
    },
    Some("""WITH c AS (SELECT
           |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
           |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS e,
           |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS di,
           |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
           |  FROM lineitem),
           |m AS (SELECT count(*) AS n,
           |    sum(CAST(q AS HUGEINT)) AS s_q, sum(CAST(e AS HUGEINT)) AS s_e,
           |    sum(CAST(di AS HUGEINT)) AS s_di, sum(CAST(t AS HUGEINT)) AS s_t,
           |    sum(CAST(q AS HUGEINT) * q) AS ss_q, sum(CAST(e AS HUGEINT) * e) AS ss_e,
           |    sum(CAST(di AS HUGEINT) * di) AS ss_di, sum(CAST(t AS HUGEINT) * t) AS ss_t,
           |    sum(CAST(q AS HUGEINT) * e) AS sp_q_e, sum(CAST(q AS HUGEINT) * di) AS sp_q_di,
           |    sum(CAST(q AS HUGEINT) * t) AS sp_q_t, sum(CAST(e AS HUGEINT) * di) AS sp_e_di,
           |    sum(CAST(e AS HUGEINT) * t) AS sp_e_t, sum(CAST(di AS HUGEINT) * t) AS sp_di_t
           |  FROM c),
           |p AS (
           |  SELECT 'l_discount' AS col_x, 'l_extendedprice' AS col_y, n,
           |    CAST(n * sp_e_di - s_e * s_di AS DOUBLE) AS cov,
           |    CAST(n * ss_di - s_di * s_di AS DOUBLE) AS vx,
           |    CAST(n * ss_e - s_e * s_e AS DOUBLE) AS vy FROM m
           |  UNION ALL SELECT 'l_discount', 'l_tax', n,
           |    CAST(n * sp_di_t - s_di * s_t AS DOUBLE),
           |    CAST(n * ss_di - s_di * s_di AS DOUBLE),
           |    CAST(n * ss_t - s_t * s_t AS DOUBLE) FROM m
           |  UNION ALL SELECT 'l_extendedprice', 'l_tax', n,
           |    CAST(n * sp_e_t - s_e * s_t AS DOUBLE),
           |    CAST(n * ss_e - s_e * s_e AS DOUBLE),
           |    CAST(n * ss_t - s_t * s_t AS DOUBLE) FROM m
           |  UNION ALL SELECT 'l_discount', 'l_quantity', n,
           |    CAST(n * sp_q_di - s_q * s_di AS DOUBLE),
           |    CAST(n * ss_di - s_di * s_di AS DOUBLE),
           |    CAST(n * ss_q - s_q * s_q AS DOUBLE) FROM m
           |  UNION ALL SELECT 'l_extendedprice', 'l_quantity', n,
           |    CAST(n * sp_q_e - s_q * s_e AS DOUBLE),
           |    CAST(n * ss_e - s_e * s_e AS DOUBLE),
           |    CAST(n * ss_q - s_q * s_q AS DOUBLE) FROM m
           |  UNION ALL SELECT 'l_quantity', 'l_tax', n,
           |    CAST(n * sp_q_t - s_q * s_t AS DOUBLE),
           |    CAST(n * ss_q - s_q * s_q AS DOUBLE),
           |    CAST(n * ss_t - s_t * s_t AS DOUBLE) FROM m)
           |SELECT col_x, col_y, n,
           |  CASE WHEN vx > 0 AND vy > 0
           |       THEN floor(cov / (sqrt(vx) * sqrt(vy)) * 1000000 + 0.5) / 1000000
           |       END AS r
           |FROM p ORDER BY col_x, col_y""".stripMargin)
  )

  /** Content-defined chunking: gear rolling-hash boundaries (native
    * codegen kernel) — the edit-resilient chunker a cross-snapshot
    * passage dedup needs (fixed-stride chunks lose alignment forever on
    * a one-char insert; CDC re-syncs within a window). total_len is
    * fully oracled; lossless reconstruction and the min/max bounds gate
    * as oracle-verified invariants; the spec proves boundary re-sync
    * and bitwise agreement with an independent reference. */
  val cdcChunksProbe = Probe(
    "q112_cdc_chunks",
    (s, d) => {
      import graft.plans.TextExprs
      val chunks = TextExprs.cdcChunks(s, col("text"), minLen = 32,
        avgLen = 64, maxLen = 256)
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), chunks.as("ch"))
        .select(col("doc_id"),
          aggregate(col("ch"), lit(0L), (acc, c) => acc + length(c)).as("total_len"),
          (concat_ws("", col("ch")) === col("text")).cast("int").as("recon_ok"),
          (forall(col("ch"), c => length(c) <= 256) &&
            forall(slice(col("ch"), lit(1), greatest(size(col("ch")) - 1, lit(0))),
              c => length(c) >= 32)).cast("int").as("bounds_ok"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS total_len,
           |  1 AS recon_ok, 1 AS bounds_ok
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Count-Min sketch point queries over the word stream: exact counts
    * for the 30 heaviest words are fully oracled; the sketch estimates
    * gate on the one-sided CM guarantee (est ≥ exact, ALWAYS) plus a
    * collision-slack bound est ≤ exact + 8·N/width (expectation is
    * ~N/width per depth row; 8× the mean over a 4-deep min is far
    * outside legal variance only for a broken sketch). */
  val countMinProbe = Probe(
    "q113_countmin",
    (s, d) => {
      import graft.operators.Sketches
      val (depth, width) = (4, 1024)
      val words = Tables.documents(s, d)
        .select(explode(Text.words(col("text"))).as("word"))
      val exact = words.groupBy("word").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("word")).limit(30)
      val n = words.agg(count(lit(1)).as("__n"))
      val est = Sketches.cmEstimate(
        Sketches.countMin(words, col("word"), depth, width),
        exact, col("word"), depth, width)
      exact.join(est, exact("word") === est("key"))
        .crossJoin(broadcast(n))
        .select(exact("word"), col("n_exact"),
          (col("est") >= col("n_exact")).cast("int").as("ge_ok"),
          (col("est") <= col("n_exact") + lit(8) * col("__n") / lit(width))
            .cast("int").as("slack_ok"))
        .orderBy(col("n_exact").desc, col("word"))
    },
    Some("""WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |                    x -> len(x) > 0)) AS word FROM documents)
           |SELECT word, count(*) AS n_exact, 1 AS ge_ok, 1 AS slack_ok
           |FROM w GROUP BY word ORDER BY n_exact DESC, word LIMIT 30""".stripMargin)
  )

  /** Order-independent corpus checksum (fully oracled): 60-bit md5
    * contributions summed (DECIMAL(38,0)) and xor'ed per source —
    * layout-, order- and engine-independent release-manifest digests,
    * incrementally maintainable under appends. */
  val contentChecksumProbe = Probe(
    "q114_content_checksum",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.contentChecksum(Tables.documents(s, d),
          col("source"), col("text"))
        .orderBy("grp")
    },
    Some("""SELECT source AS grp, count(*) AS n_rows, count(text) AS n_hashed,
           |  CAST(sum(CAST(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS HUGEINT))
           |       % CAST('9223372036854775808' AS HUGEINT) AS BIGINT) AS sum60,
           |  bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)) AS xor60
           |FROM documents GROUP BY source ORDER BY grp""".stripMargin)
  )

  /** Inverted index with capped posting lists (fully oracled,
    * serialization included): per term df/cf and the first 32
    * (doc, position) postings — the cap is what makes a stopword's
    * posting list O(cap) instead of O(corpus), applied BELOW the
    * exchange via WindowGroupLimit. */
  val invertedIndexProbe = Probe(
    "q115_inverted_index",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.invertedIndex(Tables.documents(s, d), maxPostings = 32)
        .orderBy("term")
    },
    Some("""WITH tok AS (SELECT d, unnest(ws) AS term, unnest(range(0, len(ws))) AS p
           |  FROM (SELECT doc_id AS d,
           |          list_filter(string_split_regex(lower(text), '\s+'),
           |                      x -> len(x) > 0) AS ws FROM documents)),
           |stats AS (SELECT term, count(DISTINCT d) AS df, count(*) AS cf
           |          FROM tok GROUP BY term),
           |rk AS (SELECT term, d, p,
           |         row_number() OVER (PARTITION BY term ORDER BY d, p) AS rn
           |       FROM tok),
           |posts AS (SELECT term, string_agg(d || ':' || p, ',' ORDER BY d, p) AS postings
           |          FROM rk WHERE rn <= 32 GROUP BY term)
           |SELECT stats.term AS term, df, cf, postings,
           |  CAST(cf > 32 AS INT) AS truncated
           |FROM stats JOIN posts USING (term) ORDER BY term""".stripMargin)
  )

  /** Release-shard manifest (fully oracled): deterministic shuffle →
    * round-robin shards → per-shard order-independent digests. Two
    * releases diff by comparing 8 manifest rows, not the data. */
  val shardManifestProbe = Probe(
    "q116_shard_manifest",
    (s, d) => {
      import graft.operators.Sampling
      Sampling.shardManifest(Tables.documents(s, d), col("doc_id"),
          nShards = 8, col("text"))
        .orderBy("grp")
    },
    Some("""WITH sh AS (SELECT text,
           |    CAST((row_number() OVER (ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8 AS INT) AS grp
           |  FROM documents)
           |SELECT grp, count(*) AS n_rows, count(text) AS n_hashed,
           |  CAST(sum(CAST(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS HUGEINT))
           |       % CAST('9223372036854775808' AS HUGEINT) AS BIGINT) AS sum60,
           |  bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)) AS xor60
           |FROM sh GROUP BY grp ORDER BY grp""".stripMargin)
  )

  /** Per-source dedup-rate report (fully oracled): the curation
    * dashboard line — docs, unique texts, duplicate ppm in exact
    * integer arithmetic; one digest-keyed aggregate. */
  val dedupReportProbe = Probe(
    "q117_dedup_report",
    (s, d) =>
      TextDedup.exactStats(Tables.documents(s, d), "source")
        .withColumn("dup_ppm",
          expr("(n_docs - n_unique) * 1000000L DIV n_docs"))
        .orderBy("source"),
    Some("""SELECT source, count(*) AS n_docs,
           |  count(DISTINCT md5(text)) AS n_unique,
           |  (count(*) - count(DISTINCT md5(text))) * 1000000 // count(*) AS dup_ppm
           |FROM documents GROUP BY source ORDER BY source""".stripMargin)
  )

  /** Skew diagnosis (fully oracled): hot-key report with integer-ppm
    * shares and a salt suggestion — the measurement that picks between
    * AQE, saltedJoin, and a schema fix; TakeOrderedAndProject top-k,
    * never a global sort. */
  val skewReportProbe = Probe(
    "q118_skew_report",
    (s, d) => {
      import graft.operators.Skew
      Skew.diagnose(Tables.lineitem(s, d), col("l_suppkey"), topK = 20)
        .orderBy(col("cnt").desc, col("key"))
    },
    Some("""WITH c AS (SELECT l_suppkey AS key, count(*) AS cnt
           |           FROM lineitem GROUP BY l_suppkey),
           |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, count(*) AS k FROM c)
           |SELECT key, cnt,
           |  CAST(CAST(cnt AS HUGEINT) * 1000000 // n AS BIGINT) AS share_ppm,
           |  n AS n_rows, k AS n_keys,
           |  CAST(least((CAST(cnt AS HUGEINT) * k + n - 1) // n, 1024) AS BIGINT)
           |    AS suggested_salt
           |FROM c, t ORDER BY cnt DESC, key LIMIT 20""".stripMargin)
  )

  /** Margin-based kNN (fully oracled): hubness-corrected retrieval —
    * the Artetxe–Schwenk ratio margin over integer micro-unit
    * penalties. The micro quantization is engine-exact (measured
    * bit-parity of every pair's floor(cos·10⁶) vs DuckDB), so the
    * whole rescoring — penalties, margins, re-rank — hash-matches. */
  val marginKnnProbe = Probe(
    "q119_margin_knn",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.marginTopK(emb, queries, k = 5, kAvg = 8, shortlist = 20)
        .select(col("query_id"), col("vec_id"),
          binRound(col("margin"), 4).as("margin"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    },
    Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |sim AS (SELECT q.vec_id AS qid, t.vec_id AS cid,
           |          list_dot_product(t.v, q.v) /
           |            (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(q.v, q.v))) AS sim
           |        FROM c q JOIN c t ON t.vec_id <> q.vec_id),
           |ranked AS (SELECT qid, cid, sim,
           |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
           |           FROM sim),
           |pen AS (SELECT qid, sum(CAST(floor(sim * 1000000 + 0.5) AS BIGINT)) AS pen
           |        FROM ranked WHERE rn <= 8 GROUP BY qid),
           |m AS (SELECT b.qid, b.cid,
           |        CAST(CAST(floor(b.sim * 1000000 + 0.5) AS BIGINT) * 16 AS DOUBLE)
           |          / (pq.pen + pc.pen) AS margin
           |      FROM ranked b JOIN pen pq ON pq.qid = b.qid
           |                    JOIN pen pc ON pc.qid = b.cid
           |      WHERE b.qid < 20 AND b.rn <= 20),
           |r AS (SELECT qid AS query_id, cid AS vec_id, margin,
           |        row_number() OVER (PARTITION BY qid ORDER BY margin DESC, cid) AS rnk
           |      FROM m)
           |SELECT query_id, vec_id, floor(margin * 10000 + 0.5) / 10000 AS margin,
           |  rnk FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)
  )

  /** Containment similarity (fully oracled): Jaccard + BOTH
    * containments over the bounded ground-truth pair set — the
    * asymmetric measure that catches quote-inclusion/partial dups
    * Jaccard-only dedup misses. Ratios are single IEEE divisions of
    * exact set sizes. */
  val containmentProbe = Probe(
    "q120_containment",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val ids = docs.select(col("doc_id").as("id_a"))
        .crossJoin(docs.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      val sh = docs.select(col("doc_id"),
        HashExprs.hashedShingles(s, col("text"), 3).as("sh"))
      TextDedup.overlapStats(ids, sh, sh)
        .filter(greatest(col("cont_a"), col("cont_b")) >= 0.3)
        .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
          col("n_inter"), binRound(col("jaccard"), 4).as("jaccard"),
          binRound(col("cont_a"), 4).as("cont_a"),
          binRound(col("cont_b"), 4).as("cont_b"))
        .orderBy("id_a", "id_b")
    },
    Some("""WITH t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id < 300),
           |sh AS (
           |  SELECT doc_id,
           |    CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s
           |  FROM t),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    len(a.s) AS n_a, len(b.s) AS n_b,
           |    len(list_intersect(a.s, b.s)) AS n_inter,
           |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |      NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) AS jaccard,
           |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / NULLIF(len(a.s), 0) AS cont_a,
           |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / NULLIF(len(b.s), 0) AS cont_b
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
           |SELECT id_a, id_b, CAST(n_a AS INT) AS n_a, CAST(n_b AS INT) AS n_b,
           |  CAST(n_inter AS INT) AS n_inter,
           |  floor(jaccard * 10000 + 0.5) / 10000 AS jaccard,
           |  floor(cont_a * 10000 + 0.5) / 10000 AS cont_a,
           |  floor(cont_b * 10000 + 0.5) / 10000 AS cont_b
           |FROM p WHERE greatest(cont_a, cont_b) >= 0.3
           |ORDER BY id_a, id_b""".stripMargin)
  )

  /** Weighted interleaving (fully oracled): the WFQ data-order
    * generator for mixed training — any prefix holds each source in
    * proportion to its integer rate; virtual times and the global rank
    * are exact integers (globalRank: no single-partition sort). */
  val interleaveProbe = Probe(
    "q121_interleave",
    (s, d) => {
      import graft.operators.Mixture
      val weights = (0 until 20).map(i => s"src$i" -> (i % 4 + 1)).toMap
      Mixture.interleave(Tables.documents(s, d), col("source"),
          col("doc_id"), weights)
        .select(col("pos"), col("doc_id"), col("source"), col("vtime"))
        .orderBy("pos")
    },
    Some("""WITH t AS (SELECT doc_id, source,
           |    12 // ((CAST(substr(source, 4, 10) AS INT) % 4) + 1) AS stride
           |  FROM documents),
           |v AS (SELECT doc_id, source,
           |    (2 * row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
           |      * stride AS vtime
           |  FROM t)
           |SELECT row_number() OVER (ORDER BY vtime, source, doc_id) AS pos,
           |  doc_id, source, vtime
           |FROM v ORDER BY pos""".stripMargin)
  )

  /** Global robust z-score (fully oracled): positional median + MAD
    * over (group, value) counts — no interpolation, no row sorts; the
    * outlier score a single wild value cannot drag. */
  val madZscoreProbe = Probe(
    "q122_mad_zscore",
    (s, d) => {
      import graft.operators.Profile
      Profile.madZscore(Tables.events(s, d), col("event_type"),
          col("value").cast("decimal(18,2)"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med").cast("double").as("med"),
          col("dev").cast("double").as("dev"),
          col("mad").cast("double").as("mad"),
          binRound(col("z"), 6).as("z"))
        .orderBy("event_id")
    },
    Some("""WITH x AS (SELECT event_id, event_type, value,
           |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
           |cm AS (SELECT event_type, v, count(*) AS c FROM x
           |       WHERE v IS NOT NULL GROUP BY 1, 2),
           |cc AS (SELECT event_type, v,
           |         sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
           |         sum(c) OVER (PARTITION BY event_type) AS n FROM cm),
           |med AS (SELECT event_type, min(v) FILTER (WHERE cum * 2 >= n) AS med
           |        FROM cc GROUP BY event_type),
           |dv AS (SELECT x.event_id, x.event_type, x.value, x.v, med.med,
           |         abs(x.v - med.med) AS dev
           |       FROM x LEFT JOIN med USING (event_type)),
           |dm AS (SELECT event_type, dev AS dv2, count(*) AS c FROM dv
           |       WHERE dev IS NOT NULL GROUP BY 1, 2),
           |dc AS (SELECT event_type, dv2,
           |         sum(c) OVER (PARTITION BY event_type ORDER BY dv2) AS cum,
           |         sum(c) OVER (PARTITION BY event_type) AS n FROM dm),
           |mad AS (SELECT event_type, min(dv2) FILTER (WHERE cum * 2 >= n) AS mad
           |        FROM dc GROUP BY event_type)
           |SELECT dv.event_id, dv.event_type, dv.value,
           |  CAST(dv.med AS DOUBLE) AS med, CAST(dv.dev AS DOUBLE) AS dev,
           |  CAST(mad.mad AS DOUBLE) AS mad,
           |  CASE WHEN dv.v IS NOT NULL AND mad.mad > 0
           |       THEN floor(CAST(dv.dev AS DOUBLE) / CAST(mad.mad AS DOUBLE) * 1000000 + 0.5) / 1000000
           |       END AS z
           |FROM dv LEFT JOIN mad USING (event_type)
           |ORDER BY event_id""".stripMargin)
  )

  /** Trending detection (fully oracled): per-day counts vs the key's
    * strictly-prior trailing-7-day baseline; integer-ppm lift, NULL
    * until a baseline exists. The window walks day rows, not events. */
  val trendingProbe = Probe(
    "q123_trending",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.trending(Tables.events(s, d), col("event_type"),
          to_date(col("ts")), window = 7)
        .orderBy("key", "day_idx")
    },
    Some("""WITH c AS (SELECT event_type AS key,
           |    CAST(CAST(ts::TIMESTAMP AS DATE) - DATE '1970-01-01' AS INT)
           |      AS day_idx,
           |    count(*) AS n
           |  FROM events GROUP BY 1, 2),
           |w AS (SELECT key, day_idx, n,
           |  CAST(sum(n) OVER (PARTITION BY key ORDER BY day_idx
           |         RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
           |    AS base_n
           |  FROM c)
           |SELECT key, day_idx, n, base_n,
           |  CASE WHEN base_n > 0
           |       THEN CAST(CAST(n AS HUGEINT) * 7 * 1000000 // base_n AS BIGINT)
           |       END AS lift_ppm
           |FROM w ORDER BY key, day_idx""".stripMargin)
  )

  /** Distribution drift (fully oracled): Laplace-smoothed chi-squared
    * between two source slices' length distributions over shared
    * equi-width bins — per-bin terms floored to integer ppm and summed
    * as integers, so the statistic is engine-exact. */
  val driftProbe = Probe(
    "q124_drift_chi2",
    (s, d) => {
      import graft.operators.Profile
      val docs = Tables.documents(s, d)
      val curS = docs.filter(expr("CAST(substr(source, 4, 10) AS INT) < 10"))
      val refS = docs.filter(expr("CAST(substr(source, 4, 10) AS INT) >= 10"))
      Profile.driftChi2(curS, refS, col("n_chars"), 0.0, 600.0, nb = 12)
        .orderBy("bin")
    },
    Some("""WITH cur AS (SELECT n_chars FROM documents
           |             WHERE CAST(substr(source, 4, 10) AS INT) < 10),
           |ref AS (SELECT n_chars FROM documents
           |        WHERE CAST(substr(source, 4, 10) AS INT) >= 10),
           |bins AS (SELECT unnest(range(0, 12)) AS bin),
           |bc AS (SELECT greatest(0, least(11, CAST(floor((n_chars - 0.0) / 600.0 * 12) AS BIGINT))) AS bin,
           |         count(*) AS n FROM cur GROUP BY 1),
           |br AS (SELECT greatest(0, least(11, CAST(floor((n_chars - 0.0) / 600.0 * 12) AS BIGINT))) AS bin,
           |         count(*) AS n FROM ref GROUP BY 1),
           |j AS (SELECT bins.bin AS bin, coalesce(bc.n, 0) AS n_cur, coalesce(br.n, 0) AS n_ref
           |      FROM bins LEFT JOIN bc ON bins.bin = bc.bin
           |                LEFT JOIN br ON bins.bin = br.bin),
           |t AS (SELECT CAST(sum(n_cur) AS BIGINT) AS n, CAST(sum(n_ref) + 12 AS BIGINT) AS r FROM j),
           |terms AS (SELECT bin, n_cur, n_ref,
           |    CASE WHEN t.n > 0 THEN CAST(floor(
           |      CAST(n_cur * t.r - (n_ref + 1) * t.n AS DOUBLE)
           |        * CAST(n_cur * t.r - (n_ref + 1) * t.n AS DOUBLE)
           |        / CAST((n_ref + 1) * t.r * t.n AS DOUBLE) * 1e6) AS BIGINT)
           |      ELSE 0 END AS term_ppm
           |  FROM j, t)
           |SELECT bin, n_cur, n_ref, term_ppm,
           |  CAST(sum(term_ppm) OVER () AS BIGINT) AS chi2_ppm
           |FROM terms ORDER BY bin""".stripMargin)
  )

  /** Reciprocal Rank Fusion (fully oracled): fuse two per-source ranked
    * lists — by document length and by a seeded digest (a stand-in
    * second retriever) — into one list per source. Contributions are
    * exact integral nano-units `1e9 DIV (k + rank)`, so the fusion is
    * engine-exact; both input rankings are themselves deterministic
    * (score desc, id asc). */
  val rrfProbe = Probe(
    "q125_rrf_fusion",
    (s, d) => {
      import graft.operators.Fusion
      val docs = Tables.documents(s, d)
      val byLen = docs.select(col("source"), col("doc_id"),
        col("n_chars").as("score"))
      val byDigest = docs.select(col("source"), col("doc_id"),
        md5(concat(lit("7"), lit("|"), col("doc_id").cast("string"))).as("score"))
      Fusion.rrf(Seq(byLen, byDigest), Seq("source"), "doc_id", "score",
          kConst = 60, topK = 10)
        .orderBy("source", "fused_rank")
    },
    Some("""WITH l0 AS (SELECT source, doc_id,
           |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS r
           |  FROM documents),
           |l1 AS (SELECT source, doc_id,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY md5('7|' || CAST(doc_id AS VARCHAR)) DESC, doc_id) AS r
           |  FROM documents),
           |u AS (SELECT source, doc_id, 1000000000 // (r + 60) AS c FROM l0
           |      UNION ALL
           |      SELECT source, doc_id, 1000000000 // (r + 60) FROM l1),
           |f AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_lists,
           |        CAST(sum(c) AS BIGINT) AS rrf_nano
           |      FROM u GROUP BY 1, 2),
           |r AS (SELECT *, row_number() OVER (PARTITION BY source
           |        ORDER BY rrf_nano DESC, doc_id) AS fused_rank FROM f)
           |SELECT source, doc_id, n_lists, rrf_nano,
           |  CAST(fused_rank AS BIGINT) AS fused_rank
           |FROM r WHERE fused_rank <= 10 ORDER BY source, fused_rank""".stripMargin)
  )

  /** Token-budget corpus selection (fully oracled): strict-prefix
    * admission in seeded-digest order until each source's running
    * token total exceeds the budget. */
  val budgetCapProbe = Probe(
    "q126_budget_cap",
    (s, d) => {
      import graft.operators.Sampling
      Sampling.budgetCap(Tables.documents(s, d), Seq("source"),
          col("doc_id"), col("n_chars"), budget = 2000L)
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("cum_tokens"), col("kept"))
        .orderBy("source", "doc_id")
    },
    Some("""WITH b AS (SELECT source, doc_id, n_chars,
           |    sum(n_chars) OVER (PARTITION BY source
           |      ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM documents)
           |SELECT source, doc_id, n_chars, CAST(cum AS BIGINT) AS cum_tokens,
           |  cum <= 2000 AS kept
           |FROM b ORDER BY source, doc_id""".stripMargin)
  )

  /** Unicode normalization (fully oracled): decomposed accent sequences
    * planted around every document on BOTH engines; NFC composes them,
    * accent folding strips them — `graft.plans.TextImpl.nfc` /
    * `stripAccents` vs DuckDB `nfc_normalize` / `strip_accents`
    * (utf8proc) agree on letter+mark decompositions, the contract both
    * kernels document. */
  val unicodeProbe = Probe(
    "q127_unicode_normalize",
    (s, d) => {
      import graft.plans.TextExprs
      // DECOMPOSED sequences (e+U+0301, i+U+0308) — NFC composes them
      val planted = concat(lit("Cafe\u0301 nai\u0308ve \u2014 "),
        coalesce(col("text"), lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), length(planted).as("n_raw"),
          TextExprs.nfc(s, planted).as("norm"))
        .withColumn("n_nfc", length(col("norm")))
        .withColumn("folded", TextExprs.stripAccents(s, col("norm")))
        .select("doc_id", "n_raw", "n_nfc", "norm", "folded")
        .orderBy("doc_id")
    },
    Some("""WITH p AS (SELECT doc_id,
           |    'Cafe' || chr(769) || ' nai' || chr(776) || 've ' || chr(8212)
           |      || ' ' || coalesce(text, '') AS s
           |  FROM documents)
           |SELECT doc_id, CAST(length(s) AS INT) AS n_raw,
           |  CAST(length(nfc_normalize(s)) AS INT) AS n_nfc,
           |  nfc_normalize(s) AS norm,
           |  strip_accents(nfc_normalize(s)) AS folded
           |FROM p ORDER BY doc_id""".stripMargin)
  )

  /** Candidate-key discovery (fully oracled): exact distinct-combination
    * counts as SQL row values (null members are values), incomplete-row
    * counts, and the PK verdict — one Aggregate, one scan. */
  val uniquenessProbe = Probe(
    "q128_uniqueness",
    (s, d) => {
      import graft.operators.Profile
      Profile.uniqueness(Tables.orders(s, d),
        Seq(Seq("o_orderkey"), Seq("o_custkey"),
          Seq("o_custkey", "o_orderdate"), Seq("o_orderstatus")))
    },
    Some("""WITH u AS (
           |  SELECT 'o_orderkey' AS combo, count(*) AS n,
           |    count(DISTINCT ROW(o_orderkey)) AS ndv,
           |    count(*) FILTER (WHERE o_orderkey IS NULL) AS inc
           |  FROM orders
           |  UNION ALL
           |  SELECT 'o_custkey', count(*),
           |    count(DISTINCT ROW(o_custkey)),
           |    count(*) FILTER (WHERE o_custkey IS NULL)
           |  FROM orders
           |  UNION ALL
           |  SELECT 'o_custkey,o_orderdate', count(*),
           |    count(DISTINCT ROW(o_custkey, o_orderdate)),
           |    count(*) FILTER (WHERE o_custkey IS NULL OR o_orderdate IS NULL)
           |  FROM orders
           |  UNION ALL
           |  SELECT 'o_orderstatus', count(*),
           |    count(DISTINCT ROW(o_orderstatus)),
           |    count(*) FILTER (WHERE o_orderstatus IS NULL)
           |  FROM orders)
           |SELECT combo, CAST(n AS BIGINT) AS n_rows,
           |  CAST(ndv AS BIGINT) AS n_distinct,
           |  CAST(inc AS BIGINT) AS n_incomplete,
           |  (inc = 0 AND ndv = n) AS is_key,
           |  CASE WHEN n > 0 THEN ndv * 1000000 // n END AS uniq_ppm
           |FROM u ORDER BY combo""".stripMargin)
  )

  /** Quality-aware dedup representatives (fully oracled): the q50
    * transitive clusters, but each cluster keeps its LONGEST member
    * (ties: lowest id) instead of its smallest id — DuckDB replays the
    * closure recursively and the argmax as a window. */
  val dedupRepsProbe = Probe(
    "q129_dedup_representatives",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val ids = docs.select(col("doc_id").as("id_a"))
        .crossJoin(docs.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      val pairs = TextDedup.jaccardVerify(ids, docs)
        .filter(col("jaccard") >= 0.3)
        .select("id_a", "id_b")
      TextDedup.dedupRepresentatives(docs, pairs, col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id < 300),
           |sh AS (
           |  SELECT doc_id,
           |    CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s
           |  FROM t),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
           |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |        NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) >= 0.3),
           |edges AS (SELECT id_a AS s, id_b AS t FROM p
           |          UNION ALL SELECT id_b, id_a FROM p),
           |reach AS (
           |  SELECT s AS id, t AS r FROM edges
           |  UNION
           |  SELECT reach.id, edges.t FROM reach JOIN edges ON reach.r = edges.s),
           |comp AS (SELECT id, least(id, min(r)) AS component
           |         FROM reach GROUP BY id),
           |allc AS (SELECT d.doc_id,
           |           coalesce(c.component, d.doc_id) AS component, d.n_chars
           |         FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 300) d
           |         LEFT JOIN comp c ON d.doc_id = c.id),
           |r AS (SELECT doc_id, component,
           |        first_value(doc_id) OVER (PARTITION BY component
           |          ORDER BY n_chars DESC, doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep_id
           |      FROM allc)
           |SELECT doc_id, component, keep_id, doc_id = keep_id AS is_rep
           |FROM r ORDER BY doc_id""".stripMargin)
  )

  /** MMR diversified re-ranking (fully oracled): 4 greedy rounds over a
    * 10-deep exact shortlist, λ = 0.7 — every pick replayed by DuckDB
    * as unrolled argmax CTEs over the identical integer micro-unit
    * scores (`700000·simq_µ − 300000·maxSel_µ`). */
  val mmrProbe = Probe(
    "q130_mmr_rerank",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.mmrRerank(emb, queries, k = 4, shortlist = 10,
          lambdaPpm = 700000L)
        .orderBy("query_id", "mmr_rank")
    },
    Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |sim AS (SELECT q.vec_id AS qid, t.vec_id AS cid,
           |          list_dot_product(t.v, q.v) /
           |            (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(q.v, q.v))) AS s
           |        FROM c q JOIN c t ON t.vec_id <> q.vec_id
           |        WHERE q.vec_id < 3),
           |base AS (SELECT qid, cid, CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS simq,
           |           row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid) AS rn
           |         FROM sim),
           |sl AS (SELECT qid, cid, simq FROM base WHERE rn <= 10),
           |pv AS (SELECT sl.qid, sl.cid, c.v FROM sl JOIN c ON sl.cid = c.vec_id),
           |ps AS (SELECT a.qid, a.cid AS ai, b.cid AS bi,
           |         CAST(floor(list_dot_product(a.v, b.v) /
           |           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           |           * 1000000 + 0.5) AS BIGINT) AS m
           |       FROM pv a JOIN pv b ON a.qid = b.qid AND a.cid <> b.cid),
           |s1 AS (SELECT qid, cid, simq, 700000 * simq AS score FROM sl),
           |p1 AS (SELECT *, row_number() OVER (PARTITION BY qid
           |         ORDER BY score DESC, cid) AS rn FROM s1),
           |w1 AS (SELECT qid, cid, score FROM p1 WHERE rn = 1),
           |r2 AS (SELECT sl.* FROM sl LEFT JOIN w1
           |         ON sl.qid = w1.qid AND sl.cid = w1.cid
           |       WHERE w1.cid IS NULL),
           |m2 AS (SELECT r2.qid, r2.cid, r2.simq, max(ps.m) AS ms
           |       FROM r2 JOIN ps ON ps.qid = r2.qid AND ps.ai = r2.cid
           |               JOIN w1 s ON s.qid = ps.qid AND s.cid = ps.bi
           |       GROUP BY 1, 2, 3),
           |s2 AS (SELECT qid, cid, simq, 700000 * simq - 300000 * ms AS score FROM m2),
           |p2 AS (SELECT *, row_number() OVER (PARTITION BY qid
           |         ORDER BY score DESC, cid) AS rn FROM s2),
           |w2 AS (SELECT qid, cid, score FROM p2 WHERE rn = 1),
           |u2 AS (SELECT qid, cid FROM w1 UNION ALL SELECT qid, cid FROM w2),
           |r3 AS (SELECT sl.* FROM sl LEFT JOIN u2
           |         ON sl.qid = u2.qid AND sl.cid = u2.cid
           |       WHERE u2.cid IS NULL),
           |m3 AS (SELECT r3.qid, r3.cid, r3.simq, max(ps.m) AS ms
           |       FROM r3 JOIN ps ON ps.qid = r3.qid AND ps.ai = r3.cid
           |               JOIN u2 s ON s.qid = ps.qid AND s.cid = ps.bi
           |       GROUP BY 1, 2, 3),
           |s3 AS (SELECT qid, cid, simq, 700000 * simq - 300000 * ms AS score FROM m3),
           |p3 AS (SELECT *, row_number() OVER (PARTITION BY qid
           |         ORDER BY score DESC, cid) AS rn FROM s3),
           |w3 AS (SELECT qid, cid, score FROM p3 WHERE rn = 1),
           |u3 AS (SELECT qid, cid FROM u2 UNION ALL SELECT qid, cid FROM w3),
           |r4 AS (SELECT sl.* FROM sl LEFT JOIN u3
           |         ON sl.qid = u3.qid AND sl.cid = u3.cid
           |       WHERE u3.cid IS NULL),
           |m4 AS (SELECT r4.qid, r4.cid, r4.simq, max(ps.m) AS ms
           |       FROM r4 JOIN ps ON ps.qid = r4.qid AND ps.ai = r4.cid
           |               JOIN u3 s ON s.qid = ps.qid AND s.cid = ps.bi
           |       GROUP BY 1, 2, 3),
           |s4 AS (SELECT qid, cid, simq, 700000 * simq - 300000 * ms AS score FROM m4),
           |p4 AS (SELECT *, row_number() OVER (PARTITION BY qid
           |         ORDER BY score DESC, cid) AS rn FROM s4),
           |w4 AS (SELECT qid, cid, score FROM p4 WHERE rn = 1),
           |outp AS (
           |  SELECT qid, cid, 1 AS rnk, score FROM w1
           |  UNION ALL SELECT qid, cid, 2, score FROM w2
           |  UNION ALL SELECT qid, cid, 3, score FROM w3
           |  UNION ALL SELECT qid, cid, 4, score FROM w4)
           |SELECT qid AS query_id, cid AS vec_id,
           |  CAST(rnk AS BIGINT) AS mmr_rank, CAST(score AS BIGINT) AS mmr_score_upm
           |FROM outp ORDER BY query_id, mmr_rank""".stripMargin)
  )

  /** EXACT sparse TF-IDF cosine similarity join (fully oracled): every
    * pair with weighted cosine ≥ 0.25 over the bounded corpus — integer
    * linear-idf weights, DECIMAL(38,0)/HUGEINT exact dots and norms,
    * cosine from three correctly-rounded IEEE ops, so the raw double
    * hash-matches cross-engine. */
  val sparseCosineProbe = Probe(
    "q131_sparse_cosine",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.sparseCosineJoin(
          Tables.documents(s, d).filter(col("doc_id") < 300),
          threshold = 0.25)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
           |tok AS (SELECT doc_id,
           |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS term
           |  FROM d),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |nn AS (SELECT count(*) AS n FROM d),
           |w AS (SELECT tf.doc_id, tf.term,
           |        tf.tf * ((1000000 * nn.n) // dfq.df) AS w
           |      FROM tf JOIN dfq USING (term), nn),
           |nrm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2
           |        FROM w GROUP BY 1),
           |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |           CAST(count(*) AS BIGINT) AS n_shared,
           |           sum(CAST(a.w AS HUGEINT) * b.w) AS dot
           |         FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
           |         GROUP BY 1, 2),
           |c AS (SELECT id_a, id_b, n_shared,
           |        CAST(dot AS DOUBLE) /
           |          (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_sim
           |      FROM cand JOIN nrm na ON na.doc_id = id_a
           |                JOIN nrm nb ON nb.doc_id = id_b)
           |SELECT id_a, id_b, n_shared, cos_sim FROM c
           |WHERE cos_sim >= 0.25 ORDER BY id_a, id_b""".stripMargin)
  )

  /** Connected components via alternating large-star/small-star — the
    * O(log n)-round contraction (q50 is the diameter-bounded min-label
    * face of the same problem; SAME oracle, so the two implementations
    * cross-check through DuckDB's recursive closure). */
  val ccStarProbe = Probe(
    "q132_cc_star",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val ids = docs.select(col("doc_id").as("id_a"))
        .crossJoin(docs.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      val pairs = TextDedup.jaccardVerify(ids, docs)
        .filter(col("jaccard") >= 0.3)
        .select("id_a", "id_b")
      graft.operators.Graph.connectedComponentsStar(pairs).orderBy("id")
    },
    Some("""WITH RECURSIVE t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id < 300),
           |sh AS (
           |  SELECT doc_id,
           |    CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s
           |  FROM t),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
           |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |        NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) >= 0.3),
           |edges AS (SELECT id_a AS s, id_b AS t FROM p
           |          UNION ALL SELECT id_b, id_a FROM p),
           |reach AS (
           |  SELECT s AS id, t AS r FROM edges
           |  UNION
           |  SELECT reach.id, edges.t FROM reach JOIN edges ON reach.r = edges.s)
           |SELECT id, least(id, min(r)) AS component
           |FROM reach GROUP BY id ORDER BY id""".stripMargin)
  )

  /** Normalization-robust exact dedup (fully oracled): three
    * byte-different renderings of every document planted on BOTH
    * engines — accented-uppercase-punctuated, whitespace-jittered —
    * collapse to the original id through the NFC → fold → lower →
    * strip-punct → collapse canonical key. */
  val normalizedDedupProbe = Probe(
    "q133_normalized_dedup",
    (s, d) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val v2 = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(upper(expr("replace(text, 'a', 'á')")), lit("!!")).as("text"))
      val v3 = base.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("  "), col("text"), lit(" .,; ")).as("text"))
      TextDedup.normalizedExact(base.unionByName(v2).unionByName(v3))
        .select("doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH base AS (SELECT doc_id, coalesce(text, '') AS text
           |              FROM documents WHERE doc_id < 400),
           |v AS (SELECT doc_id, text FROM base
           |      UNION ALL
           |      SELECT doc_id + 1000000, upper(replace(text, 'a', 'á')) || '!!'
           |      FROM base
           |      UNION ALL
           |      SELECT doc_id + 2000000, '  ' || text || ' .,; ' FROM base),
           |c AS (SELECT doc_id,
           |        trim(regexp_replace(regexp_replace(
           |          lower(strip_accents(nfc_normalize(text))),
           |          '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS k
           |      FROM v),
           |m AS (SELECT doc_id,
           |        min(doc_id) OVER (PARTITION BY md5(k)) AS keep FROM c)
           |SELECT doc_id FROM m WHERE doc_id = keep ORDER BY doc_id""".stripMargin)
  )

  /** Domain boilerplate stripping (fully oracled): nav/footer lines
    * planted on BOTH engines across every document of a source are mined
    * as template (≥3 docs and ≥50 % of the domain, compared in exact
    * integers) and stripped; body lines survive in original order. */
  val boilerplateProbe = Probe(
    "q134_boilerplate",
    (s, d) => {
      import graft.operators.CorpusStats
      val base = Tables.documents(s, d).filter(col("doc_id") < 600)
        .select(col("doc_id"), col("source"),
          concat(lit("NAV "), col("source"), lit("\n"),
            coalesce(col("text"), lit("")),
            lit("\n(c) "), col("source"), lit(" all rights reserved"))
            .as("text"))
      CorpusStats.stripBoilerplate(base, "source")
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, source,
           |    'NAV ' || source || chr(10) || coalesce(text, '') || chr(10) ||
           |    '(c) ' || source || ' all rights reserved' AS t
           |  FROM documents WHERE doc_id < 600),
           |nd AS (SELECT source, count(*) AS n_docs FROM d GROUP BY 1),
           |pres AS (SELECT doc_id, source,
           |    unnest(list_distinct(string_split(t, chr(10)))) AS line FROM d),
           |bp AS (SELECT source, line FROM
           |    (SELECT source, line, count(*) AS doc_freq FROM pres GROUP BY 1, 2)
           |    JOIN nd USING (source)
           |  WHERE doc_freq >= 3 AND doc_freq * 1000000 >= 500000 * n_docs),
           |ex AS (SELECT doc_id, source,
           |    generate_subscripts(string_split(t, chr(10)), 1) AS pos,
           |    unnest(string_split(t, chr(10))) AS line FROM d),
           |j AS (SELECT ex.doc_id, ex.source, ex.pos, ex.line,
           |    (bp.line IS NOT NULL) AS is_bp
           |  FROM ex LEFT JOIN bp ON ex.source = bp.source AND ex.line = bp.line)
           |SELECT doc_id, source AS domain,
           |  coalesce(string_agg(CASE WHEN NOT is_bp THEN line END,
           |    chr(10) ORDER BY pos), '') AS text_clean,
           |  count(CASE WHEN NOT is_bp THEN 1 END) AS n_kept,
           |  count(CASE WHEN is_bp THEN 1 END) AS n_dropped
           |FROM j GROUP BY 1, 2 ORDER BY doc_id""".stripMargin)
  )

  /** Integer likelihood-ratio text classifier (fully oracled): train on
    * even doc_ids (label: lang = 'en'), score odd doc_ids — add-one
    * smoothed per-term ratios in ppm, DECIMAL/HUGEINT exact inference
    * sums, truncating DIV on both engines. */
  val ratioClassifierProbe = Probe(
    "q135_ratio_classifier",
    (s, d) => {
      import graft.operators.Classify
      val docs = Tables.documents(s, d)
      val model = Classify.ratioModel(
        docs.filter(col("doc_id") % 2 === 0),
        col("lang") === "en", col("text"))
      Classify.ratioScore(docs.filter(col("doc_id") % 2 === 1), model)
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, (lang = 'en') AS pos,
           |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS term
           |  FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
           |cnt AS (SELECT term,
           |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
           |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
           |  FROM tok GROUP BY 1),
           |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS t_pos,
           |    CAST(sum(c_neg) AS BIGINT) AS t_neg,
           |    count(*) AS v FROM cnt),
           |mdl AS (SELECT term,
           |    (CAST(1000000 AS HUGEINT) * (c_pos + 1) * (t_neg + v)) //
           |      (CAST(t_pos + v AS HUGEINT) * (c_neg + 1)) AS w_ppm
           |  FROM cnt, tot),
           |w0 AS (SELECT (CAST(1000000 AS HUGEINT) * (t_neg + v)) //
           |    CAST(t_pos + v AS HUGEINT) AS w0 FROM tot),
           |ttok AS (SELECT doc_id,
           |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS term
           |  FROM documents WHERE doc_id % 2 = 1),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM ttok GROUP BY 1, 2),
           |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           |    sum(CAST(tf AS HUGEINT) * coalesce(w_ppm, w0)) AS num
           |  FROM tf LEFT JOIN mdl USING (term), w0 GROUP BY 1)
           |SELECT d.doc_id,
           |  coalesce(sc.n_tokens, 0) AS n_tokens,
           |  CAST(sc.num // sc.n_tokens AS BIGINT) AS score_ppm,
           |  CASE WHEN sc.num IS NOT NULL
           |    THEN (sc.num // sc.n_tokens) >= 1000000 END AS pred
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
           |LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin)
  )

  /** Symmetric int8 scalar quantization (fully oracled): per-vector
    * scale, exact integer code summaries (positional checksum, sums,
    * L1, L2²) and the raw double worst-case reconstruction error —
    * every step a correctly-rounded IEEE op, hash-matched cross-engine. */
  val int8QuantizeProbe = Probe(
    "q136_int8_quantize",
    (s, d) => {
      import graft.operators.Quantize
      Quantize.int8Audit(Tables.embeddings(s, d)).orderBy("vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |s AS (SELECT vec_id, v,
           |    list_max(list_transform(v, x -> abs(CAST(x AS DOUBLE)))) / 127.0
           |      AS scale
           |  FROM e),
           |c AS (SELECT vec_id, v, scale,
           |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
           |      ELSE list_transform(v, x ->
           |        CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INTEGER))
           |    END AS codes
           |  FROM s),
           |x AS (SELECT vec_id, scale,
           |    generate_subscripts(codes, 1) AS i,
           |    unnest(codes) AS code,
           |    unnest(v) AS xv
           |  FROM c)
           |SELECT vec_id,
           |  count(*) AS n_dims,
           |  scale,
           |  CAST(sum(CAST(i AS BIGINT) * code) AS BIGINT) AS code_checksum,
           |  CAST(sum(code) AS BIGINT) AS code_sum,
           |  CAST(sum(abs(code)) AS BIGINT) AS code_l1,
           |  CAST(sum(CAST(code AS BIGINT) * code) AS BIGINT) AS code_l2sq,
           |  max(abs(CAST(xv AS DOUBLE) - code * scale)) AS max_err
           |FROM x GROUP BY vec_id, scale ORDER BY vec_id""".stripMargin)
  )

  /** l-diversity audit (fully oracled): quasi-classes whose rows carry
    * fewer than l distinct sensitive values are flagged — the
    * homogeneity-attack gate k-anonymity (q100) misses. */
  val lDiversityProbe = Probe(
    "q137_l_diversity",
    (s, d) => {
      import graft.operators.Quality
      Quality.lDiversity(Tables.customer(s, d),
          Seq("c_nationkey", "c_mktsegment"), "c_acctbal", l = 5)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("class_size"), col("l_distinct"),
          col("suppress").cast("int").as("suppress"))
        .orderBy("c_custkey")
    },
    Some("""WITH sz AS (
           |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
           |    count(DISTINCT c_acctbal) AS l_distinct
           |  FROM customer GROUP BY 1, 2)
           |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
           |  sz.class_size, sz.l_distinct,
           |  CAST(sz.l_distinct < 5 AS INT) AS suppress
           |FROM customer c
           |JOIN sz ON c.c_nationkey = sz.c_nationkey
           |       AND c.c_mktsegment = sz.c_mktsegment
           |ORDER BY c.c_custkey""".stripMargin)
  )

  /** Classifier evaluation (fully oracled): confusion counts + exact
    * integer ppm accuracy/precision/recall/F1 of the q135 model against
    * ground truth on the held-out half — the tuning loop of every
    * model-based corpus filter, replayed end-to-end by DuckDB. */
  val classifierEvalProbe = Probe(
    "q138_classifier_eval",
    (s, d) => {
      import graft.operators.Classify
      val docs = Tables.documents(s, d)
      val model = Classify.ratioModel(
        docs.filter(col("doc_id") % 2 === 0),
        col("lang") === "en", col("text"))
      val scored = Classify.ratioScore(docs.filter(col("doc_id") % 2 === 1), model)
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("truth")),
          "doc_id")
      Classify.evalBinary(scored, col("pred"), col("truth"))
    },
    Some("""WITH tok AS (SELECT doc_id, (lang = 'en') AS pos,
           |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS term
           |  FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
           |cnt AS (SELECT term,
           |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
           |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
           |  FROM tok GROUP BY 1),
           |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS t_pos,
           |    CAST(sum(c_neg) AS BIGINT) AS t_neg, count(*) AS v FROM cnt),
           |mdl AS (SELECT term,
           |    (CAST(1000000 AS HUGEINT) * (c_pos + 1) * (t_neg + v)) //
           |      (CAST(t_pos + v AS HUGEINT) * (c_neg + 1)) AS w_ppm
           |  FROM cnt, tot),
           |w0 AS (SELECT (CAST(1000000 AS HUGEINT) * (t_neg + v)) //
           |    CAST(t_pos + v AS HUGEINT) AS w0 FROM tot),
           |ttok AS (SELECT doc_id,
           |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS term
           |  FROM documents WHERE doc_id % 2 = 1),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM ttok GROUP BY 1, 2),
           |sc AS (SELECT doc_id,
           |    sum(CAST(tf AS HUGEINT) * coalesce(w_ppm, w0)) AS num,
           |    CAST(sum(tf) AS BIGINT) AS n_tokens
           |  FROM tf LEFT JOIN mdl USING (term), w0 GROUP BY 1),
           |p AS (SELECT d.doc_id,
           |    CASE WHEN sc.num IS NOT NULL
           |      THEN (sc.num // sc.n_tokens) >= 1000000 END AS pred,
           |    (d.lang = 'en') AS truth
           |  FROM documents d LEFT JOIN sc USING (doc_id)
           |  WHERE d.doc_id % 2 = 1),
           |c AS (SELECT
           |    CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |    CAST(sum(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |    CAST(sum(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           |    CAST(sum(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |    CAST(sum(CASE WHEN pred IS NULL OR truth IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
           |  FROM p),
           |m AS (SELECT tp, fp, tn, fn, n_null,
           |    (1000000 * (tp + tn)) // nullif(tp + tn + fp + fn, 0) AS accuracy_ppm,
           |    (1000000 * tp) // nullif(tp + fp, 0) AS precision_ppm,
           |    (1000000 * tp) // nullif(tp + fn, 0) AS recall_ppm
           |  FROM c)
           |SELECT tp, fp, tn, fn, n_null, accuracy_ppm, precision_ppm, recall_ppm,
           |  (2 * precision_ppm * recall_ppm) //
           |    nullif(precision_ppm + recall_ppm, 0) AS f1_ppm
           |FROM m""".stripMargin)
  )

  /** Positional phrase search (fully oracled): documents containing
    * "hash join" as consecutive tokens — per-word postings filtered
    * BEFORE the (id, pos)-keyed intersection joins. */
  val phraseSearchProbe = Probe(
    "q139_phrase_search",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.phraseSearch(Tables.documents(s, d), Seq("hash", "join"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id,
           |    generate_subscripts(list_filter(string_split_regex(lower(text),
           |      '\s+'), x -> len(x) > 0), 1) - 1 AS pos,
           |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS term
           |  FROM documents),
           |m AS (SELECT a.doc_id, a.pos
           |  FROM (SELECT doc_id, pos FROM tok WHERE term = 'hash') a
           |  JOIN (SELECT doc_id, pos - 1 AS pos FROM tok WHERE term = 'join') b
           |    ON a.doc_id = b.doc_id AND a.pos = b.pos)
           |SELECT doc_id, count(*) AS n_matches,
           |  CAST(min(pos) AS INT) AS first_pos
           |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin)
  )

  /** Curation gate report (fully oracled): per-document failure bitmask,
    * first-failing gate, and kept flag for a 3-gate pipeline — NULL
    * predicates fail strictly on both engines. */
  val gateReportProbe = Probe(
    "q140_gate_report",
    (s, d) => {
      import graft.operators.Quality
      Quality.gateReport(Tables.documents(s, d), Seq(
          "len_ok" -> col("n_chars").between(50L, 5000L),
          "lang_ok" -> col("lang").isin("en", "de", "fr"),
          "text_ok" -> (col("text").isNotNull && length(col("text")) > 0)))
        .select(col("doc_id"), col("fail_mask"), col("first_fail"),
          col("kept").cast("int").as("kept"))
        .orderBy("doc_id")
    },
    Some("""WITH g AS (SELECT doc_id,
           |    NOT coalesce(n_chars BETWEEN 50 AND 5000, FALSE) AS f0,
           |    NOT coalesce(lang IN ('en', 'de', 'fr'), FALSE) AS f1,
           |    NOT coalesce(text IS NOT NULL AND len(text) > 0, FALSE) AS f2
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(CASE WHEN f0 THEN 1 ELSE 0 END
           |     + CASE WHEN f1 THEN 2 ELSE 0 END
           |     + CASE WHEN f2 THEN 4 ELSE 0 END AS BIGINT) AS fail_mask,
           |  CASE WHEN f0 THEN 'len_ok' WHEN f1 THEN 'lang_ok'
           |       WHEN f2 THEN 'text_ok' END AS first_fail,
           |  CAST(NOT (f0 OR f1 OR f2) AS INT) AS kept
           |FROM g ORDER BY doc_id""".stripMargin)
  )

  /** Gate funnel summary (fully oracled): per-gate independent failure
    * counts + first-failure marginals (which sum to the dropped total)
    * from ONE aggregate over the report. */
  val gateSummaryProbe = Probe(
    "q141_gate_funnel",
    (s, d) => {
      import graft.operators.Quality
      val gates = Seq(
        "len_ok" -> col("n_chars").between(50L, 5000L),
        "lang_ok" -> col("lang").isin("en", "de", "fr"),
        "text_ok" -> (col("text").isNotNull && length(col("text")) > 0))
      Quality.gateSummary(
          Quality.gateReport(Tables.documents(s, d), gates), gates)
        .orderBy("gate_idx")
    },
    Some("""WITH g AS (SELECT doc_id,
           |    NOT coalesce(n_chars BETWEEN 50 AND 5000, FALSE) AS f0,
           |    NOT coalesce(lang IN ('en', 'de', 'fr'), FALSE) AS f1,
           |    NOT coalesce(text IS NOT NULL AND len(text) > 0, FALSE) AS f2
           |  FROM documents),
           |a AS (SELECT
           |    CAST(sum(CASE WHEN f0 THEN 1 ELSE 0 END) AS BIGINT) AS nf0,
           |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS nf1,
           |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS nf2,
           |    CAST(sum(CASE WHEN f0 THEN 1 ELSE 0 END) AS BIGINT) AS ff0,
           |    CAST(sum(CASE WHEN NOT f0 AND f1 THEN 1 ELSE 0 END) AS BIGINT) AS ff1,
           |    CAST(sum(CASE WHEN NOT f0 AND NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS ff2,
           |    CAST(sum(CASE WHEN f0 OR f1 OR f2 THEN 1 ELSE 0 END) AS BIGINT) AS dropped
           |  FROM g)
           |SELECT 'len_ok' AS gate, 0 AS gate_idx, nf0 AS n_failed, ff0 AS n_first_fail FROM a
           |UNION ALL SELECT 'lang_ok', 1, nf1, ff1 FROM a
           |UNION ALL SELECT 'text_ok', 2, nf2, ff2 FROM a
           |UNION ALL SELECT '_total_', 3, dropped, dropped FROM a
           |ORDER BY gate_idx""".stripMargin)
  )

  /** Rank-biased overlap between two retrievers (fully oracled): exact
    * nano-unit RBO@10 at p = 0.9 per query — BigInt depth-weight
    * literals interpolated IDENTICALLY into both engines, bounded
    * prefix join + depth expansion. */
  val rboProbe = Probe(
    "q142_rbo",
    (s, d) => {
      import graft.operators.Fusion
      val docs = Tables.documents(s, d)
      val byLen = docs.select(col("source"), col("doc_id"),
        col("n_chars").cast("double").as("score"))
      val byDig = docs.select(col("source"), col("doc_id"),
        conv(substring(md5(concat(lit("r|"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("double").as("score"))
      Fusion.rboNano(byLen, byDig, Seq("source"), "doc_id", "score", k = 10)
        .orderBy("source")
    },
    Some {
      val w = graft.operators.Fusion.depthWeights(10, 9, 10)
        .zipWithIndex.map { case (v, i) => s"(${i + 1}, ${v})" }
        .mkString(", ")
      s"""WITH a AS (SELECT source, doc_id,
         |    CAST(n_chars AS DOUBLE) AS score FROM documents),
         |b AS (SELECT source, doc_id,
         |    CAST(CAST('0x' || substring(md5('r|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) AS score
         |  FROM documents),
         |ra AS (SELECT source, doc_id, row_number() OVER
         |    (PARTITION BY source ORDER BY score DESC, doc_id) AS r FROM a),
         |rb AS (SELECT source, doc_id, row_number() OVER
         |    (PARTITION BY source ORDER BY score DESC, doc_id) AS r FROM b),
         |j AS (SELECT ra.source, ra.doc_id,
         |    greatest(ra.r, rb.r) AS m
         |  FROM ra JOIN rb USING (source, doc_id)
         |  WHERE ra.r <= 10 AND rb.r <= 10),
         |wt(d, w) AS (VALUES $w),
         |dep AS (SELECT source, unnest(generate_series(m, 10)) AS d FROM j),
         |ov AS (SELECT source, d, count(*) AS overlap FROM dep GROUP BY 1, 2),
         |terms AS (SELECT source, (wt.w * ov.overlap) // ov.d AS term
         |  FROM ov JOIN wt ON ov.d = wt.d),
         |agg AS (SELECT j.source, CAST(count(*) AS BIGINT) AS n_agree
         |  FROM j GROUP BY 1),
         |rbo AS (SELECT source, CAST(sum(term) AS BIGINT) AS rbo_nano
         |  FROM terms GROUP BY 1)
         |SELECT s.source, coalesce(a2.n_agree, 0) AS n_agree,
         |  coalesce(r2.rbo_nano, 0) AS rbo_nano
         |FROM (SELECT DISTINCT source FROM documents) s
         |LEFT JOIN agg a2 USING (source) LEFT JOIN rbo r2 USING (source)
         |ORDER BY source""".stripMargin
    }
  )

  /** √-temperature mixture shares (fully oracled): per-source sampling
    * shares ∝ √size in exact integers off one correctly-rounded IEEE
    * sqrt — the multilingual rebalancing curve, flattening visible
    * against the raw shares. */
  val sqrtTemperatureProbe = Probe(
    "q143_sqrt_temperature",
    (s, d) => {
      import graft.operators.Mixture
      Mixture.sqrtTemperatureShares(Tables.documents(s, d), col("source"))
        .orderBy("source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n_rows
           |  FROM documents GROUP BY 1),
           |s AS (SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
           |    CAST(floor(sqrt(CAST(n_rows * 1000000 AS DOUBLE))) AS BIGINT)
           |      AS sqrt_milli
           |  FROM c),
           |t AS (SELECT sum(n_rows) AS tn, sum(sqrt_milli) AS ts FROM s)
           |SELECT source, n_rows, sqrt_milli,
           |  CAST((1000000 * n_rows) // tn AS BIGINT) AS raw_share_ppm,
           |  CAST((1000000 * sqrt_milli) // ts AS BIGINT) AS share_ppm
           |FROM s, t ORDER BY source""".stripMargin)
  )

  /** Micro-unit k-means (fully oracled): k=4, two Lloyd iterations over
    * the embeddings — digest-order seeds, exact integer distances and
    * truncating integer centroid means, every iteration unrolled in the
    * oracle as CTE chains (the q78 PageRank pattern applied to
    * geometry). */
  val kmeansProbe = Probe(
    "q144_kmeans",
    (s, d) => {
      import graft.operators.Clustering
      Clustering.kmeansMicro(Tables.embeddings(s, d), k = 4, iters = 2)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("dist2"))
        .orderBy("vec_id")
    },
    Some("""WITH m AS (SELECT vec_id,
           |    list_transform(embedding, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS vm
           |  FROM embeddings),
           |seeds AS (SELECT vm, row_number() OVER
           |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster
           |  FROM m QUALIFY cluster < 4),
           |x AS (SELECT vec_id, generate_subscripts(vm, 1) AS dim,
           |    unnest(vm) AS x FROM m),
           |c0 AS (SELECT cluster, generate_subscripts(vm, 1) AS dim,
           |    unnest(vm) AS c FROM seeds),
           |d1 AS (SELECT x.vec_id, c0.cluster,
           |    sum((x.x - c0.c) * (x.x - c0.c)) AS dist2
           |  FROM x JOIN c0 USING (dim) GROUP BY 1, 2),
           |a1 AS (SELECT vec_id, cluster FROM d1
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY dist2, cluster) = 1),
           |u1 AS (SELECT a1.cluster, x.dim,
           |    CAST(CAST(sum(x.x) AS HUGEINT) // count(*) AS BIGINT) AS c
           |  FROM x JOIN a1 USING (vec_id) GROUP BY 1, 2),
           |c1 AS (SELECT c0.cluster, c0.dim, coalesce(u1.c, c0.c) AS c
           |  FROM c0 LEFT JOIN u1 ON c0.cluster = u1.cluster AND c0.dim = u1.dim),
           |d2 AS (SELECT x.vec_id, c1.cluster,
           |    sum((x.x - c1.c) * (x.x - c1.c)) AS dist2
           |  FROM x JOIN c1 USING (dim) GROUP BY 1, 2),
           |a2 AS (SELECT vec_id, cluster FROM d2
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY dist2, cluster) = 1),
           |u2 AS (SELECT a2.cluster, x.dim,
           |    CAST(CAST(sum(x.x) AS HUGEINT) // count(*) AS BIGINT) AS c
           |  FROM x JOIN a2 USING (vec_id) GROUP BY 1, 2),
           |c2 AS (SELECT c1.cluster, c1.dim, coalesce(u2.c, c1.c) AS c
           |  FROM c1 LEFT JOIN u2 ON c1.cluster = u2.cluster AND c1.dim = u2.dim),
           |d3 AS (SELECT x.vec_id, c2.cluster,
           |    CAST(sum((x.x - c2.c) * (x.x - c2.c)) AS BIGINT) AS dist2
           |  FROM x JOIN c2 USING (dim) GROUP BY 1, 2)
           |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dist2 FROM d3
           |QUALIFY row_number() OVER (PARTITION BY vec_id
           |  ORDER BY dist2, cluster) = 1
           |ORDER BY vec_id""".stripMargin)
  )

  /** Seasonal hour-of-week profile + residuals (fully oracled): the
    * deseasonalizer — epoch-anchored 168-hour cycle index in pure
    * integer µs arithmetic, truncating integer profile means, exact
    * cent residuals. */
  val seasonalProbe = Probe(
    "q145_seasonal",
    (s, d) => {
      import graft.operators.TimeSeries
      TimeSeries.seasonalResiduals(
          Tables.events(s, d), col("event_type"), col("ts"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .select(col("event_id"), col("event_type"), col("how"),
          col("value_cents"), col("profile_cents"), col("n_obs"),
          col("residual_cents"))
        .orderBy("event_id")
    },
    Some("""WITH b AS (SELECT event_id, event_type,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
           |    (epoch_us(ts::TIMESTAMP) // 3600000000) % 168 AS how
           |  FROM events),
           |p AS (SELECT event_type, how, count(*) AS n_obs,
           |    CAST(sum(CAST(value_cents AS HUGEINT)) // count(*) AS BIGINT)
           |      AS profile_cents
           |  FROM b GROUP BY 1, 2)
           |SELECT b.event_id, b.event_type, b.how, b.value_cents,
           |  p.profile_cents, CAST(p.n_obs AS BIGINT) AS n_obs,
           |  b.value_cents - p.profile_cents AS residual_cents
           |FROM b JOIN p USING (event_type, how)
           |ORDER BY event_id""".stripMargin)
  )

  /** CUSUM changepoint scores (fully oracled): Page's recurrences in
    * closed form — prefix sum minus running extremum, two stacked
    * windows over one exchange, exact integer cents throughout. */
  val cusumProbe = Probe(
    "q146_cusum",
    (s, d) => {
      import graft.operators.TimeSeries
      TimeSeries.cusum(
          Tables.events(s, d), col("event_type"),
          Seq(col("ts"), col("event_id")),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
          slackCents = 500L, thresholdCents = 50000L)
        .select(col("event_id"), col("event_type"), col("value_cents"),
          col("mu_cents"), col("s_pos"), col("s_neg"),
          col("alarm").cast("int").as("alarm"))
        .orderBy("event_id")
    },
    Some("""WITH b AS (SELECT event_id, event_type, ts,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
           |  FROM events),
           |m AS (SELECT event_type,
           |    CAST(sum(CAST(value_cents AS HUGEINT)) // count(*) AS BIGINT)
           |      AS mu_cents
           |  FROM b GROUP BY 1),
           |w1 AS (SELECT b.event_id, b.event_type, b.ts, b.value_cents,
           |    m.mu_cents,
           |    sum(b.value_cents - m.mu_cents - 500) OVER
           |      (PARTITION BY b.event_type ORDER BY b.ts, b.event_id
           |       ROWS UNBOUNDED PRECEDING) AS pp,
           |    sum(b.value_cents - m.mu_cents + 500) OVER
           |      (PARTITION BY b.event_type ORDER BY b.ts, b.event_id
           |       ROWS UNBOUNDED PRECEDING) AS pn
           |  FROM b JOIN m USING (event_type)),
           |w2 AS (SELECT *,
           |    least(0, min(pp) OVER (PARTITION BY event_type
           |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)) AS minpp,
           |    greatest(0, max(pn) OVER (PARTITION BY event_type
           |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)) AS maxpn
           |  FROM w1)
           |SELECT event_id, event_type, value_cents, mu_cents,
           |  CAST(pp - minpp AS BIGINT) AS s_pos,
           |  CAST(maxpn - pn AS BIGINT) AS s_neg,
           |  CAST((pp - minpp > 50000) OR (maxpn - pn > 50000) AS INT) AS alarm
           |FROM w2 ORDER BY event_id""".stripMargin)
  )

  /** PRF query expansion (fully oracled): top-10 feedback docs by exact
    * query-term occurrences, expansion terms ranked by feedback mass ×
    * linear idf — all integers, both engines replay selection, weights,
    * and ranking bit-for-bit. */
  val prfExpansionProbe = Probe(
    "q147_prf_expansion",
    (s, d) => {
      import graft.operators.Bm25
      Bm25.prfExpansion(Tables.documents(s, d), col("doc_id"), col("text"),
          Seq("hash", "join"), kDocs = 10, mTerms = 15)
        .orderBy("rank")
    },
    Some("""WITH base AS (SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0) AS toks
           |  FROM documents),
           |fb AS (SELECT doc_id FROM (
           |    SELECT doc_id, count(*) AS hits
           |    FROM (SELECT doc_id, unnest(toks) AS t FROM base)
           |    WHERE t IN ('hash', 'join') GROUP BY doc_id)
           |  ORDER BY hits DESC, doc_id LIMIT 10),
           |fbtf AS (SELECT t AS term, count(*) AS fb_tf
           |  FROM (SELECT b.doc_id, unnest(b.toks) AS t
           |        FROM base b JOIN fb USING (doc_id))
           |  WHERE t NOT IN ('hash', 'join') GROUP BY 1),
           |dfq AS (SELECT t AS term, count(*) AS df
           |  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM base)
           |  GROUP BY 1),
           |nn AS (SELECT count(*) AS n FROM base)
           |SELECT term, fb_tf, df,
           |  fb_tf * ((1000000 * nn.n) // df) AS w_ppm,
           |  CAST(row_number() OVER (ORDER BY fb_tf * ((1000000 * nn.n) // df) DESC, term)
           |    AS BIGINT) AS rank
           |FROM fbtf JOIN dfq USING (term), nn
           |ORDER BY rank LIMIT 15""".stripMargin)
  )

  /** Readability (fully oracled): Flesch reading-ease in exact integer
    * micro-units — truncating divisions only, regexp counts replayed
    * via regexp_extract_all. */
  val readabilityProbe = Probe(
    "q148_readability",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          Text.tokenCountWs(col("text")).cast("long").as("n_words"),
          Text.readabilityMicro(col("text")).as("fk_micro"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
           |    x -> len(x) > 0)) AS BIGINT) AS n_words,
           |  CASE WHEN len(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) > 0 THEN
           |    206835000
           |    - (1015000 * len(list_filter(string_split_regex(lower(text), '\s+'),
           |        x -> len(x) > 0)))
           |      // greatest(1, len(regexp_extract_all(text, '[.!?]+')))
           |    - (84600000 * len(regexp_extract_all(lower(text), '[aeiouy]+')))
           |      // len(list_filter(string_split_regex(lower(text), '\s+'),
           |        x -> len(x) > 0))
           |  END AS fk_micro
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Gate co-failure matrix (fully oracled): pairwise joint-failure
    * counts from ONE aggregate over the report's mask column. */
  val gateCofailureProbe = Probe(
    "q149_gate_cofailure",
    (s, d) => {
      import graft.operators.Quality
      val gates = Seq(
        "len_ok" -> col("n_chars").between(50L, 5000L),
        "lang_ok" -> col("lang").isin("en", "de", "fr"),
        "text_ok" -> (col("text").isNotNull && length(col("text")) > 0))
      Quality.gateCofailure(
          Quality.gateReport(Tables.documents(s, d), gates), gates)
        .orderBy("idx_a", "idx_b")
    },
    Some("""WITH g AS (SELECT doc_id,
           |    NOT coalesce(n_chars BETWEEN 50 AND 5000, FALSE) AS f0,
           |    NOT coalesce(lang IN ('en', 'de', 'fr'), FALSE) AS f1,
           |    NOT coalesce(text IS NOT NULL AND len(text) > 0, FALSE) AS f2
           |  FROM documents),
           |a AS (SELECT
           |    CAST(sum(CASE WHEN f0 THEN 1 ELSE 0 END) AS BIGINT) AS c00,
           |    CAST(sum(CASE WHEN f0 AND f1 THEN 1 ELSE 0 END) AS BIGINT) AS c01,
           |    CAST(sum(CASE WHEN f0 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS c02,
           |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c11,
           |    CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS c12,
           |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS c22
           |  FROM g)
           |SELECT 'len_ok' AS gate_a, 'len_ok' AS gate_b, 0 AS idx_a, 0 AS idx_b, c00 AS n_both FROM a
           |UNION ALL SELECT 'len_ok', 'lang_ok', 0, 1, c01 FROM a
           |UNION ALL SELECT 'len_ok', 'text_ok', 0, 2, c02 FROM a
           |UNION ALL SELECT 'lang_ok', 'lang_ok', 1, 1, c11 FROM a
           |UNION ALL SELECT 'lang_ok', 'text_ok', 1, 2, c12 FROM a
           |UNION ALL SELECT 'text_ok', 'text_ok', 2, 2, c22 FROM a
           |ORDER BY idx_a, idx_b""".stripMargin)
  )

  /** Markov transition matrix (fully oracled): per-user event-type
    * adjacency counts with row-conditional ppm probabilities — one
    * entity-keyed exchange carries the lag window, the pair aggregate
    * shuffles states²-sized partials, and the marginals come from a
    * window over that aggregate (never a second events pass). */
  val transitionProbe = Probe(
    "q150_transition_matrix",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.transitionMatrix(Tables.events(s, d), col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"))
    },
    Some("""WITH seq AS (SELECT user_id, event_type AS s,
           |    lag(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS prev
           |  FROM events),
           |p AS (SELECT prev AS from_state, s AS to_state, count(*) AS n
           |  FROM seq WHERE prev IS NOT NULL AND s IS NOT NULL
           |  GROUP BY 1, 2)
           |SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
           |  CAST(sum(n) OVER (PARTITION BY from_state) AS BIGINT) AS n_from,
           |  CAST((n * 1000000) // (sum(n) OVER (PARTITION BY from_state))
           |    AS BIGINT) AS p_ppm
           |FROM p ORDER BY from_state, to_state""".stripMargin)
  )

  /** Lag-k autocorrelation (fully oracled): exact integer moment sums in
    * DECIMAL(38,0)/HUGEINT, truncating integer mean, acf as ONE IEEE
    * division of two exact integers — bit-identical on both engines. */
  val autocorrProbe = Probe(
    "q151_autocorr",
    (s, d) => {
      import graft.operators.TimeSeries
      TimeSeries.autocorr(Tables.events(s, d), col("event_type"),
        Seq(col("ts"), col("event_id")),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"), Seq(1, 2, 3))
    },
    Some("""WITH b AS (SELECT event_id, event_type, ts,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
           |  FROM events WHERE event_type IS NOT NULL),
           |m AS (SELECT event_type,
           |    CAST(sum(CAST(v AS HUGEINT)) // count(1) AS BIGINT)
           |      AS mu_cents
           |  FROM b GROUP BY 1),
           |l AS (SELECT b.event_type, b.v - m.mu_cents AS dx, m.mu_cents,
           |    lead(b.v - m.mu_cents, 1) OVER w AS l1,
           |    lead(b.v - m.mu_cents, 2) OVER w AS l2,
           |    lead(b.v - m.mu_cents, 3) OVER w AS l3
           |  FROM b JOIN m USING (event_type)
           |  WINDOW w AS (PARTITION BY b.event_type
           |    ORDER BY b.ts, b.event_id)),
           |per AS (
           |  SELECT event_type AS key, 1 AS lag,
           |    CAST(count(l1) AS BIGINT) AS n_pairs, mu_cents,
           |    CAST(coalesce(sum(CASE WHEN l1 IS NOT NULL
           |      THEN CAST(dx AS HUGEINT) * l1 END), 0) AS BIGINT) AS num,
           |    CAST(sum(CAST(dx AS HUGEINT) * dx) AS BIGINT) AS den
           |  FROM l GROUP BY event_type, mu_cents
           |  UNION ALL
           |  SELECT event_type, 2, CAST(count(l2) AS BIGINT), mu_cents,
           |    CAST(coalesce(sum(CASE WHEN l2 IS NOT NULL
           |      THEN CAST(dx AS HUGEINT) * l2 END), 0) AS BIGINT),
           |    CAST(sum(CAST(dx AS HUGEINT) * dx) AS BIGINT)
           |  FROM l GROUP BY event_type, mu_cents
           |  UNION ALL
           |  SELECT event_type, 3, CAST(count(l3) AS BIGINT), mu_cents,
           |    CAST(coalesce(sum(CASE WHEN l3 IS NOT NULL
           |      THEN CAST(dx AS HUGEINT) * l3 END), 0) AS BIGINT),
           |    CAST(sum(CAST(dx AS HUGEINT) * dx) AS BIGINT)
           |  FROM l GROUP BY event_type, mu_cents)
           |SELECT key, lag, n_pairs, mu_cents, num, den,
           |  CASE WHEN den > 0
           |    THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS acf
           |FROM per ORDER BY key, lag""".stripMargin)
  )

  /** Market-basket co-occurrence with lift (fully oracled): presence
    * distinct → basket-keyed self-join (fan-out bounded by basket size,
    * never corpus²) → pair aggregate; lift from four exactly-
    * representable integers in the identical IEEE op order. */
  val assocProbe = Probe(
    "q152_assoc_lift",
    (s, d) => {
      import graft.operators.Assoc
      Assoc.pairCounts(Tables.events(s, d), col("user_id"),
        col("event_type"), minPairCount = 2L)
    },
    Some("""WITH present AS (SELECT DISTINCT user_id AS b, event_type AS i
           |  FROM events WHERE event_type IS NOT NULL),
           |nb AS (SELECT count(DISTINCT b) AS n_baskets FROM present),
           |m AS (SELECT i, count(*) AS n FROM present GROUP BY 1),
           |p AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS n_both
           |  FROM present x JOIN present y ON x.b = y.b AND x.i < y.i
           |  GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT item_a, item_b, CAST(n_both AS BIGINT) AS n_both,
           |  CAST(ma.n AS BIGINT) AS n_a, CAST(mb.n AS BIGINT) AS n_b,
           |  CAST(nb.n_baskets AS BIGINT) AS n_baskets,
           |  (CAST(n_both AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)) /
           |    (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)) AS lift
           |FROM p JOIN m ma ON ma.i = item_a JOIN m mb ON mb.i = item_b, nb
           |ORDER BY item_a, item_b""".stripMargin)
  )

  /** Exact ROC-AUC (fully oracled): doubled Mann-Whitney rank mass from
    * a score-keyed aggregate + the globalRank-style cumulative, auc as
    * ONE IEEE division of exact integers. */
  val aucProbe = Probe(
    "q153_auc",
    (s, d) => {
      import graft.operators.Classify
      Classify.aucExact(Tables.documents(s, d), col("n_chars"),
        col("lang") === "en")
    },
    Some("""WITH s AS (SELECT n_chars AS sc, (lang = 'en') AS t
           |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
           |g AS (SELECT sc, sum(CASE WHEN t THEN 1 ELSE 0 END) AS np,
           |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS nn
           |  FROM s GROUP BY 1),
           |c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY sc
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           |  FROM g),
           |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
           |    CAST(sum(nn) AS BIGINT) AS n_neg,
           |    CAST(sum(CAST(2 * np * below + np * nn AS HUGEINT))
           |      AS BIGINT) AS u2
           |  FROM c),
           |z AS (SELECT CAST(count(*) FILTER (WHERE n_chars IS NULL
           |    OR lang IS NULL) AS BIGINT) AS n_null FROM documents)
           |SELECT n_pos, n_neg, n_null, u2,
           |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           |    CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)
           |  END AS auc
           |FROM a, z""".stripMargin)
  )

  /** Calibration bins (fully oracled): equal-width ppm bins, truncating
    * integer means and positive rates. */
  val calibrationProbe = Probe(
    "q154_calibration",
    (s, d) => {
      import graft.operators.Classify
      Classify.calibrationBins(Tables.documents(s, d),
        least(lit(1000000L), col("n_chars") * 1800L), col("lang") === "en",
        nBins = 10)
    },
    Some("""WITH b AS (SELECT least(1000000, n_chars * 1800) AS p,
           |    (lang = 'en') AS y
           |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL)
           |SELECT CAST(least(9, (p * 10) // 1000000) AS INT) AS bin,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CAST(p AS HUGEINT)) // count(1) AS BIGINT)
           |    AS mean_pred_ppm,
           |  CAST((1000000 * sum(CASE WHEN y THEN 1 ELSE 0 END)) // count(1)
           |    AS BIGINT) AS pos_rate_ppm
           |FROM b GROUP BY 1 ORDER BY bin""".stripMargin)
  )

  /** Interval coalescing (fully oracled): gaps-and-islands closed form —
    * running-max + cumulative-flag windows replayed identically. */
  val intervalMergeProbe = Probe(
    "q155_interval_merge",
    (s, d) => {
      import graft.operators.TimeSeries
      val ev = Tables.events(s, d)
      TimeSeries.mergeIntervals(ev, col("user_id"),
        unix_micros(col("ts")), unix_micros(col("ts")) + 300000000L)
    },
    Some("""WITH b AS (SELECT CAST(user_id AS VARCHAR) AS k,
           |    epoch_us(ts::TIMESTAMP) AS s,
           |    epoch_us(ts::TIMESTAMP) + 300000000 AS e FROM events),
           |w AS (SELECT k, s, e, max(e) OVER (PARTITION BY k ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           |  FROM b),
           |f AS (SELECT k, s, e,
           |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nw
           |  FROM w),
           |i AS (SELECT k, s, e, sum(nw) OVER (PARTITION BY k ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           |  FROM f)
           |SELECT k AS key, CAST(island AS BIGINT) AS island,
           |  min(s) AS start_us, max(e) AS end_us,
           |  CAST(count(*) AS BIGINT) AS n_intervals,
           |  max(e) - min(s) AS covered_us
           |FROM i GROUP BY k, island ORDER BY key, island""".stripMargin)
  )

  /** 2-D Pareto frontier (fully oracled): range-exchange skyline vs the
    * NOT-EXISTS domination definition. */
  val paretoProbe = Probe(
    "q156_pareto",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.paretoFrontier2D(Tables.part(s, d), col("p_partkey"),
        col("p_size"), expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)"))
    },
    Some("""WITH pts AS (SELECT p_partkey AS pid, CAST(p_size AS BIGINT) AS x,
           |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS y
           |  FROM part)
           |SELECT pid, x, y FROM pts p
           |WHERE NOT EXISTS (SELECT 1 FROM pts q
           |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
           |ORDER BY x, pid""".stripMargin)
  )

  /** Good-Turing frequency-of-frequencies (fully oracled): N_r table +
    * truncating integer Turing estimates, adjacency-checked lead. */
  val freqOfFreqsProbe = Probe(
    "q157_freq_of_freqs",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.freqOfFreqs(Tables.documents(s, d))
    },
    Some("""WITH tc AS (SELECT t, count(*) AS r FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(text),
           |      '\s+'), x -> len(x) > 0)) AS t FROM documents) GROUP BY 1),
           |nr AS (SELECT r, count(*) AS n_terms FROM tc GROUP BY 1),
           |l AS (SELECT r, n_terms, lead(r) OVER (ORDER BY r) AS r2,
           |    lead(n_terms) OVER (ORDER BY r) AS nt2 FROM nr)
           |SELECT CAST(r AS BIGINT) AS r, CAST(n_terms AS BIGINT) AS n_terms,
           |  CASE WHEN r2 = r + 1 THEN
           |    CAST(((r + 1) * 1000000 * nt2) // n_terms AS BIGINT)
           |  END AS r_star_ppm
           |FROM l ORDER BY r""".stripMargin)
  )

  /** Per-key categorical Gini impurity (fully oracled): log-free
    * predictability/concentration score in exact ppm. */
  val giniProbe = Probe(
    "q158_categorical_gini",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.categoricalGini(Tables.events(s, d), col("user_id"),
        col("event_type"))
    },
    Some("""WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
           |    event_type AS cat, count(*) AS n
           |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
           |SELECT key, CAST(sum(n) AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS n_cats,
           |  CAST(1000000 - (1000000 * sum(CAST(n AS HUGEINT) * n))
           |    // (CAST(sum(n) AS HUGEINT) * sum(n)) AS BIGINT) AS gini_ppm
           |FROM c GROUP BY key ORDER BY key""".stripMargin)
  )

  /** Bounded-round k-core peel (fully oracled): the oracle unrolls the
    * three peel rounds as a CTE chain (the kmeans/pagerank pattern) over
    * the repeat-co-purchase graph (pairs bought together ≥ 2 times — the
    * Zipf-tail cut keeps the graph sparse at any SF). */
  val kcoreProbe = Probe(
    "q159_kcore",
    (s, d) => {
      import graft.operators.Graph
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val o2 = op.select(col("o"), col("p").as("p2"))
      val edges = op.join(o2, "o").filter(col("p") < col("p2"))
        .groupBy(col("p").as("src"), col("p2").as("dst"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2L)
        .select(col("src"), col("dst"))
      Graph.kCorePeel(edges, k = 3, rounds = 3)
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem),
           |e0 AS (SELECT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
           |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |d0 AS (SELECT node, count(*) AS deg FROM (
           |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
           |  GROUP BY 1),
           |k0 AS (SELECT node FROM d0 WHERE deg >= 3),
           |e1 AS (SELECT e.a, e.b FROM e0 e JOIN k0 x ON e.a = x.node
           |  JOIN k0 y ON e.b = y.node),
           |d1 AS (SELECT node, count(*) AS deg FROM (
           |    SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
           |  GROUP BY 1),
           |k1 AS (SELECT node FROM d1 WHERE deg >= 3),
           |e2 AS (SELECT e.a, e.b FROM e1 e JOIN k1 x ON e.a = x.node
           |  JOIN k1 y ON e.b = y.node),
           |d2 AS (SELECT node, count(*) AS deg FROM (
           |    SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
           |  GROUP BY 1),
           |k2 AS (SELECT node FROM d2 WHERE deg >= 3),
           |e3 AS (SELECT e.a, e.b FROM e2 e JOIN k2 x ON e.a = x.node
           |  JOIN k2 y ON e.b = y.node)
           |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           |  SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
           |GROUP BY 1 ORDER BY node""".stripMargin)
  )

  /** Mutual nearest neighbors (fully oracled): exact kNN@3 over a
    * bounded id range, reciprocity join replayed in SQL — the
    * bitext-mining filter over any searcher's kNN frame. */
  val mutualNnProbe = Probe(
    "q160_mutual_nn",
    (s, d) => {
      val sub = Tables.embeddings(s, d).filter(col("vec_id") < 400)
      val queries = sub.select(col("vec_id").as("query_id"),
        col("embedding"))
      Similarity.mutualPairs(Similarity.bruteForceTopK(sub, queries, 3),
        kMutual = 3)
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev
           |  FROM embeddings WHERE vec_id < 400),
           |sc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
           |    list_dot_product(c.ev, q.ev) /
           |      NULLIF(sqrt(list_dot_product(c.ev, c.ev)) *
           |        sqrt(list_dot_product(q.ev, q.ev)), 0) AS sim
           |  FROM v q JOIN v c ON q.vec_id <> c.vec_id),
           |r AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
           |    ORDER BY sim DESC, cid) AS rnk FROM sc),
           |t AS (SELECT qid, cid, rnk FROM r WHERE rnk <= 3)
           |SELECT x.qid AS id_a, x.cid AS id_b,
           |  CAST(x.rnk AS INT) AS rank_ab, CAST(y.rnk AS INT) AS rank_ba
           |FROM t x JOIN t y ON x.qid = y.cid AND x.cid = y.qid
           |WHERE x.qid < x.cid ORDER BY id_a, id_b""".stripMargin)
  )

  /** Benford first-digit audit (fully oracled): string-length leading
    * digit, literal ppm expectations, truncating observed shares. */
  val benfordProbe = Probe(
    "q161_benford",
    (s, d) => {
      import graft.operators.Quality
      Quality.benford(Tables.lineitem(s, d),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
    },
    Some("""WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5)
           |      AS BIGINT) AS x
           |  FROM lineitem
           |  WHERE l_extendedprice IS NOT NULL
           |    AND floor(l_extendedprice * 100 + 0.5) > 0),
           |dg AS (SELECT CAST(x // CAST(power(10,
           |      len(CAST(x AS VARCHAR)) - 1) AS BIGINT) AS INT) AS digit,
           |    count(*) AS n
           |  FROM v GROUP BY 1),
           |t AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS tt FROM dg),
           |spine(digit, bppm) AS (VALUES (1, 301030), (2, 176091),
           |  (3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992),
           |  (8, 51153), (9, 45757)),
           |o AS (SELECT s.digit, CAST(coalesce(dg.n, 0) AS BIGINT) AS n,
           |    CAST(CASE WHEN t.tt > 0 THEN
           |      (1000000 * CAST(coalesce(dg.n, 0) AS BIGINT)) // t.tt
           |      ELSE 0 END AS BIGINT) AS obs_ppm,
           |    CAST(s.bppm AS BIGINT) AS benford_ppm
           |  FROM spine s LEFT JOIN dg ON dg.digit = s.digit, t)
           |SELECT digit, n, obs_ppm, benford_ppm,
           |  abs(obs_ppm - benford_ppm) AS dev_ppm
           |FROM o ORDER BY digit""".stripMargin)
  )

  /** Top journey paths (fully oracled): per-entity ordered prefix
    * assembly replayed via string_agg(… ORDER BY rn). */
  val journeyProbe = Probe(
    "q162_journey_paths",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.journeyPaths(Tables.events(s, d), col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"),
        pathLen = 3, topN = 20)
    },
    Some("""WITH r AS (SELECT user_id, event_type, row_number() OVER (
           |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |  FROM events WHERE event_type IS NOT NULL),
           |p AS (SELECT user_id,
           |    string_agg(event_type, '>' ORDER BY rn) AS path
           |  FROM r WHERE rn <= 3 GROUP BY user_id)
           |SELECT path, CAST(count(*) AS BIGINT) AS n_entities
           |FROM p GROUP BY 1
           |ORDER BY n_entities DESC, path LIMIT 20""".stripMargin)
  )

  /** Functional-dependency audit (fully oracled): g3 repair measure over
    * (l_orderkey → l_shipdate). */
  val fdProbe = Probe(
    "q163_fd_audit",
    (s, d) => {
      import graft.operators.Quality
      Quality.functionalDependency(Tables.lineitem(s, d),
        Seq(col("l_orderkey")), col("l_shipdate"))
    },
    Some("""WITH pc AS (SELECT l_orderkey AS l, l_shipdate AS r,
           |    count(*) AS n
           |  FROM lineitem GROUP BY 1, 2),
           |g AS (SELECT l, sum(n) AS gn, count(*) AS nrhs, max(n) AS maxc
           |  FROM pc GROUP BY 1)
           |SELECT CAST(coalesce(sum(gn), 0) AS BIGINT) AS n_rows,
           |  CAST(count(*) AS BIGINT) AS n_groups,
           |  CAST(coalesce(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_violating_groups,
           |  CAST(coalesce(sum(CASE WHEN nrhs > 1 THEN gn ELSE 0 END), 0)
           |    AS BIGINT) AS violating_rows,
           |  CAST(coalesce(sum(gn - maxc), 0) AS BIGINT) AS repair_rows
           |FROM g""".stripMargin)
  )

  /** Embedding centroid drift (fully oracled): even/odd snapshot split,
    * truncating micro means, exact Σ Δ² replayed in HUGEINT. */
  val centroidShiftProbe = Probe(
    "q164_centroid_shift",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.centroidShiftMicro(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), "label")
    },
    Some("""WITH am AS (SELECT label, i AS dim,
           |    CAST(sum(CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5)
           |      AS HUGEINT)) // count(*) AS BIGINT) AS ca,
           |    count(*) AS na
           |  FROM embeddings, range(1, 65) t(i)
           |  WHERE vec_id % 2 = 0 GROUP BY 1, 2),
           |bm AS (SELECT label, i AS dim,
           |    CAST(sum(CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5)
           |      AS HUGEINT)) // count(*) AS BIGINT) AS cb,
           |    count(*) AS nb
           |  FROM embeddings, range(1, 65) t(i)
           |  WHERE vec_id % 2 = 1 GROUP BY 1, 2),
           |j AS (SELECT coalesce(am.label, bm.label) AS grp,
           |    am.ca, bm.cb, am.na, bm.nb
           |  FROM am FULL OUTER JOIN bm
           |    ON am.label = bm.label AND am.dim = bm.dim)
           |SELECT CAST(grp AS VARCHAR) AS "group",
           |  CAST(coalesce(max(na), 0) AS BIGINT) AS n_a,
           |  CAST(coalesce(max(nb), 0) AS BIGINT) AS n_b,
           |  CAST(count(*) AS BIGINT) AS dims,
           |  CAST(sum(CAST(ca - cb AS HUGEINT) * (ca - cb)) AS BIGINT)
           |    AS dist2_micro2
           |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** Contingency + chi² cells (fully oracled): event mix × hour-of-day
    * (pure integer µs hour — engine-neutral), HUGEINT replay. */
  val contingencyProbe = Probe(
    "q165_contingency",
    (s, d) => {
      import graft.operators.Profile
      Profile.contingency(Tables.events(s, d), col("event_type"),
        expr("(unix_micros(ts) DIV 3600000000) % 24"))
    },
    Some("""WITH b AS (SELECT event_type AS row_val,
           |    CAST((epoch_us(ts::TIMESTAMP) // 3600000000) % 24 AS VARCHAR)
           |      AS col_val
           |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
           |cells AS (SELECT row_val, col_val, count(*) AS n
           |  FROM b GROUP BY 1, 2),
           |m AS (SELECT *, sum(n) OVER (PARTITION BY row_val) AS rt,
           |    sum(n) OVER (PARTITION BY col_val) AS ct,
           |    sum(n) OVER () AS g
           |  FROM cells),
           |e AS (SELECT row_val, col_val, CAST(n AS BIGINT) AS n,
           |    CAST((CAST(rt AS HUGEINT) * ct * 1000) // g AS BIGINT)
           |      AS exp_milli
           |  FROM m)
           |SELECT row_val, col_val, n, exp_milli,
           |  CASE WHEN exp_milli > 0 THEN
           |    CAST((1000 * CAST(1000 * n - exp_milli AS HUGEINT) *
           |      (1000 * n - exp_milli)) // exp_milli AS BIGINT)
           |  ELSE 0 END AS chi2_micro
           |FROM e ORDER BY row_val, col_val""".stripMargin)
  )

  /** Multiclass evaluation (fully oracled): one-vs-rest cells + ppm
    * metrics from one confusion aggregate; the pred is a deterministic
    * rule both engines replay. */
  val multiclassProbe = Probe(
    "q166_multiclass_eval",
    (s, d) => {
      import graft.operators.Classify
      Classify.evalMulticlass(Tables.documents(s, d),
        expr("CASE WHEN n_chars % 3 = 0 THEN 'en' WHEN n_chars % 3 = 1 THEN 'de' ELSE 'fr' END"),
        col("lang"))
    },
    Some("""WITH s AS (SELECT CASE WHEN n_chars % 3 = 0 THEN 'en'
           |    WHEN n_chars % 3 = 1 THEN 'de' ELSE 'fr' END AS p,
           |    lang AS t
           |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
           |cells AS (SELECT p, t, count(*) AS n FROM s GROUP BY 1, 2),
           |np AS (SELECT p AS class, sum(n) AS np FROM cells GROUP BY 1),
           |nt AS (SELECT t AS class, sum(n) AS nt FROM cells GROUP BY 1),
           |dg AS (SELECT p AS class, n AS tp FROM cells WHERE p = t),
           |j AS (SELECT coalesce(np.class, nt.class) AS class,
           |    CAST(coalesce(dg.tp, 0) AS BIGINT) AS tp,
           |    CAST(coalesce(np.np, 0) - coalesce(dg.tp, 0) AS BIGINT) AS fp,
           |    CAST(coalesce(nt.nt, 0) - coalesce(dg.tp, 0) AS BIGINT) AS fn,
           |    CAST(coalesce(nt.nt, 0) AS BIGINT) AS support
           |  FROM np FULL OUTER JOIN nt ON np.class = nt.class
           |  LEFT JOIN dg ON dg.class = coalesce(np.class, nt.class)),
           |w AS (SELECT *,
           |    CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp) END
           |      AS precision_ppm,
           |    CASE WHEN tp + fn > 0 THEN (1000000 * tp) // (tp + fn) END
           |      AS recall_ppm
           |  FROM j)
           |SELECT class, tp, fp, fn, support,
           |  CAST(precision_ppm AS BIGINT) AS precision_ppm,
           |  CAST(recall_ppm AS BIGINT) AS recall_ppm,
           |  CAST(CASE WHEN precision_ppm IS NOT NULL
           |      AND recall_ppm IS NOT NULL
           |      AND precision_ppm + recall_ppm > 0 THEN
           |    (2 * precision_ppm * recall_ppm) //
           |      (precision_ppm + recall_ppm) END AS BIGINT) AS f1_ppm
           |FROM w ORDER BY class""".stripMargin)
  )

  /** A/B two-proportion readout (fully oracled): integer rates, lift,
    * pooled z² in micro — one truncating DIV at the end. */
  val abTestProbe = Probe(
    "q167_ab_test",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.abTest(Tables.events(s, d),
        when(col("user_id") % 2 === 0, "A").otherwise("B"),
        col("value") >= 50.0, "A", "B")
    },
    Some("""WITH b AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B'
           |      END AS arm, (value >= 50.0) AS ok
           |  FROM events WHERE value IS NOT NULL),
           |a AS (SELECT
           |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_a,
           |    CAST(sum(CASE WHEN arm = 'A' AND ok THEN 1 ELSE 0 END)
           |      AS BIGINT) AS conv_a,
           |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_b,
           |    CAST(sum(CASE WHEN arm = 'B' AND ok THEN 1 ELSE 0 END)
           |      AS BIGINT) AS conv_b
           |  FROM b),
           |r AS (SELECT *,
           |    CASE WHEN n_a > 0 THEN (1000000 * conv_a) // n_a END
           |      AS rate_a_ppm,
           |    CASE WHEN n_b > 0 THEN (1000000 * conv_b) // n_b END
           |      AS rate_b_ppm,
           |    CASE WHEN n_a + n_b > 0 THEN
           |      (1000000 * (conv_a + conv_b)) // (n_a + n_b) END
           |      AS pool_ppm
           |  FROM a)
           |SELECT n_a, conv_a, CAST(rate_a_ppm AS BIGINT) AS rate_a_ppm,
           |  n_b, conv_b, CAST(rate_b_ppm AS BIGINT) AS rate_b_ppm,
           |  CAST(rate_b_ppm - rate_a_ppm AS BIGINT) AS lift_ppm,
           |  CAST(pool_ppm AS BIGINT) AS pool_ppm,
           |  CAST(CASE WHEN n_a > 0 AND n_b > 0 AND pool_ppm > 0
           |      AND pool_ppm < 1000000 THEN
           |    (1000000 * CAST(rate_b_ppm - rate_a_ppm AS HUGEINT) *
           |     (rate_b_ppm - rate_a_ppm) * n_a * n_b) //
           |    (CAST(pool_ppm AS HUGEINT) * (1000000 - pool_ppm) *
           |     (n_a + n_b)) END AS BIGINT) AS z2_micro
           |FROM r""".stripMargin)
  )

  /** c-TF-IDF cluster terms (fully oracled): source as the cluster
    * axis; linear inverse-cluster-frequency weights, rank windows
    * replayed with identical tie order. */
  val clusterTermsProbe = Probe(
    "q168_cluster_terms",
    (s, d) => {
      import graft.operators.Clustering
      Clustering.clusterTerms(Tables.documents(s, d), col("source"),
        col("text"), topM = 10)
    },
    Some("""WITH tf AS (SELECT source AS cluster, t AS term,
           |    count(*) AS tf
           |  FROM (SELECT source, unnest(list_filter(
           |      string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS t FROM documents)
           |  GROUP BY 1, 2),
           |nc AS (SELECT count(DISTINCT cluster) AS nc FROM tf),
           |cdf AS (SELECT term, count(*) AS cdf FROM tf GROUP BY 1),
           |w AS (SELECT tf.cluster, tf.term, tf.tf, cdf.cdf,
           |    tf.tf * ((1000000 * nc.nc) // cdf.cdf) AS w_ppm
           |  FROM tf JOIN cdf USING (term), nc),
           |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
           |    ORDER BY w_ppm DESC, term) AS rank FROM w)
           |SELECT cluster, term, CAST(tf AS BIGINT) AS tf,
           |  CAST(cdf AS BIGINT) AS cdf, CAST(w_ppm AS BIGINT) AS w_ppm,
           |  CAST(rank AS BIGINT) AS rank
           |FROM r WHERE rank <= 10 ORDER BY cluster, rank""".stripMargin)
  )

  /** Concentration (Lorenz) deciles (fully oracled): char mass by
    * source, rank + running mass replayed via windows. */
  val concentrationProbe = Probe(
    "q169_concentration",
    (s, d) => {
      import graft.operators.Profile
      Profile.concentrationCurve(Tables.documents(s, d), col("source"),
        col("n_chars"))
    },
    Some("""WITH counts AS (SELECT source AS k, sum(n_chars) AS m
           |  FROM documents
           |  WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
           |r AS (SELECT k, m, row_number() OVER (ORDER BY m DESC, k) AS rnk,
           |    sum(m) OVER (ORDER BY m DESC, k ROWS UNBOUNDED PRECEDING)
           |      AS cum
           |  FROM counts),
           |t AS (SELECT count(*) AS kk, sum(m) AS tt FROM counts)
           |SELECT d.decile,
           |  CAST((d.decile * t.kk) // 10 AS BIGINT) AS top_keys,
           |  CAST(r.cum AS BIGINT) AS mass,
           |  CAST(CASE WHEN t.tt > 0 THEN (1000000 * r.cum) // t.tt
           |    ELSE 0 END AS BIGINT) AS share_ppm
           |FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9), (10))
           |  d(decile)
           |CROSS JOIN t
           |JOIN r ON r.rnk = (d.decile * t.kk) // 10
           |WHERE (d.decile * t.kk) // 10 >= 1
           |ORDER BY decile""".stripMargin)
  )

  /** Inter-event cadence (fully oracled): per-user gap stats, all
    * integer µs, truncating mean. */
  val interEventProbe = Probe(
    "q170_inter_event_gaps",
    (s, d) => {
      import graft.operators.TimeSeries
      TimeSeries.interEventGaps(Tables.events(s, d), col("user_id"),
        unix_micros(col("ts")), col("event_id"))
    },
    Some("""WITH b AS (SELECT CAST(user_id AS VARCHAR) AS k,
           |    epoch_us(ts::TIMESTAMP) AS t, event_id AS id
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |g AS (SELECT k, t,
           |    t - lag(t) OVER (PARTITION BY k ORDER BY t, id) AS gap
           |  FROM b)
           |SELECT k AS key, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(gap) AS BIGINT) AS n_gaps,
           |  CAST(max(t) - min(t) AS BIGINT) AS span_us,
           |  CAST(min(gap) AS BIGINT) AS min_gap_us,
           |  CAST(max(gap) AS BIGINT) AS max_gap_us,
           |  CAST(CASE WHEN count(gap) > 0 THEN
           |    sum(CAST(gap AS HUGEINT)) // count(gap) END AS BIGINT)
           |    AS mean_gap_us
           |FROM g GROUP BY k ORDER BY key""".stripMargin)
  )

  /** Nearest-event join (fully oracled): bidirectional µs distance,
    * tie → backward, tolerance-gated; replayed via a windowed pick over
    * the per-user candidate join. */
  val asOfNearestProbe = Probe(
    "q171_asof_nearest",
    (s, d) => {
      val ev = Tables.events(s, d)
      val l = ev.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("event_id"))
      val r = ev.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), unix_micros(col("ts")).as("rt_us"),
          col("event_id").as("r_event_id"), col("value").as("r_value"))
      Relational.asOfNearest(l, r, Seq("user_id"), "t_us", "rt_us",
          lit(3600000000L))
        .orderBy("event_id")
    },
    Some("""WITH l AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS t_us,
           |    event_id FROM events WHERE event_id % 2 = 0),
           |r AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS rt_us,
           |    event_id AS r_event_id, value AS r_value
           |  FROM events WHERE event_id % 2 = 1),
           |cand AS (SELECT l.event_id, r.rt_us, r.r_event_id, r.r_value,
           |    abs(r.rt_us - l.t_us) AS gap,
           |    CASE WHEN r.rt_us <= l.t_us THEN 'backward' ELSE 'forward'
           |      END AS side
           |  FROM l JOIN r USING (user_id)
           |  WHERE abs(r.rt_us - l.t_us) <= 3600000000),
           |best AS (SELECT * FROM cand
           |  QUALIFY row_number() OVER (PARTITION BY event_id
           |    ORDER BY gap, CASE side WHEN 'backward' THEN 0 ELSE 1 END)
           |    = 1)
           |SELECT l.user_id, l.t_us, l.event_id,
           |  b.r_event_id, b.r_value,
           |  CAST(b.rt_us AS BIGINT) AS matched_ts,
           |  CAST(b.gap AS BIGINT) AS gap_us, b.side
           |FROM l LEFT JOIN best b USING (event_id)
           |ORDER BY event_id""".stripMargin)
  )

  /** Golden-record survivorship (fully oracled): per-field
    * (present, quality, id) argmax replayed with ranking windows;
    * nulls planted deterministically so fieldwise beats row-wise. */
  val goldenProbe = Probe(
    "q172_golden_record",
    (s, d) => {
      import graft.operators.Golden
      Golden.goldenRecords(Tables.events(s, d), col("user_id"),
        col("event_id"), expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
        Seq(
          "type" -> expr("CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_type END"),
          "props" -> expr("CASE WHEN event_id % 5 = 0 THEN NULL ELSE props END")))
    },
    Some("""WITH b AS (SELECT user_id AS cluster, event_id AS id,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS q,
           |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_type END
           |      AS f1,
           |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE props END AS f2
           |  FROM events),
           |r1 AS (SELECT cluster, f1 FROM b
           |  QUALIFY row_number() OVER (PARTITION BY cluster
           |    ORDER BY (f1 IS NOT NULL) DESC, q DESC, id DESC) = 1),
           |r2 AS (SELECT cluster, f2 FROM b
           |  QUALIFY row_number() OVER (PARTITION BY cluster
           |    ORDER BY (f2 IS NOT NULL) DESC, q DESC, id DESC) = 1),
           |n AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
           |  FROM b GROUP BY 1)
           |SELECT n.cluster, n.n_members, r1.f1 AS golden_type,
           |  r2.f2 AS golden_props
           |FROM n JOIN r1 USING (cluster) JOIN r2 USING (cluster)
           |ORDER BY cluster""".stripMargin)
  )

  /** Per-item top partners by lift (fully oracled): symmetric expansion
    * of the q152 pair frame + rank windows with identical tie order. */
  val topPartnersProbe = Probe(
    "q173_top_partners",
    (s, d) => {
      import graft.operators.Assoc
      Assoc.topPartners(
        Assoc.pairCounts(Tables.events(s, d), col("user_id"),
          col("event_type"), minPairCount = 1L), k = 2)
    },
    Some("""WITH present AS (SELECT DISTINCT user_id AS b, event_type AS i
           |  FROM events WHERE event_type IS NOT NULL),
           |nb AS (SELECT count(DISTINCT b) AS n_baskets FROM present),
           |m AS (SELECT i, count(*) AS n FROM present GROUP BY 1),
           |p AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS n_both
           |  FROM present x JOIN present y ON x.b = y.b AND x.i < y.i
           |  GROUP BY 1, 2 HAVING count(*) >= 1),
           |pairs AS (SELECT item_a, item_b, CAST(n_both AS BIGINT) AS n_both,
           |    (CAST(n_both AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)) /
           |      (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)) AS lift
           |  FROM p JOIN m ma ON ma.i = item_a JOIN m mb ON mb.i = item_b,
           |    nb),
           |sym AS (SELECT item_a AS item, item_b AS partner, n_both, lift
           |    FROM pairs
           |  UNION ALL
           |  SELECT item_b, item_a, n_both, lift FROM pairs),
           |r AS (SELECT *, row_number() OVER (PARTITION BY item
           |    ORDER BY lift DESC, partner) AS rank FROM sym)
           |SELECT item, partner, n_both, lift, CAST(rank AS BIGINT) AS rank
           |FROM r WHERE rank <= 2 ORDER BY item, rank""".stripMargin)
  )

  /** Conversion-lag histogram (fully oracled): first signup → first
    * subsequent purchase, hourly buckets, never-converted at −1. */
  val conversionLagProbe = Probe(
    "q174_conversion_lag",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.conversionLag(Tables.events(s, d), col("user_id"),
        unix_micros(col("ts")), col("event_type"), "signup", "purchase",
        bucketUs = 3600000000L)
    },
    Some("""WITH fa AS (SELECT user_id,
           |    min(epoch_us(ts::TIMESTAMP)) AS ta
           |  FROM events WHERE event_type = 'signup' GROUP BY 1),
           |fb AS (SELECT e.user_id,
           |    min(epoch_us(e.ts::TIMESTAMP)) AS tb
           |  FROM events e JOIN fa USING (user_id)
           |  WHERE e.event_type = 'purchase'
           |    AND epoch_us(e.ts::TIMESTAMP) >= fa.ta
           |  GROUP BY 1)
           |SELECT CAST(CASE WHEN tb IS NULL THEN -1
           |    ELSE (tb - ta) // 3600000000 END AS BIGINT) AS bucket,
           |  CAST(count(*) AS BIGINT) AS n_entities
           |FROM fa LEFT JOIN fb USING (user_id)
           |GROUP BY 1 ORDER BY bucket""".stripMargin)
  )

  /** Time-in-state (fully oracled): dwell attribution via one lead
    * window, open last events reported separately. */
  val timeInStateProbe = Probe(
    "q175_time_in_state",
    (s, d) => {
      import graft.operators.TimeSeries
      TimeSeries.timeInState(Tables.events(s, d), col("user_id"),
        unix_micros(col("ts")), col("event_id"), col("event_type"))
    },
    Some("""WITH b AS (SELECT user_id AS u, epoch_us(ts::TIMESTAMP) AS t,
           |    event_id AS id, event_type AS s
           |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
           |l AS (SELECT s,
           |    lead(t) OVER (PARTITION BY u ORDER BY t, id) - t AS dur
           |  FROM b)
           |SELECT s AS state, CAST(count(dur) AS BIGINT) AS n_intervals,
           |  CAST(coalesce(sum(dur), 0) AS BIGINT) AS total_us,
           |  CAST(CASE WHEN count(dur) > 0 THEN
           |    sum(CAST(dur AS HUGEINT)) // count(dur) END AS BIGINT)
           |    AS mean_us,
           |  CAST(sum(CASE WHEN dur IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_open
           |FROM l GROUP BY 1 ORDER BY state""".stripMargin)
  )

  /** Leave-one-out target encoding (fully oracled): category mean of
    * the OTHER rows, truncating DIV, singletons NULL. */
  val targetEncodeProbe = Probe(
    "q176_target_encode",
    (s, d) => {
      import graft.operators.Classify
      Classify.targetEncodeLoo(Tables.documents(s, d), col("doc_id"),
        col("lang"), col("n_chars"))
    },
    Some("""WITH b AS (SELECT doc_id AS id, lang AS category,
           |    n_chars AS y
           |  FROM documents
           |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
           |st AS (SELECT category, count(*) AS n_cat, sum(y) AS su
           |  FROM b GROUP BY 1)
           |SELECT id, category, CAST(n_cat AS BIGINT) AS n_cat,
           |  CAST(CASE WHEN n_cat > 1 THEN (su - y) // (n_cat - 1) END
           |    AS BIGINT) AS loo_cents
           |FROM b JOIN st USING (category) ORDER BY id""".stripMargin)
  )

  /** Retrieval evaluation (fully oracled): MRR / hit@k / NDCG@10 with
    * the literal discount table, graded against same-label truth over a
    * bounded id range. */
  val rankEvalProbe = Probe(
    "q177_rank_eval",
    (s, d) => {
      import graft.operators.Fusion
      val sub = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      val queries = sub.select(col("vec_id").as("query_id"),
        col("embedding"))
      val ranked = Similarity.bruteForceTopK(sub, queries, 10)
      val a = sub.select(col("vec_id").as("query_id"), col("label"))
      val b = sub.select(col("vec_id"), col("label"))
      val truth = a.join(b, "label")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"))
      Fusion.rankEval(ranked, truth, k = 10)
    },
    Some("""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev
           |  FROM embeddings WHERE vec_id < 200),
           |sc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
           |    list_dot_product(c.ev, q.ev) /
           |      NULLIF(sqrt(list_dot_product(c.ev, c.ev)) *
           |        sqrt(list_dot_product(q.ev, q.ev)), 0) AS sim
           |  FROM v q JOIN v c ON q.vec_id <> c.vec_id),
           |r AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
           |    ORDER BY sim DESC, cid) AS rnk FROM sc),
           |topk AS (SELECT qid, cid, rnk FROM r WHERE rnk <= 10),
           |rels AS (SELECT a.vec_id AS qid, b.vec_id AS cid
           |  FROM v a JOIN v b ON a.label = b.label
           |    AND a.vec_id <> b.vec_id),
           |nr AS (SELECT qid, count(*) AS n_rel FROM rels GROUP BY 1),
           |h AS (SELECT t.qid, min(t.rnk) AS first_rank,
           |    sum(CASE t.rnk WHEN 1 THEN 1000000 WHEN 2 THEN 630930
           |      WHEN 3 THEN 500000 WHEN 4 THEN 430677 WHEN 5 THEN 386853
           |      WHEN 6 THEN 356207 WHEN 7 THEN 333333 WHEN 8 THEN 315465
           |      WHEN 9 THEN 301030 WHEN 10 THEN 289065 END) AS dcg
           |  FROM topk t JOIN rels USING (qid, cid) GROUP BY 1),
           |j AS (SELECT nr.qid, nr.n_rel, h.first_rank,
           |    coalesce(h.dcg, 0) AS dcg_ppm,
           |    CASE least(nr.n_rel, 10) WHEN 1 THEN 1000000
           |      WHEN 2 THEN 1630930 WHEN 3 THEN 2130930
           |      WHEN 4 THEN 2561607 WHEN 5 THEN 2948460
           |      WHEN 6 THEN 3304667 WHEN 7 THEN 3638000
           |      WHEN 8 THEN 3953465 WHEN 9 THEN 4254495
           |      WHEN 10 THEN 4543560 END AS idcg_ppm
           |  FROM nr LEFT JOIN h ON h.qid = nr.qid)
           |SELECT qid AS query_id, CAST(n_rel AS BIGINT) AS n_rel,
           |  CAST(first_rank AS BIGINT) AS first_rank,
           |  CAST(CASE WHEN first_rank IS NOT NULL
           |    THEN 1000000 // first_rank END AS BIGINT) AS rr_ppm,
           |  CAST(CASE WHEN first_rank IS NOT NULL THEN 1 ELSE 0 END
           |    AS INT) AS hit_at_k,
           |  CAST(dcg_ppm AS BIGINT) AS dcg_ppm,
           |  CAST(idcg_ppm AS BIGINT) AS idcg_ppm,
           |  CAST(CASE WHEN idcg_ppm > 0 THEN (1000000 * dcg_ppm) // idcg_ppm
           |    END AS BIGINT) AS ndcg_ppm
           |FROM j ORDER BY query_id""".stripMargin)
  )

  /** Period-over-period (fully oracled): 30-day buckets of price mass
    * per returnflag, adjacency-checked prev, ppm change. */
  val popProbe = Probe(
    "q178_period_over_period",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.periodOverPeriod(Tables.lineitem(s, d), col("l_returnflag"),
        // l_shipdate may arrive TIMESTAMP_NTZ (µs parquet without the
        // UTC flag); the session is UTC-pinned so the cast is lossless
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV 2592000000000"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
    },
    Some("""WITH a AS (SELECT l_returnflag AS key,
           |    epoch_us(l_shipdate::TIMESTAMP) // 2592000000000 AS period,
           |    CAST(coalesce(sum(CAST(floor(l_extendedprice * 100 + 0.5)
           |      AS BIGINT)), 0) AS BIGINT) AS total_cents
           |  FROM lineitem GROUP BY 1, 2),
           |w AS (SELECT *,
           |    CASE WHEN lag(period) OVER (PARTITION BY key ORDER BY period)
           |      = period - 1 THEN lag(total_cents) OVER (PARTITION BY key
           |      ORDER BY period) END AS prev_cents
           |  FROM a)
           |SELECT key, CAST(period AS BIGINT) AS period, total_cents,
           |  CAST(prev_cents AS BIGINT) AS prev_cents,
           |  CAST(total_cents - prev_cents AS BIGINT) AS delta_cents,
           |  CAST(CASE WHEN prev_cents IS NOT NULL AND prev_cents <> 0 THEN
           |    (1000000 * (total_cents - prev_cents)) // abs(prev_cents)
           |    END AS BIGINT) AS pct_change_ppm
           |FROM w ORDER BY key, period""".stripMargin)
  )

  /** Freshness audit (fully oracled): per-user lag behind the freshest
    * user, 7-day staleness gate. */
  val freshnessProbe = Probe(
    "q179_freshness",
    (s, d) => {
      import graft.operators.Quality
      Quality.freshness(Tables.events(s, d), col("user_id"),
        unix_micros(col("ts")), staleAfterUs = 604800000000L)
    },
    Some("""WITH pk AS (SELECT CAST(user_id AS VARCHAR) AS key,
           |    max(epoch_us(ts::TIMESTAMP)) AS last_ts_us
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           |  GROUP BY 1),
           |g AS (SELECT max(last_ts_us) AS gmax FROM pk)
           |SELECT key, CAST(last_ts_us AS BIGINT) AS last_ts_us,
           |  CAST(g.gmax - last_ts_us AS BIGINT) AS lag_us,
           |  CAST(g.gmax - last_ts_us > 604800000000 AS INT) AS stale
           |FROM pk, g ORDER BY key""".stripMargin)
  )

  /** Vocabulary growth (fully oracled): first-appearance periods,
    * cumulative vocab, zero-novelty periods visible. */
  val vocabGrowthProbe = Probe(
    "q180_vocab_growth",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.vocabGrowth(Tables.documents(s, d), expr("doc_id DIV 50"))
    },
    Some("""WITH toks AS (SELECT doc_id // 50 AS p,
           |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS t
           |  FROM documents),
           |fs AS (SELECT t, min(p) AS period FROM toks GROUP BY 1),
           |np AS (SELECT period, count(*) AS new_terms FROM fs GROUP BY 1),
           |ps AS (SELECT DISTINCT p AS period FROM toks)
           |SELECT CAST(ps.period AS BIGINT) AS period,
           |  CAST(coalesce(np.new_terms, 0) AS BIGINT) AS new_terms,
           |  CAST(sum(coalesce(np.new_terms, 0)) OVER (ORDER BY ps.period
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
           |FROM ps LEFT JOIN np USING (period)
           |ORDER BY period""".stripMargin)
  )

  /** Join-cardinality forecast (fully oracled): exact self-join size on
    * l_partkey plus the top contributing keys. */
  val joinCardProbe = Probe(
    "q181_join_cardinality",
    (s, d) => {
      import graft.operators.Profile
      val li = Tables.lineitem(s, d)
      Profile.joinCardinality(li, col("l_partkey"), li, col("l_partkey"),
        topK = 10)
    },
    Some("""WITH ca AS (SELECT CAST(l_partkey AS VARCHAR) AS key,
           |    count(*) AS n FROM lineitem
           |  WHERE l_partkey IS NOT NULL GROUP BY 1),
           |bth AS (SELECT a.key, a.n AS n_a, b.n AS n_b,
           |    a.n * b.n AS est
           |  FROM ca a JOIN ca b USING (key)),
           |top AS (SELECT key, CAST(n_a AS BIGINT) AS n_a,
           |    CAST(n_b AS BIGINT) AS n_b,
           |    CAST(NULL AS BIGINT) AS n_keys_both,
           |    CAST(NULL AS BIGINT) AS est_total,
           |    CAST(est AS BIGINT) AS est_rows
           |  FROM bth ORDER BY est DESC, key LIMIT 10),
           |summ AS (SELECT CAST(NULL AS VARCHAR) AS key,
           |    CAST(NULL AS BIGINT) AS n_a, CAST(NULL AS BIGINT) AS n_b,
           |    CAST(count(*) AS BIGINT) AS n_keys_both,
           |    CAST(coalesce(sum(est), 0) AS BIGINT) AS est_total,
           |    CAST(NULL AS BIGINT) AS est_rows
           |  FROM bth)
           |SELECT * FROM summ UNION ALL SELECT * FROM top
           |ORDER BY key ASC NULLS FIRST""".stripMargin)
  )

  /** Frequent triples (fully oracled): ordered 3-itemset counts over
    * user event-type baskets. */
  val triplesProbe = Probe(
    "q182_triples",
    (s, d) => {
      import graft.operators.Assoc
      Assoc.tripleCounts(Tables.events(s, d), col("user_id"),
        col("event_type"), minCount = 2L)
    },
    Some("""WITH present AS (SELECT DISTINCT user_id AS b, event_type AS i
           |  FROM events WHERE event_type IS NOT NULL)
           |SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c,
           |  CAST(count(*) AS BIGINT) AS n_all
           |FROM present x
           |JOIN present y ON x.b = y.b AND x.i < y.i
           |JOIN present z ON y.b = z.b AND y.i < z.i
           |GROUP BY 1, 2, 3 HAVING count(*) >= 2
           |ORDER BY item_a, item_b, item_c""".stripMargin)
  )

  /** Two-hop reach (fully oracled): exact distance ≤ 2 neighborhood
    * sizes over the repeat-co-purchase graph. */
  val twoHopProbe = Probe(
    "q183_two_hop",
    (s, d) => {
      import graft.operators.Graph
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val o2 = op.select(col("o"), col("p").as("p2"))
      val edges = op.join(o2, "o").filter(col("p") < col("p2"))
        .groupBy(col("p").as("src"), col("p2").as("dst"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2L)
        .select(col("src"), col("dst"))
      Graph.twoHopReach(edges)
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem),
           |e0 AS (SELECT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
           |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |adj AS (SELECT a AS u, b AS v FROM e0
           |  UNION ALL SELECT b, a FROM e0),
           |two AS (SELECT x.u, y.v FROM adj x JOIN adj y ON x.v = y.u
           |  WHERE x.u <> y.v),
           |reach AS (SELECT u, count(*) AS reach2 FROM (
           |    SELECT DISTINCT u, v FROM (
           |      SELECT u, v FROM adj UNION ALL SELECT u, v FROM two))
           |  GROUP BY 1),
           |deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1)
           |SELECT deg.u AS node, CAST(deg.deg AS BIGINT) AS deg,
           |  CAST(reach.reach2 AS BIGINT) AS reach2
           |FROM deg JOIN reach USING (u) ORDER BY node""".stripMargin)
  )

  /** Cross-source overlap matrix (fully oracled): SHINGLE-level
    * containment (the corpus has no exact doc dups — phrase-level
    * sharing is the real cross-source signal); digest-keyed,
    * truncating ppm both ways. */
  val sourceOverlapProbe = Probe(
    "q184_source_overlap",
    (s, d) => {
      import graft.operators.TextDedup
      // shingle IDENTITY is all overlap counting needs — the codegen
      // hashed-shingle expression never materializes the 3-gram strings
      // (bitwise hash64-of-ShinglesN, HashExprsSpec), and the oracle
      // compares COUNTS, which any injective-in-practice key preserves
      val sh = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.plans.HashExprs.hashedShingles(s, col("text"), 3))
            .as("text"))
      TextDedup.sourceOverlap(sh)
    },
    Some("""WITH t AS (SELECT source,
           |    list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0) AS wl
           |  FROM documents WHERE source IS NOT NULL),
           |sh0 AS (SELECT source,
           |    CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS s
           |  FROM t),
           |present AS (SELECT DISTINCT source AS s, md5(g) AS h
           |  FROM (SELECT source, unnest(s) AS g FROM sh0)),
           |m AS (SELECT s, count(*) AS n FROM present GROUP BY 1),
           |p AS (SELECT x.s AS source_a, y.s AS source_b,
           |    count(*) AS n_common
           |  FROM present x JOIN present y ON x.h = y.h AND x.s < y.s
           |  GROUP BY 1, 2)
           |SELECT source_a, source_b, CAST(ma.n AS BIGINT) AS n_a,
           |  CAST(mb.n AS BIGINT) AS n_b,
           |  CAST(n_common AS BIGINT) AS n_common,
           |  CAST((1000000 * n_common) // ma.n AS BIGINT) AS cont_a_ppm,
           |  CAST((1000000 * n_common) // mb.n AS BIGINT) AS cont_b_ppm
           |FROM p JOIN m ma ON ma.s = source_a JOIN m mb ON mb.s = source_b
           |ORDER BY source_a, source_b""".stripMargin)
  )

  /** Rare-transition scan (fully oracled): entity pairs whose model
    * probability sits in the population's rare tail. */
  val rareTransitionsProbe = Probe(
    "q185_rare_transitions",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.rareTransitions(Tables.events(s, d), col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"),
        maxPpm = 195000L)
    },
    Some("""WITH seq AS (SELECT user_id, event_type AS st,
           |    lag(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS prev
           |  FROM events),
           |pairs AS (SELECT user_id AS entity, prev AS from_state,
           |    st AS to_state, count(*) AS n_pair
           |  FROM seq WHERE prev IS NOT NULL AND st IS NOT NULL
           |  GROUP BY 1, 2, 3),
           |model AS (SELECT from_state, to_state,
           |    (sum(n_pair) * 1000000) //
           |      (sum(sum(n_pair)) OVER (PARTITION BY from_state)) AS p_ppm
           |  FROM pairs GROUP BY 1, 2)
           |SELECT p.entity, p.from_state AS from_state,
           |  p.to_state AS to_state,
           |  CAST(p.n_pair AS BIGINT) AS n_pair,
           |  CAST(coalesce(m.p_ppm, 0) AS BIGINT) AS p_ppm
           |FROM pairs p LEFT JOIN model m
           |  ON m.from_state = p.from_state AND m.to_state = p.to_state
           |WHERE coalesce(m.p_ppm, 0) <= 195000
           |ORDER BY entity, from_state, to_state""".stripMargin)
  )

  /** Histogram EMD (fully oracled): order-aware drift between the R
    * and A return-flag quantity distributions. */
  val emdProbe = Probe(
    "q186_histogram_emd",
    (s, d) => {
      import graft.operators.Profile
      val li = Tables.lineitem(s, d)
      Profile.histogramEmd(li.filter(col("l_returnflag") === "R"),
        li.filter(col("l_returnflag") === "A"), col("l_quantity"),
        0L, 51L, 17)
    },
    Some("""WITH ba AS (SELECT greatest(0, least(16,
           |      (CAST(l_quantity AS BIGINT) * 17) // 51)) AS bin,
           |    count(*) AS na
           |  FROM lineitem WHERE l_returnflag = 'R'
           |    AND l_quantity IS NOT NULL GROUP BY 1),
           |bb AS (SELECT greatest(0, least(16,
           |      (CAST(l_quantity AS BIGINT) * 17) // 51)) AS bin,
           |    count(*) AS nb
           |  FROM lineitem WHERE l_returnflag = 'A'
           |    AND l_quantity IS NOT NULL GROUP BY 1),
           |spine AS (SELECT unnest(range(0, 17)) AS bin),
           |j AS (SELECT spine.bin, coalesce(ba.na, 0) AS na,
           |    coalesce(bb.nb, 0) AS nb
           |  FROM spine LEFT JOIN ba USING (bin) LEFT JOIN bb USING (bin)),
           |t AS (SELECT sum(na) AS n_a, sum(nb) AS n_b FROM j),
           |c AS (SELECT j.bin,
           |    sum(CASE WHEN t.n_a > 0 THEN (1000000 * j.na) // t.n_a
           |      ELSE 0 END) OVER (ORDER BY j.bin ROWS UNBOUNDED PRECEDING)
           |      AS ca,
           |    sum(CASE WHEN t.n_b > 0 THEN (1000000 * j.nb) // t.n_b
           |      ELSE 0 END) OVER (ORDER BY j.bin ROWS UNBOUNDED PRECEDING)
           |      AS cb
           |  FROM j, t)
           |SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
           |  CAST(coalesce(sum(abs(c.ca - c.cb)), 0) AS BIGINT) AS emd_ppm
           |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin)
  )

  /** Per-group min-max scaling (fully oracled): exact ppm positions,
    * degenerate groups NULL. */
  val minMaxScaleProbe = Probe(
    "q187_minmax_scale",
    (s, d) => {
      import graft.operators.Profile
      Profile.minMaxScale(Tables.documents(s, d), col("doc_id"),
        col("lang"), col("n_chars"))
    },
    Some("""WITH b AS (SELECT doc_id AS id, lang AS grp,
           |    n_chars AS value FROM documents
           |  WHERE n_chars IS NOT NULL),
           |st AS (SELECT grp, min(value) AS lo, max(value) AS hi
           |  FROM b GROUP BY 1)
           |SELECT id, b.grp AS "group", CAST(value AS BIGINT) AS value,
           |  CAST(CASE WHEN hi > lo THEN
           |    (1000000 * (value - lo)) // (hi - lo) END AS BIGINT)
           |    AS scaled_ppm
           |FROM b JOIN st USING (grp) ORDER BY id""".stripMargin)
  )

  /** Mode per group (fully oracled): most frequent event type per user,
    * ties to the lowest value. */
  val modeProbe = Probe(
    "q188_mode_by_group",
    (s, d) => {
      import graft.operators.Profile
      Profile.modeByGroup(Tables.events(s, d), col("user_id"),
        col("event_type"))
    },
    Some("""WITH c AS (SELECT CAST(user_id AS VARCHAR) AS g,
           |    event_type AS v, count(*) AS n
           |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
           |r AS (SELECT *, row_number() OVER (PARTITION BY g
           |    ORDER BY n DESC, v) AS rn,
           |    count(*) OVER (PARTITION BY g) AS nd,
           |    sum(n) OVER (PARTITION BY g) AS nt
           |  FROM c)
           |SELECT g AS "group", v AS mode_value,
           |  CAST(n AS BIGINT) AS n_mode, CAST(nd AS BIGINT) AS n_distinct,
           |  CAST(nt AS BIGINT) AS n_total,
           |  CAST((1000000 * n) // nt AS BIGINT) AS mode_share_ppm
           |FROM r WHERE rn = 1 ORDER BY "group" """.stripMargin)
  )

  /** Value-pattern profile (fully oracled): character-class signatures
    * of the props column, deterministic min example. */
  val patternProbe = Probe(
    "q189_pattern_profile",
    (s, d) => {
      import graft.operators.Profile
      // doc-text prefixes: the one corpus column with signature variety
      Profile.patternProfile(Tables.documents(s, d),
        substring(col("text"), 1, 24), topK = 20)
    },
    Some("""WITH b AS (SELECT substr(text, 1, 24) AS v FROM documents
           |  WHERE text IS NOT NULL),
           |sg AS (SELECT regexp_replace(regexp_replace(regexp_replace(v,
           |    '[A-Z]+', 'A', 'g'), '[a-z]+', 'a', 'g'), '[0-9]+', '9',
           |    'g') AS signature, v
           |  FROM b)
           |SELECT signature, CAST(count(*) AS BIGINT) AS n,
           |  min(v) AS example
           |FROM sg GROUP BY 1 ORDER BY n DESC, signature
           |LIMIT 20""".stripMargin)
  )

  /** Growth accounting (fully oracled): weekly periods of the events
    * stream decomposed into new/retained/resurrected/churned. */
  val growthProbe = Probe(
    "q190_growth_accounting",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.growthAccounting(Tables.events(s, d), col("user_id"),
        expr("unix_micros(ts) DIV 604800000000"))
    },
    Some("""WITH pres AS (SELECT DISTINCT user_id AS e,
           |    epoch_us(ts::TIMESTAMP) // 604800000000 AS p
           |  FROM events WHERE ts IS NOT NULL),
           |cl AS (SELECT e, p,
           |    lag(p) OVER (PARTITION BY e ORDER BY p) AS prev,
           |    lead(p) OVER (PARTITION BY e ORDER BY p) AS nxt
           |  FROM pres),
           |per AS (SELECT p AS period, count(*) AS n_active,
           |    sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS n_new,
           |    sum(CASE WHEN prev = p - 1 THEN 1 ELSE 0 END) AS n_retained,
           |    sum(CASE WHEN prev IS NOT NULL AND prev < p - 1 THEN 1
           |      ELSE 0 END) AS n_resurrected
           |  FROM cl GROUP BY 1),
           |ch AS (SELECT p + 1 AS period, count(*) AS n_churned
           |  FROM cl WHERE nxt IS NULL OR nxt <> p + 1 GROUP BY 1)
           |SELECT CAST(per.period AS BIGINT) AS period,
           |  CAST(n_active AS BIGINT) AS n_active,
           |  CAST(n_new AS BIGINT) AS n_new,
           |  CAST(n_retained AS BIGINT) AS n_retained,
           |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
           |  CAST(coalesce(ch.n_churned, 0) AS BIGINT) AS n_churned
           |FROM per LEFT JOIN ch USING (period)
           |ORDER BY period""".stripMargin)
  )

  /** Per-slice binary eval (fully oracled): the q166 rule classifier
    * audited per source — the fairness-slice readout. */
  val evalBySliceProbe = Probe(
    "q191_eval_by_slice",
    (s, d) => {
      import graft.operators.Classify
      Classify.evalBinaryBy(Tables.documents(s, d), col("source"),
        col("n_chars") % 3 === 0, col("lang") === "en")
    },
    Some("""WITH b AS (SELECT coalesce(source, '(null)') AS grp,
           |    (n_chars % 3 = 0) AS p, (lang = 'en') AS t
           |  FROM documents),
           |a AS (SELECT grp,
           |    CAST(sum(CASE WHEN p AND t THEN 1 ELSE 0 END) AS BIGINT)
           |      AS tp,
           |    CAST(sum(CASE WHEN p AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
           |      AS fp,
           |    CAST(sum(CASE WHEN NOT p AND NOT t THEN 1 ELSE 0 END)
           |      AS BIGINT) AS tn,
           |    CAST(sum(CASE WHEN NOT p AND t THEN 1 ELSE 0 END) AS BIGINT)
           |      AS fn,
           |    CAST(sum(CASE WHEN p IS NULL OR t IS NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_null
           |  FROM b GROUP BY 1),
           |m AS (SELECT *,
           |    CASE WHEN tp + tn + fp + fn > 0 THEN
           |      (1000000 * (tp + tn)) // (tp + tn + fp + fn) END AS acc,
           |    CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp) END
           |      AS prec,
           |    CASE WHEN tp + fn > 0 THEN (1000000 * tp) // (tp + fn) END
           |      AS rec
           |  FROM a)
           |SELECT grp AS "group", tp, fp, tn, fn, n_null,
           |  CAST(acc AS BIGINT) AS accuracy_ppm,
           |  CAST(prec AS BIGINT) AS precision_ppm,
           |  CAST(rec AS BIGINT) AS recall_ppm,
           |  CAST(CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
           |    AND prec + rec > 0 THEN (2 * prec * rec) // (prec + rec)
           |    END AS BIGINT) AS f1_ppm
           |FROM m ORDER BY "group" """.stripMargin)
  )

  /** SymSpell spelling variants (fully oracled): deletion-neighborhood
    * candidates + exact levenshtein verify, replayed in SQL. */
  val spellingProbe = Probe(
    "q192_spelling_variants",
    (s, d) => {
      import graft.operators.Fuzzy
      // the synthetic vocabulary has no natural typos — plant an
      // a-dropped variant stream (deterministic in both engines): one-a
      // words yield ed-1 pairs, multi-a words yield ed-2 candidates the
      // verify must kill
      val docs = Tables.documents(s, d)
      val withTypos = docs.select(col("text"))
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select(regexp_replace(col("text"), "a", "").as("text")))
      Fuzzy.spellingVariants(withTypos)
    },
    Some("""WITH corpus AS (SELECT text FROM documents
           |  UNION ALL SELECT regexp_replace(text, 'a', '', 'g')
           |  FROM documents WHERE doc_id % 7 = 0),
           |tc AS (SELECT t, count(*) AS n FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(text),
           |      '\s+'), x -> len(x) > 0)) AS t FROM corpus)
           |  GROUP BY 1),
           |ks AS (SELECT t, unnest(list_append(
           |    list_transform(range(1, len(t) + 1),
           |      i -> substr(t, 1, i - 1) || substr(t, i + 1)), t)) AS k
           |  FROM tc),
           |cand AS (SELECT DISTINCT a.t AS term_a, b.t AS term_b
           |  FROM ks a JOIN ks b ON a.k = b.k AND a.t < b.t),
           |p AS (SELECT term_a, term_b FROM cand
           |  WHERE levenshtein(term_a, term_b) = 1)
           |SELECT term_a, term_b, CAST(na.n AS BIGINT) AS n_a,
           |  CAST(nb.n AS BIGINT) AS n_b
           |FROM p JOIN tc na ON na.t = term_a JOIN tc nb ON nb.t = term_b
           |ORDER BY term_a, term_b""".stripMargin)
  )

  /** Share-of-parent decomposition (fully oracled): returnflag →
    * linestatus revenue drill-down in truncating ppm. */
  val shareOfParentProbe = Probe(
    "q193_share_of_parent",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.shareOfParent(Tables.lineitem(s, d), col("l_returnflag"),
        col("l_linestatus"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
    },
    Some("""WITH a AS (SELECT l_returnflag AS parent,
           |    l_linestatus AS child,
           |    CAST(coalesce(sum(CAST(floor(l_extendedprice * 100 + 0.5)
           |      AS BIGINT)), 0) AS BIGINT) AS total_cents
           |  FROM lineitem
           |  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
           |  GROUP BY 1, 2),
           |w AS (SELECT *, sum(total_cents) OVER (PARTITION BY parent)
           |    AS pt, sum(total_cents) OVER () AS g FROM a)
           |SELECT parent, child, total_cents,
           |  CAST(CASE WHEN pt <> 0 THEN (1000000 * total_cents) // pt END
           |    AS BIGINT) AS share_of_parent_ppm,
           |  CAST(pt AS BIGINT) AS parent_total_cents,
           |  CAST(CASE WHEN g <> 0 THEN (1000000 * pt) // g END AS BIGINT)
           |    AS parent_share_ppm
           |FROM w ORDER BY parent, child""".stripMargin)
  )

  /** ANN-fed margin-kNN (the 100× path q119's exact baseline documents):
    * penalties AND shortlists from multi-probe SRP-LSH bucket joins —
    * linear bucket economics where the exact penalty pass was |corpus|².
    * Self-oracled against the exact [[Similarity.marginTopK]] on the
    * same bounded queries: full per-query coverage, contiguous top-k
    * shape, and a measured recall floor vs the exact margin list.
    * Margin re-ranking AMPLIFIES candidate-set differences (both the
    * shortlist and the penalties shift), so recall is measured on the
    * final margin list, the strictest surface: observed 0.66 (sf0.01) /
    * 0.71 (sf0.1) at bits=3, nProbe=4 over these near-uniform synthetic
    * embeddings; gated at 0.5. DuckDB recomputes the query-universe
    * count from scratch. */
  /** The LSH scaling discipline applied to a probe that runs at several
    * SFs: size `bits` so BUCKETS stay ~250 vectors regardless of corpus
    * size (floor 3 = the sf0.01 gate's measured-recall configuration).
    * One count job — cheap next to the search it sizes. */
  private def annBits(emb: DataFrame): Int = {
    val n = math.max(1L, emb.count())
    math.max(3, math.ceil(math.log(n / 250.0) / math.log(2.0)).toInt)
  }

  val marginAnnProbe = Probe(
    "q194_margin_ann",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val ann = Similarity.marginTopKAnn(emb, queries, k = 5, kAvg = 8,
        bits = annBits(emb), dim = 64, nProbe = 4, shortlist = 20)
      val exact = Similarity.marginTopK(emb, queries, k = 5, kAvg = 8,
        shortlist = 20)
      val overlap = ann.select(col("query_id"), col("vec_id"))
        .join(exact.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("__n_overlap"))
      val shape = ann.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__n"), min(col("rank")).as("__minr"),
          max(col("rank")).as("__maxr"))
        .agg(count(lit(1)).as("__n_covered"),
          coalesce(sum(when(col("__n") === col("__maxr") &&
            col("__minr") === 1 && col("__maxr") === 5, 0L)
            .otherwise(1L)), lit(0L)).as("__n_bad_shape"))
      val nq = queries.agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(shape).crossJoin(overlap)
        .select(col("n_queries"),
          (col("__n_covered") === col("n_queries")).as("ok_covered"),
          (col("__n_bad_shape") === 0).as("ok_topk_shape"),
          (col("__n_overlap") >= col("n_queries") * 5 * 0.5)
            .as("ok_recall_vs_exact"))
    },
    Some("""SELECT count(*) AS n_queries, true AS ok_covered,
           |  true AS ok_topk_shape, true AS ok_recall_vs_exact
           |FROM embeddings WHERE vec_id < 20""".stripMargin),
    benchRun = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.marginTopKAnn(emb, queries, k = 5, kAvg = 8,
          bits = annBits(emb), dim = 64, nProbe = 4, shortlist = 20)
        .select(col("query_id"), col("vec_id"),
          binRound(col("margin"), 4).as("margin"), col("rank"))
        .orderBy("query_id", "rank")
    }
  )

  /** Per-session entry/exit readout (fully oracled): the row-level
    * sessionizer + a per-session rollup carrying first/last event
    * labels — what q49's aggregate-only sessionization can't answer
    * (WHERE does a session start and abandon?). Integer µs throughout;
    * entry/exit picked by (ts, event_id) — event_id unique, so the
    * labels replay engine-exactly. */
  val sessionStatsProbe = Probe(
    "q219_session_stats",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.sessionStats(Tables.events(s, d), col("user_id"),
        unix_micros(col("ts")), gapUs = 1800000000L, col("event_id"),
        coalesce(col("event_type"), lit("?")))
    },
    Some("""WITH e AS (SELECT user_id AS entity, epoch_us(ts::TIMESTAMP) AS t,
           |    event_id AS eid, coalesce(event_type, '?') AS lbl
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |l AS (SELECT *, lag(t) OVER w AS pt FROM e
           |      WINDOW w AS (PARTITION BY entity ORDER BY t, eid, lbl)),
           |f AS (SELECT *, CASE WHEN pt IS NULL OR t - pt > 1800000000
           |        THEN 1 ELSE 0 END AS ns FROM l),
           |s AS (SELECT *, sum(ns) OVER (PARTITION BY entity
           |        ORDER BY t, eid, lbl
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |        AS session_seq FROM f),
           |w2 AS (SELECT *, first_value(lbl) OVER ws AS entry_label,
           |         last_value(lbl) OVER ws AS exit_label
           |       FROM s WINDOW ws AS (PARTITION BY entity, session_seq
           |         ORDER BY t, eid
           |         ROWS BETWEEN UNBOUNDED PRECEDING
           |           AND UNBOUNDED FOLLOWING))
           |SELECT entity, CAST(session_seq AS BIGINT) AS session_seq,
           |  min(t) AS session_start_us, max(t) AS session_end_us,
           |  max(t) - min(t) AS duration_us,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  any_value(entry_label) AS entry_label,
           |  any_value(exit_label) AS exit_label
           |FROM w2 GROUP BY entity, session_seq
           |ORDER BY entity, session_seq""".stripMargin)
  )

  /** Column-attributed diff (fully oracled): two deterministic
    * derivations of the events table play "last night's table" vs
    * "tonight's" — rows dropped (event_id ≡ 0 mod 5), added (≡ 0 mod 7
    * only in new), value/type mutations (mod 3 / mod 11) — and the
    * diff must classify every key with exact per-column change flags;
    * the WHICH-column attribution is what q68's row-image diff doesn't
    * carry. DuckDB replays the same FULL OUTER JOIN + IS DISTINCT FROM
    * logic. */
  val columnDiffProbe = Probe(
    "q220_column_diff",
    (s, d) => {
      import graft.operators.Diff
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"))
      val old = ev.filter(col("event_id") % 7 =!= 0)
      val neu = ev.filter(col("event_id") % 5 =!= 0)
        .withColumn("value",
          when(col("event_id") % 3 === 0, col("value") + 1.0)
            .otherwise(col("value")))
        .withColumn("event_type",
          when(col("event_id") % 11 === 0, lit("mutated"))
            .otherwise(col("event_type")))
      Diff.columnDiff(old, neu, Seq("event_id"))
    },
    Some("""WITH ev AS (SELECT event_id, event_type, user_id, value
           |  FROM events),
           |o AS (SELECT * FROM ev WHERE event_id % 7 <> 0),
           |n AS (SELECT event_id,
           |    CASE WHEN event_id % 11 = 0 THEN 'mutated'
           |         ELSE event_type END AS event_type,
           |    user_id,
           |    CASE WHEN event_id % 3 = 0 THEN value + 1.0
           |         ELSE value END AS value
           |  FROM ev WHERE event_id % 5 <> 0),
           |j AS (SELECT coalesce(n.event_id, o.event_id) AS event_id,
           |    o.event_id IS NOT NULL AS io, n.event_id IS NOT NULL AS inw,
           |    o.event_type IS DISTINCT FROM n.event_type AS ct,
           |    o.user_id IS DISTINCT FROM n.user_id AS cu,
           |    o.value IS DISTINCT FROM n.value AS cv
           |  FROM o FULL OUTER JOIN n ON o.event_id = n.event_id),
           |c AS (SELECT *,
           |    CASE WHEN NOT io THEN 'added'
           |         WHEN NOT inw THEN 'removed'
           |         WHEN ct OR cu OR cv THEN 'changed' END AS status
           |  FROM j)
           |SELECT event_id, status,
           |  CAST(CASE WHEN status = 'changed' THEN
           |    (CASE WHEN ct THEN 1 ELSE 0 END) +
           |    (CASE WHEN cu THEN 1 ELSE 0 END) +
           |    (CASE WHEN cv THEN 1 ELSE 0 END)
           |  ELSE 0 END AS BIGINT) AS n_cols_changed,
           |  status = 'changed' AND ct AS chg_event_type,
           |  status = 'changed' AND cu AS chg_user_id,
           |  status = 'changed' AND cv AS chg_value
           |FROM c WHERE status IS NOT NULL
           |ORDER BY event_id, status""".stripMargin)
  )

  /** WOE / information value over (source → is-English) (fully
    * oracled): exact long counts, each woe one pinned IEEE sequence
    * (two long→double products, one division, one ln — the q76 BM25
    * precedent for cross-engine ln), published floor-micro-quantized
    * so the gate is integer-exact; iv is the order-free SUM of
    * quantized longs. One-sided bins surface as NULL woe, excluded
    * from iv. */
  val woeIvProbe = Probe(
    "q222_woe_iv",
    (s, d) => {
      import graft.operators.Classify
      val upm = (c: Column) => floor(c * 1000000L + 0.5).cast("long")
      Classify.woeIv(Tables.documents(s, d)
          .filter(col("lang").isNotNull), col("source"),
          col("lang") === "en")
        .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
          upm(col("woe")).as("woe_upm"),
          upm(col("iv_contrib")).as("iv_contrib_upm"), col("iv_upm"))
    },
    Some("""WITH b AS (SELECT source AS bin, (lang = 'en') AS t
           |  FROM documents WHERE lang IS NOT NULL),
           |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_neg
           |  FROM b GROUP BY bin),
           |tt AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM g),
           |sc AS (SELECT g.*,
           |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           |      ln((CAST(n_pos AS DOUBLE) * tn) /
           |         (CAST(n_neg AS DOUBLE) * tp)) END AS woe,
           |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           |      (CAST(n_pos AS DOUBLE) / tp - CAST(n_neg AS DOUBLE) / tn) *
           |      ln((CAST(n_pos AS DOUBLE) * tn) /
           |         (CAST(n_neg AS DOUBLE) * tp)) END AS ivc
           |  FROM g, tt)
           |SELECT bin, n, n_pos, n_neg,
           |  CAST(floor(woe * 1000000 + 0.5) AS BIGINT) AS woe_upm,
           |  CAST(floor(ivc * 1000000 + 0.5) AS BIGINT) AS iv_contrib_upm,
           |  CAST(coalesce(sum(CAST(floor(ivc * 1000000 + 0.5) AS BIGINT))
           |    OVER (), 0) AS BIGINT) AS iv_upm
           |FROM sc ORDER BY bin NULLS FIRST""".stripMargin)
  )

  /** Team-draft interleaving of two live rankers (exact vs LSH top-10)
    * with a deterministic click model, self-oracled on team-draft's
    * DEFINING invariants: contiguous 1..m positions of distinct docs,
    * within-team source order preserved, every pick from A ∪ B, and
    * the wins readout matching an INDEPENDENT per-query recompute of
    * the click credit (the click rule applied directly to the
    * assignments — and the events fed to interleavedWins are
    * deliberately duplicated, so its distinct() is load-bearing).
    * (The ≤1 pick-balance invariant holds only while BOTH lists have
    * unpicked docs — with overlapping rankers one side can exhaust
    * early — so the spec proves it on disjoint lists instead of
    * gating it here.) DuckDB recomputes the query universe. */
  val teamDraftProbe = Probe(
    "q228_team_draft",
    (s, d) => {
      import graft.operators.Fusion
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val a = Similarity.bruteForceTopK(emb, queries, 10)
      val b = Similarity.lshTopKMultiProbe(emb, queries, 10,
        bits = annBits(emb), dim = 64, nProbe = 4)
      val asg = Fusion.interleaveTeamDraft(a, b, "query_id", "vec_id",
        "rank", k = 10)
      // invariant audit
      val shape = asg.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__m"), min(col("pos")).as("__minp"),
          max(col("pos")).as("__maxp"),
          countDistinct(col("vec_id")).as("__nd"))
        .agg(count(lit(1)).as("n_queries"),
          coalesce(sum(when(col("__minp") === 1 &&
            col("__maxp") === col("__m") && col("__nd") === col("__m"),
            0L).otherwise(1L)), lit(0L)).as("__bad_shape"))
      val union = a.select(col("query_id"), col("vec_id"))
        .unionByName(b.select(col("query_id"), col("vec_id"))).distinct()
      val outside = asg.join(union, Seq("query_id", "vec_id"),
        "left_anti").agg(count(lit(1)).as("__n_outside"))
      // within-team order: each team's source ranks increase with pos
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"), col("team")).orderBy(col("pos"))
      val ranksA = a.select(col("query_id"), col("vec_id"),
        col("rank").as("__src_rank"), lit("A").as("team"))
      val ranksB = b.select(col("query_id"), col("vec_id"),
        col("rank").as("__src_rank"), lit("B").as("team"))
      val ordViol = asg
        .join(ranksA.unionByName(ranksB), Seq("query_id", "vec_id", "team"))
        .withColumn("__prev", lag(col("__src_rank"), 1).over(wOrd))
        .filter(col("__prev").isNotNull && col("__src_rank") <= col("__prev"))
        .agg(count(lit(1)).as("__n_ord_viol"))
      // deterministic click model: every third doc id "clicks"; gate
      // the wins readout against an INDEPENDENT recompute (the click
      // rule applied directly to the assignments, no join) — a
      // double-counting or join bug in interleavedWins would diverge
      // here, unlike the by-construction partition identity
      val clickEvents = asg.select(col("query_id"), col("vec_id"))
        .filter(col("vec_id") % 3 === 0)
        // duplicate every click: interleavedWins must dedup, the
        // independent recompute is per-pick by construction
        .unionAll(asg.select(col("query_id"), col("vec_id"))
          .filter(col("vec_id") % 3 === 0))
      val wins = Fusion.interleavedWins(asg, clickEvents, "query_id",
        "vec_id")
      val indep = asg.filter(col("vec_id") % 3 === 0)
        .groupBy(col("query_id"))
        .agg(
          coalesce(sum(when(col("team") === "A", 1L).otherwise(0L)),
            lit(0L)).as("__ia"),
          coalesce(sum(when(col("team") === "B", 1L).otherwise(0L)),
            lit(0L)).as("__ib"))
        .agg(count(lit(1)).as("__inq"),
          coalesce(sum(when(col("__ia") > col("__ib"), 1L)
            .otherwise(0L)), lit(0L)).as("__iwa"),
          coalesce(sum(when(col("__ib") > col("__ia"), 1L)
            .otherwise(0L)), lit(0L)).as("__iwb"),
          coalesce(sum(when(col("__ia") === col("__ib"), 1L)
            .otherwise(0L)), lit(0L)).as("__itie"))
      val winsOk = wins.crossJoin(indep)
        .select((col("n_queries") === col("__inq") &&
          col("wins_a") === col("__iwa") &&
          col("wins_b") === col("__iwb") &&
          col("ties") === col("__itie")).as("ok_wins_independent"))
      shape.crossJoin(outside).crossJoin(ordViol).crossJoin(winsOk)
        .select(col("n_queries"),
          (col("__bad_shape") === 0L).as("ok_shape"),
          (col("__n_outside") === 0L).as("ok_from_union"),
          (col("__n_ord_viol") === 0L).as("ok_team_order"),
          col("ok_wins_independent"))
    },
    Some("""SELECT count(*) AS n_queries, true AS ok_shape,
           |  true AS ok_from_union, true AS ok_team_order,
           |  true AS ok_wins_independent
           |FROM embeddings WHERE vec_id < 20""".stripMargin)
  )

  /** Brier + Murphy decomposition (fully oracled): q154's reliability
    * diagram collapsed to the one-row REL−RES+UNC readout with the
    * within-bin residual PUBLISHED (`decomp_gap_micro2`) — every
    * number a truncated integer mean in µ² from order-free wide sums. */
  val brierProbe = Probe(
    "q230_brier",
    (s, d) => {
      import graft.operators.Classify
      Classify.brierDecomposition(Tables.documents(s, d),
        least(lit(1000000L), col("n_chars") * 1800L),
        col("lang") === "en", nBins = 10)
    },
    Some("""WITH b AS (SELECT least(1000000, n_chars * 1800) AS s,
           |    CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y
           |  FROM documents
           |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
           |bins AS (SELECT greatest(0, least(9, (s * 10) // 1000000)) AS bin,
           |    count(*) AS nb,
           |    sum(CAST(s - y AS HUGEINT) * (s - y)) AS sq,
           |    sum(s) // count(*) AS mp,
           |    sum(y) // count(*) AS pr
           |  FROM b GROUP BY 1),
           |g AS (SELECT sum(nb) AS n,
           |    sum(CAST(pr AS HUGEINT) * nb) // sum(nb) AS ybar
           |  FROM bins),
           |f AS (SELECT CAST(g.n AS BIGINT) AS n,
           |    CAST(sum(sq) // g.n AS BIGINT) AS brier_micro2,
           |    CAST(sum(CAST(mp - pr AS HUGEINT) * (mp - pr) * nb) // g.n
           |      AS BIGINT) AS rel_micro2,
           |    CAST(sum(CAST(pr - g.ybar AS HUGEINT) * (pr - g.ybar) * nb)
           |      // g.n AS BIGINT) AS res_micro2,
           |    CAST(g.ybar * (1000000 - g.ybar) AS BIGINT) AS unc_micro2
           |  FROM bins, g GROUP BY g.n, g.ybar)
           |SELECT n, brier_micro2, rel_micro2, res_micro2, unc_micro2,
           |  brier_micro2 - (rel_micro2 - res_micro2 + unc_micro2)
           |    AS decomp_gap_micro2
           |FROM f""".stripMargin)
  )

  /** Doubly-robust off-policy estimate (fully oracled): q226's logs
    * and policy with a per-action empirical-mean reward model — the
    * direct-method term everywhere, IPS correcting only the matched
    * residuals. Exact integer weights/terms; both estimates single
    * IEEE divisions. */
  val drProbe = Probe(
    "q229_dr_eval",
    (s, d) => {
      import graft.operators.Classify
      val e = Tables.events(s, d)
        .filter(col("event_id").isNotNull && col("event_type").isNotNull
          && col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 1000000L + 0.5).cast("long").as("__r"))
      val n = e.agg(count(lit(1)).as("__n"))
      val freq = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("__c"))
        .crossJoin(broadcast(n))
        .select(col("event_type"),
          expr("(1000000L * __c) DIV __n").as("__p"))
      val logs = e.join(freq, "event_type")
      val policy = e.select(col("event_id").as("pol_id"),
        when(col("user_id") % 3 === 0, lit("click")).otherwise(lit("view"))
          .as("pol_action"))
      val qhat = e.groupBy(col("event_type").as("qa"))
        .agg(expr("sum(__r) DIV count(1)").as("qv"))
      Classify.drEval(logs, col("event_id"), col("event_type"),
        col("__r"), col("__p"), policy, col("pol_id"), col("pol_action"),
        qhat, col("qa"), col("qv"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type,
           |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS r
           |  FROM events WHERE event_id IS NOT NULL
           |    AND event_type IS NOT NULL AND value IS NOT NULL
           |    AND user_id IS NOT NULL),
           |tot AS (SELECT count(*) AS n FROM e),
           |freq AS (SELECT event_type,
           |    CAST((1000000 * count(*)) // (SELECT n FROM tot) AS BIGINT)
           |      AS p
           |  FROM e GROUP BY 1),
           |qh AS (SELECT event_type AS qa,
           |    CAST(sum(r) // count(*) AS BIGINT) AS qv
           |  FROM e GROUP BY 1),
           |l AS (SELECT e.event_id AS k, e.user_id, e.event_type AS a,
           |    e.r, f.p,
           |    (CASE WHEN e.user_id % 3 = 0 THEN 'click'
           |          ELSE 'view' END) AS pa
           |  FROM e JOIN freq f USING (event_type)),
           |j AS (SELECT l.*, qpi.qv AS q_pi, qa2.qv AS q_a,
           |    a = pa AS m
           |  FROM l LEFT JOIN qh qpi ON qpi.qa = l.pa
           |         LEFT JOIN qh qa2 ON qa2.qa = l.a),
           |w AS (SELECT *,
           |    coalesce(q_pi, 0) AS qpi0, coalesce(q_a, 0) AS qa0,
           |    CASE WHEN m AND p > 0 THEN 1000000000000 // p
           |         ELSE 0 END AS w,
           |    m AND (p IS NULL OR p <= 0) AS bad FROM j)
           |SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(coalesce(sum(CASE WHEN m THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_matched,
           |  CAST(coalesce(sum(CASE WHEN bad THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_bad_propensity,
           |  CAST(coalesce(sum(qpi0), 0) AS BIGINT) AS sum_model,
           |  CAST(coalesce(sum(CAST(w AS HUGEINT) * (r - qa0)), 0)
           |    // 1000000 AS BIGINT) AS sum_corr,
           |  CASE WHEN count(*) > 0 THEN
           |    CAST(coalesce(sum(qpi0), 0) AS DOUBLE) / count(*)
           |  END AS dm_value_micro,
           |  CASE WHEN count(*) > 0 THEN
           |    CAST(coalesce(sum(qpi0), 0) +
           |      (coalesce(sum(CAST(w AS HUGEINT) * (r - qa0)), 0)
           |        // 1000000) AS DOUBLE) / count(*)
           |  END AS dr_value_micro
           |FROM w""".stripMargin)
  )

  /** Per-group split-conformal thresholds (fully oracled): the
    * ⌈(n+1)(1−α)⌉-th smallest score per language at α = 10% — exact
    * integer rank arithmetic over the (group, value) counts frame,
    * never a row sort. The distribution-free coverage guarantee every
    * per-slice quality filter should be quoting. The 'de' slice is
    * remapped to NULL so the gate exercises the NULL-group path: the
    * null-safe counts⋈cum join must give the unlabeled slice its own
    * real threshold (the woeIv convention), not a spurious NULL. */
  val conformalProbe = Probe(
    "q227_conformal",
    (s, d) => {
      import graft.operators.Classify
      Classify.conformalThreshold(
        Tables.documents(s, d),
        nullif(col("lang"), lit("de")), col("n_chars"),
        alphaPpm = 100000L)
    },
    Some("""WITH b AS (SELECT nullif(lang, 'de') AS grp, n_chars AS s
           |  FROM documents WHERE n_chars IS NOT NULL),
           |c AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
           |    CAST(((count(*) + 1) * 900000 + 999999) // 1000000
           |      AS BIGINT) AS rank_needed
           |  FROM b GROUP BY grp),
           |pv AS (SELECT grp, s, count(*) AS cnt FROM b GROUP BY 1, 2),
           |cm AS (SELECT grp, s, sum(cnt) OVER (PARTITION BY grp
           |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
           |    ROW) AS cum FROM pv)
           |SELECT c.grp AS "group", c.n, c.rank_needed,
           |  CAST(min(CASE WHEN cm.cum >= c.rank_needed THEN cm.s END)
           |    AS BIGINT) AS threshold
           |FROM c JOIN cm ON c.grp IS NOT DISTINCT FROM cm.grp
           |GROUP BY c.grp, c.n, c.rank_needed
           |ORDER BY c.grp NULLS FIRST""".stripMargin)
  )

  /** Off-policy IPS/SNIPS evaluation (fully oracled): logged feedback
    * from events (reward = value in µ-units, propensity = empirical
    * type frequency in ppm), target policy a deterministic per-user
    * rule — every weight and term an exact integer, estimates single
    * IEEE divisions. "How would the new policy have scored on logged
    * traffic" without deploying it. */
  val ipsProbe = Probe(
    "q226_ips_eval",
    (s, d) => {
      import graft.operators.Classify
      val e = Tables.events(s, d)
        .filter(col("event_id").isNotNull && col("event_type").isNotNull
          && col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 1000000L + 0.5).cast("long").as("__r"))
      val n = e.agg(count(lit(1)).as("__n"))
      val freq = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("__c"))
        .crossJoin(broadcast(n))
        .select(col("event_type"),
          expr("(1000000L * __c) DIV __n").as("__p"))
      val logs = e.join(freq, "event_type")
      val policy = e.select(col("event_id").as("pol_id"),
        when(col("user_id") % 3 === 0, lit("click")).otherwise(lit("view"))
          .as("pol_action"))
      Classify.ipsEval(logs, col("event_id"), col("event_type"),
        col("__r"), col("__p"), policy, col("pol_id"), col("pol_action"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type,
           |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS r
           |  FROM events WHERE event_id IS NOT NULL
           |    AND event_type IS NOT NULL AND value IS NOT NULL
           |    AND user_id IS NOT NULL),
           |tot AS (SELECT count(*) AS n FROM e),
           |freq AS (SELECT event_type,
           |    CAST((1000000 * count(*)) // (SELECT n FROM tot) AS BIGINT)
           |      AS p
           |  FROM e GROUP BY 1),
           |l AS (SELECT e.event_id AS k, e.user_id, e.event_type AS a,
           |    e.r, f.p FROM e JOIN freq f USING (event_type)),
           |j AS (SELECT l.*,
           |    a = (CASE WHEN user_id % 3 = 0 THEN 'click'
           |              ELSE 'view' END) AS m FROM l),
           |w AS (SELECT *,
           |    CASE WHEN m AND p > 0 THEN 1000000000000 // p
           |         ELSE 0 END AS w,
           |    m AND (p IS NULL OR p <= 0) AS bad FROM j)
           |SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(coalesce(sum(CASE WHEN m THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_matched,
           |  CAST(coalesce(sum(CASE WHEN bad THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_bad_propensity,
           |  CAST(coalesce(sum(w), 0) AS BIGINT) AS sum_w_upm,
           |  CAST(coalesce(sum(CAST(w AS HUGEINT) * r), 0) // 1000000
           |    AS BIGINT) AS sum_wr,
           |  CASE WHEN count(*) > 0 THEN
           |    CAST(coalesce(sum(CAST(w AS HUGEINT) * r), 0) // 1000000
           |      AS DOUBLE) / count(*) END AS ips_value_micro,
           |  CASE WHEN coalesce(sum(w), 0) > 0 THEN
           |    CAST((coalesce(sum(CAST(w AS HUGEINT) * r), 0) // 1000000)
           |      * 1000000 AS DOUBLE) / coalesce(sum(w), 0)
           |  END AS snips_value_micro
           |FROM w""".stripMargin)
  )

  /** Persisted SRP-LSH index (fourth index surface: bucket-partitioned
    * parquet + static partition pruning, the hyperplane sibling of the
    * IVF cell index). Gate = STRICT EQUALITY with the in-memory
    * multi-probe search on the same corpus — seeded planes make the
    * bucketing deterministic, so (query, id, rank, sim) must match
    * bit-for-bit in BOTH directions; DuckDB recomputes the query
    * universe. */
  val lshIndexProbe = Probe(
    "q225_lsh_index",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val bits = annBits(emb)
      val dir = freshDir(s, "graft_q225_lsh_index")
      Similarity.writeLshIndex(emb, dir, bits, dim = 64)
      val persisted = Similarity.searchLshIndex(s, dir, queries, k = 5,
        bits = bits, dim = 64, nProbe = 4)
      val mem = Similarity.lshTopKMultiProbe(emb, queries, k = 5,
        bits = bits, dim = 64, nProbe = 4)
      val p = persisted.select(col("query_id"), col("vec_id"),
        col("rank"), col("sim"))
      val m = mem.select(col("query_id"), col("vec_id"),
        col("rank").as("rank_m"), col("sim").as("sim_m"))
      val both = p.join(m, Seq("query_id", "vec_id"), "full_outer")
      val audit = both.agg(
        count(lit(1)).as("__n_union"),
        coalesce(sum(when(col("rank").isNotNull && col("rank_m").isNotNull
          && col("rank") === col("rank_m") && col("sim") === col("sim_m"),
          1L).otherwise(0L)), lit(0L)).as("__n_match"))
      val nq = queries.agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(audit)
        .select(col("n_queries"),
          (col("__n_match") === col("__n_union")).as("ok_identical"),
          (col("__n_union") > 0L).as("ok_nonempty"))
    },
    Some("""SELECT count(*) AS n_queries, true AS ok_identical,
           |  true AS ok_nonempty
           |FROM embeddings WHERE vec_id < 20""".stripMargin),
    benchRun = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val bits = annBits(emb)
      val dir = freshDir(s, "graft_q225_lsh_index_b")
      Similarity.writeLshIndex(emb, dir, bits, dim = 64)
      Similarity.searchLshIndex(s, dir, queries, k = 5, bits = bits,
          dim = 64, nProbe = 4)
        .select(col("query_id"), col("vec_id"),
          binRound(col("sim"), 4).as("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }
  )

  /** Kaplan–Meier time-to-first-error curve (fully oracled): per user,
    * hours from their first event to their first 'error', right-
    * censored at a 24 h observation window — the censoring-aware
    * readout naive conversion rates fake (a user observed only 3 h
    * hasn't "survived 24 h error-free", they're censored at 3... here
    * the window is within the corpus span so censoring = no error
    * within 24 h, at sf0.01 a 74/76 split over 21 steps). Integer
    * audit surface (cumulated quantized ln terms), one pinned IEEE exp
    * per step. */
  val kaplanMeierProbe = Probe(
    "q224_kaplan_meier",
    (s, d) => {
      import graft.operators.Survival
      val windowH = 24L
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("__t"),
          col("event_type"))
      val firsts = ev.groupBy(col("user_id"))
        .agg(min(col("__t")).as("__f"))
      val firstErr = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(min(col("__t")).as("__te"))
      val subjects = firsts.join(firstErr, Seq("user_id"), "left_outer")
        .select(
          when(col("__te").isNotNull &&
              expr("(__te - __f) DIV 3600000000") < windowH,
            expr("(__te - __f) DIV 3600000000")).otherwise(lit(windowH))
            .as("dur_h"),
          (col("__te").isNotNull &&
            expr("(__te - __f) DIV 3600000000") < windowH).as("observed"))
      Survival.kaplanMeier(subjects, col("dur_h"), col("observed"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS t,
           |    event_type
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |u AS (SELECT user_id, min(t) AS f FROM e GROUP BY 1),
           |err AS (SELECT user_id, min(t) AS te FROM e
           |  WHERE event_type = 'error' GROUP BY 1),
           |subj AS (SELECT
           |    CASE WHEN te IS NOT NULL AND (te - f) // 3600000000 < 24
           |      THEN (te - f) // 3600000000 ELSE 24 END AS d,
           |    te IS NOT NULL AND (te - f) // 3600000000 < 24 AS o
           |  FROM u LEFT JOIN err USING (user_id)),
           |tot AS (SELECT count(*) AS n FROM subj),
           |perT AS (SELECT d,
           |    CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_events,
           |    CAST(sum(CASE WHEN NOT o THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_censored
           |  FROM subj GROUP BY d),
           |r AS (SELECT *,
           |    (SELECT n FROM tot) - coalesce(sum(n_events + n_censored)
           |      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
           |        1 PRECEDING), 0) AS n_risk
           |  FROM perT),
           |q AS (SELECT *,
           |    CASE WHEN n_events = 0 THEN 0
           |         WHEN n_events < n_risk THEN
           |           CAST(floor(ln(CAST(n_risk - n_events AS DOUBLE) /
           |             n_risk) * 1000000 + 0.5) AS BIGINT) END AS lnq,
           |    CASE WHEN n_events > 0 AND n_events = n_risk
           |         THEN 1 ELSE 0 END AS z
           |  FROM r),
           |c AS (SELECT *,
           |    coalesce(sum(lnq) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW), 0) AS logS,
           |    coalesce(sum(z) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW), 0) AS zs
           |  FROM q)
           |SELECT d AS t, CAST(n_risk AS BIGINT) AS n_risk, n_events,
           |  n_censored,
           |  CASE WHEN zs = 0 THEN CAST(logS AS BIGINT) END AS log_s_upm,
           |  CAST(CASE WHEN zs > 0 THEN 0 ELSE
           |    floor(exp(CAST(logS AS DOUBLE) / 1000000.0) * 1000000
           |      + 0.5) END AS BIGINT) AS surv_ppm
           |FROM c WHERE n_events > 0 ORDER BY t""".stripMargin)
  )

  /** Chao1 vocabulary richness + Good–Turing unseen mass (fully
    * oracled): the one-row "how much vocabulary is still uncrawled"
    * readout — exact truncating integer arithmetic end to end. */
  val richnessProbe = Probe(
    "q231_richness",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.richness(Tables.documents(s, d))
    },
    Some("""WITH w AS (SELECT unnest(list_filter(
           |    string_split_regex(lower(text), '\s+'),
           |    x -> len(x) > 0)) AS t FROM documents),
           |c AS (SELECT t, count(*) AS c FROM w GROUP BY t),
           |a AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens,
           |    CAST(count(*) AS BIGINT) AS vocab,
           |    CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)
           |      AS BIGINT) AS f1,
           |    CAST(coalesce(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0)
           |      AS BIGINT) AS f2
           |  FROM c)
           |SELECT n_tokens, vocab, f1, f2,
           |  CAST(CASE WHEN f2 > 0 THEN vocab + (f1 * f1) // (2 * f2)
           |       ELSE vocab + (f1 * (f1 - 1)) // 2 END AS BIGINT)
           |    AS chao1_est,
           |  CAST(CASE WHEN n_tokens > 0 THEN (1000000 * f1) // n_tokens
           |       ELSE 0 END AS BIGINT) AS unseen_mass_ppm
           |FROM a""".stripMargin)
  )

  /** Weighted quantiles (fully oracled): the quantity below which 25 /
    * 50 / 75 / 99% of lineitem REVENUE sits, per return flag — exact
    * ceil-division weight ranks over the (group, value) weight-sum
    * frame, never a row sort; the q·W product rides DECIMAL/HUGEINT. */
  val weightedQuantileProbe = Probe(
    "q232_weighted_quantile",
    (s, d) => {
      import graft.operators.Profile
      Profile.weightedQuantile(
        Tables.lineitem(s, d)
          .filter(col("l_quantity").isNotNull &&
            col("l_extendedprice").isNotNull),
        col("l_returnflag"), col("l_quantity"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long"),
        Seq(250000L, 500000L, 750000L, 990000L))
    },
    Some("""WITH b AS (SELECT l_returnflag AS grp,
           |    CAST(trunc(l_quantity) AS BIGINT) AS v,
           |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS w
           |  FROM lineitem WHERE l_quantity IS NOT NULL
           |    AND l_extendedprice IS NOT NULL),
           |f AS (SELECT * FROM b WHERE w > 0),
           |c AS (SELECT grp, v, sum(w) AS cw, count(*) AS nr
           |  FROM f GROUP BY 1, 2),
           |t AS (SELECT grp, CAST(sum(cw) AS BIGINT) AS w_total,
           |    CAST(sum(nr) AS BIGINT) AS n FROM c GROUP BY grp),
           |qq AS (SELECT unnest([250000, 500000, 750000, 990000])
           |    AS q_ppm),
           |r AS (SELECT t.grp, qq.q_ppm, t.n, t.w_total,
           |    CAST((CAST(qq.q_ppm AS HUGEINT) * t.w_total + 999999)
           |      // 1000000 AS BIGINT) AS rank_needed
           |  FROM t, qq),
           |cm AS (SELECT grp, v, sum(cw) OVER (PARTITION BY grp
           |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
           |    ROW) AS cum FROM c)
           |SELECT r.grp AS "group", CAST(r.q_ppm AS BIGINT) AS q_ppm,
           |  r.n, r.w_total, r.rank_needed,
           |  CAST(min(CASE WHEN cm.cum >= r.rank_needed THEN cm.v END)
           |    AS BIGINT) AS quantile
           |FROM r JOIN cm ON r.grp IS NOT DISTINCT FROM cm.grp
           |GROUP BY 1, 2, 3, 4, 5
           |ORDER BY "group" NULLS FIRST, q_ppm""".stripMargin)
  )

  /** Mutual information source × language (fully oracled): per-cell
    * contributions in nano-nats — each cell one pinned IEEE sequence
    * (two double products, two divisions, one ln, one multiply; the
    * woeIv/BM25 ln precedent), total the order-free sum of quantized
    * longs over the cells frame. */
  val mutualInfoProbe = Probe(
    "q233_mutual_info",
    (s, d) => {
      import graft.operators.Classify
      Classify.mutualInfo(Tables.documents(s, d), col("source"),
        col("lang"))
    },
    Some("""WITH c AS (SELECT source AS x_val, lang AS y_val,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
           |  GROUP BY 1, 2),
           |m AS (SELECT *,
           |    CAST(sum(n) OVER (PARTITION BY x_val) AS BIGINT) AS n_x,
           |    CAST(sum(n) OVER (PARTITION BY y_val) AS BIGINT) AS n_y,
           |    CAST(sum(n) OVER () AS BIGINT) AS nn FROM c),
           |s AS (SELECT x_val, y_val, n, n_x, n_y,
           |    CAST(floor((CAST(n AS DOUBLE) / nn) *
           |      ln((CAST(nn AS DOUBLE) * n) /
           |         (CAST(n_x AS DOUBLE) * n_y)) * 1000000000 + 0.5)
           |      AS BIGINT) AS mi_contrib_nano
           |  FROM m)
           |SELECT x_val, y_val, n, n_x, n_y, mi_contrib_nano,
           |  CAST(coalesce(sum(mi_contrib_nano) OVER (), 0) AS BIGINT)
           |    AS mi_nano
           |FROM s ORDER BY x_val, y_val""".stripMargin)
  )

  /** Nelson–Aalen cumulative hazard (fully oracled): q224's
    * time-to-first-error subjects under the additive estimator — every
    * hazard increment the EXACT integer (10⁶·d) DIV n, the cumulative a
    * sum of longs, Breslow survival one pinned IEEE exp. */
  val nelsonAalenProbe = Probe(
    "q234_nelson_aalen",
    (s, d) => {
      import graft.operators.Survival
      val windowH = 24L
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("__t"),
          col("event_type"))
      val firsts = ev.groupBy(col("user_id"))
        .agg(min(col("__t")).as("__f"))
      val firstErr = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(min(col("__t")).as("__te"))
      val subjects = firsts.join(firstErr, Seq("user_id"), "left_outer")
        .select(
          when(col("__te").isNotNull &&
              expr("(__te - __f) DIV 3600000000") < windowH,
            expr("(__te - __f) DIV 3600000000")).otherwise(lit(windowH))
            .as("dur_h"),
          (col("__te").isNotNull &&
            expr("(__te - __f) DIV 3600000000") < windowH).as("observed"))
      Survival.nelsonAalen(subjects, col("dur_h"), col("observed"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS t,
           |    event_type
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |u AS (SELECT user_id, min(t) AS f FROM e GROUP BY 1),
           |err AS (SELECT user_id, min(t) AS te FROM e
           |  WHERE event_type = 'error' GROUP BY 1),
           |subj AS (SELECT
           |    CASE WHEN te IS NOT NULL AND (te - f) // 3600000000 < 24
           |      THEN (te - f) // 3600000000 ELSE 24 END AS d,
           |    te IS NOT NULL AND (te - f) // 3600000000 < 24 AS o
           |  FROM u LEFT JOIN err USING (user_id)),
           |tot AS (SELECT count(*) AS n FROM subj),
           |perT AS (SELECT d,
           |    CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_events,
           |    CAST(sum(CASE WHEN NOT o THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_censored
           |  FROM subj GROUP BY d),
           |r AS (SELECT *,
           |    (SELECT n FROM tot) - coalesce(sum(n_events + n_censored)
           |      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
           |        1 PRECEDING), 0) AS n_risk
           |  FROM perT),
           |q AS (SELECT *, CASE WHEN n_events = 0 THEN 0
           |    ELSE (1000000 * n_events) // n_risk END AS h FROM r),
           |c AS (SELECT *, coalesce(sum(h) OVER (ORDER BY d ROWS
           |    BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS ch
           |  FROM q)
           |SELECT d AS t, CAST(n_risk AS BIGINT) AS n_risk, n_events,
           |  n_censored, CAST(h AS BIGINT) AS haz_inc_upm,
           |  CAST(ch AS BIGINT) AS cum_haz_upm,
           |  CAST(floor(exp(CAST(ch AS DOUBLE) / -1000000.0) * 1000000
           |    + 0.5) AS BIGINT) AS surv_ppm
           |FROM c WHERE n_events > 0 ORDER BY t""".stripMargin)
  )

  /** Span-level dedup with reassembly (fully oracled): 5-token spans,
    * global first occurrence by (doc_id, idx), documents rebuilt from
    * surviving spans — DuckDB replays the chunking, the first-
    * occurrence window, and the ordered reassembly on the raw span
    * strings (Spark shuffles md5 digests of the same spans). */
  val spanDedupProbe = Probe(
    "q236_span_dedup",
    (s, d) => {
      import graft.operators.TextDedup
      TextDedup.dropDuplicateSpans(Tables.documents(s, d), spanTokens = 5)
    },
    Some("""WITH t AS (SELECT doc_id,
           |    list_filter(string_split_regex(text, '\s+'),
           |      x -> len(x) > 0) AS toks
           |  FROM documents WHERE doc_id IS NOT NULL
           |    AND text IS NOT NULL),
           |ch AS (SELECT doc_id, CAST(u.i AS BIGINT) AS idx,
           |    array_to_string(list_slice(toks, u.i*5+1, u.i*5+5), ' ')
           |      AS span
           |  FROM t, unnest(range((len(toks) + 4) // 5)) AS u(i)),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY span
           |    ORDER BY doc_id, idx) AS rn FROM ch),
           |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           |    string_agg(span, ' ' ORDER BY idx) AS text_kept
           |  FROM rk WHERE rn = 1 GROUP BY doc_id),
           |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
           |  FROM ch GROUP BY doc_id)
           |SELECT t.doc_id,
           |  coalesce(cnt.n_spans, 0) AS n_spans,
           |  coalesce(reb.n_kept, 0) AS n_kept,
           |  coalesce(reb.text_kept, '') AS text_kept
           |FROM t LEFT JOIN cnt USING (doc_id)
           |LEFT JOIN reb USING (doc_id)
           |ORDER BY doc_id""".stripMargin)
  )

  /** Isotonic (PAV) calibration (fully oracled): q230's binned scores
    * under the closed minimax form — every interval mean an exact
    * truncating integer, so DuckDB replays the whole B³ max-of-min
    * table bit-for-bit. */
  val isotonicProbe = Probe(
    "q237_isotonic",
    (s, d) => {
      import graft.operators.Classify
      Classify.isotonicCalibrate(Tables.documents(s, d),
        least(lit(1000000L), col("n_chars") * 1800L),
        col("lang") === "en", nBins = 10)
    },
    Some("""WITH b AS (SELECT least(1000000, n_chars * 1800) AS s,
           |    (lang = 'en') AS t
           |  FROM documents
           |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
           |bins AS (SELECT greatest(0, least(9, (s * 10) // 1000000))
           |      AS bin,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_pos
           |  FROM b GROUP BY 1),
           |pre AS (SELECT *, row_number() OVER (ORDER BY bin) AS i,
           |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW) AS cw,
           |    sum(n_pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW) AS cy
           |  FROM bins),
           |lo AS (SELECT i AS j, cw - n AS cwj, cy - n_pos AS cyj
           |  FROM pre),
           |hi AS (SELECT i AS k, cw AS cwk, cy AS cyk FROM pre),
           |iv AS (SELECT j, k,
           |    (1000000 * (cyk - cyj)) // (cwk - cwj) AS a
           |  FROM lo, hi WHERE j <= k),
           |mn AS (SELECT p.bin, iv.j, min(iv.a) AS m
           |  FROM pre p JOIN iv ON iv.j <= p.i AND iv.k >= p.i
           |  GROUP BY 1, 2),
           |ft AS (SELECT bin, max(m) AS fit_ppm FROM mn GROUP BY 1)
           |SELECT CAST(bins.bin AS INT) AS bin, n, n_pos,
           |  CAST((1000000 * n_pos) // n AS BIGINT) AS rate_ppm,
           |  CAST(ft.fit_ppm AS BIGINT) AS fit_ppm
           |FROM bins JOIN ft USING (bin) ORDER BY bin""".stripMargin)
  )

  /** Expected Reciprocal Rank (fully oracled): top-10 parts per
    * supplier (count-ranked, integer tiebreaks), graded truth from a
    * deterministic rule — the sequential cascade fold replayed step by
    * step in a DuckDB recursive CTE, every truncation identical. */
  val errEvalProbe = Probe(
    "q238_err_eval",
    (s, d) => {
      import graft.operators.Fusion
      val agg = Tables.lineitem(s, d).filter(col("l_suppkey") < 30)
        .groupBy(col("l_suppkey").as("query_id"),
          col("l_partkey").as("vec_id"))
        .agg(count(lit(1)).as("__c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("__c").desc, col("vec_id").asc)
      val ranked = agg.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
      val truth = agg.filter(col("vec_id") % 3 === 0)
        .select(col("query_id"), col("vec_id"),
          (col("vec_id") % 4).as("grade"))
      Fusion.errEval(ranked, truth, k = 10, gMax = 3)
    },
    Some("""WITH RECURSIVE a AS (SELECT l_suppkey AS q, l_partkey AS v,
           |    count(*) AS c
           |  FROM lineitem WHERE l_suppkey < 30 GROUP BY 1, 2),
           |rk AS (SELECT q, v, row_number() OVER (PARTITION BY q
           |    ORDER BY c DESC, v ASC) AS r FROM a),
           |top AS (SELECT * FROM rk WHERE r <= 10),
           |tr AS (SELECT q, v, v % 4 AS g FROM a WHERE v % 3 = 0),
           |j AS (SELECT top.q, top.r,
           |    CAST((1000000 * ((1 << CAST(least(3, greatest(0,
           |      coalesce(tr.g, 0))) AS INT)) - 1)) // 8 AS BIGINT)
           |      AS rel
           |  FROM top LEFT JOIN tr ON top.q = tr.q AND top.v = tr.v),
           |seq AS (
           |  SELECT q, CAST(0 AS BIGINT) AS r,
           |    CAST(1000000 AS BIGINT) AS prod, CAST(0 AS BIGINT) AS err
           |  FROM (SELECT DISTINCT q FROM j)
           |  UNION ALL
           |  SELECT j.q, seq.r + 1,
           |    CAST((seq.prod * (1000000 - j.rel)) // 1000000 AS BIGINT),
           |    CAST(seq.err + (seq.prod * j.rel) // (1000 * (seq.r + 1))
           |      AS BIGINT)
           |  FROM seq JOIN j ON j.q = seq.q AND j.r = seq.r + 1),
           |fin AS (SELECT q, max(r) AS mr FROM seq GROUP BY q)
           |SELECT seq.q AS query_id, CAST(fin.mr AS BIGINT) AS k_used,
           |  CAST(seq.err AS BIGINT) AS err_nano,
           |  CAST(seq.prod AS BIGINT) AS rest_ppm
           |FROM seq JOIN fin ON seq.q = fin.q AND seq.r = fin.mr
           |ORDER BY query_id""".stripMargin)
  )

  /** Luhn checksum scan (fully oracled): synthetic 16-digit candidate
    * numbers from order keys, validity per the native codegen kernel —
    * DuckDB recomputes the mod-10 double-every-second-digit rule with
    * a list lambda. Grouped by leading digit so the hash covers the
    * distribution, not one row. */
  val luhnProbe = Probe(
    "q239_luhn",
    (s, d) => {
      val sp = s
      graft.plans.SignalExprs.ensureRegistered(sp)
      Tables.orders(sp, d)
        .filter(col("o_orderkey").isNotNull)
        .select(lpad(((col("o_orderkey") * 48271L) % 1000000000000000L)
          .cast("string"), 16, "0").as("card"))
        .select(substring(col("card"), 8, 1).as("bucket_digit"),
          call_function("graft_luhn", col("card")).as("__v"))
        .groupBy(col("bucket_digit"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("__v"), 1L).otherwise(0L)), lit(0L))
            .as("n_valid"))
        .orderBy("bucket_digit")
    },
    Some("""WITH c AS (SELECT lpad(CAST((o_orderkey * 48271) %
           |      1000000000000000 AS VARCHAR), 16, '0') AS card
           |  FROM orders WHERE o_orderkey IS NOT NULL),
           |v AS (SELECT card[8] AS bucket_digit,
           |    (list_sum(list_transform(range(1, len(card) + 1), i ->
           |      CASE WHEN (len(card) - i) % 2 = 1 THEN
           |        CASE WHEN 2 * CAST(card[i] AS INT) > 9
           |          THEN 2 * CAST(card[i] AS INT) - 9
           |          ELSE 2 * CAST(card[i] AS INT) END
           |      ELSE CAST(card[i] AS INT) END)) % 10 = 0) AS ok
           |  FROM c)
           |SELECT bucket_digit, CAST(count(*) AS BIGINT) AS n,
           |  CAST(coalesce(sum(CASE WHEN ok THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_valid
           |FROM v GROUP BY 1 ORDER BY bucket_digit""".stripMargin)
  )

  /** Compression-ratio quality signal (invariant-gated — DuckDB has no
    * deflate to replay): per-source doc counts with measured-bound
    * booleans. Measured at sf0.01: ratios 386k–913k ppm, mean ~527k
    * (word-soup corpus, small vocabulary); gated at (200k, 1e6) per
    * doc and mean in (300k, 800k) per source — wide margins around the
    * measurement. DuckDB recomputes the per-source universe. */
  val compressionProbe = Probe(
    "q240_compression",
    (s, d) => {
      import graft.operators.Quality
      Quality.compressionRatio(
          Tables.documents(s, d)
            .filter(col("source").isNotNull && col("text").isNotNull),
          col("text"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          min(col("ratio_ppm")).as("__mn"),
          max(col("ratio_ppm")).as("__mx"),
          expr("sum(ratio_ppm) DIV count(1)").as("__mean"))
        .select(col("source"), col("n"),
          (col("__mn") > 200000L && col("__mx") < 1000000L)
            .as("ok_doc_bounds"),
          (col("__mean") > 300000L && col("__mean") < 800000L)
            .as("ok_mean_band"))
        .orderBy("source")
    },
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n,
           |  true AS ok_doc_bounds, true AS ok_mean_band
           |FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
           |GROUP BY source ORDER BY source""".stripMargin)
  )

  /** Population Stability Index (fully oracled): even vs odd doc-id
    * length distributions over the q124 bin grid — per-bin terms one
    * pinned IEEE sequence (two divisions, products-first ln, one
    * multiply) floor-nano-quantized and summed as longs. */
  val psiProbe = Probe(
    "q241_psi",
    (s, d) => {
      import graft.operators.Profile
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      Profile.psi(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        col("n_chars"), 0.0, 600.0, nb = 12)
    },
    Some("""WITH cur AS (SELECT n_chars FROM documents
           |  WHERE doc_id IS NOT NULL AND doc_id % 2 = 0),
           |ref AS (SELECT n_chars FROM documents
           |  WHERE doc_id IS NOT NULL AND doc_id % 2 = 1),
           |bins AS (SELECT unnest(range(0, 12)) AS bin),
           |bc AS (SELECT greatest(0, least(11, CAST(floor((n_chars - 0.0)
           |      / 600.0 * 12) AS BIGINT))) AS bin, count(*) AS n
           |  FROM cur WHERE n_chars IS NOT NULL GROUP BY 1),
           |br AS (SELECT greatest(0, least(11, CAST(floor((n_chars - 0.0)
           |      / 600.0 * 12) AS BIGINT))) AS bin, count(*) AS n
           |  FROM ref WHERE n_chars IS NOT NULL GROUP BY 1),
           |j AS (SELECT bins.bin AS bin, coalesce(bc.n, 0) AS n_cur,
           |    coalesce(br.n, 0) AS n_ref
           |  FROM bins LEFT JOIN bc ON bins.bin = bc.bin
           |  LEFT JOIN br ON bins.bin = br.bin),
           |t AS (SELECT CAST(sum(n_cur) + 12 AS BIGINT) AS nc,
           |    CAST(sum(n_ref) + 12 AS BIGINT) AS nr FROM j),
           |terms AS (SELECT bin, CAST(n_cur AS BIGINT) AS n_cur,
           |    CAST(n_ref AS BIGINT) AS n_ref,
           |    CAST(floor((CAST(n_cur + 1 AS DOUBLE) / t.nc -
           |      CAST(n_ref + 1 AS DOUBLE) / t.nr) *
           |      ln((CAST(n_cur + 1 AS DOUBLE) * t.nr) /
           |         (CAST(n_ref + 1 AS DOUBLE) * t.nc)) *
           |      1000000000 + 0.5) AS BIGINT) AS term_nano
           |  FROM j, t)
           |SELECT bin, n_cur, n_ref, term_nano,
           |  CAST(coalesce(sum(term_nano) OVER (), 0) AS BIGINT)
           |    AS psi_nano
           |FROM terms ORDER BY bin""".stripMargin)
  )

  /** Windowed Theil–Sen trend (fully oracled): hourly mean event value
    * per type, slope median over pairs with Δt ≤ 5 h — every slope the
    * exact truncating (10⁶·Δv) DIV Δt, the median an order statistic
    * over the (group, slope) counts frame. */
  val theilSenProbe = Probe(
    "q242_theil_sen",
    (s, d) => {
      import graft.operators.TimeSeries
      val series = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(ts) DIV 3600000000").as("h"),
          floor(col("value") * 1000000L + 0.5).cast("long").as("vmu"))
        .groupBy(col("event_type"), col("h"))
        .agg(expr("sum(vmu) DIV count(1)").as("v"))
      TimeSeries.theilSenWindowed(series, col("event_type"), col("h"),
        col("v"), maxLag = 5L)
    },
    Some("""WITH e AS (SELECT event_type AS g,
           |    epoch_us(ts::TIMESTAMP) // 3600000000 AS h,
           |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vmu
           |  FROM events WHERE event_type IS NOT NULL
           |    AND ts IS NOT NULL AND value IS NOT NULL),
           |s AS (SELECT g, h, CAST(sum(vmu) // count(*) AS BIGINT) AS v
           |  FROM e GROUP BY 1, 2),
           |p AS (SELECT a.g,
           |    (1000000 * (b.v - a.v)) // (b.h - a.h) AS sl
           |  FROM s a JOIN s b ON a.g = b.g AND b.h > a.h
           |    AND b.h <= a.h + 5),
           |c AS (SELECT g, sl, count(*) AS c FROM p GROUP BY 1, 2),
           |cm AS (SELECT g, sl,
           |    sum(c) OVER (PARTITION BY g ORDER BY sl ROWS BETWEEN
           |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    sum(c) OVER (PARTITION BY g) AS n FROM c),
           |m AS (SELECT g, CAST(n AS BIGINT) AS n_pairs,
           |    CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN sl END)
           |      AS BIGINT) AS slope_median_upm
           |  FROM cm GROUP BY g, n)
           |SELECT u.g AS "group", coalesce(m.n_pairs, 0) AS n_pairs,
           |  m.slope_median_upm
           |FROM (SELECT DISTINCT g FROM s) u LEFT JOIN m ON u.g = m.g
           |ORDER BY "group" NULLS FIRST""".stripMargin)
  )

  /** Per-column entropy profile (fully oracled): lang / source /
    * doc_id concentration in nano-nats — per-category pinned-IEEE
    * terms summed as longs, ln(k) ceiling alongside. */
  val columnEntropyProbe = Probe(
    "q243_column_entropy",
    (s, d) => {
      import graft.operators.Profile
      Profile.columnEntropy(Tables.documents(s, d),
        Seq("lang", "source", "doc_id"))
    },
    Some("""WITH
           |cl AS (SELECT CAST(lang AS VARCHAR) AS v FROM documents),
           |cs AS (SELECT CAST(source AS VARCHAR) AS v FROM documents),
           |ci AS (SELECT CAST(doc_id AS VARCHAR) AS v FROM documents),
           |gl AS (SELECT v, count(*) AS c FROM cl GROUP BY v),
           |gs AS (SELECT v, count(*) AS c FROM cs GROUP BY v),
           |gi AS (SELECT v, count(*) AS c FROM ci GROUP BY v),
           |el AS (SELECT 'lang' AS "column",
           |    CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CASE WHEN v IS NULL THEN c ELSE 0 END),
           |      0) AS BIGINT) AS n_null,
           |    CAST(count(*) AS BIGINT) AS n_distinct,
           |    CAST(coalesce(sum(CAST(floor((CAST(c AS DOUBLE) / tot.n)
           |      * ln(CAST(c AS DOUBLE) / tot.n) * -1000000000 + 0.5)
           |      AS BIGINT)), 0) AS BIGINT) AS entropy_nano
           |  FROM gl, (SELECT sum(c) AS n FROM gl) tot GROUP BY tot.n),
           |es AS (SELECT 'source' AS "column",
           |    CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CASE WHEN v IS NULL THEN c ELSE 0 END),
           |      0) AS BIGINT) AS n_null,
           |    CAST(count(*) AS BIGINT) AS n_distinct,
           |    CAST(coalesce(sum(CAST(floor((CAST(c AS DOUBLE) / tot.n)
           |      * ln(CAST(c AS DOUBLE) / tot.n) * -1000000000 + 0.5)
           |      AS BIGINT)), 0) AS BIGINT) AS entropy_nano
           |  FROM gs, (SELECT sum(c) AS n FROM gs) tot GROUP BY tot.n),
           |ei AS (SELECT 'doc_id' AS "column",
           |    CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CASE WHEN v IS NULL THEN c ELSE 0 END),
           |      0) AS BIGINT) AS n_null,
           |    CAST(count(*) AS BIGINT) AS n_distinct,
           |    CAST(coalesce(sum(CAST(floor((CAST(c AS DOUBLE) / tot.n)
           |      * ln(CAST(c AS DOUBLE) / tot.n) * -1000000000 + 0.5)
           |      AS BIGINT)), 0) AS BIGINT) AS entropy_nano
           |  FROM gi, (SELECT sum(c) AS n FROM gi) tot GROUP BY tot.n),
           |u AS (SELECT * FROM el UNION ALL SELECT * FROM es
           |  UNION ALL SELECT * FROM ei)
           |SELECT "column", n, n_null, n_distinct, entropy_nano,
           |  CAST(CASE WHEN n_distinct > 0 THEN
           |    floor(ln(CAST(n_distinct AS DOUBLE)) * 1000000000 + 0.5)
           |    ELSE 0 END AS BIGINT) AS ln_k_nano
           |FROM u ORDER BY "column"""".stripMargin)
  )

  /** Audio level metering (fully oracled END-TO-END through the real
    * WAV codec): 16-bit samples from a generative integer formula are
    * ENCODED to real WAV bytes, decoded back by the JDK codec, and
    * metered on the q15 integer scale — DuckDB replays the formula
    * directly (no WAV), so a codec that loses a single sample fails
    * the hash. */
  val audioLevelsProbe = Probe(
    "q244_audio_levels",
    (s, d) => {
      implicit val spark = s
      import spark.implicits._
      import graft.multimodal.{Codecs, Multimodal}
      val assets = spark.range(0, 120).as[Long].map { id =>
        val n = 800 + (id % 5).toInt * 400
        val samples = Array.tabulate(n)(i =>
          (((id * 31 + i.toLong * 7919) % 65536) - 32768).toShort)
        Multimodal.Asset(id, "audio", Codecs.encodeWav16(samples, 8000f),
          None, None, None)
      }
      Multimodal.audioLevels(assets).toDF()
        .select(col("asset_id"), col("decoded"), col("n_samples"),
          col("peak_q15"), col("sum_sq"), col("rms_q15"),
          col("duration_ms"))
        .orderBy("asset_id")
    },
    Some("""WITH s AS (SELECT t.i AS asset_id, u.j AS j,
           |    ((t.i * 31 + u.j * 7919) % 65536) - 32768 AS v
           |  FROM range(0, 120) t(i),
           |    unnest(range(800 + (t.i % 5) * 400)) AS u(j)),
           |a AS (SELECT asset_id, count(*) AS n, max(abs(v)) AS peak,
           |    sum(CAST(v AS BIGINT) * v) AS ss
           |  FROM s GROUP BY 1),
           |r0 AS (SELECT *, ss // n AS m,
           |    CAST(floor(sqrt(CAST(ss // n AS DOUBLE))) AS BIGINT) AS r
           |  FROM a)
           |SELECT asset_id, true AS decoded,
           |  CAST(n AS BIGINT) AS n_samples,
           |  CAST(peak AS BIGINT) AS peak_q15,
           |  CAST(ss AS BIGINT) AS sum_sq,
           |  CAST(CASE WHEN (r + 1) * (r + 1) <= m THEN r + 1
           |       WHEN r * r > m THEN r - 1 ELSE r END AS BIGINT)
           |    AS rms_q15,
           |  CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms
           |FROM r0 ORDER BY asset_id""".stripMargin)
  )

  /** Two-sample KS distance (fully oracled): per-language n_chars
    * distribution, even vs odd doc ids — the binning-free CDF-gap
    * drift gate; the supremum an integer max over DECIMAL cross
    * products, d_ppm one exact integer scale-and-divide. */
  val ksDistanceProbe = Probe(
    "q235_ks_distance",
    (s, d) => {
      import graft.operators.Profile
      Profile.ksDistance(
        Tables.documents(s, d)
          .filter(col("doc_id").isNotNull),
        col("lang"), col("doc_id") % 2 === 0, col("n_chars"))
    },
    Some("""WITH b AS (SELECT lang AS grp, doc_id % 2 = 0 AS sa,
           |    n_chars AS v
           |  FROM documents WHERE doc_id IS NOT NULL
           |    AND n_chars IS NOT NULL),
           |c AS (SELECT grp, v,
           |    CAST(sum(CASE WHEN sa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           |    CAST(sum(CASE WHEN NOT sa THEN 1 ELSE 0 END) AS BIGINT)
           |      AS cb
           |  FROM b GROUP BY 1, 2),
           |m AS (SELECT *,
           |    sum(ca) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN
           |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
           |    sum(cb) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN
           |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
           |    sum(ca) OVER (PARTITION BY grp) AS na,
           |    sum(cb) OVER (PARTITION BY grp) AS nb FROM c),
           |g AS (SELECT *,
           |    abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT)
           |      * na) AS gap FROM m),
           |x AS (SELECT *, max(gap) OVER (PARTITION BY grp) AS gmax
           |  FROM g)
           |SELECT grp AS "group", CAST(na AS BIGINT) AS n_a,
           |  CAST(nb AS BIGINT) AS n_b,
           |  CASE WHEN na > 0 AND nb > 0 THEN
           |    CAST((1000000 * gmax) // (CAST(na AS HUGEINT) * nb)
           |      AS BIGINT) END AS d_ppm,
           |  CASE WHEN na > 0 AND nb > 0 THEN
           |    CAST(min(CASE WHEN gap = gmax THEN v END) AS BIGINT)
           |  END AS ks_at
           |FROM x GROUP BY grp, na, nb, gmax
           |ORDER BY "group" NULLS FIRST""".stripMargin)
  )

  /** Mann–Whitney U (fully oracled): per-language location-shift test
    * of n_chars, even vs odd doc ids — u2 and the tie term exact
    * integers over the counts frame, z one pinned IEEE sequence
    * (div → sqrt → mul → div). */
  val mannWhitneyProbe = Probe(
    "q245_mann_whitney",
    (s, d) => {
      import graft.operators.Profile
      Profile.mannWhitney(
        Tables.documents(s, d).filter(col("doc_id").isNotNull),
        col("lang"), col("doc_id") % 2 === 0, col("n_chars"))
    },
    Some("""WITH b AS (SELECT lang AS grp, doc_id % 2 = 0 AS sa,
           |    n_chars AS v
           |  FROM documents WHERE doc_id IS NOT NULL
           |    AND n_chars IS NOT NULL),
           |c AS (SELECT grp, v,
           |    CAST(sum(CASE WHEN sa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           |    CAST(sum(CASE WHEN NOT sa THEN 1 ELSE 0 END) AS BIGINT)
           |      AS cb
           |  FROM b GROUP BY 1, 2),
           |m AS (SELECT *, coalesce(sum(cb) OVER (PARTITION BY grp
           |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
           |    1 PRECEDING), 0) AS cumb FROM c),
           |g AS (SELECT grp, CAST(sum(ca) AS BIGINT) AS n_a,
           |    CAST(sum(cb) AS BIGINT) AS n_b,
           |    coalesce(sum(CAST(ca AS HUGEINT) *
           |      (2 * CAST(cumb AS HUGEINT) + cb)), 0) AS u2,
           |    coalesce(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) *
           |      (ca + cb) - (ca + cb)), 0) AS tie
           |  FROM m GROUP BY 1),
           |z AS (SELECT *,
           |    CAST(n_a AS HUGEINT) * n_b *
           |      ((CAST(n_a + n_b AS HUGEINT) + 1) * (n_a + n_b) *
           |       (CAST(n_a + n_b AS HUGEINT) - 1) - tie) AS varnum,
           |    CAST(n_a + n_b AS HUGEINT) * (n_a + n_b - 1) * 12
           |      AS varden
           |  FROM g)
           |SELECT grp AS "group", n_a, n_b, CAST(u2 AS BIGINT) AS u2,
           |  CAST(tie AS BIGINT) AS tie_term,
           |  CASE WHEN n_a > 0 AND n_b > 0 AND varnum > 0 THEN
           |    CAST(u2 - CAST(n_a AS HUGEINT) * n_b AS DOUBLE) /
           |      (sqrt(CAST(varnum AS DOUBLE) / CAST(varden AS DOUBLE))
           |        * 2.0)
           |  END AS z
           |FROM z ORDER BY "group" NULLS FIRST""".stripMargin)
  )

  /** Cohen's κ (fully oracled): the embedding labels vs an md5-noised
    * copy (30% of items shifted one class) — chance-agreement products
    * exact integers, κ one IEEE division. */
  val cohenKappaProbe = Probe(
    "q246_cohen_kappa",
    (s, d) => {
      import graft.operators.Agreement
      val e = Tables.embeddings(s, d).filter(col("vec_id").isNotNull)
      val noisy = e.withColumn("r2",
        when(conv(substring(md5(concat(lit("r2|"),
            col("vec_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 10 < 3,
          (col("label") + 1) % 10).otherwise(col("label")))
      Agreement.cohenKappa(noisy, col("label"), col("r2"))
    },
    Some("""WITH b AS (SELECT CAST(label AS VARCHAR) AS a,
           |    CAST(CASE WHEN CAST('0x' || substr(md5('r2|' ||
           |        CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 < 3
           |      THEN (label + 1) % 10 ELSE label END AS VARCHAR) AS bb
           |  FROM embeddings WHERE vec_id IS NOT NULL),
           |cells AS (SELECT a, bb, count(*) AS n FROM b
           |  WHERE a IS NOT NULL AND bb IS NOT NULL GROUP BY 1, 2),
           |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CASE WHEN a = bb THEN n ELSE 0 END), 0)
           |      AS BIGINT) AS n_agree FROM cells),
           |nn AS (SELECT CAST(count(*) FILTER (WHERE a IS NULL
           |    OR bb IS NULL) AS BIGINT) AS n_null FROM b),
           |ra AS (SELECT a AS c, sum(n) AS ra FROM cells GROUP BY 1),
           |cbt AS (SELECT bb AS c, sum(n) AS cb FROM cells GROUP BY 1),
           |pe AS (SELECT coalesce(sum(CAST(ra.ra AS HUGEINT) * cbt.cb),
           |    0) AS pe FROM ra JOIN cbt USING (c))
           |SELECT tot.n, nn.n_null, tot.n_agree,
           |  CAST(pe.pe AS BIGINT) AS pe_num,
           |  CASE WHEN CAST(tot.n AS HUGEINT) * tot.n != pe.pe THEN
           |    CAST(CAST(tot.n_agree AS HUGEINT) * tot.n - pe.pe
           |      AS DOUBLE) /
           |    CAST(CAST(tot.n AS HUGEINT) * tot.n - pe.pe AS DOUBLE)
           |  END AS kappa
           |FROM tot, nn, pe""".stripMargin)
  )

  /** Shared synthetic votes frame for the Fleiss / majority-vote
    * probes: 3 raters per item (a 4th on every 7th item — exercises
    * the conformance drop), each vote the true label md5-shifted with
    * probability 0.2. */
  private def ratedVotes(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id").isNotNull)
      .select(col("vec_id"), col("label"),
        explode(sequence(lit(0),
          when(col("vec_id") % 7 === 0, 3).otherwise(2))).as("r"))
      .withColumn("vote",
        when(conv(substring(md5(concat_ws("|", lit("f"), col("vec_id"),
            col("r"))), 1, 15), 16, 10).cast("long") % 10 < 2,
          (col("label") + 1 + col("r")) % 10).otherwise(col("label")))

  private val ratedVotesSql =
    """v AS (SELECT vec_id, t.r AS r, label,
      |    CASE WHEN CAST('0x' || substr(md5('f|' ||
      |        CAST(vec_id AS VARCHAR) || '|' || CAST(t.r AS VARCHAR)),
      |        1, 15) AS BIGINT) % 10 < 2
      |      THEN (label + 1 + t.r) % 10 ELSE label END AS vote
      |  FROM embeddings,
      |    unnest(range(0, CASE WHEN vec_id % 7 = 0 THEN 4 ELSE 3 END))
      |      AS t(r)
      |  WHERE vec_id IS NOT NULL)""".stripMargin

  /** Fleiss' κ (fully oracled): 3-rater agreement over the synthetic
    * votes — S1/S2 exact integers, nonconforming items dropped
    * visibly, κ one IEEE division. */
  val fleissKappaProbe = Probe(
    "q247_fleiss_kappa",
    (s, d) => {
      import graft.operators.Agreement
      Agreement.fleissKappa(ratedVotes(s, d), col("vec_id"), col("vote"),
        raters = 3)
    },
    Some(s"""WITH $ratedVotesSql,
           |nij AS (SELECT CAST(vec_id AS VARCHAR) AS i,
           |    CAST(vote AS VARCHAR) AS vv, count(*) AS n
           |  FROM v WHERE vec_id IS NOT NULL AND vote IS NOT NULL
           |  GROUP BY 1, 2),
           |per AS (SELECT i, sum(n) AS ri, sum(n * n) AS sq
           |  FROM nij GROUP BY 1),
           |kept AS (SELECT * FROM per WHERE ri = 3),
           |drp AS (SELECT CAST(count(*) FILTER (WHERE ri != 3)
           |    AS BIGINT) AS n_dropped FROM per),
           |nn AS (SELECT CAST(count(*) FILTER (WHERE vec_id IS NULL
           |    OR vote IS NULL) AS BIGINT) AS n_null FROM v),
           |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
           |    CAST(coalesce(sum(sq), 0) - count(*) * 3 AS BIGINT)
           |      AS s1 FROM kept),
           |s2 AS (SELECT coalesce(sum(CAST(cj AS HUGEINT) * cj), 0)
           |    AS s2
           |  FROM (SELECT vv, sum(n) AS cj FROM nij
           |        WHERE i IN (SELECT i FROM kept) GROUP BY 1))
           |SELECT n_items, n_dropped, n_null, s1,
           |  CAST(s2 AS BIGINT) AS s2,
           |  CASE WHEN (CAST(n_items AS HUGEINT) * n_items * 9 - s2)
           |      * 2 != 0 THEN
           |    CAST(CAST(s1 AS HUGEINT) * n_items * 3 - s2 * 2
           |      AS DOUBLE) /
           |    CAST((CAST(n_items AS HUGEINT) * n_items * 9 - s2) * 2
           |      AS DOUBLE)
           |  END AS kappa
           |FROM s1, s2, drp, nn""".stripMargin)
  )

  /** Majority-vote label aggregation (fully oracled): per-item
    * consensus label with lexical tiebreak and truncating agreement
    * share, over the same votes frame as q247. */
  val majorityVoteProbe = Probe(
    "q248_majority_vote",
    (s, d) => {
      import graft.operators.Agreement
      Agreement.majorityVote(ratedVotes(s, d), col("vec_id"), col("vote"))
    },
    Some(s"""WITH $ratedVotesSql,
           |nij AS (SELECT CAST(vec_id AS VARCHAR) AS item,
           |    CAST(vote AS VARCHAR) AS vv, count(*) AS n
           |  FROM v WHERE vec_id IS NOT NULL AND vote IS NOT NULL
           |  GROUP BY 1, 2),
           |top AS (SELECT *, row_number() OVER (PARTITION BY item
           |    ORDER BY n DESC, vv) AS rn FROM nij),
           |tot AS (SELECT item, CAST(sum(n) AS BIGINT) AS n_votes
           |  FROM nij GROUP BY 1)
           |SELECT t.item, t.vv AS vote, tot.n_votes,
           |  CAST(t.n AS BIGINT) AS n_top,
           |  CAST((t.n * 1000000) // tot.n_votes AS BIGINT)
           |    AS agreement_ppm
           |FROM top t JOIN tot USING (item)
           |WHERE rn = 1 ORDER BY t.item""".stripMargin)
  )

  /** McNemar's paired test (fully oracled): two md5-noised language
    * classifiers on the same documents — concordance grid exact, chi2
    * a sign-safe truncating quotient. */
  val mcnemarProbe = Probe(
    "q249_mcnemar",
    (s, d) => {
      import graft.operators.Classify
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      val scored = docs
        .withColumn("pa",
          when(conv(substring(md5(concat(lit("a|"),
              col("doc_id").cast("string"))), 1, 15), 16, 10)
              .cast("long") % 4 < 3, col("lang")).otherwise(lit("en")))
        .withColumn("pb",
          when(conv(substring(md5(concat(lit("b|"),
              col("doc_id").cast("string"))), 1, 15), 16, 10)
              .cast("long") % 4 < 2, col("lang")).otherwise(lit("de")))
      Classify.mcnemar(scored, col("lang"), col("pa"), col("pb"))
    },
    Some("""WITH b AS (SELECT lang AS t,
           |    CASE WHEN CAST('0x' || substr(md5('a|' ||
           |        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 < 3
           |      THEN lang ELSE 'en' END AS pa,
           |    CASE WHEN CAST('0x' || substr(md5('b|' ||
           |        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 < 2
           |      THEN lang ELSE 'de' END AS pb
           |  FROM documents WHERE doc_id IS NOT NULL),
           |a AS (SELECT
           |    CAST(count(*) FILTER (WHERE t IS NOT NULL
           |      AND pa IS NOT NULL AND pb IS NOT NULL) AS BIGINT) AS n,
           |    CAST(count(*) FILTER (WHERE t IS NULL OR pa IS NULL
           |      OR pb IS NULL) AS BIGINT) AS n_null,
           |    CAST(count(*) FILTER (WHERE pa = t AND pb = t)
           |      AS BIGINT) AS n_both_right,
           |    CAST(count(*) FILTER (WHERE t IS NOT NULL
           |      AND pa IS NOT NULL AND pb IS NOT NULL
           |      AND pa != t AND pb != t) AS BIGINT) AS n_both_wrong,
           |    CAST(count(*) FILTER (WHERE pa = t AND pb != t)
           |      AS BIGINT) AS n_a_only,
           |    CAST(count(*) FILTER (WHERE t IS NOT NULL
           |      AND pa IS NOT NULL AND pa != t AND pb = t)
           |      AS BIGINT) AS n_b_only
           |  FROM b)
           |SELECT n, n_null, n_both_right, n_both_wrong, n_a_only,
           |  n_b_only,
           |  CASE WHEN n_a_only + n_b_only > 0 THEN
           |    CAST(((n_a_only - n_b_only) * (n_a_only - n_b_only)
           |      * 1000000) // (n_a_only + n_b_only) AS BIGINT)
           |  END AS chi2_micro
           |FROM a""".stripMargin)
  )

  /** Exact average precision (fully oracled): n_chars ranks documents,
    * lang='en' is the positive class, doc_id breaks score ties — every
    * precision@k a truncating ppm quotient. */
  val averagePrecisionProbe = Probe(
    "q250_average_precision",
    (s, d) => {
      import graft.operators.Classify
      Classify.averagePrecision(
        Tables.documents(s, d).filter(col("doc_id").isNotNull),
        col("n_chars"), col("lang") === "en", col("doc_id"))
    },
    Some("""WITH b AS (SELECT n_chars AS s, (lang = 'en') AS t,
           |    doc_id AS tb
           |  FROM documents WHERE doc_id IS NOT NULL
           |    AND n_chars IS NOT NULL AND lang IS NOT NULL),
           |r AS (SELECT *, row_number() OVER (ORDER BY s DESC, tb)
           |    AS k FROM b),
           |p AS (SELECT k, row_number() OVER (ORDER BY k) AS pr
           |  FROM r WHERE t),
           |c AS (SELECT CAST(count(*) FILTER (WHERE t) AS BIGINT)
           |      AS n_pos,
           |    CAST(count(*) FILTER (WHERE NOT t) AS BIGINT) AS n_neg
           |  FROM r),
           |nn AS (SELECT CAST(count(*) FILTER (WHERE n_chars IS NULL
           |    OR lang IS NULL) AS BIGINT) AS n_null
           |  FROM documents WHERE doc_id IS NOT NULL),
           |sm AS (SELECT CAST(coalesce(sum((pr * 1000000) // k), 0)
           |    AS BIGINT) AS sum_prec_ppm FROM p)
           |SELECT n_pos, n_neg, n_null, sum_prec_ppm,
           |  CASE WHEN n_pos > 0 THEN
           |    CAST(sum_prec_ppm // n_pos AS BIGINT) END AS ap_ppm
           |FROM c, nn, sm""".stripMargin)
  )

  /** Log loss (fully oracled): n_chars·2000 as a deliberately
    * out-of-range ppm score (clamps on BOTH ends are exercised and
    * counted), lang='en' the outcome — per-row pinned-IEEE surprisal,
    * order-free nano sum, truncating mean. */
  val logLossProbe = Probe(
    "q251_log_loss",
    (s, d) => {
      import graft.operators.Classify
      Classify.logLoss(
        Tables.documents(s, d).filter(col("doc_id").isNotNull),
        col("n_chars") * 2000L, col("lang") === "en")
    },
    Some("""WITH b AS (SELECT n_chars * 2000 AS p, (lang = 'en') AS t
           |  FROM documents WHERE doc_id IS NOT NULL),
           |r AS (SELECT CASE WHEN t THEN p ELSE 1000000 - p END AS pt
           |  FROM b WHERE p IS NOT NULL AND t IS NOT NULL),
           |r2 AS (SELECT pt, greatest(1, least(999999, pt)) AS pc
           |  FROM r),
           |nn AS (SELECT CAST(count(*) FILTER (WHERE p IS NULL
           |    OR t IS NULL) AS BIGINT) AS n_null FROM b),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(*) FILTER (WHERE pc != pt) AS BIGINT)
           |      AS n_clamped,
           |    CAST(coalesce(sum(CAST(floor(-ln(CAST(pc AS DOUBLE)
           |      / 1000000.0) * 1000000000 + 0.5) AS BIGINT)), 0)
           |      AS BIGINT) AS sum_nano
           |  FROM r2)
           |SELECT n, n_null, n_clamped, sum_nano,
           |  CASE WHEN n > 0 THEN sum_nano // n END AS mean_nano
           |FROM agg, nn""".stripMargin)
  )

  /** Log-rank test (fully oracled): do even and odd user cohorts show
    * the same time-to-first-error curve? — q224's survival frame split
    * into two cohorts; every e1/v term an exact HUGEINT-replayed
    * truncating quotient, z one pinned IEEE sequence. */
  val logRankProbe = Probe(
    "q254_log_rank",
    (s, d) => {
      import graft.operators.Survival
      val windowH = 24L
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("__t"),
          col("event_type"))
      val firsts = ev.groupBy(col("user_id"))
        .agg(min(col("__t")).as("__f"))
      val firstErr = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(min(col("__t")).as("__te"))
      val subjects = firsts.join(firstErr, Seq("user_id"), "left_outer")
        .select(
          (col("user_id") % 2 === 0).as("side_a"),
          when(col("__te").isNotNull &&
              expr("(__te - __f) DIV 3600000000") < windowH,
            expr("(__te - __f) DIV 3600000000")).otherwise(lit(windowH))
            .as("dur_h"),
          (col("__te").isNotNull &&
            expr("(__te - __f) DIV 3600000000") < windowH).as("observed"))
      Survival.logRank(subjects, col("side_a"), col("dur_h"),
        col("observed"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS t,
           |    event_type
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |u AS (SELECT user_id, min(t) AS f FROM e GROUP BY 1),
           |err AS (SELECT user_id, min(t) AS te FROM e
           |  WHERE event_type = 'error' GROUP BY 1),
           |subj AS (SELECT user_id % 2 = 0 AS a,
           |    CASE WHEN te IS NOT NULL AND (te - f) // 3600000000 < 24
           |      THEN (te - f) // 3600000000 ELSE 24 END AS d,
           |    te IS NOT NULL AND (te - f) // 3600000000 < 24 AS o
           |  FROM u LEFT JOIN err USING (user_id)),
           |tot AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_a,
           |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_b FROM subj),
           |perT AS (SELECT d,
           |    CAST(sum(CASE WHEN a AND o THEN 1 ELSE 0 END) AS BIGINT)
           |      AS d1,
           |    CAST(sum(CASE WHEN a AND NOT o THEN 1 ELSE 0 END)
           |      AS BIGINT) AS c1,
           |    CAST(sum(CASE WHEN NOT a AND o THEN 1 ELSE 0 END)
           |      AS BIGINT) AS d2,
           |    CAST(sum(CASE WHEN NOT a AND NOT o THEN 1 ELSE 0 END)
           |      AS BIGINT) AS c2
           |  FROM subj GROUP BY 1),
           |r AS (SELECT *,
           |    (SELECT n_a FROM tot) - coalesce(sum(d1 + c1) OVER (
           |      ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
           |      1 PRECEDING), 0) AS n1,
           |    (SELECT n_b FROM tot) - coalesce(sum(d2 + c2) OVER (
           |      ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
           |      1 PRECEDING), 0) AS n2
           |  FROM perT),
           |st AS (SELECT d1, d2, n1, n2, n1 + n2 AS n, d1 + d2 AS dt
           |  FROM r WHERE d1 + d2 > 0),
           |agg AS (SELECT CAST(coalesce(sum(d1), 0) AS BIGINT) AS o_a,
           |    CAST(coalesce(sum(d2), 0) AS BIGINT) AS o_b,
           |    CAST(coalesce(sum((CAST(dt AS HUGEINT) * n1 * 1000000)
           |      // n), 0) AS BIGINT) AS e_a_micro,
           |    CAST(coalesce(sum(CASE WHEN n > 1 THEN
           |      (CAST(dt AS HUGEINT) * n1 * (n - n1) * (n - dt)
           |        * 1000000) // (CAST(n AS HUGEINT) * n * (n - 1))
           |      ELSE 0 END), 0) AS BIGINT) AS var_micro
           |  FROM st)
           |SELECT tot.n_a, tot.n_b, o_a, o_b, e_a_micro, var_micro,
           |  CASE WHEN var_micro > 0 THEN
           |    CAST(o_a * 1000000 - e_a_micro AS DOUBLE) /
           |      (sqrt(CAST(var_micro AS DOUBLE)) * 1000.0)
           |  END AS z
           |FROM agg, tot""".stripMargin)
  )

  /** Benjamini–Hochberg FDR gate (fully oracled): a battery of
    * per-(source, lang) md5 p-values with a planted low-p 'en' block —
    * integer cleared-denominator acceptance, step-up k_max semantics. */
  val bhProbe = Probe(
    "q255_benjamini_hochberg",
    (s, d) => {
      import graft.operators.Classify
      val cells = Tables.documents(s, d)
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .select(concat_ws(":", col("source"), col("lang")).as("tst"),
          col("lang")).distinct()
      val withP = cells
        .withColumn("h",
          conv(substring(md5(concat(lit("p|"), col("tst"))), 1, 15),
            16, 10).cast("long") % 1000001L)
        .withColumn("p",
          when(col("lang") === "en", expr("h DIV 37")).otherwise(col("h")))
      Classify.benjaminiHochberg(withP, col("tst"), col("p"), 50000L)
    },
    Some("""WITH cells AS (SELECT DISTINCT source || ':' || lang AS tst,
           |    lang FROM documents
           |  WHERE source IS NOT NULL AND lang IS NOT NULL),
           |hp AS (SELECT tst, lang,
           |    CAST('0x' || substr(md5('p|' || tst), 1, 15) AS BIGINT)
           |      % 1000001 AS h
           |  FROM cells),
           |p AS (SELECT tst, CASE WHEN lang = 'en' THEN h // 37
           |    ELSE h END AS p FROM hp),
           |r AS (SELECT tst, p, CAST(row_number() OVER (ORDER BY p,
           |    tst) AS BIGINT) AS rank FROM p),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n_tests FROM r),
           |k AS (SELECT max(CASE WHEN CAST(p AS HUGEINT) * m.n_tests
           |    <= CAST(rank AS HUGEINT) * 50000 THEN rank END) AS kmax
           |  FROM r, m)
           |SELECT tst AS test, p AS p_micro, rank, m.n_tests,
           |  CAST(0 AS BIGINT) AS n_dropped,
           |  CAST((CAST(rank AS HUGEINT) * 50000) // m.n_tests
           |    AS BIGINT) AS threshold_micro,
           |  k.kmax IS NOT NULL AND rank <= k.kmax AS selected
           |FROM r, m, k ORDER BY rank""".stripMargin)
  )

  /** Top principal component (fully oracled): 3 power-iteration rounds
    * over the exact integer covariance moments of the 64-dim embedding
    * cloud — signed max-abs rescale with magnitude-only truncating
    * quotients, every round replayed in DuckDB HUGEINT. */
  val topComponentProbe = Probe(
    "q256_top_component",
    (s, d) => Similarity.topComponent(
      Tables.embeddings(s, d), col("embedding"), dim = 64, iters = 3),
    Some("""WITH v AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
           |q AS (SELECT vec_id, g.i - 1 AS i,
           |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000
           |      + 0.5) AS BIGINT) AS qv
           |  FROM v, generate_series(1, 64) g(i)),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM v),
           |s AS (SELECT i, CAST(sum(qv) AS BIGINT) AS sv FROM q
           |  GROUP BY 1),
           |p AS (SELECT a.i AS i, b.i AS j,
           |    CAST(sum(CAST(a.qv AS HUGEINT) * b.qv) AS BIGINT) AS sp
           |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
           |c AS (SELECT p.i, p.j,
           |    CAST((CAST(n.n_vecs AS HUGEINT) * p.sp
           |      - CAST(si.sv AS HUGEINT) * sj.sv) // n.n_vecs
           |      AS BIGINT) AS cov
           |  FROM p, n JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j),
           |v0 AS (SELECT DISTINCT j, CAST(1000000 + j AS BIGINT) AS sc
           |  FROM c),
           |u1 AS (SELECT c.i, sum(CAST(c.cov AS HUGEINT) * v0.sc) AS u
           |  FROM c JOIN v0 ON c.j = v0.j GROUP BY 1),
           |m1 AS (SELECT max(abs(u)) AS mx FROM u1),
           |w1 AS (SELECT i AS j, CASE WHEN m1.mx > 0 THEN
           |    (CASE WHEN u < 0 THEN -1 ELSE 1 END) *
           |    CAST((abs(u) * 1000000) // m1.mx AS BIGINT)
           |    ELSE 0 END AS sc FROM u1, m1),
           |u2 AS (SELECT c.i, sum(CAST(c.cov AS HUGEINT) * w1.sc) AS u
           |  FROM c JOIN w1 ON c.j = w1.j GROUP BY 1),
           |m2 AS (SELECT max(abs(u)) AS mx FROM u2),
           |w2 AS (SELECT i AS j, CASE WHEN m2.mx > 0 THEN
           |    (CASE WHEN u < 0 THEN -1 ELSE 1 END) *
           |    CAST((abs(u) * 1000000) // m2.mx AS BIGINT)
           |    ELSE 0 END AS sc FROM u2, m2),
           |u3 AS (SELECT c.i, sum(CAST(c.cov AS HUGEINT) * w2.sc) AS u
           |  FROM c JOIN w2 ON c.j = w2.j GROUP BY 1),
           |m3 AS (SELECT max(abs(u)) AS mx FROM u3),
           |w3 AS (SELECT i AS j, CASE WHEN m3.mx > 0 THEN
           |    (CASE WHEN u < 0 THEN -1 ELSE 1 END) *
           |    CAST((abs(u) * 1000000) // m3.mx AS BIGINT)
           |    ELSE 0 END AS sc FROM u3, m3)
           |SELECT w3.j AS i, w3.sc AS v_micro,
           |  CAST(coalesce(m3.mx // 1000000, 0) AS BIGINT) AS lambda_q2
           |FROM w3, m3 ORDER BY i""".stripMargin)
  )

  /** Tokenizer fertility (fully oracled): per-language chars/token,
    * bytes/token, bytes/char — the token-budget sizing table; exact
    * LONG sums, truncating ppm quotients. */
  val fertilityProbe = Probe(
    "q257_fertility",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.fertility(Tables.documents(s, d), col("lang"),
        col("text"))
    },
    Some("""WITH b AS (SELECT lang, text FROM documents
           |  WHERE lang IS NOT NULL AND text IS NOT NULL),
           |t AS (SELECT lang,
           |    CAST(len(list_filter(string_split_regex(lower(text),
           |      '\s+'), x -> len(x) > 0)) AS BIGINT) AS tok,
           |    CAST(length(text) AS BIGINT) AS ch,
           |    CAST(strlen(text) AS BIGINT) AS by FROM b),
           |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(tok) AS BIGINT) AS n_tokens,
           |    CAST(sum(ch) AS BIGINT) AS n_chars,
           |    CAST(sum(by) AS BIGINT) AS n_bytes FROM t GROUP BY 1)
           |SELECT lang, n_docs, n_tokens, n_chars, n_bytes,
           |  CASE WHEN n_tokens > 0 THEN
           |    CAST((n_chars * 1000000) // n_tokens AS BIGINT) END
           |    AS chars_per_token_ppm,
           |  CASE WHEN n_tokens > 0 THEN
           |    CAST((n_bytes * 1000000) // n_tokens AS BIGINT) END
           |    AS bytes_per_token_ppm,
           |  CASE WHEN n_chars > 0 THEN
           |    CAST((n_bytes * 1000000) // n_chars AS BIGINT) END
           |    AS bytes_per_char_ppm
           |FROM a ORDER BY lang""".stripMargin)
  )

  /** Pinball loss (fully oracled): a per-language truncating-mean
    * forecaster of n_chars scored at q10/q50/q90 — signed errors,
    * nonneg-by-construction losses, every quotient replayed. */
  val pinballProbe = Probe(
    "q258_pinball",
    (s, d) => {
      import graft.operators.Classify
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull &&
        col("n_chars").isNotNull && col("lang").isNotNull)
      val pred = docs.groupBy(col("lang"))
        .agg(expr("sum(n_chars) DIV count(1)").as("pred"))
      Classify.pinballLoss(docs.join(broadcast(pred), "lang"),
        col("n_chars"), col("pred"), Seq(100000L, 500000L, 900000L))
    },
    Some("""WITH b AS (SELECT lang, n_chars FROM documents
           |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
           |    AND lang IS NOT NULL),
           |m AS (SELECT lang, CAST(sum(n_chars) // count(*) AS BIGINT)
           |    AS pred FROM b GROUP BY 1),
           |j AS (SELECT n_chars AS y, pred AS p FROM b
           |  JOIN m USING (lang)),
           |f AS (SELECT q.q AS q_ppm, CAST(y - p AS HUGEINT) AS d
           |  FROM j, (VALUES (100000), (500000), (900000)) q(q)),
           |l AS (SELECT q_ppm,
           |    greatest(q_ppm * d, (q_ppm - 1000000) * d) // 1000000
           |      AS loss FROM f)
           |SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
           |  CAST(count(*) AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_null,
           |  CAST(coalesce(sum(loss), 0) AS BIGINT) AS sum_micro,
           |  CASE WHEN count(*) > 0 THEN
           |    CAST(coalesce(sum(loss), 0) // count(*) AS BIGINT) END
           |    AS mean_micro
           |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** Transition conditional entropy (fully oracled): H(next|cur) over
    * per-user event flows — q150's pair frame, pinned-ln nano terms,
    * exact integer corpus weighting. */
  val transitionEntropyProbe = Probe(
    "q259_transition_entropy",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.transitionEntropy(Tables.events(s, d), col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"))
    },
    Some("""WITH seq AS (SELECT user_id, event_type AS s,
           |    lag(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS prev
           |  FROM events),
           |p AS (SELECT prev AS f, s AS t, count(*) AS n FROM seq
           |  WHERE prev IS NOT NULL AND s IS NOT NULL GROUP BY 1, 2),
           |w AS (SELECT *, CAST(sum(n) OVER (PARTITION BY f) AS BIGINT)
           |    AS n_from FROM p),
           |c AS (SELECT f, n_from,
           |    CAST(coalesce(sum(CAST(floor(-(CAST(n AS DOUBLE)
           |      / n_from) * ln(CAST(n AS DOUBLE) / n_from)
           |      * 1000000000 + 0.5) AS BIGINT)), 0) AS BIGINT)
           |      AS h_nano
           |  FROM w GROUP BY 1, 2),
           |t AS (SELECT *, CAST(sum(n_from) OVER () AS BIGINT)
           |    AS n_total FROM c)
           |SELECT f AS from_state, n_from, h_nano, n_total,
           |  CAST(sum(CAST(n_from AS HUGEINT) * h_nano) OVER ()
           |    // n_total AS BIGINT) AS cond_h_nano
           |FROM t ORDER BY from_state""".stripMargin)
  )

  /** Spearman rank correlation (fully oracled): n_chars vs UTF-8 byte
    * length per language — doubled midranks exact over the counts
    * frame, moments in HUGEINT, rho one pinned IEEE sequence. */
  val spearmanProbe = Probe(
    "q260_spearman",
    (s, d) => {
      import graft.operators.Profile
      Profile.spearman(
        Tables.documents(s, d).filter(col("doc_id").isNotNull),
        col("lang"), col("n_chars"), octet_length(col("text")))
    },
    Some("""WITH b AS (SELECT lang AS g, n_chars AS x,
           |    CAST(strlen(text) AS BIGINT) AS y
           |  FROM documents WHERE doc_id IS NOT NULL
           |    AND n_chars IS NOT NULL AND text IS NOT NULL),
           |cx AS (SELECT g, x, count(*) AS c FROM b GROUP BY 1, 2),
           |rx AS (SELECT g, x, 2 * coalesce(sum(c) OVER (
           |    PARTITION BY g ORDER BY x ROWS BETWEEN UNBOUNDED
           |    PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2x FROM cx),
           |cy AS (SELECT g, y, count(*) AS c FROM b GROUP BY 1, 2),
           |ry AS (SELECT g, y, 2 * coalesce(sum(c) OVER (
           |    PARTITION BY g ORDER BY y ROWS BETWEEN UNBOUNDED
           |    PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2y FROM cy),
           |j AS (SELECT b.g, rx.r2x, ry.r2y FROM b
           |  JOIN rx ON b.g IS NOT DISTINCT FROM rx.g AND b.x = rx.x
           |  JOIN ry ON b.g IS NOT DISTINCT FROM ry.g AND b.y = ry.y),
           |mo AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    sum(CAST(r2x AS HUGEINT)) AS sx,
           |    sum(CAST(r2y AS HUGEINT)) AS sy,
           |    sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
           |    sum(CAST(r2y AS HUGEINT) * r2y) AS syy,
           |    sum(CAST(r2x AS HUGEINT) * r2y) AS sxy
           |  FROM j GROUP BY 1),
           |z AS (SELECT g, n, n * sxy - sx * sy AS num,
           |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
           |  FROM mo)
           |SELECT g AS "group", n, CAST(num AS BIGINT) AS num,
           |  CAST(dx AS BIGINT) AS den_x, CAST(dy AS BIGINT) AS den_y,
           |  CASE WHEN dx > 0 AND dy > 0 THEN
           |    CAST(num AS DOUBLE) / (sqrt(CAST(dx AS DOUBLE)) *
           |      sqrt(CAST(dy AS DOUBLE)))
           |  END AS rho
           |FROM z ORDER BY "group" NULLS FIRST""".stripMargin)
  )

  /** CUPED adjustment (fully oracled): per-event cents metric with the
    * event_id-derived covariate — pooled θ from exact integer moments,
    * adjusted means one pinned IEEE sequence. */
  val cupedProbe = Probe(
    "q261_cuped",
    (s, d) => {
      import graft.operators.Analytics
      val ev = Tables.events(s, d)
        .filter(col("event_id").isNotNull && col("value").isNotNull)
        .select(
          when(col("user_id") % 2 === 0, "even").otherwise("odd")
            .as("variant"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("y"),
          (col("event_id") % 100).as("x"))
      Analytics.cuped(ev, col("variant"), col("y"), col("x"))
    },
    Some("""WITH b AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even'
           |      ELSE 'odd' END AS variant,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y,
           |    event_id % 100 AS x
           |  FROM events WHERE event_id IS NOT NULL
           |    AND value IS NOT NULL),
           |pv AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(y) AS BIGINT) AS sum_y,
           |    CAST(sum(x) AS BIGINT) AS sum_x FROM b GROUP BY 1),
           |po AS (SELECT CAST(count(*) AS BIGINT) AS nn,
           |    sum(CAST(x AS HUGEINT)) AS sx,
           |    sum(CAST(y AS HUGEINT)) AS sy,
           |    sum(CAST(x AS HUGEINT) * y) AS sxy,
           |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM b),
           |z AS (SELECT *, nn * sxy - sx * sy AS num,
           |    nn * sxx - sx * sx AS den FROM po)
           |SELECT variant, n, sum_y, sum_x,
           |  CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den,
           |  CASE WHEN den > 0 THEN CAST(num AS DOUBLE) /
           |    CAST(den AS DOUBLE) END AS theta,
           |  CAST(sum_y AS DOUBLE) / n AS mean_y,
           |  CASE WHEN den > 0 THEN CAST(sum_y AS DOUBLE) / n -
           |    (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) *
           |    (CAST(sum_x AS DOUBLE) / n - CAST(sx AS DOUBLE) / nn)
           |  ELSE CAST(sum_y AS DOUBLE) / n END AS adj_mean
           |FROM pv, z ORDER BY variant""".stripMargin)
  )

  /** Post-stratification (fully oracled): documents reweighted to a
    * fixed population mix with a pop-only ('ja') and a sample-only
    * ('de') stratum — nested truncating quotients replayed exactly. */
  val postStratifyProbe = Probe(
    "q262_post_stratify",
    (s, d) => {
      import graft.operators.Sampling
      val sp = s; import sp.implicits._
      val pop = Seq(("en", 5000L), ("es", 2000L), ("fr", 1500L),
        ("zh", 1500L), ("ja", 1000L)).toDF("stratum", "pop_n")
      Sampling.postStratify(
        Tables.documents(s, d).filter(col("doc_id").isNotNull),
        col("lang"), col("n_chars"), pop)
    },
    Some("""WITH samp AS (SELECT lang AS s, n_chars AS v FROM documents
           |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
           |sa AS (SELECT s, CAST(count(*) AS BIGINT) AS n_sample,
           |    CAST(sum(v) AS BIGINT) AS sum_v FROM samp GROUP BY 1),
           |pop AS (SELECT * FROM (VALUES ('en', 5000), ('es', 2000),
           |    ('fr', 1500), ('zh', 1500), ('ja', 1000))
           |    p(stratum, pop_n)),
           |j AS (SELECT coalesce(sa.s, pop.stratum) AS stratum,
           |    sa.n_sample, sa.sum_v, CAST(pop.pop_n AS BIGINT) AS pop_n
           |  FROM sa FULL OUTER JOIN pop
           |    ON sa.s IS NOT DISTINCT FROM pop.stratum),
           |t AS (SELECT *,
           |    CAST(coalesce(sum(n_sample) OVER (), 0) AS BIGINT)
           |      AS ntot,
           |    CAST(coalesce(sum(sum_v) OVER (), 0) AS BIGINT) AS vtot,
           |    CAST(coalesce(sum(pop_n) OVER (), 0) AS BIGINT)
           |      AS poptot,
           |    CAST(coalesce(sum(CASE WHEN n_sample > 0 THEN pop_n END)
           |      OVER (), 0) AS BIGINT) AS nrep,
           |    coalesce(sum(CASE WHEN n_sample > 0 AND pop_n IS NOT
           |      NULL THEN (CAST(pop_n AS HUGEINT) * sum_v * 1000000)
           |      // n_sample END) OVER (), 0) AS termsum
           |  FROM j)
           |SELECT stratum, n_sample, sum_v, pop_n,
           |  CASE WHEN n_sample > 0 THEN
           |    CAST((sum_v * 1000000) // n_sample AS BIGINT) END
           |    AS mean_micro,
           |  CASE WHEN n_sample > 0 AND pop_n IS NOT NULL AND nrep > 0
           |    THEN CAST((CAST(pop_n AS HUGEINT) * ntot * 1000000) //
           |      (CAST(nrep AS HUGEINT) * n_sample) AS BIGINT) END
           |    AS weight_ppm,
           |  CASE WHEN ntot > 0 THEN
           |    CAST((vtot * 1000000) // ntot AS BIGINT) END
           |    AS naive_mean_micro,
           |  CASE WHEN nrep > 0 THEN CAST(termsum // nrep AS BIGINT)
           |    END AS post_mean_micro,
           |  CASE WHEN poptot > 0 THEN
           |    CAST((nrep * 1000000) // poptot AS BIGINT) END
           |    AS pop_covered_ppm
           |FROM t ORDER BY stratum NULLS FIRST""".stripMargin)
  )

  /** Quantile–quantile shift (fully oracled): decile profile of
    * n_chars, even vs odd doc ids — order statistics off the counts
    * frame, generator-based k assignment, no range-condition join. */
  val qqShiftProbe = Probe(
    "q263_qq_shift",
    (s, d) => {
      import graft.operators.Profile
      Profile.qqShift(
        Tables.documents(s, d).filter(col("doc_id").isNotNull),
        col("doc_id") % 2 === 0, col("n_chars"), nq = 10)
    },
    Some("""WITH b AS (SELECT doc_id % 2 = 0 AS sa, n_chars AS v
           |  FROM documents WHERE doc_id IS NOT NULL
           |    AND n_chars IS NOT NULL),
           |c AS (SELECT sa, v, count(*) AS cnt FROM b GROUP BY 1, 2),
           |w AS (SELECT *,
           |    sum(cnt) OVER (PARTITION BY sa ORDER BY v ROWS BETWEEN
           |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    sum(cnt) OVER (PARTITION BY sa) AS n FROM c),
           |h AS (SELECT sa, v, n, t.k AS k FROM w,
           |    unnest(range(CAST(((cum - cnt) * 10) // n + 1 AS BIGINT),
           |      CAST((cum * 10) // n + 1 AS BIGINT))) AS t(k)
           |  WHERE t.k >= 1 AND t.k <= 10),
           |ks AS (SELECT unnest(range(1, 11)) AS k),
           |g AS (SELECT ks.k AS k,
           |    max(CASE WHEN sa THEN n END) AS n_a,
           |    max(CASE WHEN NOT sa THEN n END) AS n_b,
           |    min(CASE WHEN sa THEN v END) AS q_a,
           |    min(CASE WHEN NOT sa THEN v END) AS q_b
           |  FROM ks LEFT JOIN h ON ks.k = h.k GROUP BY 1)
           |SELECT CAST(k AS INT) AS k, CAST(n_a AS BIGINT) AS n_a,
           |  CAST(n_b AS BIGINT) AS n_b, CAST(q_a AS BIGINT) AS q_a,
           |  CAST(q_b AS BIGINT) AS q_b,
           |  CAST(q_b - q_a AS BIGINT) AS delta
           |FROM g ORDER BY k""".stripMargin)
  )

  /** MASE backtest (fully oracled): hourly per-type event-cents series
    * scored by a lag-2 persistence model against the lag-1 naive —
    * exact LONG error sums, one truncating quotient. */
  val maseProbe = Probe(
    "q264_mase",
    (s, d) => {
      import graft.operators.TimeSeries
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type").as("k"),
          expr("unix_micros(ts) DIV 3600000000").as("h"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
      val series = ev.groupBy(col("k"), col("h"))
        .agg(sum(col("c")).as("y"))
      val wp = Window.partitionBy(col("k")).orderBy(col("h"))
      val withPred = series.withColumn("p", lag(col("y"), 2).over(wp))
      TimeSeries.mase(withPred, col("k"), Seq(col("h")), col("y"),
        col("p"))
    },
    Some("""WITH e AS (SELECT event_type AS k,
           |    epoch_us(ts::TIMESTAMP) // 3600000000 AS h,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
           |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
           |s AS (SELECT k, h, CAST(sum(c) AS BIGINT) AS y FROM e
           |  GROUP BY 1, 2),
           |w AS (SELECT *, lag(y, 2) OVER (PARTITION BY k ORDER BY h)
           |    AS p FROM s),
           |g AS (SELECT * FROM w WHERE y IS NOT NULL
           |  AND p IS NOT NULL),
           |f AS (SELECT k, y, p, lag(y, 1) OVER (PARTITION BY k
           |    ORDER BY h) AS prev FROM g),
           |a AS (SELECT k AS key, CAST(count(*) AS BIGINT) AS n_scored,
           |    CAST(coalesce(sum(abs(y - p)), 0) AS BIGINT)
           |      AS sum_model_err,
           |    CAST(coalesce(sum(abs(y - prev)), 0) AS BIGINT)
           |      AS sum_naive_err
           |  FROM f WHERE prev IS NOT NULL GROUP BY 1)
           |SELECT key, n_scored, sum_model_err, sum_naive_err,
           |  CASE WHEN sum_naive_err > 0 THEN
           |    CAST((sum_model_err * 1000000) // sum_naive_err
           |      AS BIGINT) END AS mase_ppm
           |FROM a ORDER BY key""".stripMargin)
  )

  /** Youden-J threshold (fully oracled): the q153 scored frame swept
    * for the TPR−FPR-optimal cut — cumulative class counts, quantized
    * J, smallest-threshold ties. */
  val bestThresholdProbe = Probe(
    "q265_best_threshold",
    (s, d) => {
      import graft.operators.Classify
      Classify.bestThreshold(Tables.documents(s, d), col("n_chars"),
        col("lang") === "en")
    },
    Some("""WITH s AS (SELECT n_chars AS sc, (lang = 'en') AS t
           |  FROM documents WHERE n_chars IS NOT NULL
           |    AND lang IS NOT NULL),
           |g AS (SELECT sc,
           |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
           |      AS np,
           |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
           |      AS nn
           |  FROM s GROUP BY 1),
           |tot AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
           |    CAST(sum(nn) AS BIGINT) AS n_neg FROM g),
           |c AS (SELECT sc, np, nn,
           |    coalesce(sum(np) OVER (ORDER BY sc ROWS BETWEEN
           |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb,
           |    coalesce(sum(nn) OVER (ORDER BY sc ROWS BETWEEN
           |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
           |  FROM g),
           |j AS (SELECT sc, tot.n_pos - pb AS tp, tot.n_neg - nb AS fp,
           |    ((tot.n_pos - pb) * 1000000) // tot.n_pos -
           |      ((tot.n_neg - nb) * 1000000) // tot.n_neg AS jm
           |  FROM c, tot WHERE tot.n_pos > 0 AND tot.n_neg > 0),
           |b AS (SELECT sc, tp, fp, jm FROM j
           |  ORDER BY jm DESC, sc ASC LIMIT 1),
           |z AS (SELECT CAST(count(*) FILTER (WHERE n_chars IS NULL
           |    OR lang IS NULL) AS BIGINT) AS n_null FROM documents)
           |SELECT tot.n_pos, tot.n_neg, z.n_null,
           |  CAST(b.sc AS BIGINT) AS threshold,
           |  CAST(b.tp AS BIGINT) AS tp, CAST(b.fp AS BIGINT) AS fp,
           |  CAST(tot.n_pos - b.tp AS BIGINT) AS fn,
           |  CAST(tot.n_neg - b.fp AS BIGINT) AS tn,
           |  CAST(b.jm AS BIGINT) AS j_micro
           |FROM tot, z, b""".stripMargin)
  )

  /** Empirical-Bayes shrinkage (fully oracled): supplier-bucket return
    * rates shrunk toward a Beta(5, 15) prior — exact integer
    * leaderboard, globalRank total order. */
  val ebShrinkProbe = Probe(
    "q266_eb_shrink",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.ebShrink(
        Tables.lineitem(s, d).filter(col("l_suppkey").isNotNull &&
          col("l_returnflag").isNotNull),
        col("l_suppkey") % 50, col("l_returnflag") === "R",
        alphaMicro = 5000000L, betaMicro = 15000000L)
    },
    Some("""WITH b AS (SELECT CAST(l_suppkey % 50 AS VARCHAR) AS key,
           |    (l_returnflag = 'R') AS s
           |  FROM lineitem WHERE l_suppkey IS NOT NULL
           |    AND l_returnflag IS NOT NULL),
           |a AS (SELECT key, CAST(count(*) AS BIGINT) AS trials,
           |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT)
           |      AS successes FROM b GROUP BY 1),
           |e AS (SELECT *,
           |    CAST((successes * 1000000) // trials AS BIGINT)
           |      AS raw_ppm,
           |    CAST(((CAST(successes AS HUGEINT) * 1000000 + 5000000)
           |      * 1000000) // (CAST(trials AS HUGEINT) * 1000000
           |      + 20000000) AS BIGINT) AS eb_ppm FROM a),
           |r AS (SELECT *, CAST(row_number() OVER (ORDER BY eb_ppm
           |    DESC, key) AS BIGINT) AS rank FROM e)
           |SELECT key, trials, successes, raw_ppm, eb_ppm, rank
           |FROM r ORDER BY rank""".stripMargin)
  )

  /** Simpson's-paradox scan (fully oracled): even-vs-odd user cohorts
    * sliced by event type — direction via exact cross-product
    * compares, zero divisions anywhere. */
  val simpsonProbe = Probe(
    "q267_simpson",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.simpsonCheck(
        Tables.events(s, d).filter(col("value").isNotNull &&
          col("user_id").isNotNull),
        col("user_id") % 2 === 0, col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
    },
    Some("""WITH b AS (SELECT user_id % 2 = 0 AS a,
           |    event_type AS slice,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
           |  FROM events WHERE value IS NOT NULL
           |    AND user_id IS NOT NULL),
           |s AS (SELECT slice,
           |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_a,
           |    CAST(coalesce(sum(CASE WHEN a THEN v END), 0) AS BIGINT)
           |      AS sum_a,
           |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_b,
           |    CAST(coalesce(sum(CASE WHEN NOT a THEN v END), 0)
           |      AS BIGINT) AS sum_b
           |  FROM b GROUP BY 1),
           |t AS (SELECT *, CAST(sum(n_a) OVER () AS BIGINT) AS ta,
           |    CAST(sum(sum_a) OVER () AS BIGINT) AS sa,
           |    CAST(sum(n_b) OVER () AS BIGINT) AS tb,
           |    CAST(sum(sum_b) OVER () AS BIGINT) AS sb FROM s),
           |dd AS (SELECT *,
           |    CASE WHEN n_a = 0 OR n_b = 0 THEN 0
           |      WHEN CAST(sum_a AS HUGEINT) * n_b >
           |        CAST(sum_b AS HUGEINT) * n_a THEN 1
           |      WHEN CAST(sum_a AS HUGEINT) * n_b <
           |        CAST(sum_b AS HUGEINT) * n_a THEN -1 ELSE 0 END
           |      AS dir_slice,
           |    CASE WHEN ta = 0 OR tb = 0 THEN 0
           |      WHEN CAST(sa AS HUGEINT) * tb >
           |        CAST(sb AS HUGEINT) * ta THEN 1
           |      WHEN CAST(sa AS HUGEINT) * tb <
           |        CAST(sb AS HUGEINT) * ta THEN -1 ELSE 0 END
           |      AS dir_overall
           |  FROM t)
           |SELECT slice, n_a, sum_a, n_b, sum_b,
           |  CAST(dir_slice AS INT) AS dir_slice,
           |  CAST(dir_overall AS INT) AS dir_overall,
           |  dir_slice * dir_overall = -1 AS flipped
           |FROM dd ORDER BY slice NULLS FIRST""".stripMargin)
  )

  /** Poisson bootstrap (fully oracled): 24 replicate means of n_chars
    * from seeded per-row Poisson(1) weights — all replicates on one
    * scan, inverse-CDF thresholds and every quotient replayed
    * bit-exactly in DuckDB. */
  val poissonBootstrapProbe = Probe(
    "q252_poisson_bootstrap",
    (s, d) => {
      import graft.operators.Sampling
      Sampling.poissonBootstrap(
        Tables.documents(s, d).filter(col("doc_id").isNotNull),
        col("doc_id"), col("n_chars"), reps = 24, seed = "b7")
    },
    Some("""WITH b AS (SELECT CAST(doc_id AS VARCHAR) AS k, n_chars AS v
           |  FROM documents WHERE doc_id IS NOT NULL
           |    AND n_chars IS NOT NULL),
           |f AS (SELECT t.r AS rep, k, v,
           |    (CAST('0x' || substr(md5('b7|' || CAST(t.r AS VARCHAR)
           |      || '|' || k), 1, 15) AS BIGINT) + 1)
           |      / 1152921504606846976 AS u
           |  FROM b, unnest(range(0, 24)) AS t(r)),
           |w AS (SELECT rep, v,
           |    CASE WHEN u <= 0.36787944117144233 THEN 0
           |      WHEN u <= 0.7357588823428847 THEN 1
           |      WHEN u <= 0.9196986029286058 THEN 2
           |      WHEN u <= 0.9810118431238462 THEN 3
           |      WHEN u <= 0.9963401531726563 THEN 4
           |      WHEN u <= 0.9994058151824183 THEN 5 ELSE 6 END AS w
           |  FROM f),
           |p AS (SELECT rep, CAST(coalesce(sum(w), 0) AS BIGINT)
           |      AS n_eff,
           |    CAST(coalesce(sum(w * v), 0) AS BIGINT) AS sum_wv
           |  FROM w GROUP BY 1),
           |m AS (SELECT *, CASE WHEN n_eff > 0 THEN
           |    CAST((CAST(sum_wv AS HUGEINT) * 1000000) // n_eff
           |      AS BIGINT) END AS mean_micro FROM p),
           |t AS (SELECT *, CAST(count(mean_micro) OVER () AS BIGINT)
           |      AS n_ok,
           |    coalesce(sum(mean_micro) OVER (), 0) AS s FROM m),
           |v2 AS (SELECT *, coalesce(sum(CASE WHEN mean_micro IS NOT
           |    NULL THEN (CAST(mean_micro AS HUGEINT) * n_ok - s) *
           |      (CAST(mean_micro AS HUGEINT) * n_ok - s) END)
           |    OVER (), 0) AS varnum FROM t)
           |SELECT CAST(rep AS INT) AS rep, n_eff, sum_wv, mean_micro,
           |  n_ok,
           |  CASE WHEN n_ok > 0 THEN CAST(s // n_ok AS BIGINT) END
           |    AS boot_mean_micro,
           |  CASE WHEN n_ok > 0 THEN CAST(varnum //
           |    (CAST(n_ok AS HUGEINT) * n_ok * n_ok) AS BIGINT) END
           |    AS boot_var_micro2
           |FROM v2 ORDER BY rep""".stripMargin)
  )

  /** Bradley–Terry preference strengths (fully oracled): suppliers
    * (mod 16) duel on consecutive lineitems of each order, cheaper
    * price wins — 3 unrolled MM iterations in integer micro-units,
    * every DIV replayed in DuckDB HUGEINT. */
  val bradleyTerryProbe = Probe(
    "q253_bradley_terry",
    (s, d) => {
      import graft.operators.Fusion
      val li = Tables.lineitem(s, d).select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), (col("l_suppkey") % 16).as("pl"),
        col("l_extendedprice").as("px"))
      val b = li.select(col("ok").as("ok2"), col("ln").as("ln2"),
        col("pl").as("pl2"), col("px").as("px2"))
      val duels = li.join(b,
          col("ok") === col("ok2") && col("ln2") === col("ln") + 1)
        .filter(col("pl") =!= col("pl2"))
        .select(
          when(col("px") < col("px2") ||
            (col("px") === col("px2") && col("pl") < col("pl2")),
            col("pl")).otherwise(col("pl2")).as("w"),
          when(col("px") < col("px2") ||
            (col("px") === col("px2") && col("pl") < col("pl2")),
            col("pl2")).otherwise(col("pl")).as("l"))
      Fusion.bradleyTerry(duels, col("w"), col("l"), iters = 3)
    },
    Some("""WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
           |    l_suppkey % 16 AS pl, l_extendedprice AS px
           |  FROM lineitem),
           |duel AS (SELECT
           |    CASE WHEN a.px < b.px OR (a.px = b.px AND a.pl < b.pl)
           |      THEN a.pl ELSE b.pl END AS w,
           |    CASE WHEN a.px < b.px OR (a.px = b.px AND a.pl < b.pl)
           |      THEN b.pl ELSE a.pl END AS l
           |  FROM li a JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1
           |  WHERE a.pl != b.pl),
           |games AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM (
           |    SELECT w AS i, l AS j FROM duel
           |    UNION ALL SELECT l AS i, w AS j FROM duel) GROUP BY 1, 2),
           |wins AS (SELECT w AS p, CAST(count(*) AS BIGINT) AS wins
           |  FROM duel GROUP BY 1),
           |players AS (SELECT DISTINCT i AS player FROM games),
           |pw AS (SELECT player, coalesce(wins, 0) AS wins
           |  FROM players LEFT JOIN wins ON player = p),
           |s0 AS (SELECT player, CAST(1000000 AS BIGINT) AS s
           |  FROM players),
           |t1 AS (SELECT g.i AS player,
           |    coalesce(sum((CAST(g.n AS HUGEINT) * 1000000000000)
           |      // (si.s + sj.s)), 0) AS t
           |  FROM games g JOIN s0 si ON g.i = si.player
           |  JOIN s0 sj ON g.j = sj.player GROUP BY 1),
           |r1 AS (SELECT pw.player, CASE WHEN t1.t > 0 THEN
           |    (CAST(pw.wins AS HUGEINT) * 1000000000000) // t1.t
           |    ELSE 0 END AS raw
           |  FROM pw JOIN t1 ON pw.player = t1.player),
           |m1 AS (SELECT max(raw) AS mx FROM r1),
           |s1 AS (SELECT player, greatest(1, CAST((CAST(raw AS HUGEINT)
           |    * 1000000) // m1.mx AS BIGINT)) AS s FROM r1, m1),
           |t2 AS (SELECT g.i AS player,
           |    coalesce(sum((CAST(g.n AS HUGEINT) * 1000000000000)
           |      // (si.s + sj.s)), 0) AS t
           |  FROM games g JOIN s1 si ON g.i = si.player
           |  JOIN s1 sj ON g.j = sj.player GROUP BY 1),
           |r2 AS (SELECT pw.player, CASE WHEN t2.t > 0 THEN
           |    (CAST(pw.wins AS HUGEINT) * 1000000000000) // t2.t
           |    ELSE 0 END AS raw
           |  FROM pw JOIN t2 ON pw.player = t2.player),
           |m2 AS (SELECT max(raw) AS mx FROM r2),
           |s2 AS (SELECT player, greatest(1, CAST((CAST(raw AS HUGEINT)
           |    * 1000000) // m2.mx AS BIGINT)) AS s FROM r2, m2),
           |t3 AS (SELECT g.i AS player,
           |    coalesce(sum((CAST(g.n AS HUGEINT) * 1000000000000)
           |      // (si.s + sj.s)), 0) AS t
           |  FROM games g JOIN s2 si ON g.i = si.player
           |  JOIN s2 sj ON g.j = sj.player GROUP BY 1),
           |r3 AS (SELECT pw.player, CASE WHEN t3.t > 0 THEN
           |    (CAST(pw.wins AS HUGEINT) * 1000000000000) // t3.t
           |    ELSE 0 END AS raw
           |  FROM pw JOIN t3 ON pw.player = t3.player),
           |m3 AS (SELECT max(raw) AS mx FROM r3),
           |s3 AS (SELECT player, greatest(1, CAST((CAST(raw AS HUGEINT)
           |    * 1000000) // m3.mx AS BIGINT)) AS s FROM r3, m3),
           |gp AS (SELECT i AS player, CAST(sum(n) AS BIGINT) AS games
           |  FROM games GROUP BY 1)
           |SELECT pw.player, s3.s AS strength_micro, pw.wins, gp.games
           |FROM pw JOIN s3 USING (player) JOIN gp USING (player)
           |ORDER BY pw.player""".stripMargin)
  )

  /** Zipf tail index (fully oracled): Hill MLE over the term-frequency
    * tail — exact long counts, per-term ln floor-micro-quantized and
    * summed as longs (order-free), α one IEEE division of exact
    * integers. The vocabulary-shape drift alarm. */
  val zipfProbe = Probe(
    "q223_zipf_tail",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.zipfTailIndex(Tables.documents(s, d), xMin = 5L)
    },
    Some("""WITH w AS (SELECT unnest(list_filter(
           |    string_split_regex(lower(text), '\s+'),
           |    x -> len(x) > 0)) AS t FROM documents),
           |c AS (SELECT t, count(*) AS c FROM w GROUP BY t),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
           |    CAST(5 AS BIGINT) AS x_min,
           |    CAST(coalesce(sum(CASE WHEN c >= 5 THEN 1 ELSE 0 END), 0)
           |      AS BIGINT) AS m_tail,
           |    CAST(coalesce(sum(CASE WHEN c >= 5 THEN
           |      CAST(floor(ln(CAST(c AS DOUBLE) / 5) * 1000000 + 0.5)
           |        AS BIGINT) END), 0) AS BIGINT) AS sum_ln_upm
           |  FROM c)
           |SELECT n_terms, x_min, m_tail, sum_ln_upm,
           |  CASE WHEN sum_ln_upm > 0 THEN
           |    1 + CAST(m_tail * 1000000 AS DOUBLE) / sum_ln_upm
           |  END AS alpha
           |FROM a""".stripMargin)
  )

  /** k-hop reach profile, KMV-sketched (HyperBall with bottom-k): the
    * whole neighborhood-function curve q196 computes for one radius.
    * Audited on the supplier–part bipartite co-occurrence graph
    * against an exact iterated-BFS truth at every hop 1..3:
    * sketch-resident (n_sig < k) nodes must be EXACT; truncated nodes
    * must satisfy the KMV error contract; and the curve must be
    * NONDECREASING in hop per node (balls only grow — bottom-k of a
    * growing union can never raise the kth hash). Measured at k=64,
    * sf0.01: small_bad=0 at every hop, mean rel err 0.14/0.10/0.11,
    * max 0.43/0.45/0.13 (hops 1/2/3); gated at mean ≤ 0.25,
    * max ≤ 0.75. DuckDB recomputes the node universe from scratch. */
  val reachProfileProbe = Probe(
    "q221_reach_profile",
    (s, d) => {
      import graft.operators.Graph
      val li = Tables.lineitem(s, d)
      val edges = li.select((col("l_suppkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst")).distinct()
      val k = 64
      val maxHops = 3
      val est = Graph.reachProfileKmv(edges, k, maxHops)
      // exact truth: iterated adjacency joins, distinct reach set per hop
      val e = edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint(true)
      var r = adj.select(col("u"), col("v")).distinct().localCheckpoint(true)
      var exact = r.groupBy("u").agg(count(lit(1)).as("exact"))
        .withColumn("hop", lit(1))
      var t = 2
      while (t <= maxHops) {
        r = r.select(col("u"), col("v").as("__m"))
          .join(adj.select(col("u").as("__m"), col("v")), "__m")
          .select(col("u"), col("v"))
          .unionAll(r).filter(col("u") =!= col("v"))
          .distinct().localCheckpoint(true)
        exact = exact.unionByName(r.groupBy("u")
          .agg(count(lit(1)).as("exact")).withColumn("hop", lit(t)))
        t += 1
      }
      val joined = est.join(exact.select(col("u").as("node"),
          col("hop"), col("exact")), Seq("node", "hop"))
        .withColumn("__err",
          abs(col("reach_est") - col("exact")) / col("exact"))
      val mono = est.withColumn("__prev",
          lag(col("reach_est"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("node")).orderBy(col("hop"))))
        .filter(col("__prev").isNotNull &&
          col("reach_est") < col("__prev"))
        .agg(count(lit(1)).as("__n_mono_bad"))
      joined.agg(
          count(lit(1)).as("n_rows"),
          coalesce(sum(when(col("n_sig") < k &&
            round(col("reach_est")) =!= col("exact"), 1L)
            .otherwise(0L)), lit(0L)).as("__n_small_bad"),
          coalesce(avg(when(col("n_sig") === k, col("__err"))), lit(0.0))
            .as("__err_mean"),
          coalesce(max(when(col("n_sig") === k, col("__err"))), lit(0.0))
            .as("__err_max"))
        .crossJoin(mono)
        .select(col("n_rows"),
          (col("__n_small_bad") === 0L).as("ok_small_exact"),
          (col("__err_mean") <= 0.25).as("ok_err_mean"),
          (col("__err_max") <= 0.75).as("ok_err_max"),
          (col("__n_mono_bad") === 0L).as("ok_monotone"))
    },
    Some("""WITH n AS (SELECT DISTINCT l_suppkey * 2 AS node
           |    FROM lineitem
           |  UNION SELECT DISTINCT l_partkey * 2 + 1 FROM lineitem)
           |SELECT CAST(3 * count(*) AS BIGINT) AS n_rows,
           |  true AS ok_small_exact, true AS ok_err_mean,
           |  true AS ok_err_max, true AS ok_monotone
           |FROM n""".stripMargin),
    benchRun = Some { (s, d) =>
      import graft.operators.Graph
      val li = Tables.lineitem(s, d)
      val edges = li.select((col("l_suppkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst")).distinct()
      Graph.reachProfileKmv(edges, k = 64, maxHops = 3)
    }
  )

  /** ANN-fed MMR diversification (q130's exact baseline documents this
    * swap): the shortlist comes from multi-probe SRP-LSH bucket joins;
    * the greedy integer-µ selection and the exact pairwise shortlist
    * cosines are unchanged. Self-oracled against the exact
    * [[Similarity.mmrRerank]] on the same bounded queries — full
    * per-query coverage, contiguous 1..k rank shape, and a measured
    * overlap floor on the FINAL diversified list (the strictest
    * surface: a shortlist difference can cascade through every later
    * greedy pick). Observed overlap 0.65 (sf0.01) / 0.74 (sf0.1) with
    * buckets sized ~250 (annBits); gated at 0.5. DuckDB recomputes the
    * query-universe count from scratch. */
  val mmrAnnProbe = Probe(
    "q218_mmr_ann",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val k = 4
      val ann = Similarity.mmrRerankAnn(emb, queries, k = k,
        bits = annBits(emb), dim = 64, nProbe = 4, shortlist = 10,
        lambdaPpm = 700000L)
      val exact = Similarity.mmrRerank(emb, queries, k = k,
        shortlist = 10, lambdaPpm = 700000L)
      val overlap = ann.select(col("query_id"), col("vec_id"))
        .join(exact.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("__n_overlap"))
      val shape = ann.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__n"), min(col("mmr_rank")).as("__minr"),
          max(col("mmr_rank")).as("__maxr"))
        .agg(count(lit(1)).as("__n_covered"),
          coalesce(sum(when(col("__n") === col("__maxr") &&
            col("__minr") === 1 && col("__maxr") === k, 0L)
            .otherwise(1L)), lit(0L)).as("__n_bad_shape"))
      val nq = queries.agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(shape).crossJoin(overlap)
        .select(col("n_queries"),
          (col("__n_covered") === col("n_queries")).as("ok_covered"),
          (col("__n_bad_shape") === 0).as("ok_topk_shape"),
          (col("__n_overlap") >= col("n_queries") * k * 0.5)
            .as("ok_overlap_vs_exact"))
    },
    Some("""SELECT count(*) AS n_queries, true AS ok_covered,
           |  true AS ok_topk_shape, true AS ok_overlap_vs_exact
           |FROM embeddings WHERE vec_id < 20""".stripMargin),
    benchRun = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.mmrRerankAnn(emb, queries, k = 4, bits = annBits(emb),
          dim = 64, nProbe = 4, shortlist = 10, lambdaPpm = 700000L)
        .orderBy("query_id", "mmr_rank")
    }
  )

  /** KMV-sketched two-hop reach (q183's dense-graph fallback): per-node
    * bottom-k sketch union instead of exact wedge materialization —
    * O(m·k) sketch rows where exact pays Σ deg². Audited on the DENSE
    * co-purchase graph (≥1 co-order, where every neighborhood
    * overflows the sketch) against the exact operator: sketch-resident
    * nodes must be EXACT, sketched nodes must satisfy the KMV error
    * contract. The sketch is deterministic (fixed xxhash64 bottom-k),
    * so the observed errors are reproducible, not flaky: at k=64,
    * mean rel err 0.17 (sf0.01) / 0.09 (sf0.1), max 0.22 / 0.50;
    * gated at mean ≤ 0.25, max ≤ 0.75. DuckDB recomputes the node
    * universe from scratch. */
  val twoHopKmvProbe = Probe(
    "q196_two_hop_kmv",
    (s, d) => {
      import graft.operators.Graph
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val o2 = op.select(col("o"), col("p").as("p2"))
      val edges = op.join(o2, "o").filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst")).distinct()
      val k = 64
      val est = Graph.twoHopReachKmv(edges, k)
      val exact = Graph.twoHopReach(edges)
        .select(col("node"), col("reach2"))
      val joined = est.join(exact, "node")
        .withColumn("__err",
          abs(col("reach2_est") - col("reach2")) / col("reach2"))
      joined.agg(
          count(lit(1)).as("n_nodes"),
          coalesce(sum(when(col("n_sig") < k &&
            round(col("reach2_est")) =!= col("reach2"), 1L)
            .otherwise(0L)), lit(0L)).as("__n_small_bad"),
          coalesce(sum(when(col("n_sig") === k, col("__err"))), lit(0.0))
            .as("__err_sum"),
          coalesce(sum(when(col("n_sig") === k, 1L).otherwise(0L)), lit(0L))
            .as("__n_sketched"),
          coalesce(max(when(col("n_sig") === k, col("__err"))), lit(0.0))
            .as("__err_max"))
        .select(col("n_nodes"),
          (col("__n_small_bad") === 0).as("ok_exact_when_small"),
          (col("__n_sketched") > 0).as("ok_sketch_exercised"),
          (col("__err_sum") <= col("__n_sketched") * 0.25).as("ok_mean_err"),
          (col("__err_max") <= 0.75).as("ok_max_err"))
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem),
           |e0 AS (SELECT DISTINCT least(x.p, y.p) AS a,
           |    greatest(x.p, y.p) AS b
           |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p)
           |SELECT count(DISTINCT n) AS n_nodes, true AS ok_exact_when_small,
           |  true AS ok_sketch_exercised, true AS ok_mean_err,
           |  true AS ok_max_err
           |FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)""".stripMargin),
    // Bench runs the sketch on q183's EXACT graph (≥2 co-orders) so the
    // two bench lines compare sketch-vs-wedge on identical input; the
    // gate above uses the dense ≥1 graph where truncation actually
    // exercises (at sf0.1 the sparse graph fits every sketch).
    benchRun = Some { (s, d) =>
      import graft.operators.Graph
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val o2 = op.select(col("o"), col("p").as("p2"))
      val edges = op.join(o2, "o").filter(col("p") < col("p2"))
        .groupBy(col("p").as("src"), col("p2").as("dst"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2L)
        .select(col("src"), col("dst"))
      Graph.twoHopReachKmv(edges, 64)
        .select(col("node"), col("deg"), col("n_sig"),
          binRound(col("reach2_est"), 4).as("reach2_est"))
        .orderBy("node")
    }
  )

  /** Deterministic weighted sampling (fully oracled): Duffield–Lund–
    * Thorup priority sampling per source with weight = n_chars — the
    * seeded md5 uniform, the ONE-IEEE-division priority, the per-
    * stratum top-k, the (k+1)-th threshold τ, and the unbiased
    * `w_est = max(w, τ)` estimator are ALL replayed bit-exactly in
    * DuckDB (same digest, same correctly-rounded quotient). */
  val prioritySampleProbe = Probe(
    "q197_priority_sample",
    (s, d) => {
      import graft.operators.Sampling
      Sampling.prioritySample(Tables.documents(s, d), Seq("source"),
          col("doc_id"), col("n_chars"), k = 5)
        .orderBy("source", "rank")
    },
    Some("""WITH b AS (SELECT source, doc_id,
           |    CAST(n_chars AS BIGINT) AS w,
           |    CAST(n_chars AS DOUBLE) /
           |      (CAST(CAST('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 15)
           |        AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976) AS priority
           |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
           |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
           |    ORDER BY priority DESC, doc_id) AS INT) AS rank FROM b),
           |t AS (SELECT source, max(priority) AS tau FROM r
           |      WHERE rank = 6 GROUP BY 1)
           |SELECT r.source, doc_id AS key, w, priority, rank,
           |  coalesce(t.tau, 0.0) AS tau,
           |  greatest(CAST(w AS DOUBLE), coalesce(t.tau, 0.0)) AS w_est
           |FROM r LEFT JOIN t ON r.source = t.source
           |WHERE rank <= 5 ORDER BY r.source, rank""".stripMargin)
  )

  /** ANN-fed retrieval evaluation (q177's scale path): the ranked lists
    * feeding [[graft.operators.Fusion.rankEval]] come from multi-probe
    * SRP-LSH instead of the quadratic exact self-kNN. Self-oracled:
    * the eval must cover exactly the labeled-query universe (DuckDB
    * recomputes that count), per-row metric bounds must hold
    * (dcg ≤ idcg, ndcg ≤ 10⁶), and the aggregate ANN metrics must land
    * within a measured band of the exact-fed metrics (observed hit
    * ratio 0.95/0.82 and ndcg ratio 0.92/0.81 at sf0.01/sf0.1; gated
    * at 0.7). */
  val rankEvalAnnProbe = Probe(
    "q195_rank_eval_ann",
    (s, d) => {
      import graft.operators.Fusion
      val sub = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      val queries = sub.select(col("vec_id").as("query_id"), col("embedding"))
      val a = sub.select(col("vec_id").as("query_id"), col("label"))
      val b = sub.select(col("vec_id"), col("label"))
      val truth = a.join(b, "label")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"))
      val annEval = Fusion.rankEval(
        Similarity.lshTopKMultiProbe(sub, queries, k = 10, bits = 4,
          dim = 64, nProbe = 4), truth, k = 10)
      val exactEval = Fusion.rankEval(
        Similarity.bruteForceTopK(sub, queries, 10), truth, k = 10)
      val annAgg = annEval.agg(count(lit(1)).as("__n_ann"),
        coalesce(sum(when(col("dcg_ppm") > col("idcg_ppm") ||
          col("ndcg_ppm") > 1000000L, 1L).otherwise(0L)), lit(0L))
          .as("__n_bad_bounds"),
        coalesce(sum(col("hit_at_k").cast("long")), lit(0L)).as("__hit_ann"),
        coalesce(sum(col("ndcg_ppm")), lit(0L)).as("__ndcg_ann"))
      val exactAgg = exactEval.agg(
        coalesce(sum(col("hit_at_k").cast("long")), lit(0L)).as("__hit_ex"),
        coalesce(sum(col("ndcg_ppm")), lit(0L)).as("__ndcg_ex"))
      val nq = truth.select(col("query_id")).distinct()
        .agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(annAgg).crossJoin(exactAgg)
        .select(col("n_queries"),
          (col("__n_ann") === col("n_queries")).as("ok_covered"),
          (col("__n_bad_bounds") === 0).as("ok_metric_bounds"),
          (col("__hit_ann").cast("double") >=
            col("__hit_ex").cast("double") * 0.7).as("ok_hit_band"),
          (col("__ndcg_ann").cast("double") >=
            col("__ndcg_ex").cast("double") * 0.7).as("ok_ndcg_band"))
    },
    Some("""WITH v AS (SELECT vec_id, label FROM embeddings
           |  WHERE vec_id < 200)
           |SELECT count(DISTINCT a.vec_id) AS n_queries, true AS ok_covered,
           |  true AS ok_metric_bounds, true AS ok_hit_band,
           |  true AS ok_ndcg_band
           |FROM v a JOIN v b ON a.label = b.label
           |  AND a.vec_id <> b.vec_id""".stripMargin),
    benchRun = Some { (s, d) =>
      import graft.operators.Fusion
      val sub = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      val queries = sub.select(col("vec_id").as("query_id"), col("embedding"))
      val a = sub.select(col("vec_id").as("query_id"), col("label"))
      val b = sub.select(col("vec_id"), col("label"))
      val truth = a.join(b, "label")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"))
      Fusion.rankEval(
        Similarity.lshTopKMultiProbe(sub, queries, k = 10, bits = 4,
          dim = 64, nProbe = 4), truth, k = 10)
    }
  )

  /** Integer-arithmetic HITS over the three-layer supply graph
    * (customer → part → supplier), 3 iterations, FULLY oracled — DuckDB
    * replays the identical max-normalized integer recurrence as an
    * unrolled CTE chain (every op is an exact int sum, int max, or
    * truncating DIV, so cross-engine equality is bit-level — the same
    * discipline as q78). Customers are pure hubs, suppliers pure
    * authorities, and parts carry BOTH scores (they broker demand into
    * supply) — the layer structure makes the two scores genuinely
    * different rankings. Node ids are namespaced 3·cust / 3·part+1 /
    * 3·supp+2. */
  val hitsProbe = Probe(
    "q198_hits",
    (s, d) => {
      import graft.operators.Graph
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val cp = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey") * 3).as("src"),
          (col("l_partkey") * 3 + 1).as("dst"))
        .distinct()
      val ps = li.select((col("l_partkey") * 3 + 1).as("src"),
        (col("l_suppkey") * 3 + 2).as("dst")).distinct()
      Graph.hitsMicro(cp.unionByName(ps), iters = 3)
        .select(
          when(col("node") % 3 === 0, "cust")
            .when(col("node") % 3 === 1, "part").otherwise("supp")
            .as("node_type"),
          expr("node DIV 3").as("node_key"),
          col("hub").as("hub_micro"), col("auth").as("auth_micro"))
        .orderBy(desc("auth_micro"), desc("hub_micro"), col("node_type"),
          col("node_key"))
    },
    Some("""WITH cp AS (SELECT DISTINCT o.o_custkey * 3 AS src, l.l_partkey * 3 + 1 AS dst
           |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |ps AS (SELECT DISTINCT l_partkey * 3 + 1 AS src, l_suppkey * 3 + 2 AS dst
           |       FROM lineitem),
           |e AS (SELECT src, dst FROM cp UNION SELECT src, dst FROM ps),
           |v AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM v),
           |a1r AS (SELECT e.dst AS node, sum(h0.s) AS raw FROM e
           |        JOIN h0 ON h0.node = e.src GROUP BY 1),
           |a1 AS (SELECT v.node, CAST(coalesce((CAST(a1r.raw AS HUGEINT) * 1000000)
           |         // (SELECT max(raw) FROM a1r), 0) AS BIGINT) AS s
           |       FROM v LEFT JOIN a1r ON v.node = a1r.node),
           |h1r AS (SELECT e.src AS node, sum(a1.s) AS raw FROM e
           |        JOIN a1 ON a1.node = e.dst GROUP BY 1),
           |h1 AS (SELECT v.node, CAST(coalesce((CAST(h1r.raw AS HUGEINT) * 1000000)
           |         // (SELECT max(raw) FROM h1r), 0) AS BIGINT) AS s
           |       FROM v LEFT JOIN h1r ON v.node = h1r.node),
           |a2r AS (SELECT e.dst AS node, sum(h1.s) AS raw FROM e
           |        JOIN h1 ON h1.node = e.src GROUP BY 1),
           |a2 AS (SELECT v.node, CAST(coalesce((CAST(a2r.raw AS HUGEINT) * 1000000)
           |         // (SELECT max(raw) FROM a2r), 0) AS BIGINT) AS s
           |       FROM v LEFT JOIN a2r ON v.node = a2r.node),
           |h2r AS (SELECT e.src AS node, sum(a2.s) AS raw FROM e
           |        JOIN a2 ON a2.node = e.dst GROUP BY 1),
           |h2 AS (SELECT v.node, CAST(coalesce((CAST(h2r.raw AS HUGEINT) * 1000000)
           |         // (SELECT max(raw) FROM h2r), 0) AS BIGINT) AS s
           |       FROM v LEFT JOIN h2r ON v.node = h2r.node),
           |a3r AS (SELECT e.dst AS node, sum(h2.s) AS raw FROM e
           |        JOIN h2 ON h2.node = e.src GROUP BY 1),
           |a3 AS (SELECT v.node, CAST(coalesce((CAST(a3r.raw AS HUGEINT) * 1000000)
           |         // (SELECT max(raw) FROM a3r), 0) AS BIGINT) AS s
           |       FROM v LEFT JOIN a3r ON v.node = a3r.node),
           |h3r AS (SELECT e.src AS node, sum(a3.s) AS raw FROM e
           |        JOIN a3 ON a3.node = e.dst GROUP BY 1),
           |h3 AS (SELECT v.node, CAST(coalesce((CAST(h3r.raw AS HUGEINT) * 1000000)
           |         // (SELECT max(raw) FROM h3r), 0) AS BIGINT) AS s
           |       FROM v LEFT JOIN h3r ON v.node = h3r.node)
           |SELECT CASE WHEN v.node % 3 = 0 THEN 'cust'
           |            WHEN v.node % 3 = 1 THEN 'part' ELSE 'supp' END AS node_type,
           |       v.node // 3 AS node_key, h3.s AS hub_micro, a3.s AS auth_micro
           |FROM v JOIN h3 ON h3.node = v.node JOIN a3 ON a3.node = v.node
           |ORDER BY auth_micro DESC, hub_micro DESC, node_type, node_key""".stripMargin)
  )

  /** Exact single-changepoint scan per user value series, FULLY
    * oracled — DuckDB replays the identical prefix-sum cost table
    * (HUGEINT moments, truncating //) and picks the identical argmin
    * via the same (cost, index) tiebreak. The offline "where did this
    * series change regime" readout pairing q152's online CUSUM. */
  val changepointProbe = Probe(
    "q199_changepoint",
    (s, d) => {
      import graft.operators.TimeSeries
      val ev = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      TimeSeries.changepoint(ev, col("user_id"),
        Seq(expr("unix_micros(ts)"), col("event_id")),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        minSeg = 3)
    },
    Some("""WITH b AS (SELECT CAST(user_id AS VARCHAR) AS k,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
           |    epoch_us(ts::TIMESTAMP) AS t, event_id
           |  FROM events
           |  WHERE ts IS NOT NULL AND event_id IS NOT NULL
           |    AND user_id IS NOT NULL AND value IS NOT NULL),
           |p AS (SELECT k, v,
           |    CAST(row_number() OVER (PARTITION BY k ORDER BY t, event_id)
           |      AS BIGINT) AS rn,
           |    sum(CAST(v AS HUGEINT)) OVER (PARTITION BY k
           |      ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sp,
           |    sum(CAST(v AS HUGEINT) * v) OVER (PARTITION BY k
           |      ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS qp
           |  FROM b),
           |tot AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
           |    sum(CAST(v AS HUGEINT)) AS s,
           |    sum(CAST(v AS HUGEINT) * v) AS q FROM b GROUP BY 1),
           |cand AS (SELECT p.k, p.rn, p.sp, t.n, t.s, t.q,
           |    CAST((p.qp - (p.sp * p.sp) // p.rn)
           |       + ((t.q - p.qp)
           |          - ((t.s - p.sp) * (t.s - p.sp)) // (t.n - p.rn))
           |      AS BIGINT) AS cost
           |  FROM p JOIN tot t ON p.k = t.k
           |  WHERE p.rn >= 3 AND p.rn <= t.n - 3),
           |best AS (SELECT *, row_number() OVER (PARTITION BY k
           |    ORDER BY cost, rn) AS pick FROM cand)
           |SELECT k AS key, n AS n_points, rn AS cp_index,
           |  CAST(q - (s * s) // n AS BIGINT) AS cost_null_sq,
           |  cost AS cost_split_sq,
           |  CAST(q - (s * s) // n AS BIGINT) - cost AS gain_sq,
           |  CAST(sp // rn AS BIGINT) AS mean_before_cents,
           |  CAST((s - sp) // (n - rn) AS BIGINT) AS mean_after_cents
           |FROM best WHERE pick = 1 ORDER BY key""".stripMargin)
  )

  /** Personalized PageRank seeded at one nation's customers over the
    * co-purchase graph, 4 iterations, FULLY oracled — DuckDB replays the
    * seed-conditioned integer recurrence as an unrolled CTE chain (q78's
    * discipline; the only delta is the CASE-gated base term). Ranks read
    * "how related to nation-1 demand": parts those customers buy rank
    * first, then customers with overlapping baskets — while q78's global
    * ranking is purely degree-shaped. */
  val pprProbe = Probe(
    "q200_ppr",
    (s, d) => {
      import graft.operators.Graph
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val cp = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = cp.unionByName(
        cp.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.customer(s, d).filter(col("c_nationkey") === 1)
        .select((col("c_custkey") * 2).as("node"))
      Graph.personalizedPagerankMicro(edges, seeds, iters = 4)
        .select(
          when(col("node") % 2 === 0, "cust").otherwise("part").as("node_type"),
          expr("node DIV 2").as("node_key"),
          col("rank").as("rank_micro"))
        .orderBy(desc("rank_micro"), col("node_type"), col("node_key"))
    },
    Some("""WITH cp AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_partkey * 2 + 1 AS dst
           |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |e AS (SELECT src, dst FROM cp UNION ALL SELECT dst AS src, src AS dst FROM cp),
           |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
           |sd AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer
           |       WHERE c_nationkey = 1),
           |v AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |vs AS (SELECT v.node, (sd.node IS NOT NULL) AS seed
           |       FROM v LEFT JOIN sd ON v.node = sd.node),
           |r0 AS (SELECT node, CAST(CASE WHEN seed THEN 1000000 ELSE 0 END
           |         AS BIGINT) AS rank FROM vs),
           |i1 AS (SELECT e.dst AS node, CAST((85 * sum(r0.rank // deg.d)) // 100 AS BIGINT) AS s
           |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY e.dst),
           |r1 AS (SELECT vs.node, CAST(CASE WHEN vs.seed THEN 150000 ELSE 0 END
           |         + coalesce(i1.s, 0) AS BIGINT) AS rank
           |       FROM vs LEFT JOIN i1 ON vs.node = i1.node),
           |i2 AS (SELECT e.dst AS node, CAST((85 * sum(r1.rank // deg.d)) // 100 AS BIGINT) AS s
           |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
           |r2 AS (SELECT vs.node, CAST(CASE WHEN vs.seed THEN 150000 ELSE 0 END
           |         + coalesce(i2.s, 0) AS BIGINT) AS rank
           |       FROM vs LEFT JOIN i2 ON vs.node = i2.node),
           |i3 AS (SELECT e.dst AS node, CAST((85 * sum(r2.rank // deg.d)) // 100 AS BIGINT) AS s
           |       FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY e.dst),
           |r3 AS (SELECT vs.node, CAST(CASE WHEN vs.seed THEN 150000 ELSE 0 END
           |         + coalesce(i3.s, 0) AS BIGINT) AS rank
           |       FROM vs LEFT JOIN i3 ON vs.node = i3.node),
           |i4 AS (SELECT e.dst AS node, CAST((85 * sum(r3.rank // deg.d)) // 100 AS BIGINT) AS s
           |       FROM e JOIN deg USING (src) JOIN r3 ON r3.node = e.src GROUP BY e.dst),
           |r4 AS (SELECT vs.node, CAST(CASE WHEN vs.seed THEN 150000 ELSE 0 END
           |         + coalesce(i4.s, 0) AS BIGINT) AS rank
           |       FROM vs LEFT JOIN i4 ON vs.node = i4.node)
           |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'part' END AS node_type,
           |       node // 2 AS node_key, rank AS rank_micro
           |FROM r4 ORDER BY rank_micro DESC, node_type, node_key""".stripMargin)
  )

  /** Degree assortativity of the co-purchase graph, FULLY oracled —
    * the five integer moments are exact (HUGEINT/DECIMAL(38,0) sums →
    * BIGINT audit columns) and `r` is the same fixed sequence of
    * correctly-rounded IEEE ops on both engines (two casts, two sqrt,
    * one multiply, one divide — bit-equal, the autocorr contract). */
  val assortativityProbe = Probe(
    "q201_assortativity",
    (s, d) => {
      import graft.operators.Graph
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val cp = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .distinct()
      Graph.assortativity(cp.unionByName(
        cp.select(col("dst").as("src"), col("src").as("dst"))))
    },
    Some("""WITH cp AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_partkey * 2 + 1 AS dst
           |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
           |e AS (SELECT src, dst FROM cp UNION ALL SELECT dst AS src, src AS dst FROM cp),
           |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
           |m AS (SELECT dx.d AS dx, dy.d AS dy
           |      FROM e JOIN deg dx ON dx.node = e.src
           |             JOIN deg dy ON dy.node = e.dst),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
           |        CAST(sum(CAST(dx AS HUGEINT)) AS BIGINT) AS sum_x,
           |        CAST(sum(CAST(dy AS HUGEINT)) AS BIGINT) AS sum_y,
           |        CAST(sum(CAST(dx AS HUGEINT) * dy) AS BIGINT) AS sum_xy,
           |        CAST(sum(CAST(dx AS HUGEINT) * dx) AS BIGINT) AS sum_x2,
           |        CAST(sum(CAST(dy AS HUGEINT) * dy) AS BIGINT) AS sum_y2
           |      FROM m)
           |SELECT n_edges, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
           |  CASE WHEN n_edges * CAST(sum_x2 AS HUGEINT) - CAST(sum_x AS HUGEINT) * sum_x > 0
           |        AND n_edges * CAST(sum_y2 AS HUGEINT) - CAST(sum_y AS HUGEINT) * sum_y > 0
           |   THEN CAST(n_edges * CAST(sum_xy AS HUGEINT) - CAST(sum_x AS HUGEINT) * sum_y AS DOUBLE)
           |        / (sqrt(CAST(n_edges * CAST(sum_x2 AS HUGEINT) - CAST(sum_x AS HUGEINT) * sum_x AS DOUBLE))
           |           * sqrt(CAST(n_edges * CAST(sum_y2 AS HUGEINT) - CAST(sum_y AS HUGEINT) * sum_y AS DOUBLE)))
           |   END AS r
           |FROM a""".stripMargin)
  )

  /** Decile lift / cumulative gains over the documents population
    * (score = n_chars, positives = English docs), FULLY oracled — the
    * distributed globalRank tiling, tile aggregates, and truncating ppm
    * lift/capture all replay exactly in DuckDB (its global ORDER BY
    * row_number is the single-node equivalent of the range-exchange
    * rank). */
  val decileLiftProbe = Probe(
    "q202_decile_lift",
    (s, d) => {
      import graft.operators.Classify
      Classify.decileLift(Tables.documents(s, d), col("n_chars"),
        col("doc_id"), col("lang") === "en", bins = 10)
    },
    Some("""WITH b AS (SELECT CAST(n_chars AS BIGINT) AS sc, doc_id,
           |    (lang = 'en') AS y
           |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
           |r AS (SELECT sc, y, CAST(row_number() OVER (ORDER BY sc DESC, doc_id)
           |    AS BIGINT) AS rank FROM b),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos FROM r),
           |tiles AS (SELECT ((rank - 1) * 10) // t.n + 1 AS decile, t.n, t.pos,
           |    CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
           |  FROM r, t GROUP BY 1, 2, 3),
           |c AS (SELECT *,
           |    sum(n_rows) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
           |    sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_pos
           |  FROM tiles)
           |SELECT CAST(decile AS BIGINT) AS decile, n_rows, n_pos,
           |  CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
           |  (1000000 * n_pos) // n_rows AS pos_rate_ppm,
           |  CASE WHEN pos > 0 THEN CAST((1000000 * cum_pos) // pos AS BIGINT) END
           |    AS capture_ppm,
           |  CASE WHEN pos > 0 THEN CAST((CAST(cum_pos AS HUGEINT) * n * 1000000)
           |    // (CAST(cum_n AS HUGEINT) * pos) AS BIGINT) END AS cum_lift_ppm
           |FROM c ORDER BY decile""".stripMargin)
  )

  /** Leakage-free group-aware splitting over exact-content clusters
    * (md5 digest groups — the DuckDB-replayable stand-in for minhash
    * components). Self-oracled q43-style: DuckDB recomputes the doc,
    * group, and multi-member-group counts exactly; the booleans assert
    * the operator's contract — exhaustive assignment, ZERO groups
    * straddling splits (the leakage invariant), and the train fraction
    * within tolerance. */
  val groupSplitProbe = Probe(
    "q203_group_split",
    (s, d) => {
      import graft.operators.Sampling
      val docs = Tables.documents(s, d).withColumn("grp", md5(col("text")))
      val tagged = Sampling.groupAwareSplit(docs, col("grp"), col("doc_id"),
        Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
      val leak = tagged.filter(col("grp").isNotNull)
        .groupBy(col("grp"))
        .agg(countDistinct(col("split")).as("__k"), count(lit(1)).as("__n"))
        .agg(count(lit(1)).as("n_groups"),
          coalesce(sum(when(col("__k") > 1, 1L).otherwise(0L)), lit(0L))
            .as("__n_leaky"),
          coalesce(sum(when(col("__n") > 1, 1L).otherwise(0L)), lit(0L))
            .as("n_multi_groups"))
      val frac = tagged.agg(count(lit(1)).as("n_total"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("__tr"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("__va"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("__te"))
      frac.crossJoin(leak).select(
        col("n_total"), col("n_groups"), col("n_multi_groups"),
        (col("__tr") + col("__va") + col("__te") === col("n_total"))
          .as("ok_exhaustive"),
        (col("__n_leaky") === 0).as("ok_no_leakage"),
        (abs(col("__tr").cast("double") / col("n_total") - 0.8) < 0.1)
          .as("ok_train_frac"))
    },
    Some("""WITH g AS (SELECT md5(text) AS grp, count(*) AS n
           |  FROM documents WHERE text IS NOT NULL GROUP BY 1)
           |SELECT (SELECT count(*) FROM documents) AS n_total,
           |  count(*) AS n_groups,
           |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_multi_groups,
           |  true AS ok_exhaustive, true AS ok_no_leakage,
           |  true AS ok_train_frac
           |FROM g""".stripMargin)
  )

  /** Hamilton (largest-remainder) apportionment of a 100k-doc budget
    * over per-source n_chars mass, FULLY oracled — base quotas,
    * remainders, the remainder-ranked +1 extras, and Σ alloc = budget
    * all replay bit-exact in DuckDB (HUGEINT products, same
    * (remainder DESC, stratum) tiebreak). */
  val apportionProbe = Probe(
    "q204_apportion",
    (s, d) => {
      import graft.operators.Mixture
      Mixture.apportion(
        Tables.documents(s, d)
          .filter(col("source").isNotNull && col("n_chars").isNotNull),
        col("source"), col("n_chars"), budget = 100000L)
    },
    Some("""WITH b AS (SELECT source AS stratum, CAST(n_chars AS BIGINT) AS wt
           |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
           |w AS (SELECT stratum, CAST(sum(greatest(wt, 0)) AS BIGINT) AS weight
           |  FROM b GROUP BY 1),
           |t AS (SELECT CAST(sum(weight) AS HUGEINT) AS tw FROM w),
           |q AS (SELECT stratum, weight,
           |    CAST(CASE WHEN t.tw > 0
           |      THEN (CAST(weight AS HUGEINT) * 100000) // t.tw
           |      ELSE 0 END AS BIGINT) AS base,
           |    CAST(CASE WHEN t.tw > 0
           |      THEN (CAST(weight AS HUGEINT) * 100000) % t.tw
           |      ELSE 0 END AS BIGINT) AS remainder
           |  FROM w, t),
           |l AS (SELECT 100000 - CAST(sum(base) AS BIGINT) AS leftover FROM q),
           |r AS (SELECT *, row_number() OVER (ORDER BY remainder DESC, stratum)
           |    AS rk FROM q)
           |SELECT stratum, weight, base, remainder,
           |  CAST(CASE WHEN rk <= l.leftover AND remainder > 0
           |    THEN 1 ELSE 0 END AS BIGINT) AS extra,
           |  base + CAST(CASE WHEN rk <= l.leftover AND remainder > 0
           |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
           |FROM r, l ORDER BY stratum""".stripMargin)
  )

  /** Exact embedding covariance moment table (64×64), FULLY oracled —
    * the one-pass dim²-buffer Aggregator must equal DuckDB's exploded
    * n·dim² pair-join formulation bit-for-bit: same micro-quantization
    * (one IEEE multiply + floor), same integer moments, same truncating
    * cov_q2. The §2.10 custom-Aggregator surface doing real work. */
  val covMomentsProbe = Probe(
    "q205_cov_moments",
    (s, d) => Similarity.covarianceMoments(
      Tables.embeddings(s, d), col("embedding"), dim = 64),
    Some("""WITH v AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
           |q AS (SELECT vec_id, g.i - 1 AS i,
           |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
           |      AS BIGINT) AS qv
           |  FROM v, generate_series(1, 64) g(i)),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM v),
           |s AS (SELECT i, CAST(sum(qv) AS BIGINT) AS sv FROM q GROUP BY 1),
           |p AS (SELECT a.i AS i, b.i AS j,
           |    CAST(sum(CAST(a.qv AS HUGEINT) * b.qv) AS BIGINT) AS sum_prod
           |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2)
           |SELECT p.i, p.j, n.n_vecs, si.sv AS sum_i, sj.sv AS sum_j,
           |  p.sum_prod,
           |  CAST((CAST(n.n_vecs AS HUGEINT) * p.sum_prod
           |        - CAST(si.sv AS HUGEINT) * sj.sv) // n.n_vecs AS BIGINT)
           |    AS cov_q2
           |FROM p, n JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j
           |ORDER BY p.i, p.j""".stripMargin)
  )

  /** RFM customer segmentation over orders, FULLY oracled — per-entity
    * aggregate, observed-max recency reference, three globalRank
    * quintile tilings (remainder-tiles-first), and the r·100+f·10+m
    * code all replayed exactly in DuckDB (its global row_number is the
    * single-node equivalent of the range-exchange rank). */
  val rfmProbe = Probe(
    "q206_rfm",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.rfm(Tables.orders(s, d), col("o_custkey"),
        col("o_orderdate"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
    },
    Some("""WITH b AS (SELECT o_custkey AS entity,
           |    CAST(o_orderdate AS DATE) AS d,
           |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS a
           |  FROM orders WHERE o_custkey IS NOT NULL
           |    AND o_orderdate IS NOT NULL),
           |pe AS (SELECT entity, max(d) AS last_d,
           |    CAST(count(*) AS BIGINT) AS frequency,
           |    CAST(coalesce(sum(a), 0) AS BIGINT) AS monetary_cents
           |  FROM b GROUP BY 1),
           |ref AS (SELECT max(last_d) AS refd FROM pe),
           |s AS (SELECT entity,
           |    CAST(date_diff('day', last_d, ref.refd) AS BIGINT)
           |      AS recency_days,
           |    frequency, monetary_cents FROM pe, ref),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS na FROM s),
           |r AS (SELECT s.*, 6 - (((row_number() OVER (ORDER BY recency_days,
           |    entity) - 1) * 5) // n.na + 1) AS r_score FROM s, n),
           |f AS (SELECT r.*, 6 - (((row_number() OVER (ORDER BY frequency DESC,
           |    entity) - 1) * 5) // n.na + 1) AS f_score FROM r, n),
           |m AS (SELECT f.*, 6 - (((row_number() OVER (ORDER BY monetary_cents
           |    DESC, entity) - 1) * 5) // n.na + 1) AS m_score FROM f, n)
           |SELECT entity, recency_days, frequency, monetary_cents,
           |  CAST(r_score AS BIGINT) AS r_score,
           |  CAST(f_score AS BIGINT) AS f_score,
           |  CAST(m_score AS BIGINT) AS m_score,
           |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_code
           |FROM m ORDER BY entity""".stripMargin)
  )

  /** Temporal (SCD2) lookup join: every order picks the customer-dim
    * VERSION in effect at its own order date — a deterministic
    * two-version dim (key-dependent boundary year) makes the interval
    * semantics fully oracle-replayable. One key equi-join + narrow
    * interval filter; at most one version survives per fact. */
  val temporalJoinProbe = Probe(
    "q207_temporal_join",
    (s, d) => {
      import graft.operators.Scd2
      val cust = Tables.customer(s, d).select(col("c_custkey").as("custkey"))
      val boundary =
        expr("CAST(concat(CAST(1993 + custkey % 5 AS INT), '-01-01') AS TIMESTAMP)")
      val dim = cust.select(col("custkey"), lit("bronze").as("segment"),
          lit("1992-01-01").cast("timestamp").as("valid_from"),
          boundary.as("valid_to"))
        .unionByName(cust.select(col("custkey"), lit("silver").as("segment"),
          boundary.as("valid_from"),
          lit(null).cast("timestamp").as("valid_to")))
      val facts = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey").as("custkey"), col("o_orderdate"))
      Scd2.temporalJoin(facts, dim, Seq("custkey"), col("o_orderdate"))
        .select(col("o_orderkey"), col("custkey"), col("segment"),
          col("valid_from"))
        .orderBy("o_orderkey")
    },
    Some("""WITH cust AS (SELECT c_custkey AS custkey FROM customer),
           |dim AS (
           |  SELECT custkey, 'bronze' AS segment,
           |    TIMESTAMP '1992-01-01' AS valid_from,
           |    CAST((1993 + custkey % 5) || '-01-01' AS TIMESTAMP) AS valid_to
           |  FROM cust
           |  UNION ALL
           |  SELECT custkey, 'silver',
           |    CAST((1993 + custkey % 5) || '-01-01' AS TIMESTAMP),
           |    NULL FROM cust),
           |f AS (SELECT o_orderkey, o_custkey AS custkey,
           |    o_orderdate::TIMESTAMP AS ts FROM orders)
           |SELECT f.o_orderkey, f.custkey, d.segment, d.valid_from
           |FROM f LEFT JOIN dim d ON d.custkey = f.custkey
           |  AND d.valid_from <= f.ts
           |  AND (d.valid_to IS NULL OR d.valid_to > f.ts)
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** Positional (U-shaped) multi-touch attribution over the events
    * stream (clicks → purchases, 7-day window), FULLY oracled — join
    * window, rank/count, and the exact integer credit split (incl. the
    * truncation dust on the first touch) replayed in DuckDB. Credits
    * sum to exactly 10⁶ per attributed conversion on both engines. */
  val attributionProbe = Probe(
    "q208_attribution",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.attributionPositional(Tables.events(s, d), col("user_id"),
        col("event_id"), expr("unix_micros(ts)"), col("event_type"),
        touchType = "click", conversionType = "purchase",
        windowUs = 604800000000L)
    },
    Some("""WITH ev AS (SELECT user_id AS e, event_id AS id,
           |    epoch_us(ts::TIMESTAMP) AS t, event_type AS ty
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |c AS (SELECT e, id AS conversion_id, t AS ct FROM ev
           |  WHERE ty = 'purchase'),
           |tch AS (SELECT e, id AS touch_id, t AS tt FROM ev
           |  WHERE ty = 'click'),
           |j AS (SELECT c.e, c.conversion_id, tch.touch_id, tch.tt
           |  FROM c LEFT JOIN tch ON tch.e = c.e AND tch.tt <= c.ct
           |    AND tch.tt > c.ct - 604800000000),
           |r AS (SELECT *, CASE WHEN touch_id IS NULL THEN 0 ELSE
           |      row_number() OVER (PARTITION BY e, conversion_id
           |        ORDER BY tt, touch_id) END AS touch_rank,
           |    count(touch_id) OVER (PARTITION BY e, conversion_id)
           |      AS n_touches
           |  FROM j)
           |SELECT e AS entity, conversion_id, touch_id,
           |  CAST(touch_rank AS BIGINT) AS touch_rank,
           |  CAST(n_touches AS BIGINT) AS n_touches,
           |  CAST(CASE WHEN touch_id IS NULL THEN 0
           |    WHEN n_touches = 1 THEN 1000000
           |    WHEN n_touches = 2 THEN 500000
           |    WHEN touch_rank = n_touches THEN 400000
           |    WHEN touch_rank = 1
           |      THEN 600000 - (200000 // (n_touches - 2)) * (n_touches - 2)
           |    ELSE 200000 // (n_touches - 2) END AS BIGINT) AS credit_ppm
           |FROM r ORDER BY entity, conversion_id, touch_rank""".stripMargin)
  )

  /** Corpus diversity / self-similarity over a bounded 300-doc sample,
    * FULLY oracled — the shingle sets, sharing-pair Jaccards, and the
    * all-pairs truncating mean replay exactly in DuckDB (the q184
    * shingle SQL at doc granularity). The mode-collapse alarm for
    * synthetic corpora. */
  val diversityProbe = Probe(
    "q209_diversity",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.diversityReport(
        Tables.documents(s, d).filter(col("doc_id") < 300),
        col("doc_id"), col("text"))
    },
    Some("""WITH t AS (SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0) AS wl
           |  FROM documents WHERE doc_id < 300),
           |sh0 AS (SELECT doc_id,
           |    CASE WHEN len(wl) >= 3 THEN
           |      list_distinct(list_transform(range(1, len(wl) - 1),
           |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]))
           |    ELSE list_distinct(wl) END AS sl
           |  FROM t),
           |sets AS (SELECT doc_id, unnest(sl) AS g FROM sh0),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
           |  FROM sets GROUP BY 1),
           |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sizes),
           |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM sets a JOIN sets b ON a.g = b.g AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |j AS (SELECT (1000000 * p.c) // (sa.sz + sb.sz - p.c) AS jp
           |  FROM p JOIN sizes sa ON sa.doc_id = p.ia
           |         JOIN sizes sb ON sb.doc_id = p.ib)
           |SELECT nd.n_docs,
           |  (nd.n_docs * (nd.n_docs - 1)) // 2 AS n_pairs_total,
           |  (SELECT CAST(count(*) AS BIGINT) FROM j) AS n_pairs_sharing,
           |  CASE WHEN nd.n_docs >= 2 THEN
           |    CAST((SELECT coalesce(sum(jp), 0) FROM j)
           |      // ((nd.n_docs * (nd.n_docs - 1)) // 2) AS BIGINT) END
           |    AS mean_jaccard_ppm,
           |  (SELECT CAST(coalesce(max(jp), 0) AS BIGINT) FROM j)
           |    AS max_jaccard_ppm,
           |  (SELECT CAST(coalesce(sum(CASE WHEN jp > 500000 THEN 1 ELSE 0
           |    END), 0) AS BIGINT) FROM j) AS n_pairs_half
           |FROM nd""".stripMargin)
  )

  /** Exact 10%-trimmed mean per event type, FULLY oracled — rank-based
    * trim under the (value, event_id) total order, truncating integer
    * means, replayed in DuckDB with the same window + conditional
    * aggregate. */
  val trimmedMeanProbe = Probe(
    "q210_trimmed_mean",
    (s, d) => {
      import graft.operators.Profile
      Profile.trimmedMean(Tables.events(s, d), col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"), col("event_id"))
    },
    Some("""WITH b AS (SELECT event_type AS g,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v, event_id
           |  FROM events WHERE event_type IS NOT NULL
           |    AND value IS NOT NULL),
           |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY g
           |      ORDER BY v, event_id) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM b),
           |k AS (SELECT g, n, (n * 100000) // 1000000 AS t, rn, v FROM r)
           |SELECT g AS "group", max(n) AS n,
           |  CAST(max(t) AS BIGINT) AS n_trim_side,
           |  CAST(sum(CASE WHEN rn > t AND rn <= n - t THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_kept,
           |  CAST(sum(CAST(v AS HUGEINT)) // count(*) AS BIGINT) AS mean_cents,
           |  CASE WHEN sum(CASE WHEN rn > t AND rn <= n - t THEN 1 ELSE 0
           |      END) > 0 THEN
           |    CAST(sum(CASE WHEN rn > t AND rn <= n - t
           |        THEN CAST(v AS HUGEINT) END)
           |      // sum(CASE WHEN rn > t AND rn <= n - t THEN 1 ELSE 0 END)
           |      AS BIGINT) END AS trimmed_mean_cents
           |FROM k GROUP BY g ORDER BY g""".stripMargin)
  )

  /** Simplified silhouette per cluster (k=4, 2 Lloyd iterations — the
    * q144 fit), FULLY oracled — DuckDB replays the identical integer
    * k-means (q144's unrolled CTE chain) and then the a²/b²/score table
    * from the full per-(vec, cluster) distance frame. The "was k sane"
    * readout on top of the deterministic clustering. */
  val silhouetteProbe = Probe(
    "q211_silhouette",
    (s, d) => {
      import graft.operators.Clustering
      Clustering.silhouetteSimplified(Tables.embeddings(s, d), k = 4,
        iters = 2)
    },
    Some("""WITH m AS (SELECT vec_id,
           |    list_transform(embedding, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS vm
           |  FROM embeddings),
           |seeds AS (SELECT vm, row_number() OVER
           |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster
           |  FROM m QUALIFY cluster < 4),
           |x AS (SELECT vec_id, generate_subscripts(vm, 1) AS dim,
           |    unnest(vm) AS x FROM m),
           |c0 AS (SELECT cluster, generate_subscripts(vm, 1) AS dim,
           |    unnest(vm) AS c FROM seeds),
           |d1 AS (SELECT x.vec_id, c0.cluster,
           |    sum((x.x - c0.c) * (x.x - c0.c)) AS dist2
           |  FROM x JOIN c0 USING (dim) GROUP BY 1, 2),
           |a1 AS (SELECT vec_id, cluster FROM d1
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY dist2, cluster) = 1),
           |u1 AS (SELECT a1.cluster, x.dim,
           |    CAST(CAST(sum(x.x) AS HUGEINT) // count(*) AS BIGINT) AS c
           |  FROM x JOIN a1 USING (vec_id) GROUP BY 1, 2),
           |c1 AS (SELECT c0.cluster, c0.dim, coalesce(u1.c, c0.c) AS c
           |  FROM c0 LEFT JOIN u1 ON c0.cluster = u1.cluster AND c0.dim = u1.dim),
           |d2 AS (SELECT x.vec_id, c1.cluster,
           |    sum((x.x - c1.c) * (x.x - c1.c)) AS dist2
           |  FROM x JOIN c1 USING (dim) GROUP BY 1, 2),
           |a2x AS (SELECT vec_id, cluster FROM d2
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY dist2, cluster) = 1),
           |u2 AS (SELECT a2x.cluster, x.dim,
           |    CAST(CAST(sum(x.x) AS HUGEINT) // count(*) AS BIGINT) AS c
           |  FROM x JOIN a2x USING (vec_id) GROUP BY 1, 2),
           |c2 AS (SELECT c1.cluster, c1.dim, coalesce(u2.c, c1.c) AS c
           |  FROM c1 LEFT JOIN u2 ON c1.cluster = u2.cluster AND c1.dim = u2.dim),
           |d3 AS (SELECT x.vec_id, c2.cluster,
           |    CAST(sum((x.x - c2.c) * (x.x - c2.c)) AS BIGINT) AS dist2
           |  FROM x JOIN c2 USING (dim) GROUP BY 1, 2),
           |own AS (SELECT vec_id, cluster, dist2 AS a2 FROM d3
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY dist2, cluster) = 1),
           |oth AS (SELECT d3.vec_id, min(d3.dist2) AS b2
           |  FROM d3 JOIN own ON own.vec_id = d3.vec_id
           |    AND d3.cluster <> own.cluster GROUP BY 1),
           |sc AS (SELECT own.cluster,
           |    CASE WHEN greatest(own.a2, oth.b2) > 0 THEN
           |      CAST(((CAST(oth.b2 AS HUGEINT) - own.a2) * 1000000)
           |        // greatest(own.a2, oth.b2) AS BIGINT)
           |    ELSE 0 END AS sp
           |  FROM own JOIN oth ON own.vec_id = oth.vec_id)
           |SELECT CAST(cluster AS BIGINT) AS cluster,
           |  CAST(count(*) AS BIGINT) AS n_vecs,
           |  CAST(CAST(sum(sp) AS HUGEINT) // count(*) AS BIGINT) AS mean_s_ppm,
           |  CAST(min(sp) AS BIGINT) AS min_s_ppm,
           |  CAST(max(sp) AS BIGINT) AS max_s_ppm
           |FROM sc GROUP BY cluster ORDER BY cluster""".stripMargin)
  )

  /** Weighted PageRank over the co-purchase graph with purchase-line
    * counts as edge weights, 4 iterations, FULLY oracled — the weighted
    * integer recurrence (rank·w DIV W, HUGEINT-widened) unrolls in
    * DuckDB exactly like q78. Repeat purchases now carry rank mass —
    * the ranking differs from q78's purely structural one. */
  val wPagerankProbe = Probe(
    "q212_weighted_pagerank",
    (s, d) => {
      import graft.operators.Graph
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val cpw = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("weight"))
      val edges = cpw.unionByName(cpw.select(col("dst").as("src"),
        col("src").as("dst"), col("weight")))
      Graph.weightedPagerankMicro(edges, iters = 4)
        .select(
          when(col("node") % 2 === 0, "cust").otherwise("part").as("node_type"),
          expr("node DIV 2").as("node_key"),
          col("rank").as("rank_micro"))
        .orderBy(desc("rank_micro"), col("node_type"), col("node_key"))
    },
    Some("""WITH cpw AS (SELECT o.o_custkey * 2 AS src, l.l_partkey * 2 + 1 AS dst,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT src, dst, w FROM cpw
           |      UNION ALL SELECT dst AS src, src AS dst, w FROM cpw),
           |wt AS (SELECT src, sum(w) AS wtot FROM e GROUP BY 1),
           |v AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM v),
           |i1 AS (SELECT e.dst AS node, CAST((85 * sum((CAST(r0.rank AS HUGEINT)
           |      * e.w) // wt.wtot)) // 100 AS BIGINT) AS s
           |  FROM e JOIN wt USING (src) JOIN r0 ON r0.node = e.src GROUP BY e.dst),
           |r1 AS (SELECT v.node, CAST(150000 + coalesce(i1.s, 0) AS BIGINT) AS rank
           |  FROM v LEFT JOIN i1 ON v.node = i1.node),
           |i2 AS (SELECT e.dst AS node, CAST((85 * sum((CAST(r1.rank AS HUGEINT)
           |      * e.w) // wt.wtot)) // 100 AS BIGINT) AS s
           |  FROM e JOIN wt USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
           |r2 AS (SELECT v.node, CAST(150000 + coalesce(i2.s, 0) AS BIGINT) AS rank
           |  FROM v LEFT JOIN i2 ON v.node = i2.node),
           |i3 AS (SELECT e.dst AS node, CAST((85 * sum((CAST(r2.rank AS HUGEINT)
           |      * e.w) // wt.wtot)) // 100 AS BIGINT) AS s
           |  FROM e JOIN wt USING (src) JOIN r2 ON r2.node = e.src GROUP BY e.dst),
           |r3 AS (SELECT v.node, CAST(150000 + coalesce(i3.s, 0) AS BIGINT) AS rank
           |  FROM v LEFT JOIN i3 ON v.node = i3.node),
           |i4 AS (SELECT e.dst AS node, CAST((85 * sum((CAST(r3.rank AS HUGEINT)
           |      * e.w) // wt.wtot)) // 100 AS BIGINT) AS s
           |  FROM e JOIN wt USING (src) JOIN r3 ON r3.node = e.src GROUP BY e.dst),
           |r4 AS (SELECT v.node, CAST(150000 + coalesce(i4.s, 0) AS BIGINT) AS rank
           |  FROM v LEFT JOIN i4 ON v.node = i4.node)
           |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'part' END AS node_type,
           |       node // 2 AS node_key, rank AS rank_micro
           |FROM r4 ORDER BY rank_micro DESC, node_type, node_key""".stripMargin)
  )

  /** KMV sketch-table rollup: per-(event_type, day) user sketches merge
    * to per-type sketches WITHOUT rescanning events. Gated on the exact
    * mergeability invariant — the rolled-up sketch must be ARRAY-EQUAL
    * to one built directly from the raw stream — plus the estimator's
    * error contract vs the exact distinct count, which DuckDB recomputes
    * from scratch per type (the real cross-engine check). */
  val kmvRollupProbe = Probe(
    "q213_kmv_rollup",
    (s, d) => {
      import graft.operators.Sketches
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      val daily = Sketches.kmvSignatures(ev,
        concat_ws("|", col("event_type"),
          expr("CAST(unix_micros(ts) DIV 86400000000 AS STRING)")),
        col("user_id"), k = 64)
      val rolled = Sketches.kmvRollup(daily,
        substring_index(col("key"), "|", 1), k = 64)
      val direct = Sketches.kmvSignatures(ev, col("event_type"),
          col("user_id"), k = 64)
        .select(col("key"), col("sig").as("__direct_sig"))
      val exact = ev.groupBy(col("event_type").as("key"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      rolled.join(direct, "key").join(exact, "key")
        .select(col("key").as("event_type"), col("n_exact"),
          (col("sig") === col("__direct_sig")).as("ok_merge_exact"),
          (col("n_sig") < 64 && col("distinct_est") === col("n_exact")
            .cast("double") || col("n_sig") === 64).as("ok_small_exact"),
          (abs(col("distinct_est") - col("n_exact")) <=
            col("n_exact") * 0.4).as("ok_error_bound"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
           |    AS n_exact,
           |  true AS ok_merge_exact, true AS ok_small_exact,
           |  true AS ok_error_bound
           |FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** OOV-rate audit against a top-500 frequency vocabulary, FULLY
    * oracled — the vocabulary rank (ties by term), the left-join
    * coverage split, and the truncating per-doc ppm all replay in
    * DuckDB. */
  val oovRateProbe = Probe(
    "q214_oov_rate",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.oovRate(Tables.documents(s, d), vocabSize = 500)
    },
    Some("""WITH tok AS (SELECT doc_id,
           |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM tok GROUP BY 1, 2),
           |freq AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY 1),
           |vocab AS (SELECT term FROM freq
           |  QUALIFY row_number() OVER (ORDER BY cf DESC, term) <= 500),
           |j AS (SELECT tf.doc_id, tf.tf, (v.term IS NOT NULL) AS inv
           |  FROM tf LEFT JOIN vocab v ON v.term = tf.term)
           |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           |  CAST(coalesce(sum(CASE WHEN NOT inv THEN tf END), 0) AS BIGINT)
           |    AS n_oov,
           |  (1000000 * CAST(coalesce(sum(CASE WHEN NOT inv THEN tf END), 0)
           |    AS BIGINT)) // CAST(sum(tf) AS BIGINT) AS oov_ppm
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** Term burstiness (cf/df) top-100, FULLY oracled — the
    * boilerplate/topicality screen; integer ppm, (burst DESC, term)
    * total order, hapax tail pruned at df ≥ 2. */
  val burstinessProbe = Probe(
    "q215_burstiness",
    (s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.burstiness(Tables.documents(s, d), k = 100)
    },
    Some("""WITH tok AS (SELECT doc_id,
           |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0)) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM tok GROUP BY 1, 2),
           |t AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf,
           |    CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
           |SELECT term, cf, df, (1000000 * cf) // df AS burst_ppm
           |FROM t WHERE df >= 2
           |ORDER BY burst_ppm DESC, term LIMIT 100""".stripMargin)
  )

  /** Time-constrained funnel (view → click → purchase, 1-day max gap
    * per step), FULLY oracled — the greedy first-occurrence cascade and
    * the truncating ppm conversions replay in DuckDB as the same chain
    * of conditional min-aggregates. */
  val funnelWindowedProbe = Probe(
    "q216_funnel_windowed",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.funnelWindowed(Tables.events(s, d), col("user_id"),
        expr("unix_micros(ts)"), col("event_type"),
        Seq("view", "click", "purchase"), maxGapUs = 86400000000L)
    },
    Some("""WITH ev AS (SELECT user_id AS u, epoch_us(ts::TIMESTAMP) AS t,
           |    event_type AS et
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |s1 AS (SELECT u, min(t) AS t FROM ev WHERE et = 'view' GROUP BY 1),
           |s2 AS (SELECT ev.u, min(ev.t) AS t FROM ev JOIN s1 ON ev.u = s1.u
           |  WHERE ev.et = 'click' AND ev.t > s1.t
           |    AND ev.t <= s1.t + 86400000000 GROUP BY 1),
           |s3 AS (SELECT ev.u, min(ev.t) AS t FROM ev JOIN s2 ON ev.u = s2.u
           |  WHERE ev.et = 'purchase' AND ev.t > s2.t
           |    AND ev.t <= s2.t + 86400000000 GROUP BY 1),
           |c AS (SELECT 1 AS stage_idx, 'view' AS stage,
           |    (SELECT count(*) FROM s1) AS n_users
           |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
           |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)),
           |r AS (SELECT *, first_value(n_users) OVER (ORDER BY stage_idx
           |    ROWS UNBOUNDED PRECEDING) AS f,
           |  lag(n_users) OVER (ORDER BY stage_idx) AS p FROM c)
           |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
           |  CAST(n_users AS BIGINT) AS n_users,
           |  CASE WHEN f > 0 THEN CAST((1000000 * n_users) // f AS BIGINT) END
           |    AS vs_first_ppm,
           |  CASE WHEN p IS NULL THEN CAST(1000000 AS BIGINT)
           |    WHEN p > 0 THEN CAST((1000000 * n_users) // p AS BIGINT) END
           |    AS vs_prev_ppm
           |FROM r ORDER BY stage_idx""".stripMargin)
  )

  /** Longest/latest consecutive-day activity streaks per user, FULLY
    * oracled — the gaps-and-islands rank trick replayed in DuckDB with
    * the identical island key and tie-free aggregates. */
  val streakProbe = Probe(
    "q217_streaks",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.longestStreak(Tables.events(s, d), col("user_id"),
        col("ts"))
    },
    Some("""WITH b AS (SELECT DISTINCT user_id AS entity,
           |    CAST(date_diff('day', DATE '1970-01-01',
           |      CAST(ts AS DATE)) AS BIGINT) AS ep
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |r AS (SELECT entity, ep,
           |    ep - row_number() OVER (PARTITION BY entity ORDER BY ep)
           |      AS isl
           |  FROM b),
           |i AS (SELECT entity, isl, CAST(count(*) AS BIGINT) AS len,
           |    max(ep) AS last_ep
           |  FROM r GROUP BY 1, 2),
           |m AS (SELECT entity,
           |    CAST(sum(len) AS BIGINT) AS n_active_days,
           |    CAST(count(*) AS BIGINT) AS n_streaks,
           |    CAST(max(len) AS BIGINT) AS longest_streak,
           |    CAST(max_by(len, last_ep) AS BIGINT) AS latest_streak
           |  FROM i GROUP BY 1)
           |SELECT entity, n_active_days, n_streaks, longest_streak,
           |  latest_streak
           |FROM m ORDER BY entity""".stripMargin)
  )

  /** Interval overlap join (fully oracled): view vs purchase 30-minute
    * activity windows per user through the bucket-explode equi-join —
    * DuckDB replays the naive overlap predicate, so a pair emitted
    * twice (bucket pinning broken) or dropped (bucket coverage broken)
    * fails rows+hash. */
  val overlapJoinProbe = Probe(
    "q268_overlap_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      def win(t: String) = ev.filter(col("event_type") === t)
      Relational.overlapJoin(
        win("view"), win("purchase"),
        col("user_id"), col("event_id"), unix_micros(col("ts")),
        unix_micros(col("ts")) + 1800000000L,
        col("user_id"), col("event_id"), unix_micros(col("ts")),
        unix_micros(col("ts")) + 1800000000L,
        bucketUs = 3600000000L)
    },
    Some("""WITH l AS (SELECT user_id AS key, event_id AS l_id,
           |    epoch_us(ts::TIMESTAMP) AS s,
           |    epoch_us(ts::TIMESTAMP) + 1800000000 AS e
           |  FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
           |    AND event_id IS NOT NULL AND ts IS NOT NULL),
           |r AS (SELECT user_id AS key, event_id AS r_id,
           |    epoch_us(ts::TIMESTAMP) AS s,
           |    epoch_us(ts::TIMESTAMP) + 1800000000 AS e
           |  FROM events WHERE event_type = 'purchase'
           |    AND user_id IS NOT NULL
           |    AND event_id IS NOT NULL AND ts IS NOT NULL)
           |SELECT l.key AS key, l.l_id, r.r_id,
           |  l.s AS l_start_us, l.e AS l_end_us,
           |  r.s AS r_start_us, r.e AS r_end_us,
           |  least(l.e, r.e) - greatest(l.s, r.s) AS overlap_us
           |FROM l JOIN r ON l.key = r.key AND l.s <= r.e AND r.s <= l.e
           |ORDER BY l.key, l_id, r_id""".stripMargin)
  )

  /** Kendall τ-b (fully oracled): per event type, concordance between
    * the daily event count and the daily distinct-user count — the
    * cells pair join, both tie terms, and the pinned √·√ sequence all
    * replayed in DuckDB HUGEINT. */
  val kendallProbe = Probe(
    "q269_kendall_tau",
    (s, d) => {
      import graft.operators.Profile
      val daily = Tables.events(s, d)
        .filter(col("ts").isNotNull)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("x"),
          countDistinct(col("user_id")).as("y"))
      Profile.kendallTau(daily, col("event_type"), col("x"), col("y"))
    },
    Some("""WITH dd AS (SELECT event_type AS g,
           |    epoch_us(ts::TIMESTAMP) // 86400000000 AS day,
           |    CAST(count(*) AS BIGINT) AS x,
           |    CAST(count(DISTINCT user_id) AS BIGINT) AS y
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |c AS (SELECT g, x, y, CAST(count(*) AS HUGEINT) AS cnt
           |  FROM dd GROUP BY 1, 2, 3),
           |p AS (SELECT a.g AS g,
           |    coalesce(sum(CASE WHEN a.x < b.x AND a.y < b.y
           |      THEN a.cnt * b.cnt END), 0) AS conc,
           |    coalesce(sum(CASE WHEN a.x < b.x AND a.y > b.y
           |      THEN a.cnt * b.cnt END), 0) AS disc
           |  FROM c a JOIN c b ON a.g IS NOT DISTINCT FROM b.g
           |    AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
           |  GROUP BY 1),
           |tx AS (SELECT g, sum(CAST(t * (t - 1) // 2 AS HUGEINT))
           |    AS tie_x
           |  FROM (SELECT g, x, CAST(count(*) AS HUGEINT) AS t
           |    FROM dd GROUP BY 1, 2) GROUP BY 1),
           |ty AS (SELECT g, sum(CAST(t * (t - 1) // 2 AS HUGEINT))
           |    AS tie_y
           |  FROM (SELECT g, y, CAST(count(*) AS HUGEINT) AS t
           |    FROM dd GROUP BY 1, 2) GROUP BY 1),
           |t AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(*) AS HUGEINT)
           |      * (count(*) - 1) // 2 AS n0
           |  FROM dd GROUP BY 1),
           |j AS (SELECT t.g, t.n,
           |    coalesce(p.conc, 0) AS conc, coalesce(p.disc, 0) AS disc,
           |    tx.tie_x, ty.tie_y,
           |    t.n0 - tx.tie_x AS dx, t.n0 - ty.tie_y AS dy
           |  FROM t
           |  LEFT JOIN tx ON t.g IS NOT DISTINCT FROM tx.g
           |  LEFT JOIN ty ON t.g IS NOT DISTINCT FROM ty.g
           |  LEFT JOIN p ON t.g IS NOT DISTINCT FROM p.g)
           |SELECT g AS group, n, CAST(conc AS BIGINT) AS conc,
           |  CAST(disc AS BIGINT) AS disc,
           |  CAST(tie_x AS BIGINT) AS tie_x,
           |  CAST(tie_y AS BIGINT) AS tie_y,
           |  CASE WHEN dx > 0 AND dy > 0 THEN
           |    CAST(conc - disc AS DOUBLE) /
           |      (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))
           |  END AS tau
           |FROM j ORDER BY g NULLS FIRST""".stripMargin)
  )

  /** Krippendorff's α (fully oracled): the q246/q247 votes frame thinned
    * so per-item vote counts VARY (1, 3 or 4) — single-vote items drop
    * visibly, the scaled D_o clears the per-item 1/(m−1) exactly, and
    * DuckDB replays every integer in HUGEINT. */
  val krippendorffProbe = Probe(
    "q270_krippendorff",
    (s, d) => {
      import graft.operators.Agreement
      Agreement.krippendorffAlpha(
        ratedVotes(s, d).filter(!(col("vec_id") % 11 === 0 &&
          col("r") > 0)),
        col("vec_id"), col("vote"), scaleL = 2520L)
    },
    Some(s"""WITH $ratedVotesSql,
           |v2 AS (SELECT * FROM v
           |  WHERE NOT (vec_id % 11 = 0 AND r > 0)),
           |nij AS (SELECT CAST(vec_id AS VARCHAR) AS i,
           |    CAST(vote AS VARCHAR) AS vv, count(*) AS n
           |  FROM v2 WHERE vec_id IS NOT NULL AND vote IS NOT NULL
           |  GROUP BY 1, 2),
           |per AS (SELECT i, sum(n) AS m, sum(n * (n - 1)) AS agr
           |  FROM nij GROUP BY 1),
           |keep AS (SELECT * FROM per
           |  WHERE m >= 2 AND 2520 % greatest(m - 1, 1) = 0),
           |drp AS (SELECT CAST(count(*) FILTER (WHERE NOT (m >= 2
           |    AND 2520 % greatest(m - 1, 1) = 0)) AS BIGINT)
           |    AS n_dropped FROM per),
           |nn AS (SELECT CAST(count(*) FILTER (WHERE vec_id IS NULL
           |    OR vote IS NULL) AS BIGINT) AS n_null FROM v2),
           |don AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
           |    CAST(coalesce(sum(m), 0) AS BIGINT) AS n_ratings,
           |    coalesce(sum(CAST(m * (m - 1) - agr AS HUGEINT)
           |      * (2520 // (m - 1))), 0) AS dos
           |  FROM keep),
           |dd AS (SELECT coalesce(sum(CAST(nc AS HUGEINT) * nc), 0)
           |    AS sumsq
           |  FROM (SELECT vv, sum(n) AS nc FROM nij
           |        WHERE i IN (SELECT i FROM keep) GROUP BY 1)),
           |f AS (SELECT *,
           |    CAST(n_ratings AS HUGEINT) * n_ratings - sumsq AS dev
           |  FROM don, dd, drp, nn)
           |SELECT n_items, n_dropped, n_null, n_ratings,
           |  CAST(dos AS BIGINT) AS do_scaled,
           |  CAST(2520 AS BIGINT) AS scale_l,
           |  CAST(dev AS BIGINT) AS de,
           |  CASE WHEN dev * 2520 > 0 THEN
           |    CAST(dev * 2520 - (n_ratings - 1) * dos AS DOUBLE) /
           |      CAST(dev * 2520 AS DOUBLE)
           |  END AS alpha
           |FROM f""".stripMargin)
  )

  /** t-closeness audit (fully oracled): per (lang, source) class, the
    * exact cumulative-EMD distance between the class's n_chars-bucket
    * distribution and the corpus-wide one — the classes × values grid,
    * both cum frames, and the cleared-denominator t all replayed in
    * DuckDB HUGEINT. */
  val tClosenessProbe = Probe(
    "q271_t_closeness",
    (s, d) => {
      import graft.operators.Quality
      Quality.tCloseness(
        Tables.documents(s, d).withColumn("bucket",
          expr("n_chars DIV 50")),
        Seq("lang", "source"), col("bucket"), tMaxPpm = 150000L)
    },
    Some("""WITH b AS (SELECT lang, source,
           |    CAST(n_chars // 50 AS BIGINT) AS v FROM documents),
           |pc AS (SELECT lang, source,
           |    CAST(count(*) FILTER (WHERE v IS NOT NULL) AS BIGINT)
           |      AS n,
           |    CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT)
           |      AS n_null_sensitive
           |  FROM b GROUP BY 1, 2),
           |g AS (SELECT v, count(*) AS cg FROM b
           |  WHERE v IS NOT NULL GROUP BY 1),
           |gc AS (SELECT v, sum(cg) OVER (ORDER BY v
           |      ROWS UNBOUNDED PRECEDING) AS cumg,
           |    sum(cg) OVER () AS nn, count(*) OVER () AS k FROM g),
           |cc AS (SELECT lang, source, v, count(*) AS ccnt FROM b
           |  WHERE v IS NOT NULL GROUP BY 1, 2, 3),
           |grid AS (SELECT pc.lang, pc.source, pc.n,
           |    pc.n_null_sensitive, gc.v, gc.cumg, gc.nn, gc.k,
           |    coalesce(cc.ccnt, 0) AS ccnt
           |  FROM pc CROSS JOIN gc
           |  LEFT JOIN cc ON cc.lang IS NOT DISTINCT FROM pc.lang
           |    AND cc.source IS NOT DISTINCT FROM pc.source
           |    AND cc.v = gc.v
           |  WHERE pc.n > 0),
           |cum AS (SELECT *, sum(ccnt) OVER (PARTITION BY lang, source
           |    ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumc FROM grid),
           |s AS (SELECT lang, source, n, n_null_sensitive, nn, k,
           |    sum(abs(CAST(cumc AS HUGEINT) * nn
           |      - CAST(cumg AS HUGEINT) * n)) AS emd
           |  FROM cum GROUP BY 1, 2, 3, 4, 5, 6),
           |r AS (SELECT lang, source, n, n_null_sensitive,
           |    CAST(emd AS BIGINT) AS emd_num,
           |    CASE WHEN k > 1 THEN CAST((emd * 1000000)
           |        // ((k - 1) * CAST(n AS HUGEINT) * nn) AS BIGINT)
           |      ELSE CAST(0 AS BIGINT) END AS t_ppm
           |  FROM s
           |  UNION ALL
           |  SELECT lang, source, n, n_null_sensitive,
           |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
           |  FROM pc WHERE n = 0)
           |SELECT lang, source, n, n_null_sensitive, emd_num, t_ppm,
           |  coalesce(t_ppm > 150000, false) AS breach
           |FROM r
           |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin)
  )

  /** Cross-correlation lag scan (fully oracled): hourly view counts vs
    * hourly purchase counts at lags −6..+6 — per-lag exact moments, the
    * pinned √·√ r, and the argmax-|r| tiebreak all replayed in DuckDB. */
  val crossCorrProbe = Probe(
    "q272_cross_correlation",
    (s, d) => {
      import graft.operators.TimeSeries
      val hourly = Tables.events(s, d).filter(col("ts").isNotNull)
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      TimeSeries.crossCorrelation(hourly, col("h"), col("x"), col("y"),
        maxLag = 6)
    },
    Some("""WITH h AS (SELECT epoch_us(ts::TIMESTAMP) // 3600000000
           |      AS t,
           |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
           |      END) AS BIGINT) AS x,
           |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
           |      ELSE 0 END) AS BIGINT) AS y
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
           |lags AS (SELECT l AS lag FROM unnest(range(-6, 7)) AS t(l)),
           |p AS (SELECT lags.lag, a.x, b.y
           |  FROM lags CROSS JOIN h a JOIN h b ON b.t = a.t + lags.lag),
           |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
           |    sum(CAST(x AS HUGEINT)) AS sx,
           |    sum(CAST(y AS HUGEINT)) AS sy,
           |    sum(CAST(x AS HUGEINT) * x) AS sxx,
           |    sum(CAST(y AS HUGEINT) * y) AS syy,
           |    sum(CAST(x AS HUGEINT) * y) AS sxy
           |  FROM p GROUP BY 1),
           |r0 AS (SELECT lag, n, n * sxy - sx * sy AS num,
           |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
           |  FROM m),
           |r1 AS (SELECT lag, n, num, dx, dy,
           |    CASE WHEN n >= 2 AND dx > 0 AND dy > 0 THEN
           |      CAST(num AS DOUBLE) /
           |        (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))
           |    END AS r FROM r0),
           |bl AS (SELECT lag AS bestlag FROM r1 WHERE r IS NOT NULL
           |  ORDER BY -abs(r) ASC, lag ASC LIMIT 1)
           |SELECT CAST(lag AS BIGINT) AS lag, n,
           |  CAST(num AS BIGINT) AS num, CAST(dx AS BIGINT) AS den_x,
           |  CAST(dy AS BIGINT) AS den_y, r,
           |  coalesce(lag = (SELECT bestlag FROM bl), false) AS is_best
           |FROM r1 ORDER BY lag""".stripMargin)
  )

  /** Randomization test (fully oracled): is the even-user/odd-user
    * spend gap bigger than label shuffling explains? 32 seeded
    * binomial reassignments on one scan; every micro-quotient and the
    * add-one p replayed in DuckDB HUGEINT. */
  val randomizationProbe = Probe(
    "q273_randomization_test",
    (s, d) => {
      import graft.operators.Sampling
      Sampling.randomizationTest(
        Tables.events(s, d).filter(col("user_id").isNotNull &&
          col("value").isNotNull),
        col("event_id"), col("user_id") % 2 === 0,
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"), reps = 32)
    },
    Some("""WITH b AS (SELECT CAST(event_id AS VARCHAR) AS id,
           |    user_id % 2 = 0 AS a,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
           |  FROM events WHERE event_id IS NOT NULL
           |    AND user_id IS NOT NULL AND value IS NOT NULL),
           |bb AS (SELECT * FROM b WHERE v >= 0),
           |obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(*) FILTER (WHERE a) AS BIGINT) AS n_a,
           |    coalesce(sum(v) FILTER (WHERE a), 0) AS suma,
           |    CAST(count(*) FILTER (WHERE NOT a) AS BIGINT) AS n_b,
           |    coalesce(sum(v) FILTER (WHERE NOT a), 0) AS sumb
           |  FROM bb),
           |obs2 AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0 THEN
           |    CAST((CAST(suma AS HUGEINT) * 1000000) // n_a AS BIGINT)
           |    - CAST((CAST(sumb AS HUGEINT) * 1000000) // n_b
           |        AS BIGINT) END AS tobs FROM obs),
           |f AS (SELECT id, v, t.r AS rep,
           |    CAST('0x' || substr(md5('42|' || CAST(t.r AS VARCHAR)
           |      || '|' || id), 1, 15) AS BIGINT) % 2 = 0 AS fa
           |  FROM bb, unnest(range(0, 32)) AS t(r)),
           |pr AS (SELECT rep,
           |    count(*) FILTER (WHERE fa) AS na,
           |    coalesce(sum(v) FILTER (WHERE fa), 0) AS sa,
           |    count(*) FILTER (WHERE NOT fa) AS nb,
           |    coalesce(sum(v) FILTER (WHERE NOT fa), 0) AS sb
           |  FROM f GROUP BY 1),
           |pt AS (SELECT rep, CASE WHEN na > 0 AND nb > 0 THEN
           |    CAST((CAST(sa AS HUGEINT) * 1000000) // na AS BIGINT)
           |    - CAST((CAST(sb AS HUGEINT) * 1000000) // nb AS BIGINT)
           |  END AS t FROM pr),
           |vv AS (SELECT
           |    CAST(count(*) FILTER (WHERE t IS NOT NULL) AS BIGINT)
           |      AS n_valid,
           |    CAST(count(*) FILTER (WHERE t IS NOT NULL AND abs(t) >=
           |      abs((SELECT tobs FROM obs2))) AS BIGINT) AS n_extreme
           |  FROM pt),
           |dd AS (SELECT CAST(count(*) FILTER (WHERE v < 0) AS BIGINT)
           |    AS n_dropped FROM b)
           |SELECT n, n_dropped, n_a, n_b, tobs AS t_obs_micro,
           |  CAST(32 AS BIGINT) AS reps, n_valid, n_extreme,
           |  CASE WHEN tobs IS NOT NULL THEN
           |    CAST(((1 + n_extreme) * 1000000) // (n_valid + 1)
           |      AS BIGINT) END AS p_ppm
           |FROM obs2, vv, dd""".stripMargin)
  )

  /** Corpus BLEU-2 (fully oracled): candidate = document + its first
    * fifth re-appended (so clipping is ACTIVE on the duplicated grams
    * and c > r pins BP at 1 only when truly longer) vs the original as
    * reference — counts, clips, nano-logs, and the DIV-combined
    * headline all replayed in DuckDB. */
  val bleuProbe = Probe(
    "q274_bleu",
    (s, d) => {
      import graft.operators.Classify
      val ws = Text.words(col("text"))
      val k = greatest(lit(1), (size(ws).cast("long") / lit(5L))
        .cast("int"))
      val pairs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          array_join(concat(ws, slice(ws, lit(1), k)), " ").as("cand"),
          col("text").as("ref"))
      Classify.bleu(pairs, col("doc_id"), col("cand"), col("ref"),
        maxN = 2)
    },
    Some("""WITH w AS (SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\s+'),
           |      x -> len(x) > 0) AS ws
           |  FROM documents
           |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
           |p AS (SELECT doc_id AS id,
           |    list_concat(ws, ws[1:greatest(1, len(ws) // 5)]) AS cw,
           |    ws AS rw FROM w),
           |c1 AS (SELECT id, g, count(*) AS c
           |  FROM (SELECT id, unnest(cw) AS g FROM p) GROUP BY 1, 2),
           |r1 AS (SELECT id, g, count(*) AS c
           |  FROM (SELECT id, unnest(rw) AS g FROM p) GROUP BY 1, 2),
           |m1 AS (SELECT
           |    coalesce(sum(least(c1.c, coalesce(r1.c, 0))), 0)
           |      AS match_1,
           |    coalesce(sum(c1.c), 0) AS total_1
           |  FROM c1 LEFT JOIN r1 ON c1.id = r1.id AND c1.g = r1.g),
           |b AS (SELECT id,
           |    list_transform(range(1, len(cw)),
           |      i -> cw[i] || ' ' || cw[i + 1]) AS cb,
           |    list_transform(range(1, len(rw)),
           |      i -> rw[i] || ' ' || rw[i + 1]) AS rb FROM p),
           |c2 AS (SELECT id, g, count(*) AS c
           |  FROM (SELECT id, unnest(cb) AS g FROM b) GROUP BY 1, 2),
           |r2 AS (SELECT id, g, count(*) AS c
           |  FROM (SELECT id, unnest(rb) AS g FROM b) GROUP BY 1, 2),
           |m2 AS (SELECT
           |    coalesce(sum(least(c2.c, coalesce(r2.c, 0))), 0)
           |      AS match_2,
           |    coalesce(sum(c2.c), 0) AS total_2
           |  FROM c2 LEFT JOIN r2 ON c2.id = r2.id AND c2.g = r2.g),
           |lens AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(coalesce(sum(len(cw)), 0) AS BIGINT) AS c_len,
           |    CAST(coalesce(sum(len(rw)), 0) AS BIGINT) AS r_len
           |  FROM p),
           |f AS (SELECT *,
           |    CASE WHEN match_1 > 0 THEN CAST(floor(
           |      -ln(CAST(match_1 AS DOUBLE) / CAST(total_1 AS DOUBLE))
           |      * 1000000000 + 0.5) AS BIGINT) END AS p1_nano,
           |    CASE WHEN match_2 > 0 THEN CAST(floor(
           |      -ln(CAST(match_2 AS DOUBLE) / CAST(total_2 AS DOUBLE))
           |      * 1000000000 + 0.5) AS BIGINT) END AS p2_nano,
           |    CASE WHEN c_len > 0 THEN CAST(floor(greatest(0.0,
           |      CAST(r_len AS DOUBLE) / c_len - 1.0)
           |      * 1000000000 + 0.5) AS BIGINT) END AS bp_nano
           |  FROM lens, m1, m2)
           |SELECT n_pairs, c_len, r_len,
           |  CAST(match_1 AS BIGINT) AS match_1,
           |  CAST(total_1 AS BIGINT) AS total_1, p1_nano,
           |  CAST(match_2 AS BIGINT) AS match_2,
           |  CAST(total_2 AS BIGINT) AS total_2, p2_nano,
           |  bp_nano,
           |  CAST(CASE WHEN bp_nano IS NOT NULL THEN
           |    bp_nano + (p1_nano + p2_nano) // 2 END AS BIGINT)
           |    AS neg_log_bleu_nano
           |FROM f""".stripMargin)
  )

  /** Diagonal-Mahalanobis outliers (fully oracled): top-25 embedding
    * rows by summed per-dimension squared z-score — micro quantization,
    * per-dim moments, the square-over-variance quotient, and the
    * (score desc, id) total order all replayed in DuckDB HUGEINT. */
  val mahalanobisProbe = Probe(
    "q275_mahalanobis_outliers",
    (s, d) => {
      Similarity.mahalanobisDiag(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), dim = 64, topK = 25)
    },
    Some("""WITH q AS (SELECT vec_id AS id,
           |    list_transform(embedding, x -> CAST(floor(
           |      CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
           |  FROM embeddings WHERE vec_id IS NOT NULL
           |    AND embedding IS NOT NULL AND len(embedding) = 64),
           |e AS (SELECT id, t.d AS d, qv[t.d] AS x
           |  FROM q, unnest(range(1, 65)) AS t(d)),
           |st AS (SELECT d, count(*) AS n, sum(x) AS s,
           |    sum(CAST(x AS HUGEINT) * x) AS s2 FROM e GROUP BY 1),
           |st2 AS (SELECT d, n, s,
           |    n * s2 - CAST(s AS HUGEINT) * s AS vn FROM st),
           |sc AS (SELECT e.id,
           |    sum(CASE WHEN st2.vn > 0 THEN
           |      ((CAST(e.x AS HUGEINT) * st2.n - st2.s)
           |       * (CAST(e.x AS HUGEINT) * st2.n - st2.s) * 1000000)
           |        // st2.vn
           |      ELSE 0 END) AS score
           |  FROM e JOIN st2 ON e.d = st2.d GROUP BY 1),
           |meta AS (SELECT CAST(max(n) AS BIGINT) AS n,
           |    CAST(count(*) FILTER (WHERE vn <= 0) AS BIGINT)
           |      AS n_const_dims FROM st2),
           |r AS (SELECT id, CAST(score AS BIGINT) AS score_micro,
           |    row_number() OVER (ORDER BY score DESC, id ASC) AS rank
           |  FROM sc)
           |SELECT r.id, r.score_micro, CAST(r.rank AS BIGINT) AS rank,
           |  meta.n, meta.n_const_dims
           |FROM r, meta WHERE r.rank <= 25 ORDER BY r.rank""".stripMargin)
  )

  /** Difference-in-differences (fully oracled): even-user spend shift
    * across the mid-month boundary net of the odd-user shift — all
    * four cell means positive truncating micro-quotients in DuckDB
    * HUGEINT. */
  val didProbe = Probe(
    "q276_diff_in_diff",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.diffInDiff(
        Tables.events(s, d).filter(col("user_id").isNotNull &&
          col("value").isNotNull && col("ts").isNotNull),
        col("user_id") % 2 === 0,
        expr("unix_micros(ts) DIV 86400000000") >= 19738L,
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
    },
    Some("""WITH b AS (SELECT user_id % 2 = 0 AS t,
           |    epoch_us(ts::TIMESTAMP) // 86400000000 >= 19738 AS p,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
           |  FROM events WHERE user_id IS NOT NULL
           |    AND value IS NOT NULL AND ts IS NOT NULL),
           |a AS (SELECT
           |    CAST(count(*) FILTER (WHERE t AND NOT p AND v >= 0)
           |      AS BIGINT) AS n_t_pre,
           |    CAST(coalesce(sum(v) FILTER (WHERE t AND NOT p
           |      AND v >= 0), 0) AS BIGINT) AS sum_t_pre,
           |    CAST(count(*) FILTER (WHERE t AND p AND v >= 0)
           |      AS BIGINT) AS n_t_post,
           |    CAST(coalesce(sum(v) FILTER (WHERE t AND p AND v >= 0),
           |      0) AS BIGINT) AS sum_t_post,
           |    CAST(count(*) FILTER (WHERE NOT t AND NOT p AND v >= 0)
           |      AS BIGINT) AS n_c_pre,
           |    CAST(coalesce(sum(v) FILTER (WHERE NOT t AND NOT p
           |      AND v >= 0), 0) AS BIGINT) AS sum_c_pre,
           |    CAST(count(*) FILTER (WHERE NOT t AND p AND v >= 0)
           |      AS BIGINT) AS n_c_post,
           |    CAST(coalesce(sum(v) FILTER (WHERE NOT t AND p
           |      AND v >= 0), 0) AS BIGINT) AS sum_c_post,
           |    CAST(count(*) FILTER (WHERE v < 0) AS BIGINT)
           |      AS n_dropped
           |  FROM b)
           |SELECT *, CAST(CASE WHEN n_t_pre > 0 AND n_t_post > 0
           |    AND n_c_pre > 0 AND n_c_post > 0 THEN
           |  (CAST((CAST(sum_t_post AS HUGEINT) * 1000000) // n_t_post
           |     AS BIGINT)
           |   - CAST((CAST(sum_t_pre AS HUGEINT) * 1000000) // n_t_pre
           |     AS BIGINT))
           |  - (CAST((CAST(sum_c_post AS HUGEINT) * 1000000)
           |       // n_c_post AS BIGINT)
           |     - CAST((CAST(sum_c_pre AS HUGEINT) * 1000000)
           |       // n_c_pre AS BIGINT))
           |  END AS BIGINT) AS did_micro
           |FROM a""".stripMargin)
  )

  /** Restricted mean survival time (fully oracled): expected
    * error-free hours within the q224 cohort's first 24 — the KM
    * staging plus the steps-frame segment integration replayed in
    * DuckDB. */
  val rmstProbe = Probe(
    "q277_rmst",
    (s, d) => {
      import graft.operators.Survival
      val windowH = 24L
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("__t"),
          col("event_type"))
      val firsts = ev.groupBy(col("user_id"))
        .agg(min(col("__t")).as("__f"))
      val firstErr = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(min(col("__t")).as("__te"))
      val subjects = firsts.join(firstErr, Seq("user_id"), "left_outer")
        .select(
          when(col("__te").isNotNull &&
              expr("(__te - __f) DIV 3600000000") < windowH,
            expr("(__te - __f) DIV 3600000000")).otherwise(lit(windowH))
            .as("dur_h"),
          (col("__te").isNotNull &&
            expr("(__te - __f) DIV 3600000000") < windowH).as("observed"))
      Survival.rmst(subjects, col("dur_h"), col("observed"),
        horizon = 24L)
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS t,
           |    event_type
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |u AS (SELECT user_id, min(t) AS f FROM e GROUP BY 1),
           |err AS (SELECT user_id, min(t) AS te FROM e
           |  WHERE event_type = 'error' GROUP BY 1),
           |subj AS (SELECT
           |    CASE WHEN te IS NOT NULL AND (te - f) // 3600000000 < 24
           |      THEN (te - f) // 3600000000 ELSE 24 END AS d,
           |    te IS NOT NULL AND (te - f) // 3600000000 < 24 AS o
           |  FROM u LEFT JOIN err USING (user_id)),
           |tot AS (SELECT count(*) AS n FROM subj),
           |perT AS (SELECT d,
           |    CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_events,
           |    CAST(sum(CASE WHEN NOT o THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_censored
           |  FROM subj GROUP BY d),
           |r AS (SELECT *,
           |    (SELECT n FROM tot) - coalesce(sum(n_events + n_censored)
           |      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
           |        1 PRECEDING), 0) AS n_risk
           |  FROM perT),
           |q AS (SELECT *,
           |    CASE WHEN n_events = 0 THEN 0
           |         WHEN n_events < n_risk THEN
           |           CAST(floor(ln(CAST(n_risk - n_events AS DOUBLE) /
           |             n_risk) * 1000000 + 0.5) AS BIGINT) END AS lnq,
           |    CASE WHEN n_events > 0 AND n_events = n_risk
           |         THEN 1 ELSE 0 END AS z
           |  FROM r),
           |c AS (SELECT *,
           |    coalesce(sum(lnq) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW), 0) AS logS,
           |    coalesce(sum(z) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW), 0) AS zs
           |  FROM q),
           |km AS (SELECT d AS t,
           |    CAST(CASE WHEN zs > 0 THEN 0 ELSE
           |      floor(exp(CAST(logS AS DOUBLE) / 1000000.0) * 1000000
           |        + 0.5) END AS BIGINT) AS surv_ppm
           |  FROM c WHERE n_events > 0),
           |seg AS (SELECT t, surv_ppm,
           |    coalesce(lead(t) OVER (ORDER BY t), 24) AS tnext
           |  FROM km),
           |area AS (SELECT CAST(count(*) AS BIGINT) AS n_steps,
           |    CAST(coalesce(sum(surv_ppm * (least(tnext, 24) - t)), 0)
           |      AS BIGINT) AS a,
           |    coalesce(min(t), 24) AS t1
           |  FROM seg WHERE t < 24)
           |SELECT CAST(24 AS BIGINT) AS horizon, n_steps,
           |  CAST((SELECT n FROM tot) AS BIGINT) AS n_subjects,
           |  CAST(least(t1, 24) * 1000000 + a AS BIGINT)
           |    AS rmst_time_ppm,
           |  CAST((least(t1, 24) * 1000000 + a) // 24 AS BIGINT)
           |    AS mean_surv_ppm
           |FROM area""".stripMargin)
  )

  /** Fellegi–Sunter linkage weights (fully oracled): labeled pairs
    * built deterministically from the documents frame — match pairs
    * are noised copies (every 5th lang / 7th source agreement replaced
    * by the NEXT doc's field), non-match pairs are doc-vs-next-doc;
    * m/u ppm clamps and the pinned nano-ln weights replayed in
    * DuckDB. */
  val linkageProbe = Probe(
    "q278_linkage_weights",
    (s, d) => {
      import graft.operators.Golden
      // "next doc by id" WITHOUT a global unpartitioned window: lead
      // within doc_id buckets (parallel over n), then a boundary join
      // supplies each bucket-LAST row its successor — the head of the
      // next non-empty bucket. The only ordered-single-partition work
      // left is the lead over the HEADS frame: O(n/B) rows (one per
      // non-empty bucket), made explicit with partitionBy(lit(0)) —
      // bounded by B's choice, never by the corpus.
      val base = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars DIV 50").as("lb"))
        .withColumn("__b", expr("doc_id DIV 4096"))
      val wb = Window.partitionBy(col("__b")).orderBy(col("doc_id"))
      val led = base
        .withColumn("__next",
          lead(struct(col("lang"), col("source"), col("lb")), 1).over(wb))
        .withColumn("__is_last",
          row_number().over(
            Window.partitionBy(col("__b")).orderBy(col("doc_id").desc)) === 1)
      val heads = base.groupBy(col("__b"))
        .agg(min_by(struct(col("lang"), col("source"), col("lb")),
          col("doc_id")).as("__h"))
        .withColumn("__nh",
          lead(col("__h"), 1).over(
            // constant-VALUED but non-foldable partition key: an
            // explicit single hash partition over the O(n/B) heads
            // frame (lit(0) would be constant-folded out of the
            // partitionSpec, reintroducing the unpartitioned-window
            // path this rewrite exists to avoid)
            Window.partitionBy(pmod(col("__b"), lit(1L))).orderBy(col("__b"))))
        .select(col("__b"), col("__nh"))
      val docs = led.join(broadcast(heads), Seq("__b"), "left")
        .withColumn("__succ", when(col("__is_last"), col("__nh"))
          .otherwise(col("__next")))
        .select(col("doc_id"), col("lang"), col("source"), col("lb"),
          col("__succ.lang").as("nlang"),
          col("__succ.source").as("nsource"),
          col("__succ.lb").as("nlen"))
      val matches = docs.select(lit(true).as("m"),
        (col("doc_id") % 5 =!= 0 ||
          col("lang") === col("nlang")).as("a_lang"),
        (col("doc_id") % 7 =!= 0 ||
          col("source") === col("nsource")).as("a_source"),
        lit(true).as("a_len"))
      val nonmatches = docs.select(lit(false).as("m"),
        (col("lang") === col("nlang")).as("a_lang"),
        (col("source") === col("nsource")).as("a_source"),
        (col("lb") === col("nlen")).as("a_len"))
      Golden.linkageWeights(matches.unionByName(nonmatches), col("m"),
        Seq("lang" -> col("a_lang"), "len" -> col("a_len"),
          "source" -> col("a_source")))
    },
    Some("""WITH dd AS (SELECT doc_id, lang, source,
           |    n_chars // 50 AS lb,
           |    lead(lang) OVER (ORDER BY doc_id) AS nlang,
           |    lead(source) OVER (ORDER BY doc_id) AS nsource,
           |    lead(n_chars // 50) OVER (ORDER BY doc_id) AS nlen
           |  FROM documents WHERE doc_id IS NOT NULL),
           |p AS (
           |  SELECT true AS m,
           |    (doc_id % 5 != 0 OR lang = nlang) AS a_lang,
           |    (doc_id % 7 != 0 OR source = nsource) AS a_source,
           |    true AS a_len FROM dd
           |  UNION ALL
           |  SELECT false, lang = nlang, source = nsource, lb = nlen
           |  FROM dd),
           |tot AS (SELECT
           |    CAST(count(*) FILTER (WHERE m) AS BIGINT) AS n_match,
           |    CAST(count(*) FILTER (WHERE NOT m) AS BIGINT)
           |      AS n_nonmatch FROM p),
           |f AS (
           |  SELECT 'lang' AS field,
           |    CAST(count(*) FILTER (WHERE m AND a_lang) AS BIGINT)
           |      AS agree_m,
           |    CAST(count(*) FILTER (WHERE NOT m AND a_lang) AS BIGINT)
           |      AS agree_u,
           |    CAST(count(*) FILTER (WHERE m AND a_lang IS NOT NULL)
           |      AS BIGINT) AS n_cmp_m,
           |    CAST(count(*) FILTER (WHERE NOT m AND a_lang IS NOT
           |      NULL) AS BIGINT) AS n_cmp_u,
           |    CAST(count(*) FILTER (WHERE a_lang IS NULL) AS BIGINT)
           |      AS n_null_cmp
           |  FROM p
           |  UNION ALL
           |  SELECT 'len',
           |    CAST(count(*) FILTER (WHERE m AND a_len) AS BIGINT),
           |    CAST(count(*) FILTER (WHERE NOT m AND a_len) AS BIGINT),
           |    CAST(count(*) FILTER (WHERE m AND a_len IS NOT NULL)
           |      AS BIGINT),
           |    CAST(count(*) FILTER (WHERE NOT m AND a_len IS NOT
           |      NULL) AS BIGINT),
           |    CAST(count(*) FILTER (WHERE a_len IS NULL) AS BIGINT)
           |  FROM p
           |  UNION ALL
           |  SELECT 'source',
           |    CAST(count(*) FILTER (WHERE m AND a_source) AS BIGINT),
           |    CAST(count(*) FILTER (WHERE NOT m AND a_source)
           |      AS BIGINT),
           |    CAST(count(*) FILTER (WHERE m AND a_source IS NOT NULL)
           |      AS BIGINT),
           |    CAST(count(*) FILTER (WHERE NOT m AND a_source IS NOT
           |      NULL) AS BIGINT),
           |    CAST(count(*) FILTER (WHERE a_source IS NULL) AS BIGINT)
           |  FROM p),
           |g AS (SELECT f.*, tot.n_match, tot.n_nonmatch,
           |    greatest(1, least(999999,
           |      (agree_m * 1000000) // n_cmp_m)) AS m_ppm,
           |    greatest(1, least(999999,
           |      (agree_u * 1000000) // n_cmp_u)) AS u_ppm,
           |    (agree_m * 1000000) // n_cmp_m AS raw_m,
           |    (agree_u * 1000000) // n_cmp_u AS raw_u
           |  FROM f, tot)
           |SELECT field, n_match, n_nonmatch, agree_m, agree_u,
           |  n_cmp_m, n_cmp_u, n_null_cmp,
           |  CAST((CASE WHEN m_ppm != raw_m THEN 1 ELSE 0 END)
           |    + (CASE WHEN u_ppm != raw_u THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_clamped,
           |  CAST(m_ppm AS BIGINT) AS m_ppm,
           |  CAST(u_ppm AS BIGINT) AS u_ppm,
           |  CAST(floor(ln(CAST(m_ppm AS DOUBLE) / u_ppm)
           |    * 1000000000 + 0.5) AS BIGINT) AS w_agree_nano,
           |  CAST(floor(ln(CAST(1000000 - m_ppm AS DOUBLE) /
           |    (1000000 - u_ppm)) * 1000000000 + 0.5) AS BIGINT)
           |    AS w_disagree_nano
           |FROM g ORDER BY field""".stripMargin)
  )

  /** Reshard movement audit (fully oracled): growing the event store
    * from 8 to 12 rendezvous shards — the per-(key, shard) digests,
    * both argmax picks, and the minimal-movement verdict replayed in
    * DuckDB. */
  val reshardProbe = Probe(
    "q279_reshard_audit",
    (s, d) => {
      import graft.operators.Layout
      Layout.reshardAudit(Tables.events(s, d), col("event_id"),
        fromShards = 8, toShards = 12)
    },
    Some("""WITH k AS (SELECT CAST(event_id AS VARCHAR) AS k
           |  FROM events WHERE event_id IS NOT NULL),
           |nn AS (SELECT CAST(count(*) FILTER (WHERE event_id IS NULL)
           |    AS BIGINT) AS n_null FROM events),
           |f AS (SELECT k, t.s AS s,
           |    CAST('0x' || substr(md5(k || '|' || CAST(t.s AS
           |      VARCHAR)), 1, 15) AS BIGINT) AS dg
           |  FROM k, unnest(range(0, 12)) AS t(s)),
           |fr AS (SELECT k, s AS sf FROM (SELECT k, s, row_number()
           |    OVER (PARTITION BY k ORDER BY dg DESC, s) AS rn
           |  FROM f WHERE s < 8) WHERE rn = 1),
           |tt AS (SELECT k, s AS st FROM (SELECT k, s, row_number()
           |    OVER (PARTITION BY k ORDER BY dg DESC, s) AS rn
           |  FROM f) WHERE rn = 1),
           |j AS (SELECT fr.k, sf, st FROM fr JOIN tt USING (k))
           |SELECT CAST(8 AS BIGINT) AS from_shards,
           |  CAST(12 AS BIGINT) AS to_shards,
           |  CAST(count(*) AS BIGINT) AS n,
           |  (SELECT n_null FROM nn) AS n_null,
           |  CAST(count(*) FILTER (WHERE sf != st) AS BIGINT)
           |    AS n_moved,
           |  CAST((count(*) FILTER (WHERE sf != st) * 1000000)
           |    // count(*) AS BIGINT) AS moved_ppm,
           |  CAST(count(*) FILTER (WHERE sf != st AND st >= 8)
           |    AS BIGINT) AS n_moved_to_new,
           |  count(*) FILTER (WHERE sf != st) =
           |    count(*) FILTER (WHERE sf != st AND st >= 8)
           |    AS moves_minimal
           |FROM j""".stripMargin)
  )

  /** Capture–recapture (fully oracled): two seeded overlapping crawls
    * of the documents table — Chapman and Lincoln–Petersen estimates
    * of the true corpus size, every quotient replayed in DuckDB. */
  val captureRecaptureProbe = Probe(
    "q280_capture_recapture",
    (s, d) => {
      import graft.operators.CorpusStats
      val docs = Tables.documents(s, d)
      def crawl(salt: String, mod: Int) = docs.filter(
        conv(substring(md5(concat_ws("|", lit(salt),
          col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long") % 10 < mod)
      CorpusStats.captureRecapture(crawl("ca", 6), crawl("cb", 7),
        col("doc_id"), col("doc_id"))
    },
    Some("""WITH da AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k
           |  FROM documents WHERE doc_id IS NOT NULL
           |    AND CAST('0x' || substr(md5('ca|' ||
           |      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 < 6),
           |db AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k
           |  FROM documents WHERE doc_id IS NOT NULL
           |    AND CAST('0x' || substr(md5('cb|' ||
           |      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 < 7),
           |c AS (SELECT
           |    (SELECT CAST(count(*) AS BIGINT) FROM da) AS n1,
           |    (SELECT CAST(count(*) AS BIGINT) FROM db) AS n2,
           |    (SELECT CAST(count(*) AS BIGINT) FROM da
           |     WHERE k IN (SELECT k FROM db)) AS m)
           |SELECT n1, n2, m, n1 + n2 - m AS seen,
           |  CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (m + 1) - 1
           |    AS BIGINT) AS chapman_est,
           |  CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (m + 1) - 1
           |    AS BIGINT) - (n1 + n2 - m) AS unseen_est,
           |  CASE WHEN m > 0 THEN
           |    CAST((CAST(n1 AS HUGEINT) * n2) // m AS BIGINT) END
           |    AS lincoln_est
           |FROM c""".stripMargin)
  )

  /** Markov next-event backtest (fully oracled): first-order model
    * trained on the first three weeks, hit@1 scored on the rest vs the
    * majority baseline — lag pairs, both argmaxes, and every ppm
    * replayed in DuckDB. */
  val markovBacktestProbe = Probe(
    "q281_markov_backtest",
    (s, d) => {
      import graft.operators.Analytics
      Analytics.markovBacktest(
        Tables.events(s, d).filter(col("user_id").isNotNull &&
          col("ts").isNotNull),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type"), splitTsUs = 1705881600000000L)
    },
    Some("""WITH e AS (SELECT user_id AS u, epoch_us(ts::TIMESTAMP)
           |      AS t, event_id AS eid, event_type AS s
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |p0 AS (SELECT u, t, s,
           |    lag(s) OVER (PARTITION BY u ORDER BY t, eid) AS prev
           |  FROM e),
           |p AS (SELECT prev AS cur, s AS nxt,
           |    t < 1705881600000000 AS train
           |  FROM p0 WHERE prev IS NOT NULL AND s IS NOT NULL),
           |tc AS (SELECT cur, nxt, count(*) AS n FROM p
           |  WHERE train GROUP BY 1, 2),
           |model AS (SELECT cur, nxt AS pred FROM (SELECT cur, nxt,
           |    row_number() OVER (PARTITION BY cur
           |      ORDER BY n DESC, nxt ASC) AS rn FROM tc)
           |  WHERE rn = 1),
           |base AS (SELECT nxt AS base_pred FROM (SELECT nxt,
           |    sum(n) AS n FROM tc GROUP BY 1)
           |  ORDER BY n DESC, nxt ASC LIMIT 1),
           |tr AS (SELECT CAST(count(*) FILTER (WHERE train) AS BIGINT)
           |    AS n_train FROM p),
           |te AS (SELECT p.nxt, m.pred,
           |    (SELECT base_pred FROM base) AS bp
           |  FROM p LEFT JOIN model m ON p.cur = m.cur
           |  WHERE NOT p.train),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
           |    CAST(count(*) FILTER (WHERE pred IS NULL) AS BIGINT)
           |      AS n_unseen,
           |    CAST(count(*) FILTER (WHERE pred = nxt) AS BIGINT)
           |      AS n_hits,
           |    CAST(count(*) FILTER (WHERE bp = nxt) AS BIGINT)
           |      AS n_base_hits FROM te)
           |SELECT n_train, n_test, n_unseen, n_hits,
           |  CASE WHEN n_test > 0 THEN
           |    CAST((n_hits * 1000000) // n_test AS BIGINT) END
           |    AS hit_ppm,
           |  n_base_hits,
           |  CASE WHEN n_test > 0 THEN
           |    CAST((n_base_hits * 1000000) // n_test AS BIGINT) END
           |    AS base_ppm,
           |  CASE WHEN n_base_hits > 0 THEN
           |    CAST((n_hits * 1000000) // n_base_hits AS BIGINT) END
           |    AS lift_ppm
           |FROM agg, tr""".stripMargin)
  )

  /** Dispersion index (fully oracled): are per-(user, day) event
    * counts Poisson-ish per event type? Exact moment arithmetic,
    * truncating ppm, verdict boolean. */
  val dispersionProbe = Probe(
    "q282_dispersion_index",
    (s, d) => {
      import graft.operators.Profile
      val counts = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      Profile.dispersionIndex(counts, col("event_type"), col("x"))
    },
    Some("""WITH c AS (SELECT event_type AS g, user_id,
           |    epoch_us(ts::TIMESTAMP) // 86400000000 AS day,
           |    CAST(count(*) AS BIGINT) AS x
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           |  GROUP BY 1, 2, 3),
           |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(0 AS BIGINT) AS n_dropped,
           |    CAST(sum(x) AS BIGINT) AS sum_x,
           |    sum(CAST(x AS HUGEINT) * x) AS sx2
           |  FROM c GROUP BY 1)
           |SELECT g AS group, n, n_dropped, sum_x,
           |  CAST(sx2 AS BIGINT) AS sum_x2,
           |  CASE WHEN n >= 2 AND sum_x > 0 THEN
           |    CAST(((n * sx2 - CAST(sum_x AS HUGEINT) * sum_x)
           |      * 1000000) // ((n - 1) * CAST(sum_x AS HUGEINT))
           |      AS BIGINT) END AS dispersion_ppm,
           |  CASE WHEN n >= 2 AND sum_x > 0 THEN
           |    ((n * sx2 - CAST(sum_x AS HUGEINT) * sum_x) * 1000000)
           |      // ((n - 1) * CAST(sum_x AS HUGEINT)) > 1000000 END
           |    AS overdispersed
           |FROM a ORDER BY g NULLS FIRST""".stripMargin)
  )

  /** Hellinger distance (fully oracled): language mix of even- vs
    * odd-id documents — per-cell pinned √ products quantized BEFORE
    * the sum, final √·√ ppm, both replayed in DuckDB. */
  val hellingerProbe = Probe(
    "q283_hellinger",
    (s, d) => {
      import graft.operators.Profile
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      Profile.hellinger(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), col("lang"), col("lang"))
    },
    Some("""WITH a AS (SELECT lang AS v, count(*) AS ca FROM documents
           |  WHERE doc_id IS NOT NULL AND doc_id % 2 = 0
           |    AND lang IS NOT NULL GROUP BY 1),
           |b AS (SELECT lang AS v, count(*) AS cb FROM documents
           |  WHERE doc_id IS NOT NULL AND doc_id % 2 = 1
           |    AND lang IS NOT NULL GROUP BY 1),
           |j AS (SELECT coalesce(a.ca, 0) AS ca, coalesce(b.cb, 0)
           |    AS cb
           |  FROM a FULL OUTER JOIN b ON a.v = b.v),
           |s AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_a,
           |    CAST(coalesce(sum(cb), 0) AS BIGINT) AS n_b,
           |    CAST(count(*) AS BIGINT) AS n_values,
           |    CAST(coalesce(sum(CAST(floor(sqrt(CAST(ca * cb
           |      AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)), 0)
           |      AS BIGINT) AS bc_num_nano
           |  FROM j)
           |SELECT n_a, n_b, n_values, bc_num_nano,
           |  CASE WHEN n_a > 0 AND n_b > 0 THEN
           |    CAST(floor(CAST(bc_num_nano AS DOUBLE) /
           |      (sqrt(CAST(n_a AS DOUBLE)) * sqrt(CAST(n_b AS DOUBLE))
           |       * 1000.0) + 0.5) AS BIGINT) END AS bc_ppm,
           |  CASE WHEN n_a > 0 AND n_b > 0 THEN
           |    greatest(0, 1000000 - CAST(floor(CAST(bc_num_nano
           |      AS DOUBLE) / (sqrt(CAST(n_a AS DOUBLE)) *
           |      sqrt(CAST(n_b AS DOUBLE)) * 1000.0) + 0.5)
           |      AS BIGINT)) END AS h2_ppm
           |FROM s""".stripMargin)
  )

  /** Dedup-clustering evaluation (fully oracled): raw-byte exact
    * clusters scored against case-folded truth clusters — all three
    * pair sums, the 2B/(P+T) F1 identity, and the reduction ratio
    * replayed in DuckDB HUGEINT. */
  val dedupEvalProbe = Probe(
    "q284_dedup_eval",
    (s, d) => {
      TextDedup.dedupEval(
        Tables.documents(s, d).filter(col("doc_id").isNotNull),
        col("doc_id"), md5(col("text")), md5(lower(col("text"))))
    },
    Some("""WITH b AS (SELECT CAST(doc_id AS VARCHAR) AS id,
           |    coalesce(md5(text), chr(0) || 's:' ||
           |      CAST(doc_id AS VARCHAR)) AS p,
           |    coalesce(md5(lower(text)), chr(0) || 's:' ||
           |      CAST(doc_id AS VARCHAR)) AS t
           |  FROM documents WHERE doc_id IS NOT NULL),
           |pp AS (SELECT coalesce(sum((CAST(c AS HUGEINT) * (c - 1))
           |    // 2), 0) AS v
           |  FROM (SELECT p, count(*) AS c FROM b GROUP BY 1)),
           |tt AS (SELECT coalesce(sum((CAST(c AS HUGEINT) * (c - 1))
           |    // 2), 0) AS v
           |  FROM (SELECT t, count(*) AS c FROM b GROUP BY 1)),
           |bb AS (SELECT coalesce(sum((CAST(c AS HUGEINT) * (c - 1))
           |    // 2), 0) AS v
           |  FROM (SELECT p, t, count(*) AS c FROM b GROUP BY 1, 2)),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
           |f AS (SELECT nn.n, pp.v AS np, tt.v AS nt, bb.v AS nb
           |  FROM nn, pp, tt, bb)
           |SELECT n, CAST(np AS BIGINT) AS n_pred_pairs,
           |  CAST(nt AS BIGINT) AS n_true_pairs,
           |  CAST(nb AS BIGINT) AS n_both_pairs,
           |  CASE WHEN np > 0 THEN
           |    CAST((nb * 1000000) // np AS BIGINT) END
           |    AS precision_ppm,
           |  CASE WHEN nt > 0 THEN
           |    CAST((nb * 1000000) // nt AS BIGINT) END AS recall_ppm,
           |  CASE WHEN np + nt > 0 THEN
           |    CAST((nb * 2000000) // (np + nt) AS BIGINT) END
           |    AS f1_ppm,
           |  CASE WHEN n >= 2 THEN 1000000 - CAST((np * 1000000)
           |    // ((CAST(n AS HUGEINT) * (n - 1)) // 2) AS BIGINT) END
           |    AS rr_ppm
           |FROM f""".stripMargin)
  )

  /** Log-domain stats (fully oracled): geometric mean of document
    * length per language — per-row pinned nano-ln, integer mean, one
    * pinned exp, all replayed in DuckDB. */
  val logStatsProbe = Probe(
    "q285_log_stats",
    (s, d) => {
      import graft.operators.Profile
      Profile.logStats(Tables.documents(s, d), col("lang"),
        col("n_chars"))
    },
    Some("""WITH b AS (SELECT lang AS g,
           |    CASE WHEN n_chars > 0 THEN CAST(floor(
           |      ln(CAST(n_chars AS DOUBLE)) * 1000000000 + 0.5)
           |      AS BIGINT) END AS lnv
           |  FROM documents WHERE n_chars IS NOT NULL),
           |a AS (SELECT g,
           |    CAST(count(*) FILTER (WHERE lnv IS NOT NULL) AS BIGINT)
           |      AS n,
           |    CAST(count(*) FILTER (WHERE lnv IS NULL) AS BIGINT)
           |      AS n_nonpos,
           |    CAST(coalesce(sum(lnv), 0) AS BIGINT) AS sum_ln_nano
           |  FROM b GROUP BY 1)
           |SELECT g AS group, n, n_nonpos, sum_ln_nano,
           |  CASE WHEN n > 0 THEN CAST(sum_ln_nano // n AS BIGINT) END
           |    AS mean_ln_nano,
           |  CASE WHEN n > 0 THEN CAST(floor(exp(
           |    CAST(sum_ln_nano // n AS DOUBLE) / 1000000000.0)
           |    * 1000000 + 0.5) AS BIGINT) END AS geo_micro
           |FROM a ORDER BY g NULLS FIRST""".stripMargin)
  )

  /** Top-k stability (fully oracled): is the top-20 supplier revenue
    * list real? — four seeded half-samples each rank their own top-20;
    * the md5 halves, both rankings, and every overlap replayed in
    * DuckDB. */
  val topkStabilityProbe = Probe(
    "q286_topk_stability",
    (s, d) => {
      import graft.operators.Profile
      Profile.topkStability(Tables.lineitem(s, d),
        concat_ws("|", col("l_orderkey"), col("l_linenumber")),
        col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
        k = 20, halves = 4)
    },
    Some("""WITH b AS (SELECT CAST(l_orderkey AS VARCHAR) || '|' ||
           |      CAST(l_linenumber AS VARCHAR) AS id,
           |    CAST(l_suppkey AS VARCHAR) AS k,
           |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
           |  FROM lineitem WHERE l_extendedprice IS NOT NULL
           |    AND l_suppkey IS NOT NULL),
           |ft AS (SELECT k FROM (SELECT k, sum(v) AS s,
           |    row_number() OVER (ORDER BY sum(v) DESC, k ASC) AS r
           |  FROM b GROUP BY k) WHERE r <= 20),
           |h AS (SELECT t.h AS half, b.* FROM b,
           |    unnest(range(0, 4)) AS t(h)
           |  WHERE CAST('0x' || substr(md5('42|' || CAST(t.h AS
           |    VARCHAR) || '|' || id), 1, 15) AS BIGINT) % 2 = 0),
           |ph AS (SELECT half, k, sum(v) AS s, count(*) AS n
           |  FROM h GROUP BY 1, 2),
           |ht AS (SELECT half, k FROM (SELECT half, k,
           |    row_number() OVER (PARTITION BY half
           |      ORDER BY s DESC, k ASC) AS r FROM ph) WHERE r <= 20),
           |rows_ AS (SELECT half, CAST(count(*) AS BIGINT) AS n_rows
           |  FROM h GROUP BY 1),
           |ov AS (SELECT half, CAST(count(*) AS BIGINT) AS overlap
           |  FROM ht WHERE k IN (SELECT k FROM ft) GROUP BY 1),
           |keff AS (SELECT CAST(count(*) AS BIGINT) AS ke FROM ft)
           |SELECT CAST(hh.half AS BIGINT) AS half,
           |  coalesce(rows_.n_rows, 0) AS n_rows,
           |  coalesce(ov.overlap, 0) AS overlap,
           |  CASE WHEN ke > 0 THEN CAST((coalesce(ov.overlap, 0)
           |    * 1000000) // least(20, ke) AS BIGINT) END AS overlap_ppm
           |FROM range(0, 4) AS hh(half)
           |LEFT JOIN rows_ ON hh.half = rows_.half
           |LEFT JOIN ov ON hh.half = ov.half, keff
           |ORDER BY half""".stripMargin)
  )

  /** Train/test coverage audit (fully oracled): how cold is the
    * second half of the month for per-user models trained on the
    * first? — row- and key-level unseen shares replayed in DuckDB. */
  val coverageAuditProbe = Probe(
    "q287_coverage_audit",
    (s, d) => {
      import graft.operators.Quality
      val ev = Tables.events(s, d).filter(col("ts").isNotNull)
      val split = expr("unix_micros(ts) DIV 86400000000") >= 19738L
      Quality.coverageAudit(ev.filter(!split), ev.filter(split),
        col("user_id"), col("user_id"))
    },
    Some("""WITH e AS (SELECT user_id AS k,
           |    epoch_us(ts::TIMESTAMP) // 86400000000 >= 19738 AS te
           |  FROM events WHERE ts IS NOT NULL),
           |tk AS (SELECT DISTINCT CAST(k AS VARCHAR) AS k FROM e
           |  WHERE NOT te AND k IS NOT NULL),
           |tt AS (SELECT CAST(k AS VARCHAR) AS k, count(*) AS n
           |  FROM e WHERE te GROUP BY 1),
           |j AS (SELECT tt.n, tk.k IS NOT NULL AS seen
           |  FROM tt LEFT JOIN tk ON tt.k = tk.k)
           |SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM tk) AS n_train_keys,
           |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n_test_rows,
           |  CAST(count(*) AS BIGINT) AS n_test_keys,
           |  CAST(coalesce(sum(CASE WHEN NOT seen THEN n ELSE 0 END),
           |    0) AS BIGINT) AS n_unseen_rows,
           |  CAST(count(*) FILTER (WHERE NOT seen) AS BIGINT)
           |    AS n_unseen_keys,
           |  CASE WHEN coalesce(sum(n), 0) > 0 THEN
           |    CAST((coalesce(sum(CASE WHEN NOT seen THEN n ELSE 0
           |      END), 0) * 1000000) // sum(n) AS BIGINT) END
           |    AS unseen_rows_ppm,
           |  CASE WHEN count(*) > 0 THEN
           |    CAST((count(*) FILTER (WHERE NOT seen) * 1000000)
           |      // count(*) AS BIGINT) END AS unseen_keys_ppm
           |FROM j""".stripMargin)
  )

  /** Effective sample size (fully oracled): Kish ESS and design
    * effect of the q262 post-stratification weights — exact weight
    * moments, truncating quotients, replayed in DuckDB HUGEINT. */
  val essProbe = Probe(
    "q288_effective_sample_size",
    (s, d) => {
      import graft.operators.Sampling
      // weights: document length relative to 100 chars, in micro units
      Sampling.effectiveSampleSize(Tables.documents(s, d),
        expr("n_chars * 10000L"))
    },
    Some("""WITH b AS (SELECT n_chars * 10000 AS w FROM documents
           |  WHERE n_chars IS NOT NULL),
           |a AS (SELECT
           |    CAST(count(*) FILTER (WHERE w > 0) AS BIGINT) AS n,
           |    CAST(count(*) FILTER (WHERE w <= 0) AS BIGINT)
           |      AS n_dropped,
           |    CAST(coalesce(sum(w) FILTER (WHERE w > 0), 0)
           |      AS BIGINT) AS sw,
           |    coalesce(sum(CAST(w AS HUGEINT) * w)
           |      FILTER (WHERE w > 0), 0) AS sw2
           |  FROM b)
           |SELECT n, n_dropped, sw AS sum_w_micro,
           |  CASE WHEN n > 0 THEN
           |    CAST((CAST(sw AS HUGEINT) * sw * 1000000) // sw2
           |      AS BIGINT) END AS ess_micro,
           |  CASE WHEN n > 0 THEN
           |    CAST((CAST(n AS HUGEINT) * sw2 * 1000000)
           |      // (CAST(sw AS HUGEINT) * sw) AS BIGINT) END
           |    AS deff_ppm
           |FROM a""".stripMargin)
  )

  /** KLL quantile-sketch rollup (self-oracled like q213): per-(type,
    * day) sketches merged up to event type — n is EXACT under merge
    * (gated ===), and each readout quantile's TRUE rank must sit
    * within 5% of its target (vs the k=200 sketch's ~1.7% guarantee);
    * DuckDB recomputes the exact counts and expects every invariant
    * true. Bench times the raw build+rollup, not the audit. */
  val kllRollupProbe = Probe(
    "q289_kll_rollup",
    (s, d) => {
      import graft.operators.Sketches
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
        .withColumn("__v", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      val daily = Sketches.kllQuantileSketches(ev,
        concat_ws("|", col("event_type"),
          expr("CAST(unix_micros(ts) DIV 86400000000 AS STRING)")),
        col("__v"))
      val rolled = Sketches.kllRollup(daily,
        substring_index(col("key"), "|", 1))
      val exact = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_exact"))
      val ranks = ev.join(broadcast(rolled.select(col("key"),
          col("p50"), col("p90"), col("p99"))),
          col("event_type") === col("key"))
        .groupBy(col("event_type"))
        .agg(
          coalesce(sum(when(col("__v") <= col("p50"), 1L)
            .otherwise(0L)), lit(0L)).as("__r50"),
          coalesce(sum(when(col("__v") <= col("p90"), 1L)
            .otherwise(0L)), lit(0L)).as("__r90"),
          coalesce(sum(when(col("__v") <= col("p99"), 1L)
            .otherwise(0L)), lit(0L)).as("__r99"))
      def okRank(r: String, qPpm: Long) =
        abs(col(r) * 1000000L - lit(qPpm) * col("n_exact")) <=
          lit(50000L) * col("n_exact")
      rolled.join(exact, col("key") === col("event_type"))
        .join(ranks, "event_type")
        .select(col("event_type"), col("n_exact"),
          (col("n") === col("n_exact")).as("ok_n"),
          okRank("__r50", 500000L).as("ok_p50"),
          okRank("__r90", 900000L).as("ok_p90"),
          okRank("__r99", 990000L).as("ok_p99"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact,
           |  true AS ok_n, true AS ok_p50, true AS ok_p90,
           |  true AS ok_p99
           |FROM events WHERE event_type IS NOT NULL
           |  AND value IS NOT NULL AND ts IS NOT NULL
           |GROUP BY event_type ORDER BY event_type""".stripMargin),
    benchRun = Some((s, d) => {
      import graft.operators.Sketches
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
        .withColumn("__v", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      Sketches.kllRollup(
        Sketches.kllQuantileSketches(ev,
          concat_ws("|", col("event_type"),
            expr("CAST(unix_micros(ts) DIV 86400000000 AS STRING)")),
          col("__v")),
        substring_index(col("key"), "|", 1)).drop("sketch")
    })
  )

  /** Mann–Kendall trend test (fully oracled): daily event counts per
    * type — S, the tie-adjusted 18·Var(S), and the continuity-corrected
    * z replayed in DuckDB HUGEINT. */
  val mannKendallProbe = Probe(
    "q290_mann_kendall",
    (s, d) => {
      import graft.operators.TimeSeries
      val daily = Tables.events(s, d).filter(col("ts").isNotNull)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      TimeSeries.mannKendall(daily, col("event_type"), col("day"),
        col("x"))
    },
    Some("""WITH dd AS (SELECT event_type AS g,
           |    epoch_us(ts::TIMESTAMP) // 86400000000 AS t,
           |    CAST(count(*) AS BIGINT) AS x
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |c AS (SELECT g, t, x, CAST(count(*) AS HUGEINT) AS cnt
           |  FROM dd GROUP BY 1, 2, 3),
           |p AS (SELECT a.g AS g,
           |    coalesce(sum(CASE WHEN a.t < b.t AND a.x < b.x
           |      THEN a.cnt * b.cnt END), 0) AS up,
           |    coalesce(sum(CASE WHEN a.t < b.t AND a.x > b.x
           |      THEN a.cnt * b.cnt END), 0) AS dn
           |  FROM c a JOIN c b ON a.g IS NOT DISTINCT FROM b.g
           |    AND (a.t < b.t OR (a.t = b.t AND a.x < b.x))
           |  GROUP BY 1),
           |tx AS (SELECT g, coalesce(sum(CAST(tc AS HUGEINT)
           |    * (tc - 1) * (tc * 2 + 5)), 0) AS tie
           |  FROM (SELECT g, x, count(*) AS tc FROM dd GROUP BY 1, 2)
           |  GROUP BY 1),
           |tt AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM dd
           |  GROUP BY 1),
           |j AS (SELECT tt.g, tt.n,
           |    coalesce(p.up, 0) - coalesce(p.dn, 0) AS s,
           |    CAST(tt.n AS HUGEINT) * (tt.n - 1) * (tt.n * 2 + 5)
           |      - tx.tie AS v18
           |  FROM tt
           |  LEFT JOIN tx ON tt.g IS NOT DISTINCT FROM tx.g
           |  LEFT JOIN p ON tt.g IS NOT DISTINCT FROM p.g)
           |SELECT g AS group, n, CAST(s AS BIGINT) AS s_stat,
           |  CAST(v18 AS BIGINT) AS var18,
           |  CASE WHEN n >= 2 AND v18 > 0 THEN
           |    (CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
           |          WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
           |          ELSE 0.0 END) / sqrt(CAST(v18 AS DOUBLE) / 18.0)
           |  END AS z
           |FROM j ORDER BY g NULLS FIRST""".stripMargin)
  )

  /** Decomposition strength (fully oracled): hourly event counts per
    * type at period 24 — the range-window trend, the shift-exact
    * seasonal means, and both cleared-denominator strengths replayed
    * in DuckDB HUGEINT. */
  val decompStrengthProbe = Probe(
    "q291_decomposition_strength",
    (s, d) => {
      import graft.operators.TimeSeries
      val hourly = Tables.events(s, d).filter(col("ts").isNotNull)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(count(lit(1)).as("x"))
      TimeSeries.decompositionStrength(hourly, col("event_type"),
        col("h"), col("x"), period = 24)
    },
    Some("""WITH h AS (SELECT event_type AS g,
           |    epoch_us(ts::TIMESTAMP) // 3600000000 AS t,
           |    CAST(count(*) AS BIGINT) AS x
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |tr AS (SELECT *,
           |    CAST((sum(x) OVER w * 1000000) // (count(*) OVER w)
           |      AS BIGINT) AS trend
           |  FROM h WINDOW w AS (PARTITION BY g ORDER BY t
           |    RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
           |dd AS (SELECT g, t, x, x * 1000000 - trend AS d,
           |    t % 24 AS ph FROM tr),
           |se AS (SELECT g, ph,
           |    CAST(sum(CAST(d + 10000000000000000 AS HUGEINT))
           |      // count(*) - 10000000000000000 AS BIGINT) AS seas
           |  FROM dd GROUP BY 1, 2),
           |f AS (SELECT dd.g, dd.d - se.seas AS r, dd.d AS detr,
           |    dd.x * 1000000 - se.seas AS deseas
           |  FROM dd JOIN se ON dd.g IS NOT DISTINCT FROM se.g
           |    AND dd.ph = se.ph),
           |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(*) AS HUGEINT) * sum(CAST(r AS HUGEINT) * r)
           |      - sum(CAST(r AS HUGEINT)) * sum(CAST(r AS HUGEINT))
           |      AS vr,
           |    CAST(count(*) AS HUGEINT)
           |      * sum(CAST(deseas AS HUGEINT) * deseas)
           |      - sum(CAST(deseas AS HUGEINT))
           |        * sum(CAST(deseas AS HUGEINT)) AS vds,
           |    CAST(count(*) AS HUGEINT)
           |      * sum(CAST(detr AS HUGEINT) * detr)
           |      - sum(CAST(detr AS HUGEINT))
           |        * sum(CAST(detr AS HUGEINT)) AS vdt
           |  FROM f GROUP BY 1)
           |SELECT g AS group, n, CAST(0 AS BIGINT) AS n_dropped,
           |  CASE WHEN vds > 0 THEN greatest(0,
           |    1000000 - CAST((vr * 1000000) // vds AS BIGINT)) END
           |    AS f_trend_ppm,
           |  CASE WHEN vdt > 0 THEN greatest(0,
           |    1000000 - CAST((vr * 1000000) // vdt AS BIGINT)) END
           |    AS f_seasonal_ppm
           |FROM a ORDER BY g NULLS FIRST""".stripMargin)
  )

  /** Missingness-association matrix (fully oracled): planted
    * correlated nulls (lang/source share a failure mode, n_chars
    * independent) — all pair counts from one pass and each pinned φ
    * replayed in DuckDB. */
  val missingnessProbe = Probe(
    "q292_missingness_matrix",
    (s, d) => {
      import graft.operators.Profile
      val planted = Tables.documents(s, d).select(
        when(col("doc_id") % 7 === 0, lit(null))
          .otherwise(col("lang")).as("lang"),
        when(col("doc_id") % 7 === 0 || col("doc_id") % 11 === 0,
          lit(null)).otherwise(col("source")).as("source"),
        when(col("doc_id") % 13 === 0, lit(null))
          .otherwise(col("n_chars")).as("n_chars"))
      Profile.missingnessMatrix(planted,
        Seq("lang", "source", "n_chars"))
    },
    Some("""WITH p AS (SELECT
           |    (CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END)
           |      IS NULL AS ma,
           |    (CASE WHEN doc_id % 7 = 0 OR doc_id % 11 = 0
           |      THEN NULL ELSE source END) IS NULL AS mb,
           |    (CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END)
           |      IS NULL AS mc
           |  FROM documents),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(*) FILTER (WHERE ma) AS BIGINT) AS nl,
           |    CAST(count(*) FILTER (WHERE mc) AS BIGINT) AS nn,
           |    CAST(count(*) FILTER (WHERE mb) AS BIGINT) AS ns,
           |    CAST(count(*) FILTER (WHERE ma AND mc) AS BIGINT)
           |      AS b_l_n,
           |    CAST(count(*) FILTER (WHERE ma AND mb) AS BIGINT)
           |      AS b_l_s,
           |    CAST(count(*) FILTER (WHERE mc AND mb) AS BIGINT)
           |      AS b_n_s
           |  FROM p),
           |r AS (
           |  SELECT 'lang' AS col_a, 'n_chars' AS col_b, n,
           |    nl AS null_a, nn AS null_b, b_l_n AS null_both FROM a
           |  UNION ALL
           |  SELECT 'lang', 'source', n, nl, ns, b_l_s FROM a
           |  UNION ALL
           |  SELECT 'n_chars', 'source', n, nn, ns, b_n_s FROM a)
           |SELECT col_a, col_b, n, null_a, null_b, null_both,
           |  CASE WHEN null_a > 0 AND null_a < n
           |      AND null_b > 0 AND null_b < n THEN
           |    CAST(CAST(n AS HUGEINT) * null_both
           |      - CAST(null_a AS HUGEINT) * null_b AS DOUBLE) /
           |    (sqrt(CAST(CAST(null_a AS HUGEINT) * (n - null_a)
           |      AS DOUBLE)) *
           |     sqrt(CAST(CAST(null_b AS HUGEINT) * (n - null_b)
           |      AS DOUBLE)))
           |  END AS phi
           |FROM r ORDER BY col_a, col_b""".stripMargin)
  )

  /** Competing-risks cumulative incidence (fully oracled): first error
    * vs first purchase within each user's first 24 h — the all-cause
    * KM staging, the previous-step survival lag, and every per-type
    * increment replayed in DuckDB. */
  val cifProbe = Probe(
    "q293_cumulative_incidence",
    (s, d) => {
      import graft.operators.Survival
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("__t"),
          col("event_type"))
      val firsts = ev.groupBy(col("user_id"))
        .agg(min(col("__t")).as("__f"))
      def firstOf(t: String, out: String) =
        ev.filter(col("event_type") === t)
          .groupBy(col("user_id")).agg(min(col("__t")).as(out))
      val subjects = firsts
        .join(firstOf("error", "__te"), Seq("user_id"), "left_outer")
        .join(firstOf("purchase", "__tp"), Seq("user_id"), "left_outer")
        .select(
          when(col("__te").isNotNull &&
            expr("(__te - __f) DIV 3600000000") < 24L,
            expr("(__te - __f) DIV 3600000000")).as("__eh"),
          when(col("__tp").isNotNull &&
            expr("(__tp - __f) DIV 3600000000") < 24L,
            expr("(__tp - __f) DIV 3600000000")).as("__ph"))
        .select(
          when(col("__eh").isNotNull &&
              (col("__ph").isNull || col("__eh") <= col("__ph")),
            col("__eh"))
            .when(col("__ph").isNotNull, col("__ph"))
            .otherwise(lit(24L)).as("dur_h"),
          when(col("__eh").isNotNull &&
              (col("__ph").isNull || col("__eh") <= col("__ph")),
            lit("error"))
            .when(col("__ph").isNotNull, lit("purchase")).as("ev"))
      Survival.cumulativeIncidence(subjects, col("dur_h"), col("ev"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS t,
           |    event_type
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           |u AS (SELECT user_id, min(t) AS f FROM e GROUP BY 1),
           |fe AS (SELECT user_id, min(t) AS te FROM e
           |  WHERE event_type = 'error' GROUP BY 1),
           |fp AS (SELECT user_id, min(t) AS tp FROM e
           |  WHERE event_type = 'purchase' GROUP BY 1),
           |hs AS (SELECT
           |    CASE WHEN te IS NOT NULL AND (te - f) // 3600000000 < 24
           |      THEN (te - f) // 3600000000 END AS eh,
           |    CASE WHEN tp IS NOT NULL AND (tp - f) // 3600000000 < 24
           |      THEN (tp - f) // 3600000000 END AS ph
           |  FROM u LEFT JOIN fe USING (user_id)
           |    LEFT JOIN fp USING (user_id)),
           |subj AS (SELECT
           |    CASE WHEN eh IS NOT NULL AND (ph IS NULL OR eh <= ph)
           |        THEN eh
           |      WHEN ph IS NOT NULL THEN ph ELSE 24 END AS d,
           |    CASE WHEN eh IS NOT NULL AND (ph IS NULL OR eh <= ph)
           |        THEN 'error'
           |      WHEN ph IS NOT NULL THEN 'purchase' END AS ev
           |  FROM hs),
           |tot AS (SELECT count(*) AS n FROM subj),
           |perT AS (SELECT d,
           |    CAST(sum(CASE WHEN ev IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_events,
           |    CAST(sum(CASE WHEN ev IS NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_censored
           |  FROM subj GROUP BY d),
           |r AS (SELECT *,
           |    (SELECT n FROM tot) - coalesce(sum(n_events + n_censored)
           |      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
           |        1 PRECEDING), 0) AS n_risk
           |  FROM perT),
           |q AS (SELECT *,
           |    CASE WHEN n_events = 0 THEN 0
           |         WHEN n_events < n_risk THEN
           |           CAST(floor(ln(CAST(n_risk - n_events AS DOUBLE) /
           |             n_risk) * 1000000 + 0.5) AS BIGINT) END AS lnq,
           |    CASE WHEN n_events > 0 AND n_events = n_risk
           |         THEN 1 ELSE 0 END AS z
           |  FROM r),
           |c AS (SELECT *,
           |    coalesce(sum(lnq) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW), 0) AS logS,
           |    coalesce(sum(z) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW), 0) AS zs
           |  FROM q),
           |km AS (SELECT d AS t, CAST(n_risk AS BIGINT) AS n_risk,
           |    CAST(CASE WHEN zs > 0 THEN 0 ELSE
           |      floor(exp(CAST(logS AS DOUBLE) / 1000000.0) * 1000000
           |        + 0.5) END AS BIGINT) AS surv_ppm
           |  FROM c WHERE n_events > 0),
           |st AS (SELECT *, coalesce(lag(surv_ppm) OVER (ORDER BY t),
           |    1000000) AS surv_prev_ppm FROM km),
           |cells AS (SELECT d AS t, ev AS event,
           |    CAST(count(*) AS BIGINT) AS n_type_events
           |  FROM subj WHERE ev IS NOT NULL GROUP BY 1, 2),
           |j AS (SELECT cells.t, cells.event, st.n_risk,
           |    cells.n_type_events, st.surv_prev_ppm,
           |    CAST((st.surv_prev_ppm * cells.n_type_events)
           |      // st.n_risk AS BIGINT) AS inc_upm
           |  FROM cells JOIN st ON cells.t = st.t)
           |SELECT t, event, n_risk, n_type_events, surv_prev_ppm,
           |  inc_upm,
           |  CAST(sum(inc_upm) OVER (PARTITION BY event ORDER BY t
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |    AS BIGINT) AS cif_upm
           |FROM j ORDER BY event, t""".stripMargin)
  )

  /** ANN index staleness (self-oracled like q225): index built on the
    * even-id HALF of the corpus, recall measured against brute-force
    * exact over the FULL corpus — the structural ceiling (only indexed
    * vectors are returnable), the reachable band, and the recall floor
    * gate the audit; DuckDB recomputes the probe counts. */
  val indexStalenessProbe = Probe(
    "q294_index_staleness",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val snapshot = emb.filter(col("vec_id") % 2 === 0)
      val queries = emb.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val bits = annBits(emb)
      val dir = freshDir(s, "graft_q294_stale_index")
      Similarity.writeLshIndex(snapshot, dir, bits, dim = 64)
      Similarity.indexStaleness(s, dir, emb, queries, k = 10,
          bits = bits, dim = 64)
        .select(col("n_probes"), col("k"), col("n_true"),
          (col("n_hit") <= col("n_reachable")).as("ok_ceiling"),
          (col("reachable_ppm") >= 350000L &&
            col("reachable_ppm") <= 650000L).as("ok_reachable_band"),
          (col("recall_ppm") >= 100000L).as("ok_recall_floor"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_probes,
           |  CAST(10 AS BIGINT) AS k,
           |  CAST(count(*) * 10 AS BIGINT) AS n_true,
           |  true AS ok_ceiling, true AS ok_reachable_band,
           |  true AS ok_recall_floor
           |FROM embeddings WHERE vec_id % 17 = 0""".stripMargin),
    benchRun = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val bits = annBits(emb)
      val dir = freshDir(s, "graft_q294_stale_b")
      Similarity.writeLshIndex(emb.filter(col("vec_id") % 2 === 0),
        dir, bits, dim = 64)
      Similarity.indexStaleness(s, dir, emb, queries, k = 10,
        bits = bits, dim = 64)
    })

  /** IVF-PQ composed index (the 100 TB ANN layout): coarse IVF cells
    * bound the scan, per-cell residual PQ codes make the in-cell
    * candidate pass an O(m) table walk, exact cosine re-ranks the
    * shortlist. Gated in the q40/q77 style PLUS the q225 persistence
    * contract: the persisted-index search must equal the in-memory
    * composed search BIT-FOR-BIT (the index only changes where
    * candidates are read), rank-1 sims never exceed the exact NN
    * (+rounding), recall@1 over a floor, per-query ranks exactly
    * 1..n ≤ k. DuckDB recomputes the query count. */
  def ivfPqTrainStage(s: SparkSession, d: String): (Array[Double], Array[Double]) = {
    val sample = Tables.embeddings(s, d)
      .orderBy("vec_id").limit(512).coalesce(1)
    val cents = Similarity.ivfCentroids(sample, nCells = 8, dim = 64)
    val cbs = Similarity.ivfPqCodebooks(sample, nCells = 8, dim = 64,
      m = 8, kCodes = 16, cents, maxSample = 512)
    (cents, cbs)
  }

  val annIvfPq = Probe(
    "q295_ann_ivfpq",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (cents, cbs) = ivfPqTrainStage(s, d)
      val inMem = Similarity.ivfPqTopK(emb, queries, k = 10, nCells = 8,
        nProbe = 3, m = 8, kCodes = 16, dim = 64, cents, cbs,
        shortlist = 48)
      val dir = freshDir(s, "graft_q295_ivfpq_index")
      Similarity.writeIvfPqIndex(emb, dir, nCells = 8, dim = 64, m = 8,
        kCodes = 16, cents, cbs)
      val persisted = Similarity.searchIvfPqIndex(s, dir, queries,
        k = 10, nProbe = 3, shortlist = 48)
      // bit-equality: persisted search differs from in-memory only in
      // WHERE candidates are read, never in scores or ranks
      val pKeyed = persisted.select(col("query_id"), col("vec_id"),
        col("sim").as("__p_sim"), col("rank").as("__p_rank"))
      val mism = inMem.join(pKeyed, Seq("query_id", "vec_id"), "full_outer")
        .agg(coalesce(sum(when(col("sim") <=> col("__p_sim") &&
          col("rank") <=> col("__p_rank"), 0L).otherwise(1L)), lit(0L))
          .as("__n_mismatch"))
      val exact = Similarity.bruteForceTopK(emb, queries, k = 1)
        .select(col("query_id"), col("sim").as("__exact_sim"))
      val top1 = inMem.filter(col("rank") === 1)
        .select(col("query_id"), col("sim").as("__pq_sim"))
      val audit = exact.join(top1, Seq("query_id"), "left")
        .agg(
          count(lit(1)).as("n_queries"),
          count(col("__pq_sim")).as("__n_found"),
          coalesce(sum(when(col("__pq_sim") > col("__exact_sim") + 1e-9, 1L)
            .otherwise(0L)), lit(0L)).as("__n_viol"),
          coalesce(sum(when(col("__pq_sim") >= col("__exact_sim") - 1e-9, 1L)
            .otherwise(0L)), lit(0L)).as("__n_hit1"))
      val shape = inMem.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__n"), min(col("rank")).as("__minr"),
          max(col("rank")).as("__maxr"))
        .agg(coalesce(sum(when(
          col("__n") === col("__maxr") && col("__minr") === 1 &&
            col("__maxr") <= 10, 0L).otherwise(1L)), lit(0L))
          .as("__n_bad_shape"))
      audit.crossJoin(shape).crossJoin(mism)
        .select(
          col("n_queries"),
          (col("__n_mismatch") === 0).as("ok_persist_bitident"),
          (col("__n_viol") === 0).as("ok_never_above_exact"),
          (col("__n_found") >= col("n_queries") * 0.95).as("ok_found"),
          (col("__n_hit1") >= col("n_queries") * 0.3).as("ok_recall1"),
          (col("__n_bad_shape") === 0).as("ok_topk_shape"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
           |  true AS ok_persist_bitident, true AS ok_never_above_exact,
           |  true AS ok_found, true AS ok_recall1, true AS ok_topk_shape
           |FROM embeddings WHERE vec_id % 13 = 0""".stripMargin),
    benchRun = Some { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (cents, cbs) = ivfPqTrainStage(s, d)
      val dir = freshDir(s, "graft_q295_ivfpq_b")
      Similarity.writeIvfPqIndex(emb, dir, nCells = 8, dim = 64, m = 8,
        kCodes = 16, cents, cbs)
      Similarity.searchIvfPqIndex(s, dir, queries, k = 10, nProbe = 3,
        shortlist = 48)
    })

  /** Distributed full-corpus BPE training (q79's scale path): the whole
    * documents table trains the merge table — per round one (pair)-keyed
    * map-side-combined count + a one-row driver argmax — and the gate
    * proves it BITWISE equal to the driver-local reference trainer run
    * over the same full corpus (feasible in-gate: the driver trainer
    * collects only the word-frequency vocab). Bounded rounds (40).
    * DuckDB recomputes the corpus size. */
  val bpeDistributedProbe = Probe(
    "q296_bpe_distributed",
    (s, d) => {
      import graft.operators.Bpe
      val docs = Tables.documents(s, d)
      val nMerges = 40
      val dist = Bpe.trainDistributed(docs, col("text"), col("doc_id"),
        nMerges)
      val driver = Bpe.train(docs, col("text"), col("doc_id"), nMerges,
        maxSample = Int.MaxValue)
      val nDocs = docs.count()
      import s.implicits._
      Seq((nDocs, dist.length.toLong, dist == driver))
        .toDF("n_docs", "n_merges", "ok_equal_driver")
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(40 AS BIGINT) AS n_merges, true AS ok_equal_driver
           |FROM documents""".stripMargin),
    benchRun = Some { (s, d) =>
      import graft.operators.Bpe
      val docs = Tables.documents(s, d)
      val dist = Bpe.trainDistributed(docs, col("text"), col("doc_id"), 40)
      import s.implicits._
      dist.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
        .toDF("rank", "left", "right")
    })

  /** Real VIDEO frame decode (q57's video sibling — closes the round-7
    * "video decode is a stub" gap for the one animated container the
    * JDK demuxes): animated GIFs built in-gate through the real encoder
    * (id-derived frame counts, dims, and solid colors), demuxed +
    * composed by [[graft.multimodal.Codecs.decodeGifFrames]] inside the
    * sampleFrames generator, each tick's payload re-decoded as a real
    * PNG and audited for dimensions AND pixel content. DuckDB
    * recomputes every frame row (count, ts, dims) from the id
    * arithmetic. */
  private def gifAssets(s: SparkSession) = {
    implicit val spark = s
    import spark.implicits._
    import graft.multimodal.{Codecs, Multimodal}
    spark.range(20).map { i =>
      val nf = (2 + i % 3).toInt
      val w = (4 + i % 5).toInt
      val h = (3 + i % 4).toInt
      val frames = (0 until nf).map { k =>
        val c = Seq(0xff0000, 0x00ff00, 0x0000ff)(((i + k) % 3).toInt)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, c)
        img
      }
      // 100 cs = 1 s per frame: timeline length nf seconds
      Multimodal.Asset(i, "video",
        Codecs.encodeAnimatedGif(frames, delayCs = 100), None, None, None)
    }
  }

  val videoFramesProbe = Probe(
    "q297_video_frames",
    (s, d) => {
      implicit val spark = s
      import graft.multimodal.{Codecs, Multimodal}
      import s.implicits._
      val frames = Multimodal.sampleFrames(gifAssets(s), everyMs = 500L)
      frames.map { f =>
        val img = Codecs.decodeImage(f.payload).orNull
        val i = f.asset_id
        val nf = 2 + i % 3
        val expColor = Seq(0xff0000, 0x00ff00, 0x0000ff)(
          ((i + math.min(nf - 1, f.ts_ms / 1000L)) % 3).toInt)
        (f.asset_id, f.frame_idx, f.ts_ms,
          if (img == null) -1 else img.getWidth,
          if (img == null) -1 else img.getHeight,
          img != null && (img.getRGB(0, 0) & 0xffffff) == expColor)
      }.toDF("asset_id", "frame_idx", "ts_ms", "width", "height",
          "ok_color")
        .orderBy("asset_id", "frame_idx")
    },
    Some("""SELECT i AS asset_id, CAST(k AS INT) AS frame_idx,
           |  CAST(k * 500 AS BIGINT) AS ts_ms,
           |  CAST(4 + i % 5 AS INT) AS width,
           |  CAST(3 + i % 4 AS INT) AS height,
           |  true AS ok_color
           |FROM range(0, 20) t(i),
           |  LATERAL (SELECT unnest(range(0, (2 + i % 3) * 2 + 1)) AS k)
           |ORDER BY asset_id, frame_idx""".stripMargin),
    benchRun = Some { (s, d) =>
      implicit val spark = s
      import graft.multimodal.Multimodal
      import s.implicits._
      Multimodal.sampleFrames(gifAssets(s), everyMs = 500L)
        .map(f => (f.asset_id, f.frame_idx, f.ts_ms, f.payload.length))
        .toDF("asset_id", "frame_idx", "ts_ms", "n_bytes")
        .orderBy("asset_id", "frame_idx")
    })

  /** INT8 quantization audit (fully oracled, per-vector value table):
    * symmetric per-vector scale, clamped round, nano-integer error
    * stats — every number a pinned IEEE chain DuckDB replays bitwise. */
  val quantizationProbe = Probe(
    "q298_embedding_quantization",
    (s, d) => {
      import graft.operators.Similarity
      Similarity.quantizationAudit(Tables.embeddings(s, d))
    },
    Some("""WITH b AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings
           |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
           |s AS (SELECT vec_id, v,
           |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
           |  FROM b),
           |q AS (SELECT vec_id, sc,
           |    list_transform(v, x -> CASE WHEN sc = 0 THEN 0
           |      ELSE greatest(-127, least(127,
           |        CAST(floor(x / sc + 0.5) AS BIGINT))) END) AS qv,
           |    list_transform(v, x -> CAST(floor(abs(x -
           |      (CASE WHEN sc = 0 THEN 0
           |        ELSE greatest(-127, least(127,
           |          CAST(floor(x / sc + 0.5) AS BIGINT))) END) * sc)
           |      * 1000000000 + 0.5) AS BIGINT)) AS errs
           |  FROM s)
           |SELECT vec_id,
           |  CAST(floor(sc * 1000000000 + 0.5) AS BIGINT) AS scale_nano,
           |  CAST(len(list_filter(qv, x -> x = 127 OR x = -127))
           |    AS BIGINT) AS n_clipped,
           |  CAST(list_max(errs) AS BIGINT) AS max_err_nano,
           |  CAST(list_sum(errs) AS BIGINT) AS sum_err_nano
           |FROM q ORDER BY vec_id""".stripMargin)
  )

  /** ANN hard-negative mining (contrastive-training data op): label
    * filter BEFORE the top-k cut; the LSH path audited against the
    * exact miner — never-above-exact at rank 1, recall floor, all
    * returned labels really differ from the query's. DuckDB recomputes
    * the query count. */
  val hardNegativesProbe = Probe(
    "q299_hard_negatives",
    (s, d) => {
      import graft.operators.Similarity
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label"))
      val bits = annBits(emb)
      val exact = Similarity.hardNegatives(emb, queries, k = 5,
        "label", exact = true)
      val ann = Similarity.hardNegatives(emb, queries, k = 5,
        "label", exact = false, bits = bits, dim = 64, nProbe = 4)
      val e1 = exact.filter(col("rank") === 1)
        .select(col("query_id"), col("sim").as("__e_sim"))
      val a1 = ann.filter(col("rank") === 1)
        .select(col("query_id"), col("sim").as("__a_sim"))
      val ql = queries.select(col("query_id"), col("label").as("__ql"))
      val labelsOk = ann.join(ql, "query_id")
        .agg(coalesce(sum(when(col("label") <=> col("__ql"), 1L)
          .otherwise(0L)), lit(0L)).as("__n_bad_label"))
      e1.join(a1, Seq("query_id"), "left")
        .agg(
          count(lit(1)).as("n_queries"),
          count(col("__a_sim")).as("__n_found"),
          coalesce(sum(when(col("__a_sim") > col("__e_sim") + 1e-12, 1L)
            .otherwise(0L)), lit(0L)).as("__n_viol"),
          coalesce(sum(when(col("__a_sim") >= col("__e_sim") - 1e-12, 1L)
            .otherwise(0L)), lit(0L)).as("__n_hit1"))
        .crossJoin(labelsOk)
        .select(col("n_queries"),
          (col("__n_viol") === 0).as("ok_never_above_exact"),
          (col("__n_found") >= col("n_queries") * 0.9).as("ok_found"),
          (col("__n_hit1") >= col("n_queries") * 0.3).as("ok_recall1"),
          (col("__n_bad_label") === 0).as("ok_labels_differ"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
           |  true AS ok_never_above_exact, true AS ok_found,
           |  true AS ok_recall1, true AS ok_labels_differ
           |FROM embeddings WHERE vec_id % 17 = 0""".stripMargin),
    benchRun = Some { (s, d) =>
      import graft.operators.Similarity
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label"))
      Similarity.hardNegatives(emb, queries, k = 5, "label",
        exact = false, bits = annBits(emb), dim = 64, nProbe = 4)
    })

  /** Matryoshka truncated-dim recall (fully oracled value table): exact
    * top-k recall at 8/16/32/64 of 64 dims, integer ppm; the d=64 row
    * must read exactly 10⁶ (identical space, identical ties). */
  val truncatedRecallProbe = Probe(
    "q300_matryoshka_recall",
    (s, d) => {
      import graft.operators.Similarity
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.truncatedRecall(emb, queries, k = 10,
        dims = Seq(8, 16, 32, 64), fullDim = 64)
    },
    Some("""WITH dims AS (SELECT unnest([8, 16, 32, 64]) AS d),
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id % 29 = 0),
           |c AS (SELECT vec_id, embedding::DOUBLE[] AS cv
           |  FROM embeddings),
           |sc AS (SELECT d, query_id, vec_id,
           |    list_dot_product(list_slice(cv, 1, d),
           |      list_slice(qv, 1, d)) /
           |    NULLIF(sqrt(list_dot_product(list_slice(cv, 1, d),
           |        list_slice(cv, 1, d))) *
           |      sqrt(list_dot_product(list_slice(qv, 1, d),
           |        list_slice(qv, 1, d))), 0) AS sim
           |  FROM c, q, dims WHERE vec_id <> query_id),
           |r AS (SELECT d, query_id, vec_id, row_number() OVER (
           |    PARTITION BY d, query_id ORDER BY sim DESC, vec_id)
           |    AS rnk FROM sc),
           |topd AS (SELECT d, query_id, vec_id FROM r WHERE rnk <= 10),
           |full_ AS (SELECT query_id, vec_id FROM topd WHERE d = 64),
           |j AS (SELECT topd.d, topd.query_id, topd.vec_id,
           |    CASE WHEN full_.vec_id IS NOT NULL THEN 1 ELSE 0 END
           |      AS hit
           |  FROM topd LEFT JOIN full_
           |    ON topd.query_id = full_.query_id
           |    AND topd.vec_id = full_.vec_id)
           |SELECT CAST(d AS BIGINT) AS dim,
           |  CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(hit) AS BIGINT) AS n_hits,
           |  CASE WHEN count(*) > 0 THEN
           |    CAST((sum(hit) * 1000000) // count(*) AS BIGINT) END
           |    AS recall_ppm
           |FROM j GROUP BY d ORDER BY dim""".stripMargin)
  )

  /** Incremental IVF-PQ admission (q295's maintenance path, q61's ANN
    * twin): half the corpus indexed, the other half APPENDED under the
    * persisted model — search must be BIT-IDENTICAL to a full rebuild
    * over the union (same model ⇒ same cells, codes, estimates; only
    * file layout differs). DuckDB recomputes the query count. */
  val ivfPqAppendProbe = Probe(
    "q301_ivfpq_append",
    (s, d) => {
      import graft.operators.Similarity
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (cents, cbs) = ivfPqTrainStage(s, d)
      val incDir = freshDir(s, "graft_q301_ivfpq_inc")
      val fullDir = freshDir(s, "graft_q301_ivfpq_full")
      Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 2 === 0),
        incDir, nCells = 8, dim = 64, m = 8, kCodes = 16, cents, cbs)
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 2 =!= 0),
        incDir)
      Similarity.writeIvfPqIndex(emb, fullDir, nCells = 8, dim = 64,
        m = 8, kCodes = 16, cents, cbs)
      val inc = Similarity.searchIvfPqIndex(s, incDir, queries, k = 10,
        nProbe = 3, shortlist = 48)
      val full = Similarity.searchIvfPqIndex(s, fullDir, queries, k = 10,
        nProbe = 3, shortlist = 48)
      val fKeyed = full.select(col("query_id"), col("vec_id"),
        col("sim").as("__f_sim"), col("rank").as("__f_rank"))
      inc.join(fKeyed, Seq("query_id", "vec_id"), "full_outer")
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(when(col("sim") <=> col("__f_sim") &&
            col("rank") <=> col("__f_rank"), 0L).otherwise(1L)), lit(0L))
            .as("__n_mismatch"))
        .select(col("n_queries"), col("n_pairs"),
          (col("__n_mismatch") === 0).as("ok_append_eq_rebuild"),
          (col("n_pairs") > 0).as("ok_nonempty"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(count(*) * 10 AS BIGINT) AS n_pairs,
           |  true AS ok_append_eq_rebuild, true AS ok_nonempty
           |FROM embeddings WHERE vec_id % 13 = 0""".stripMargin),
    benchRun = Some { (s, d) =>
      import graft.operators.Similarity
      val emb = Tables.embeddings(s, d)
      val (cents, cbs) = ivfPqTrainStage(s, d)
      val dir = freshDir(s, "graft_q301_ivfpq_b")
      Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 2 === 0),
        dir, nCells = 8, dim = 64, m = 8, kCodes = 16, cents, cbs)
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 2 =!= 0),
        dir)
      val queries = emb.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.searchIvfPqIndex(s, dir, queries, k = 10, nProbe = 3,
        shortlist = 48)
    })

  /** S4 via SQL (dags/etl.py:71-76,97-114 — the reference's users type
    * `INSERT … ON CONFLICT DO UPDATE` SQL; graft's equivalent surface is
    * `MERGE INTO` over a registered MergeSink view, lowered by
    * GraftMergeRule onto the incremental last-wins merge). Same data
    * shape and oracle as q13, driven entirely through `spark.sql`. */
  val sqlMergeUpdateProbe = Probe(
    "q302_sql_merge_update",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.weather.Store
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
      val upd = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"))
      val sink = Store.ParquetSnapshotSink(
        freshDir(s, "graft_q302_target"))
      sink.overwriteAll(base)
      SqlMerge.register(s, "q302_target", sink)
      upd.createOrReplaceTempView("q302_source")
      s.sql(
        """MERGE INTO q302_target USING q302_source
          |ON q302_target.o_orderkey = q302_source.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          |FROM q302_target ORDER BY o_orderkey""".stripMargin)
    },
    Some("""WITH base AS (SELECT o_orderkey, o_totalprice, 0 AS prec FROM orders WHERE o_orderkey % 2 = 0),
           |upd AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice, 1 AS prec FROM orders WHERE o_orderkey % 3 = 0),
           |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
           |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY prec DESC) AS rn FROM u)
           |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
           |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)
  )

  /** S5 via SQL (notebook cell 19 — ON CONFLICT DO NOTHING): insert-only
    * MERGE lowered onto the incremental if-absent merge. Result is the
    * FULL post-merge table (base kept verbatim + absent keys appended). */
  val sqlMergeInsertProbe = Probe(
    "q303_sql_merge_insert",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.weather.Store
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val sink = Store.ParquetSnapshotSink(
        freshDir(s, "graft_q303_target"))
      sink.overwriteAll(base)
      SqlMerge.register(s, "q303_target", sink)
      o.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("q303_source")
      s.sql(
        """MERGE INTO q303_target USING q303_source
          |ON q303_target.o_orderkey = q303_source.o_orderkey
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM q303_target ORDER BY o_orderkey""".stripMargin)
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           |WHERE o_orderkey % 2 = 0
           |UNION ALL
           |SELECT o_orderkey, o_custkey, o_totalprice FROM orders i
           |WHERE o_orderkey % 3 = 0
           |  AND NOT EXISTS (SELECT 1 FROM orders e
           |                  WHERE e.o_orderkey % 2 = 0 AND e.o_orderkey = i.o_orderkey)
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** General MERGE shapes via SQL: conditional UPDATE with explicit
    * assignments, ordered-action DELETE, explicit-column INSERT, and
    * WHEN NOT MATCHED BY SOURCE — the full-outer-join row-action
    * lowering (SqlMergeExec.generalPath). DuckDB recomputes each action
    * class set-wise. */
  val sqlMergeGeneralProbe = Probe(
    "q304_sql_merge_general",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.weather.Store
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
      val sink = Store.ParquetSnapshotSink(
        freshDir(s, "graft_q304_target"))
      sink.overwriteAll(base)
      SqlMerge.register(s, "q304_target", sink)
      o.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("q304_source")
      s.sql(
        """MERGE INTO q304_target USING q304_source
          |ON q304_target.o_orderkey = q304_source.o_orderkey
          |WHEN MATCHED AND q304_source.o_totalprice > 150000.0
          |  THEN UPDATE SET o_totalprice = q304_source.o_totalprice + 1.0
          |WHEN MATCHED THEN DELETE
          |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice)
          |  VALUES (q304_source.o_orderkey, q304_source.o_totalprice)
          |WHEN NOT MATCHED BY SOURCE AND q304_target.o_orderkey % 10 = 4
          |  THEN DELETE""".stripMargin)
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          |FROM q304_target ORDER BY o_orderkey""".stripMargin)
    },
    Some("""WITH t AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
           |s AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
           |upd AS (SELECT t.o_orderkey, s.o_totalprice + 1.0 AS o_totalprice
           |        FROM t JOIN s ON t.o_orderkey = s.o_orderkey
           |        WHERE s.o_totalprice > 150000.0),
           |ins AS (SELECT s.o_orderkey, s.o_totalprice FROM s
           |        WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.o_orderkey = s.o_orderkey)),
           |keep AS (SELECT t.o_orderkey, t.o_totalprice FROM t
           |         WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)
           |           AND NOT (t.o_orderkey % 10 = 4))
           |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
           |FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM keep)
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** The no-WHEN-MATCHED merge shape: `WHEN NOT MATCHED AND cond THEN
    * INSERT` + `WHEN NOT MATCHED BY SOURCE THEN DELETE`, with NO
    * matched-row action at all — matched target rows must pass through
    * VERBATIM, exactly once. This is the shape whose general-path
    * lowering fanned out duplicate target rows before the round-11
    * `SqlMerge` hardening (an action-less matched row met a
    * many-matches source join); the gate pins the fix with a DuckDB
    * replay, not just ScalaTest. */
  val sqlMergeUnmatchedOnlyProbe = Probe(
    "q315_sql_merge_unmatched_only",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.weather.Store
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
      val sink = Store.ParquetSnapshotSink(
        freshDir(s, "graft_q315_target"))
      sink.overwriteAll(base)
      SqlMerge.register(s, "q315_target", sink)
      o.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("q315_source")
      s.sql(
        """MERGE INTO q315_target USING q315_source
          |ON q315_target.o_orderkey = q315_source.o_orderkey
          |WHEN NOT MATCHED AND q315_source.o_totalprice < 150000.0
          |  THEN INSERT (o_orderkey, o_totalprice)
          |  VALUES (q315_source.o_orderkey, q315_source.o_totalprice)
          |WHEN NOT MATCHED BY SOURCE AND q315_target.o_orderkey % 10 = 2
          |  THEN DELETE""".stripMargin)
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          |FROM q315_target ORDER BY o_orderkey""".stripMargin)
    },
    Some("""WITH t AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
           |s AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
           |matched AS (SELECT t.o_orderkey, t.o_totalprice FROM t
           |            WHERE EXISTS (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)),
           |ins AS (SELECT s.o_orderkey, s.o_totalprice FROM s
           |        WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.o_orderkey = s.o_orderkey)
           |          AND s.o_totalprice < 150000.0),
           |keep AS (SELECT t.o_orderkey, t.o_totalprice FROM t
           |         WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)
           |           AND NOT (t.o_orderkey % 10 = 2))
           |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
           |FROM (SELECT * FROM matched UNION ALL SELECT * FROM ins
           |      UNION ALL SELECT * FROM keep)
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** SQL UPDATE over a registered table (the row-level DML surface
    * beyond MERGE): conditional projection rewrite through the sink.
    * DuckDB recomputes the post-update table from orders directly. */
  val sqlUpdateProbe = Probe(
    "q305_sql_update",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.weather.Store
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
      val sink = Store.ParquetSnapshotSink(
        freshDir(s, "graft_q305_target"))
      sink.overwriteAll(base)
      SqlMerge.register(s, "q305_target", sink)
      s.sql(
        """UPDATE q305_target SET o_totalprice = o_totalprice + 5.0
          |WHERE o_orderkey % 10 = 6""".stripMargin)
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          |FROM q305_target ORDER BY o_orderkey""".stripMargin)
    },
    Some("""SELECT o_orderkey,
           |  round(CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 5.0
           |             ELSE o_totalprice END, 2) AS o_totalprice
           |FROM orders WHERE o_orderkey % 2 = 0
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** SQL DELETE over a registered table: keep-filter rewrite (NULL
    * predicates keep, per SQL). DuckDB replays the complement filter. */
  val sqlDeleteProbe = Probe(
    "q306_sql_delete",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.weather.Store
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val sink = Store.ParquetSnapshotSink(
        freshDir(s, "graft_q306_target"))
      sink.overwriteAll(base)
      SqlMerge.register(s, "q306_target", sink)
      s.sql("DELETE FROM q306_target WHERE o_totalprice > 200000.0")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM q306_target ORDER BY o_orderkey""".stripMargin)
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
           |FROM orders WHERE o_orderkey % 2 = 0
           |  AND NOT (o_totalprice > 200000.0)
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** Partition-pruned SQL DELETE on the transactional sink: affected
    * dates from one pushed-down pass, only those dates' chunks
    * rewritten (emptied dates leave the manifest), untouched dates
    * byte-identical — the replaceDates seam, driven end-to-end from
    * `spark.sql`. DuckDB replays the complement filter. */
  val sqlDeletePrunedProbe = Probe(
    "q307_sql_delete_pruned",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.sources.TxnParquet.TxnParquetSink
      val o = Tables.orders(s, d)
      // synthetic 30-day axis: o_orderdate has ~2400 distinct days,
      // which would make the DATE-PARTITIONED fixture a thousands-of-
      // tiny-dirs pathology — the operator under test is the pruned
      // rewrite, not partition-count stress
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          date_add(lit(java.sql.Date.valueOf("2024-01-01")),
            (col("o_orderkey") % 30).cast("int")).as("dt"),
          col("o_totalprice"))
      val sink = TxnParquetSink(
        freshDir(s, "graft_q307_target"), tsCol = "dt")
      sink.overwriteAll(base)
      SqlMerge.register(s, "q307_target", sink)
      // touches 5 of the 30 dates; the other 25 stay byte-identical
      s.sql(
        """DELETE FROM q307_target
          |WHERE o_totalprice > 250000.0 AND dt >= DATE'2024-01-26'""".stripMargin)
      s.sql(
        """SELECT o_orderkey, dt, o_totalprice
          |FROM q307_target ORDER BY o_orderkey""".stripMargin)
    },
    Some("""WITH t AS (SELECT o_orderkey,
           |    DATE '2024-01-01' + CAST(o_orderkey % 30 AS INTEGER) AS dt,
           |    o_totalprice
           |  FROM orders WHERE o_orderkey % 2 = 0)
           |SELECT o_orderkey, dt, o_totalprice FROM t
           |WHERE NOT (o_totalprice > 250000.0 AND dt >= DATE '2024-01-26')
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** SQL time travel: the table exactly as an earlier manifest
    * committed it, via the graft_version table function over a
    * TxnParquetSink — version 1 pinned while version 2 diverges.
    * DuckDB recomputes version 1 (the pre-merge base) from orders. */
  val sqlTimeTravelProbe = Probe(
    "q308_sql_time_travel",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.sources.TxnParquet.TxnParquetSink
      val o = Tables.orders(s, d)
      // same synthetic 30-day axis as q307 (date-partition count is
      // fixture hygiene, not the operator under test)
      val dt30 = date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("o_orderkey") % 30).cast("int")).as("dt")
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), dt30, col("o_totalprice"))
      val upd = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), dt30,
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      // fresh dir each run: version numbers are the fixture's contract
      val dir = freshDir(s, "graft_q308_target")
      val sink = TxnParquetSink(dir, tsCol = "dt")
      sink.overwriteAll(base) // manifest v1
      SqlMerge.register(s, "q308_target", sink)
      upd.createOrReplaceTempView("q308_source")
      s.sql(
        """MERGE INTO q308_target USING q308_source
          |ON q308_target.o_orderkey = q308_source.o_orderkey
          |  AND q308_target.dt = q308_source.dt
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // manifest v2
      // NATIVE time-travel syntax (parser rewrite onto graft_version):
      // reading v1 through `VERSION AS OF` must hash-match the oracle's
      // recomputed pre-merge base exactly like the function spelling
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          |FROM q308_target VERSION AS OF 1
          |ORDER BY o_orderkey""".stripMargin)
    },
    Some("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
           |FROM orders WHERE o_orderkey % 2 = 0
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** Empty fixture dir for a probe that writes a table, under the
    * application's scratch root ([[graft.operators.Lifecycle.scratchRoot]],
    * deleted when the JVM exits), so two JVMs on one machine never share
    * a target. Emptied on every call: for the version-numbered
    * transactional probes the commit counter is part of the fixture's
    * contract, and a stale dir would shift every version. A local root
    * is returned as a plain path for the sinks that use java.io. */
  private def freshDir(s: SparkSession, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(
      graft.operators.Lifecycle.scratchRoot(s), name)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    if (fs.getScheme == "file") p.toUri.getPath else p.toString
  }

  /** S4 against the DELTA-PROTOCOL sink (SURVEY §2.1 S4 names
    * "MERGE INTO on Delta/Iceberg" as the production mapping of
    * dags/etl.py:71-76 ON CONFLICT DO UPDATE): the same star-shape MERGE
    * as q302/q308, but the registered table's storage is a
    * spec-conformant `_delta_log` table (graft.sources.DeltaLake) — the
    * statement rides the sink's INCREMENTAL date-pruned merge and
    * commits one atomic Delta log entry. DuckDB replays last-wins. */
  val deltaSqlMergeProbe = Probe(
    "q309_delta_sql_merge",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.sources.DeltaLake.DeltaDateSink
      val o = Tables.orders(s, d)
      val dt30 = date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("o_orderkey") % 30).cast("int")).as("dt")
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), dt30, col("o_totalprice"))
      val upd = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), dt30,
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      val sink = DeltaDateSink(freshDir(s, "graft_q309_target"), tsCol = "dt")
      sink.overwriteAll(base)
      SqlMerge.register(s, "q309_target", sink)
      upd.createOrReplaceTempView("q309_source")
      s.sql(
        """MERGE INTO q309_target USING q309_source
          |ON q309_target.o_orderkey = q309_source.o_orderkey
          |  AND q309_target.dt = q309_source.dt
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(
        """SELECT o_orderkey, dt, round(o_totalprice, 2) AS o_totalprice
          |FROM q309_target ORDER BY o_orderkey""".stripMargin)
    },
    Some("""WITH dted AS (SELECT o_orderkey,
           |    DATE '2024-01-01' + CAST(o_orderkey % 30 AS INTEGER) AS dt,
           |    o_totalprice FROM orders),
           |base AS (SELECT o_orderkey, dt, o_totalprice, 0 AS prec FROM dted WHERE o_orderkey % 2 = 0),
           |upd AS (SELECT o_orderkey, dt, o_totalprice + 1000.0 AS o_totalprice, 1 AS prec FROM dted WHERE o_orderkey % 3 = 0),
           |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
           |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey, dt ORDER BY prec DESC) AS rn FROM u)
           |SELECT o_orderkey, dt, round(o_totalprice, 2) AS o_totalprice
           |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)
  )

  /** Partition-pruned SQL UPDATE on the Delta-protocol sink: the date
    * predicate pins the touched partitions, so only those dates' files
    * are rewritten (DeltaDateSink.replaceDates — remove+add of exactly
    * the touched dates' files in one atomic commit); untouched dates'
    * files stay byte-identical AND readable by earlier versions. DuckDB
    * replays the conditional projection. */
  val deltaSqlUpdatePrunedProbe = Probe(
    "q310_delta_sql_update_pruned",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.sources.DeltaLake.DeltaDateSink
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          date_add(lit(java.sql.Date.valueOf("2024-01-01")),
            (col("o_orderkey") % 30).cast("int")).as("dt"),
          col("o_totalprice"))
      val sink = DeltaDateSink(freshDir(s, "graft_q310_target"), tsCol = "dt")
      sink.overwriteAll(base)
      SqlMerge.register(s, "q310_target", sink)
      // touches 5 of the 30 dates; the other 25 keep their files
      s.sql(
        """UPDATE q310_target SET o_totalprice = o_totalprice + 5.0
          |WHERE dt >= DATE'2024-01-26'""".stripMargin)
      s.sql(
        """SELECT o_orderkey, dt, round(o_totalprice, 2) AS o_totalprice
          |FROM q310_target ORDER BY o_orderkey""".stripMargin)
    },
    Some("""WITH t AS (SELECT o_orderkey,
           |    DATE '2024-01-01' + CAST(o_orderkey % 30 AS INTEGER) AS dt,
           |    o_totalprice
           |  FROM orders WHERE o_orderkey % 2 = 0)
           |SELECT o_orderkey, dt,
           |  round(CASE WHEN dt >= DATE '2024-01-26' THEN o_totalprice + 5.0
           |             ELSE o_totalprice END, 2) AS o_totalprice
           |FROM t ORDER BY o_orderkey""".stripMargin)
  )

  /** Delta-protocol EXPORT: a TxnParquet table published as a valid
    * Delta table at the same root (DeltaLake.publish — `_delta_log`
    * synthesized from the live manifest, zero data movement) and read
    * back THROUGH the Delta log replay path, never the manifest. The
    * round-trip must match the manifest read exactly; DuckDB recomputes
    * the post-merge table from orders. */
  val deltaPublishProbe = Probe(
    "q311_delta_publish_roundtrip",
    (s, d) => {
      import graft.sources.{DeltaLake, TxnParquet}
      val o = Tables.orders(s, d)
      val dt30 = date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("o_orderkey") % 30).cast("int")).as("dt")
      val dir = freshDir(s, "graft_q311_target")
      val txn = TxnParquet.TxnParquetSink(dir, tsCol = "dt")
      txn.overwriteAll(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), dt30, col("o_totalprice")))
      txn.mergeLastWins(o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), dt30,
          (col("o_totalprice") + 1000.0).as("o_totalprice")),
        Seq("o_orderkey", "dt"))
      DeltaLake.publish(s, dir)
      DeltaLake.readTable(s, dir).drop("p_date")
        .select(col("o_orderkey"), col("dt"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""WITH dted AS (SELECT o_orderkey,
           |    DATE '2024-01-01' + CAST(o_orderkey % 30 AS INTEGER) AS dt,
           |    o_totalprice FROM orders),
           |base AS (SELECT o_orderkey, dt, o_totalprice, 0 AS prec FROM dted WHERE o_orderkey % 2 = 0),
           |upd AS (SELECT o_orderkey, dt, o_totalprice + 1000.0 AS o_totalprice, 1 AS prec FROM dted WHERE o_orderkey % 3 = 0),
           |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
           |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey, dt ORDER BY prec DESC) AS rn FROM u)
           |SELECT o_orderkey, dt, round(o_totalprice, 2) AS o_totalprice
           |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)
  )

  /** Iceberg-format publish round-trip (SURVEY §2.1 S4's second
    * lakehouse format): the same TxnParquet table published as an
    * Iceberg v1 table — metadata-only (`metadata/` + Avro manifests,
    * zero data movement) — and read back through the Iceberg snapshot
    * path (metadata.json → manifest list → manifests → parquet).
    * Publishes TWICE (base, then post-merge) so the read exercises a
    * multi-snapshot log; DuckDB recomputes the post-merge table. */
  val icebergPublishProbe = Probe(
    "q316_iceberg_publish_roundtrip",
    (s, d) => {
      import graft.sources.{Iceberg, TxnParquet}
      val o = Tables.orders(s, d)
      val dt30 = date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("o_orderkey") % 30).cast("int")).as("dt")
      val dir = freshDir(s, "graft_q316_target")
      val txn = TxnParquet.TxnParquetSink(dir, tsCol = "dt")
      txn.overwriteAll(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), dt30, col("o_totalprice")))
      Iceberg.publish(s, dir) // snapshot 1: the base
      txn.mergeLastWins(o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), dt30,
          (col("o_totalprice") + 1000.0).as("o_totalprice")),
        Seq("o_orderkey", "dt"))
      Iceberg.publish(s, dir) // snapshot 2: post-merge
      Iceberg.readTable(s, dir).drop("p_date")
        .select(col("o_orderkey"), col("dt"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""WITH dted AS (SELECT o_orderkey,
           |    DATE '2024-01-01' + CAST(o_orderkey % 30 AS INTEGER) AS dt,
           |    o_totalprice FROM orders),
           |base AS (SELECT o_orderkey, dt, o_totalprice, 0 AS prec FROM dted WHERE o_orderkey % 2 = 0),
           |upd AS (SELECT o_orderkey, dt, o_totalprice + 1000.0 AS o_totalprice, 1 AS prec FROM dted WHERE o_orderkey % 3 = 0),
           |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
           |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey, dt ORDER BY prec DESC) AS rn FROM u)
           |SELECT o_orderkey, dt, round(o_totalprice, 2) AS o_totalprice
           |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)
  )

  /** Iceberg v2 MERGE-ON-READ (read side): a published table onto
    * which a foreign writer grafts a position-delete commit
    * (`Iceberg.stageForeignPositionDeletes` synthesizes exactly the
    * artifacts Flink / Spark+Iceberg ≥3.4 leave behind: the delete
    * parquet, its delete manifest, a v2 manifest list + metadata).
    * The read must suppress EXACTLY the deleted (file, pos) rows via
    * the scan-time anti-join on `_metadata`. The deleted positions are
    * chosen by predicate (o_orderkey % 10 = 0) so DuckDB can replay
    * the expected relation without knowing physical row order. */
  val icebergPosDeleteProbe = Probe(
    "q317_iceberg_pos_delete",
    (s, d) => {
      import graft.sources.{Iceberg, TxnParquet}
      val o = Tables.orders(s, d)
      val dt30 = date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("o_orderkey") % 30).cast("int")).as("dt")
      val dir = freshDir(s, "graft_q317_target")
      val txn = TxnParquet.TxnParquetSink(dir, tsCol = "dt")
      txn.overwriteAll(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), dt30, col("o_totalprice")))
      Iceberg.publish(s, dir) // snapshot 1: copy-on-write base
      // the foreign writer deletes the %10 rows BY POSITION — resolve
      // their physical (file, pos) through the same parquet metadata
      // columns the reader will anti-join on (bounded collect: the
      // delete set, the thing a delete commit materializes anyway).
      // An EMPTY table reads back as a file-less frame with no
      // `_metadata` column — nothing to delete there.
      val base = Iceberg.readTable(s, dir)
      val delPos =
        if (base.isEmpty) Seq.empty[(String, Long)]
        else base.filter(col("o_orderkey") % 10 === 0)
          .select(col("_metadata.file_path"), col("_metadata.row_index"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      if (delPos.nonEmpty) // empty corpus: nothing to delete, stay v1
        Iceberg.stageForeignPositionDeletes(s, dir, delPos)
      Iceberg.readTable(s, dir).drop("p_date")
        .select(col("o_orderkey"), col("dt"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
           |  DATE '2024-01-01' + CAST(o_orderkey % 30 AS INTEGER) AS dt,
           |  round(o_totalprice, 2) AS o_totalprice
           |FROM orders
           |WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** Iceberg PARTITION-PRUNED read: publish declares the p_date
    * identity spec and per-file partition tuples (the TxnParquet
    * layout holds one date per file, so each tuple is true by
    * construction), and `readTableForDates` prunes the file list
    * driver-side from the KB manifests BEFORE Spark lists anything —
    * the Iceberg pruning story a 100 TB table lives on (a 10-day read
    * of a 30-day table plans a third of the files). Row-level filter
    * applies regardless, so DuckDB replays the relation as a plain
    * BETWEEN. */
  val icebergPrunedReadProbe = Probe(
    "q318_iceberg_pruned_read",
    (s, d) => {
      import graft.sources.{Iceberg, TxnParquet}
      val o = Tables.orders(s, d)
      val dt30 = date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("o_orderkey") % 30).cast("int")).as("dt")
      val dir = freshDir(s, "graft_q318_target")
      val txn = TxnParquet.TxnParquetSink(dir, tsCol = "dt")
      txn.overwriteAll(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), dt30, col("o_totalprice")))
      Iceberg.publish(s, dir)
      Iceberg.readTableForDates(s, dir, "2024-01-06", "2024-01-15")
        .drop("p_date")
        .select(col("o_orderkey"), col("dt"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
           |  DATE '2024-01-01' + CAST(o_orderkey % 30 AS INTEGER) AS dt,
           |  round(o_totalprice, 2) AS o_totalprice
           |FROM orders
           |WHERE o_orderkey % 2 = 0
           |  AND DATE '2024-01-01' + CAST(o_orderkey % 30 AS INTEGER)
           |    BETWEEN DATE '2024-01-06' AND DATE '2024-01-15'
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** Iceberg v2 merge-on-read, EQUALITY flavor: a foreign CDC/upsert
    * writer retracts rows BY KEY VALUE (a parquet file of key values +
    * a delete manifest carrying `equality_ids` and a data sequence
    * number above the live files') — no file/pos resolution at write
    * time, the reader resolves it at scan time as a null-safe
    * anti-join scoped by the spec's strict sequence rule. The q317
    * position twin deletes the same logical rows by (file, pos); this
    * probe deletes them by value, and both must land on the same
    * relation DuckDB computes directly. */
  val icebergEqDeleteProbe = Probe(
    "q319_iceberg_eq_delete",
    (s, d) => {
      import graft.sources.{Iceberg, TxnParquet}
      val o = Tables.orders(s, d)
      val dt30 = date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("o_orderkey") % 30).cast("int")).as("dt")
      val dir = freshDir(s, "graft_q319_target")
      val txn = TxnParquet.TxnParquetSink(dir, tsCol = "dt")
      txn.overwriteAll(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), dt30, col("o_totalprice")))
      Iceberg.publish(s, dir) // snapshot 1: copy-on-write base
      // the retracted KEYS (bounded collect: the delete set — the
      // thing the foreign writer's commit materializes anyway)
      val delKeys = Iceberg.readTable(s, dir)
        .filter(col("o_orderkey") % 10 === 0)
        .select("o_orderkey").distinct()
        .collect().map(r => org.apache.spark.sql.Row(r.get(0))).toSeq
      if (delKeys.nonEmpty) // empty corpus: nothing to retract, stay v1
        Iceberg.stageForeignEqualityDeletes(s, dir,
          Seq("o_orderkey"), delKeys)
      Iceberg.readTable(s, dir).drop("p_date")
        .select(col("o_orderkey"), col("dt"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
           |  DATE '2024-01-01' + CAST(o_orderkey % 30 AS INTEGER) AS dt,
           |  round(o_totalprice, 2) AS o_totalprice
           |FROM orders
           |WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** Native `VERSION AS OF` time travel on the Delta-protocol sink:
    * version 0 (the pre-merge base) pinned while version 1 diverges —
    * the same contract as q308 on TxnParquet, through the SAME parser
    * rewrite + graft_version seam (VersionedSink). Delta versions are
    * 0-based per the protocol. DuckDB recomputes the v0 base. */
  val deltaTimeTravelProbe = Probe(
    "q312_delta_time_travel",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.sources.DeltaLake.DeltaDateSink
      val o = Tables.orders(s, d)
      val dt30 = date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("o_orderkey") % 30).cast("int")).as("dt")
      val sink = DeltaDateSink(freshDir(s, "graft_q312_target"), tsCol = "dt")
      sink.overwriteAll(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), dt30, col("o_totalprice"))) // v0
      SqlMerge.register(s, "q312_target", sink)
      o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), dt30,
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
        .createOrReplaceTempView("q312_source")
      s.sql(
        """MERGE INTO q312_target USING q312_source
          |ON q312_target.o_orderkey = q312_source.o_orderkey
          |  AND q312_target.dt = q312_source.dt
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v1
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          |FROM q312_target VERSION AS OF 0
          |ORDER BY o_orderkey""".stripMargin)
    },
    Some("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
           |FROM orders WHERE o_orderkey % 2 = 0
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** Native `TIMESTAMP AS OF` time travel (q312's wall-clock sibling):
    * version resolution floors the timestamp over the commit
    * artifacts' mtimes (VersionedSink.versionAt — the convention Delta
    * documents), which the gate pins DETERMINISTICALLY via setTimes on
    * the log files, so a literal timestamp between the pinned commit
    * times must serve exactly version 0. Same oracle as q312 (DuckDB
    * recomputes the pre-merge base). */
  val deltaTimestampTravelProbe = Probe(
    "q314_delta_timestamp_travel",
    (s, d) => {
      import graft.plans.SqlMerge
      import graft.sources.DeltaLake.DeltaDateSink
      val o = Tables.orders(s, d)
      val dt30 = date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("o_orderkey") % 30).cast("int")).as("dt")
      val dir = freshDir(s, "graft_q314_target")
      val sink = DeltaDateSink(dir, tsCol = "dt")
      sink.overwriteAll(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), dt30, col("o_totalprice"))) // v0
      SqlMerge.register(s, "q314_target", sink)
      o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), dt30,
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
        .createOrReplaceTempView("q314_source")
      s.sql(
        """MERGE INTO q314_target USING q314_source
          |ON q314_target.o_orderkey = q314_source.o_orderkey
          |  AND q314_target.dt = q314_source.dt
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v1
      // pin the commit mtimes so the timestamp floor is exact. On an
      // EMPTY corpus the merge touches no dates and commits nothing, so
      // v1 may not exist — pin what does; the unpinned live commit's
      // real mtime (now) is past the query timestamp either way, so the
      // floor still lands on v0.
      val log = new java.io.File(dir, "_delta_log")
      def pin(v: Long, iso: String): Unit = {
        val cf = new java.io.File(log, f"$v%020d.json")
        if (cf.exists) require(
          cf.setLastModified(java.time.Instant.parse(iso).toEpochMilli))
      }
      pin(0L, "2024-06-01T00:00:00Z")
      pin(1L, "2024-06-02T00:00:00Z")
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          |FROM q314_target TIMESTAMP AS OF '2024-06-01 12:00:00'
          |ORDER BY o_orderkey""".stripMargin)
    },
    Some("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
           |FROM orders WHERE o_orderkey % 2 = 0
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** REAL MP4 demux through the sampleFrames generator (q297's GIF
    * sibling — closes the "MP4 is an opaque stub" gap): containers are
    * muxed in-gate with arithmetic sample tables (id-derived frame
    * counts, sizes, key intervals), then [[graft.multimodal.Codecs
    * .parseMp4]] walks the ISO BMFF stbl tables inside sampleFrames and
    * each tick emits the LATEST SYNC SAMPLE's real byte extent with the
    * container's own timestamps. The gate re-derives every expected
    * byte of the emitted payload (ok_bytes); DuckDB replays the
    * tick→keyframe snap arithmetic (m = least(k, nf-1) floored to its
    * key interval) for counts, timestamps and sizes. */
  val mp4DemuxProbe = Probe(
    "q313_mp4_demux",
    (s, d) => {
      implicit val spark = s
      import graft.multimodal.{Codecs, Multimodal}
      import s.implicits._
      def fb(i: Long, k: Int, sz: Int): Array[Byte] =
        Array.tabulate(sz)(b => ((i * 31 + k * 7 + b) % 251).toByte)
      val assets = spark.range(16).map { i =>
        val nf = (3 + i % 4).toInt
        val ke = (1 + i % 3).toInt
        val frames = (0 until nf).map(k => fb(i, k, (10 + (i + k) % 7).toInt))
        Multimodal.Asset(i, "video",
          Codecs.encodeMp4(frames, frameDurMs = 500L,
            w = (16 + i % 8).toInt, h = (9 + i % 5).toInt, keyEvery = ke),
          None, None, None)
      }
      Multimodal.sampleFrames(assets, everyMs = 500L).map { f =>
        val i = f.asset_id
        val nf = (3 + i % 4).toInt
        val ke = (1 + i % 3).toInt
        val m = math.min(f.frame_idx.toLong, nf - 1L).toInt
        val j = m - (m % ke) // the sync sample showing at this tick
        val exp = fb(i, j, (10 + (i + j) % 7).toInt)
        (i, f.frame_idx, f.ts_ms, f.payload.length,
          java.util.Arrays.equals(f.payload, exp))
      }.toDF("asset_id", "frame_idx", "ts_ms", "n_bytes", "ok_bytes")
        .orderBy("asset_id", "frame_idx")
    },
    Some("""SELECT i AS asset_id, CAST(k AS INT) AS frame_idx,
           |  CAST(k * 500 AS BIGINT) AS ts_ms,
           |  CAST(10 + (i + (m - (m % ke))) % 7 AS INT) AS n_bytes,
           |  true AS ok_bytes
           |FROM (
           |  SELECT i, k, least(k, (3 + i % 4) - 1) AS m, 1 + i % 3 AS ke
           |  FROM range(0, 16) t(i),
           |    LATERAL (SELECT unnest(range(0, (3 + i % 4) + 1)) AS k)
           |)
           |ORDER BY asset_id, frame_idx""".stripMargin)
  )

  val extensionProbes: Seq[Probe] = Seq(
    textStats, tokenCount, stopwordRatio, dedupExact, wordFreq, knnBruteForce,
    centroid, minhashNearDup, ngramJaccard, simhashSig, annLsh,
    fingerprintProbe, qualityScore, langIdProbe, windowedAgg, approxDistinct,
    textChunks, multimodalFeatures, annIvf, cosineNearDupExact, cosineNearDupLsh,
    hashSplit, dedupClustersProbe, repetitionProbe, tfidfProbe, streamAttribution,
    redactPiiProbe, codecRoundtrip, qualitySuite, bloomPrune,
    decontaminateProbe, incrementalDedupProbe, stratifiedSampleProbe, packingProbe, zorderProbe, corpusReleaseProbe, profileProbe,
    histogramProbe, snapshotDiffProbe, scd2Probe, mixtureProbe, heavyHittersProbe,
    approxQuantiles, retentionProbe, funnelProbe, fuzzyMatchProbe,
    bm25Probe, annPq, pagerankProbe, bpeProbe, dupPassagesProbe,
    ewmaProbe, gapFillProbe, lmFluencyProbe, semDedupProbe, stripHtmlProbe,
    peakConcurrencyProbe, trendProbe, rollingMedianProbe, hampelProbe,
    labelPropProbe, domainCapProbe, prefixJoinProbe, urlDedupProbe,
    sortedNeighborhoodProbe, winsorizeProbe, asOfForwardProbe,
    equiDepthProbe, topKPerKeyProbe, incrementalStatsProbe,
    kAnonymityProbe, negativeSampleProbe, incrementalDistinctProbe,
    trianglesProbe, bottomKSampleProbe, collocationsProbe,
    quantileNormalizeProbe, slidingDistinctProbe, kmvOverlapProbe,
    charEntropyProbe, shuffleShardProbe, correlationProbe,
    cdcChunksProbe, countMinProbe, contentChecksumProbe,
    invertedIndexProbe, shardManifestProbe, dedupReportProbe,
    skewReportProbe, marginKnnProbe, containmentProbe, interleaveProbe,
    madZscoreProbe, trendingProbe, driftProbe,
    rrfProbe, budgetCapProbe, unicodeProbe, uniquenessProbe,
    dedupRepsProbe, mmrProbe, sparseCosineProbe, ccStarProbe,
    normalizedDedupProbe, boilerplateProbe, ratioClassifierProbe,
    int8QuantizeProbe, lDiversityProbe, classifierEvalProbe,
    phraseSearchProbe, gateReportProbe, gateSummaryProbe,
    rboProbe, sqrtTemperatureProbe, kmeansProbe, seasonalProbe,
    cusumProbe, prfExpansionProbe, readabilityProbe, gateCofailureProbe,
    transitionProbe, autocorrProbe, assocProbe,
    aucProbe, calibrationProbe, intervalMergeProbe, paretoProbe,
    freqOfFreqsProbe, giniProbe, kcoreProbe, mutualNnProbe,
    benfordProbe, journeyProbe, fdProbe, centroidShiftProbe,
    contingencyProbe, multiclassProbe, abTestProbe, clusterTermsProbe,
    concentrationProbe, interEventProbe,
    asOfNearestProbe, goldenProbe, topPartnersProbe,
    conversionLagProbe, timeInStateProbe, targetEncodeProbe,
    rankEvalProbe, popProbe, freshnessProbe,
    vocabGrowthProbe, joinCardProbe,
    triplesProbe, twoHopProbe, sourceOverlapProbe,
    rareTransitionsProbe, emdProbe, minMaxScaleProbe,
    modeProbe, patternProbe, growthProbe, evalBySliceProbe,
    spellingProbe, shareOfParentProbe, marginAnnProbe, rankEvalAnnProbe,
    twoHopKmvProbe, prioritySampleProbe, hitsProbe, changepointProbe,
    pprProbe, assortativityProbe, decileLiftProbe, groupSplitProbe,
    apportionProbe, covMomentsProbe, rfmProbe, temporalJoinProbe,
    attributionProbe, diversityProbe, trimmedMeanProbe, silhouetteProbe,
    wPagerankProbe, kmvRollupProbe, oovRateProbe, burstinessProbe,
    funnelWindowedProbe, streakProbe, mmrAnnProbe, sessionStatsProbe,
    columnDiffProbe, reachProfileProbe, woeIvProbe, zipfProbe,
    kaplanMeierProbe, lshIndexProbe, ipsProbe, conformalProbe,
    teamDraftProbe, drProbe, brierProbe, richnessProbe,
    weightedQuantileProbe, mutualInfoProbe, nelsonAalenProbe,
    ksDistanceProbe, spanDedupProbe, isotonicProbe, errEvalProbe,
    luhnProbe, compressionProbe, psiProbe, theilSenProbe,
    columnEntropyProbe, audioLevelsProbe, mannWhitneyProbe,
    cohenKappaProbe, fleissKappaProbe, majorityVoteProbe, mcnemarProbe,
    averagePrecisionProbe, logLossProbe, poissonBootstrapProbe,
    bradleyTerryProbe, logRankProbe, bhProbe, topComponentProbe,
    fertilityProbe, pinballProbe, transitionEntropyProbe, spearmanProbe,
    cupedProbe, postStratifyProbe, qqShiftProbe, maseProbe,
    bestThresholdProbe, ebShrinkProbe, simpsonProbe,
    overlapJoinProbe, kendallProbe, krippendorffProbe, tClosenessProbe,
    crossCorrProbe, randomizationProbe, bleuProbe, mahalanobisProbe,
    didProbe, rmstProbe, linkageProbe, reshardProbe,
    captureRecaptureProbe, markovBacktestProbe, dispersionProbe,
    hellingerProbe, dedupEvalProbe, logStatsProbe,
    topkStabilityProbe, coverageAuditProbe, essProbe, kllRollupProbe,
    mannKendallProbe, decompStrengthProbe, missingnessProbe, cifProbe,
    indexStalenessProbe, annIvfPq, bpeDistributedProbe, videoFramesProbe,
    quantizationProbe, hardNegativesProbe, truncatedRecallProbe,
    ivfPqAppendProbe,
    sqlMergeUpdateProbe, sqlMergeInsertProbe, sqlMergeGeneralProbe,
    sqlUpdateProbe, sqlDeleteProbe, sqlDeletePrunedProbe,
    sqlTimeTravelProbe,
    deltaSqlMergeProbe, deltaSqlUpdatePrunedProbe, deltaPublishProbe,
    deltaTimeTravelProbe, mp4DemuxProbe, deltaTimestampTravelProbe,
    sqlMergeUnmatchedOnlyProbe, icebergPublishProbe,
    icebergPosDeleteProbe, icebergPrunedReadProbe, icebergEqDeleteProbe
  )

  def all: Seq[Probe] = relationalProbes ++ extensionProbes

  /** The body Bench times for probe `name`: its raw operator (`benchRun`)
    * where the gate query wraps one in a self-oracle audit, else the gate
    * query itself. */
  def benchBody(name: String): (SparkSession, String) => DataFrame = {
    val p = all.find(_.name == name)
      .getOrElse(sys.error(s"unknown probe: $name"))
    p.benchRun.getOrElse(p.run)
  }
}
