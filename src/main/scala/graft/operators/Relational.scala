package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operators covering the reference's mutation + query
  * semantics (SURVEY.md §2.4–2.7), expressed as declarative DataFrame
  * transforms so Catalyst keeps full optimization freedom.
  *
  * Scale notes (100 TB posture):
  *  - `latestPerKey` / `lastWins` are a single hash shuffle on the key; the
  *    window is rank-only (no full sort of the table, just within key
  *    groups). AQE handles skewed keys.
  *  - `insertIfAbsent` is a left-anti join — broadcastable when `existing`'s
  *    key projection is small, shuffle-hash otherwise; never a driver
  *    collect.
  *  - `asOfJoin` is the union+window formulation: ONE shuffle on the
  *    partition key, no range cross-product. This is the plan that survives
  *    1000 executors; a naive `leftTs >= rightTs` theta join would explode.
  */
object Relational {

  /** Latest row per key, ordered by `orderCols` descending with a total
    * tiebreak (ref: README.md:66,111 "latest weather readings per city" —
    * SURVEY.md A7/W1).
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Last-write-wins upsert merge: union of base + updates deduplicated on
    * `keys`, keeping the row with the highest `precedence`
    * (ref: dags/etl.py:71-76,97-114 `ON CONFLICT ... DO UPDATE` — SURVEY.md
    * S4/J3/W2). Plain-parquet MERGE substitute; idempotent under replay.
    */
  def lastWins(base: DataFrame, updates: DataFrame, keys: Seq[String], precedence: Column): DataFrame =
    latestPerKey(
      base.withColumn("__prec", lit(0)).unionByName(updates.withColumn("__prec", lit(1))),
      keys,
      Seq(col("__prec").desc, precedence.desc)
    ).drop("__prec")

  /** First-write-wins insert: rows of `incoming` whose key is absent from
    * `existing` (ref: notebook cell 19 `ON CONFLICT DO NOTHING` — SURVEY.md
    * S5/J2). Left-anti join; Catalyst broadcasts when the existing-key side
    * is small.
    */
  def insertIfAbsent(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Deterministic top-k: total order (user sort + tiebreak) + limit.
    * Spark plans this as TakeOrderedAndProject — per-partition top-k then a
    * single tiny merge on the driver, no global sort (SURVEY.md O2/O3).
    */
  def topK(df: DataFrame, k: Int, order: Seq[Column]): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Top-k rows PER KEY (the k>1 generalization of [[latestPerKey]]).
    * `order` must totally order within a key (include a tiebreaker) for
    * a deterministic result. Plans to Spark's WindowGroupLimit: the
    * rank-≤-k predicate is pushed below the exchange, so each map task
    * ships at most k rows per key instead of the whole group — the
    * difference between "shuffle k·#keys rows" and "shuffle the table"
    * at scale. Appends `pos` (1-based rank within the key). */
  def topKPerKey(df: DataFrame, keys: Seq[String], k: Int,
                 order: Seq[Column]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("pos", row_number().over(w))
      .filter(col("pos") <= k)
  }

  /** Bottom-k DISTINCT values per key WITHOUT a pre-distinct:
    * dense_rank keeps every copy of the k smallest DISTINCT values
    * (rank/row_number would miscount through duplicates), the ≤ k
    * predicate plans to WindowGroupLimit (partial map-side pruning),
    * and only the survivors pay the dedup exchange.
    *
    * WHEN TO USE — measured, not theoretical (PLANS.md round-6
    * negative): this wins only when duplicates are RARE. On a
    * dup-heavy stream (the KMV sketch unions of
    * [[graft.operators.Graph.twoHopReachKmv]], where the same small
    * hashes recur hundreds of times per node) the partial limit keeps
    * ALL their copies — pruning ~nothing — while adding a per-map sort
    * the hash-based `distinct()` never pays: q221 measured ~9× SLOWER
    * through this path. Those operators dedup FIRST by design; reach
    * for this only when each (key, value) appears O(1) times.
    * Output: (keys, `value`) distinct rows, exactly the k smallest
    * distinct values per key. */
  def bottomKDistinctPerKey(df: DataFrame, keys: Seq[String], k: Int,
                            value: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(value).asc)
    df.withColumn("__dr", dense_rank().over(w))
      .filter(col("__dr") <= k)
      .select((keys :+ value).map(col): _*)
      .distinct()
  }

  /** Interval (range) join: points matched to intervals with
    * `start <= ts < end` (half-open). A naive theta join plans as a
    * BroadcastNestedLoopJoin — quadratic and broadcast-bound; this
    * bucketizes time instead: intervals replicate to each `bucketSeconds`
    * bucket they overlap (replication factor = interval length / bucket),
    * points hash to one bucket, and the match becomes an equi-join on the
    * bucket id + a residual filter. A point meets an interval in exactly
    * one bucket (its own), so no dedup is needed. Linear shuffle volume;
    * pick `bucketSeconds` near the typical interval length.
    */
  def intervalJoin(points: DataFrame, tsCol: String,
                   intervals: DataFrame, startCol: String, endCol: String,
                   bucketSeconds: Long = 86400L): DataFrame = {
    // inner-join only: the residual range filter runs after the bucket
    // equi-join, which would silently drop the null-extended rows an
    // outer variant is supposed to preserve
    val bUs = bucketSeconds * 1000000L
    val pts = points.withColumn("__bucket",
      expr(s"unix_micros(`$tsCol`) DIV ${bUs}L"))
    val ivs = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__bucket", explode(sequence(
        expr(s"unix_micros(`$startCol`) DIV ${bUs}L"),
        expr(s"(unix_micros(`$endCol`) - 1) DIV ${bUs}L"))))
    pts.join(ivs, Seq("__bucket"), "inner")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__bucket")
  }

  /** As-of join (point-in-time lookup): for each left row, the most recent
    * right row with `rightTs <= leftTs` within the same `on` keys. Spark has
    * no native as-of join; this composes union + a last-ignoring-nulls
    * window — one shuffle on `on`, linear state, no range explosion.
    *
    * Output: all of `left`'s columns plus `right`'s non-key, non-ts columns
    * (null when no right row precedes the left row — left-outer semantics).
    * Equal timestamps are inclusive (right row at ts == leftTs matches).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, on: Seq[String],
               leftTs: String, rightTs: String,
               direction: String = "backward",
               tolerance: Option[Column] = None,
               keepMatchedTs: Boolean = false): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asOfJoin: direction must be backward|forward, got $direction")
    val backward = direction == "backward"
    val carryCols = right.columns.filterNot(c => on.contains(c) || c == rightTs).toSeq
    val leftOnly  = left.columns.filterNot(on.contains).toSeq
    // loud failure beats silently overwriting a left column with the
    // carried right value — callers rename colliding columns first
    val collisions = carryCols.toSet.intersect(leftOnly.toSet)
    require(collisions.isEmpty,
      s"asOfJoin: rename right columns colliding with left: ${collisions.mkString(", ")}")
    require(!left.columns.contains("__r"), "asOfJoin: left must not contain __r")

    // the matched right TS rides along inside the struct so a tolerance
    // can be applied AFTER the nearest match is found (pandas merge_asof
    // semantics: out-of-tolerance → null match, never "next best")
    val structCols = carryCols :+ rightTs
    // at equal ts the right row must fall INSIDE the frame: before the
    // left row for backward (preceding..current), after it for forward
    // (current..following)
    val (leftSide, rightSide) = if (backward) (1, 0) else (0, 1)

    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(leftSide))
      .withColumn("__r", lit(null).cast(
        org.apache.spark.sql.types.StructType(structCols.map(c => right.schema(c)))))

    // carry the whole right row as ONE struct: last(ignoreNulls) then
    // skips only "no right row", never a right row whose carried VALUE
    // happens to be null (the oracle's ASOF semantics return that null).
    // Rows with null rightTs can never be "at or before" anything → drop.
    val rAligned0 = right
      .filter(col(rightTs).isNotNull)
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(rightSide))
      .withColumn("__r", struct(structCols.map(col): _*))
      .drop(carryCols :+ rightTs: _*)
    val rAligned = leftOnly.foldLeft(rAligned0) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }

    val unionCols = (on ++ leftOnly ++ Seq("__ts", "__side", "__r")).map(col)
    val unioned = lTagged.select(unionCols: _*).unionByName(rAligned.select(unionCols: _*))

    // ONE shuffle on the key either way; the frame direction encodes the
    // match direction (inclusive in both, per the side ordering above)
    val base = Window
      .partitionBy(on.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
    val matched =
      if (backward)
        last(col("__r"), ignoreNulls = true)
          .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      else
        first(col("__r"), ignoreNulls = true)
          .over(base.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val withMatch = unioned
      .withColumn("__r", matched)
      .filter(col("__side") === lit(leftSide))
    // tolerance gate AFTER matching: the nearest match either qualifies
    // or the row gets NO match — never a farther fallback
    val gated = tolerance match {
      case None => withMatch
      case Some(tol) =>
        val mts = col("__r").getField(rightTs)
        val dist = if (backward) col("__ts") - mts else mts - col("__ts")
        withMatch.withColumn("__r", when(dist <= tol, col("__r")))
    }
    val filled = gated.drop("__ts", "__side")

    // keepMatchedTs additionally surfaces the MATCHED right timestamp
    // (null when no/out-of-tolerance match) under the right's ts name
    val outCols = if (keepMatchedTs) carryCols :+ rightTs else carryCols
    outCols.foldLeft(filled) { (df, c) =>
      df.withColumn(c, col("__r").getField(c))
    }.drop("__r")
  }

  /** Nearest-event join: for each left row, the right row with the
    * smallest |Δt| within `tolUs`, looking BOTH ways — sensor/reading
    * alignment where the closest observation wins regardless of side
    * (pandas merge_asof direction='nearest'). Ties (equal distance both
    * ways) prefer the earlier (backward) match, matching the inclusive
    * backward frame.
    *
    * Same engineering as [[asOfJoin]], one step further: ONE shuffle on
    * the keys, and BOTH the last-preceding and first-following right
    * structs come from two frames over the SAME window exchange — the
    * bidirectional lookup costs the same one sort as the one-way join.
    *
    * `leftTs`/`rightTs` must be integer µs columns (numeric — subtract
    * directly; convert timestamps with unix_micros first). Output: all
    * left columns plus the winner's carried right columns (null when
    * neither side qualifies), `matched_ts` LONG, `gap_us` LONG (≥ 0),
    * `side` STRING ('backward'/'forward'/null).
    *
    * Determinism under tied right timestamps: when several right rows
    * share one (key, ts), the window order carries the right struct as
    * a final tiebreak, so backward picks the MAX carried struct among
    * the tied rows and forward picks the MIN — a documented total
    * order, never partition-layout luck. This requires the carried
    * right columns to be of orderable types (no maps); with unique
    * right timestamps per key the tiebreak never engages.
    */
  def asOfNearest(left: DataFrame, right: DataFrame, on: Seq[String],
                  leftTs: String, rightTs: String,
                  tolUs: Column): DataFrame = {
    val carryCols = right.columns.filterNot(c => on.contains(c) || c == rightTs).toSeq
    val leftOnly = left.columns.filterNot(on.contains).toSeq
    val collisions = (carryCols.toSet ++ Set("matched_ts", "gap_us", "side"))
      .intersect(leftOnly.toSet)
    require(collisions.isEmpty,
      s"asOfNearest: rename left columns colliding with output: ${collisions.mkString(", ")}")
    val structCols = carryCols :+ rightTs
    val rStructType = org.apache.spark.sql.types.StructType(
      structCols.map(c => right.schema(c)))

    val lTagged = left
      .withColumn("__ts", col(leftTs).cast("long"))
      .withColumn("__side", lit(1))
      .withColumn("__r", lit(null).cast(rStructType))
    val rAligned0 = right
      .filter(col(rightTs).isNotNull)
      .withColumn("__ts", col(rightTs).cast("long"))
      .withColumn("__side", lit(0))
      .withColumn("__r", struct(structCols.map(col): _*))
      .drop(structCols: _*)
    val rAligned = leftOnly.foldLeft(rAligned0) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val unionCols = (on ++ leftOnly ++ Seq("__ts", "__side", "__r")).map(col)
    val unioned = lTagged.select(unionCols: _*)
      .unionByName(rAligned.select(unionCols: _*))

    // __r as final sort key: right rows tied on (__ts, __side=0) get a
    // total struct order, so last()/first() below are deterministic —
    // left rows (__side=1) all carry a null __r, which sorts as one
    // equivalence class and never reorders among themselves (any left
    // row at a given (key, ts) sees the same picked right struct).
    val base = Window.partitionBy(on.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc,
        col("__r").asc_nulls_first)
    val picked = unioned
      .withColumn("__rb", last(col("__r"), ignoreNulls = true)
        .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rf", first(col("__r"), ignoreNulls = true)
        .over(base.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("__side") === 1)
      .withColumn("__db", col("__ts") - col("__rb").getField(rightTs).cast("long"))
      .withColumn("__df", col("__rf").getField(rightTs).cast("long") - col("__ts"))
      .withColumn("__bok", col("__rb").isNotNull && col("__db") <= tolUs)
      .withColumn("__fok", col("__rf").isNotNull && col("__df") <= tolUs)
      .withColumn("side",
        when(col("__bok") && (!col("__fok") || col("__db") <= col("__df")),
          lit("backward"))
          .when(col("__fok"), lit("forward")))
      .withColumn("__w",
        when(col("side") === "backward", col("__rb"))
          .when(col("side") === "forward", col("__rf")))
      .withColumn("matched_ts",
        col("__w").getField(rightTs).cast("long"))
      .withColumn("gap_us",
        when(col("side") === "backward", col("__db"))
          .when(col("side") === "forward", col("__df")))
    val withCarry = carryCols.foldLeft(picked) { (df, c) =>
      df.withColumn(c, col("__w").getField(c))
    }
    withCarry.drop("__ts", "__side", "__r", "__rb", "__rf", "__db", "__df",
      "__bok", "__fok", "__w")
  }

  /** Rollup / cube by RE-AGGREGATION. Spark's native `rollup()`/`cube()`
    * put an `Expand` BELOW the aggregate, so every input row is
    * replicated once per grouping set before the partial agg — 3× the
    * map-side work for a 2-key rollup, 4× for a 2-key cube, at any
    * scale. When every aggregate is decomposable (sum/count/min/max —
    * anything where agg(all) == re-agg(per-group aggs)), the same answer
    * comes from ONE pass grouped by the full key set (ordinary partial
    * aggs, no Expand touches raw rows) followed by the native rollup/cube
    * over the tiny grouped result — the Expand then replicates #groups
    * rows, not #input rows.
    *
    * `baseAggs` aggregate the raw rows (e.g. `sum(dec(x)).as("s")`,
    * `count(lit(1)).as("n")`); `reAggs` re-combine those per-group
    * results under the grouping sets (e.g. `sum($"s").as("s")`,
    * `sum($"n").as("n")`). Exactness is the caller's contract: decimal
    * sums and counts re-aggregate bit-exactly, IEEE double sums do NOT
    * (order changes) — use decimal intermediates for gated results. */
  def rollupReagg(df: DataFrame, keys: Seq[String],
                  baseAggs: Seq[Column], reAggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(baseAggs.head, baseAggs.tail: _*)
      .rollup(keys.map(col): _*).agg(reAggs.head, reAggs.tail: _*)

  /** Cube twin of [[rollupReagg]] — same contract. */
  def cubeReagg(df: DataFrame, keys: Seq[String],
                baseAggs: Seq[Column], reAggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(baseAggs.head, baseAggs.tail: _*)
      .cube(keys.map(col): _*).agg(reAggs.head, reAggs.tail: _*)

  /** Snapshot diff (CDC between two table versions): one row per key
    * that changed between `before` and `after`, tagged `inserted` /
    * `deleted` / `updated`, carrying the after-image for inserts and
    * updates and the before-image for deletes. The workhorse for
    * change-data publishing and incremental downstream refresh:
    * ONE full-outer shuffle join on the key, change detection via
    * null-safe comparison over `tracked` (so NULL↔value transitions
    * count), unchanged rows never leave the join. Keys must be unique
    * per snapshot (it's a keyed table diff, not a multiset diff). */
  def snapshotDiff(before: DataFrame, after: DataFrame, keys: Seq[String],
                   tracked: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(keys.intersect(tracked).isEmpty,
      s"keys and tracked must be disjoint: ${keys.intersect(tracked)}")
    val reserved = (keys ++ tracked).flatMap(c => Seq(s"__b_$c", s"__a_$c")) ++
      Seq("__b_present", "__a_present", "change_type")
    for (df <- Seq(before, after); c <- reserved)
      require(!df.columns.contains(c),
        s"input already has a $c column (reserved by snapshotDiff)")
    val b = before.select(
      keys.map(col) ++ tracked.map(c => col(c).as(s"__b_$c")) :+
        lit(true).as("__b_present"): _*)
    val a = after.select(
      keys.map(c => col(c).as(s"__a_$c")) ++
        tracked.map(c => col(c).as(s"__a_$c")) :+
        lit(true).as("__a_present"): _*)
    val hasB = col("__b_present").isNotNull
    val hasA = col("__a_present").isNotNull
    // null-safe key join (like Scd2.merge): NULL-keyed rows are legal
    // and must pair across snapshots, not explode into delete+insert
    val joinCond = keys.map(k => col(k) <=> col(s"__a_$k")).reduce(_ && _)
    val changed =
      if (tracked.isEmpty) lit(false)
      else tracked.map(c => !(col(s"__b_$c") <=> col(s"__a_$c"))).reduce(_ || _)
    // image: after-side for inserts/updates (INCLUDING value→NULL
    // transitions — presence decides, never coalesce), before for deletes
    val keyOut = keys.map(k =>
      when(hasB, col(k)).otherwise(col(s"__a_$k")).as(k))
    val image = tracked.map(c =>
      when(hasA, col(s"__a_$c")).otherwise(col(s"__b_$c")).as(c))
    b.join(a, joinCond, "full_outer")
      .withColumn("change_type",
        when(hasB && !hasA, lit("deleted"))
          .when(!hasB && hasA, lit("inserted"))
          .when(changed, lit("updated")))
      .filter(col("change_type").isNotNull)
      .select(keyOut ++ image :+ col("change_type"): _*)
  }

  /** DISTRIBUTED global rank: appends `rank` (1-based, dense over rows)
    * in the total order given by `keys` — the scalable replacement for
    * `row_number() OVER (ORDER BY …)`, which plans to a SINGLE-partition
    * window (the classic driver-sized bottleneck; Spark even warns).
    *
    * Shape: one range exchange (`repartitionByRange`, so partition i
    * holds keys strictly below partition i+1), a per-partition count
    * aggregate — O(#partitions) rows — turned into exclusive-prefix
    * offsets by a window over THAT tiny frame (single partition is fine
    * at that size), broadcast-joined back, plus a per-partition
    * row_number. No step touches more than one partition's rows at
    * once.
    *
    * The counts pass and the rank pass MUST see the same physical
    * partitioning (range bounds come from sampling, and a second
    * sampling could legally draw different bounds). Both passes read
    * ONE held frame — the range exchange, in-partition sort, and
    * per-partition row id materialized together: the cache
    * substitutes a single InMemoryRelation into both branches, so the
    * shuffle (and its sampling) happens exactly once, the partition
    * count is pinned explicitly (REPARTITION_BY_NUM, which AQE never
    * coalesces — and cached-plan output partitioning is additionally
    * frozen by
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`'s
    * default), and chained ranks (RFM's three tilings, AP's two
    * passes) stay LINEAR in plan size because each level's subtree is
    * one table-scan node, not a copy of the whole upstream. Every
    * consumer of the ranked output pays a narrow projection + a
    * broadcast join per read — never a re-sort. Unlike the
    * localCheckpoint this replaces, the cache is RECOMPUTABLE: an
    * evicted partition re-fetches the same shuffle output under the
    * partitioner object already pinned on the driver, re-sorts, and
    * re-derives the same row ids — same bounds, same ranks — instead
    * of failing the stage (the r12 flap signature). It also drops the
    * checkpoint form's second full exchange: the per-partition row
    * number no longer needs a window keyed by a partitioning Catalyst
    * can't see.
    *
    * Per-partition row numbers come from `monotonically_increasing_id`
    * AFTER an in-partition sort: the id is (partitionId << 33) + local
    * row position, so `mid − (pid << 33)` is the 0-based position in
    * the sorted partition — no window, no extra exchange. Tasks are
    * bounded to 2³³ rows each (≈ 8.6 B — far past any sane partition).
    * The cache is held ([[Lifecycle.hold]]): the returned frame reads it
    * lazily, and the owner's [[Lifecycle.releaseDeferred]] query
    * boundary frees it (the ContextCleaner never frees SQL-cache
    * entries). Releasing early is safe: the cache is a recomputable
    * plan, and the rank is invariant to the re-executed range
    * partitioning (any valid range split + in-partition sort of a total
    * order yields the same global position), so a post-release read
    * recomputes the same ranks.
    *
    * `keys` must be a TOTAL order (include a tiebreaker); ties would
    * make ranks nondeterministic across runs. */
  def globalRank(df: DataFrame, keys: Seq[Column]): DataFrame = {
    require(keys.nonEmpty, "globalRank needs at least one ordering column")
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    // cache ABOVE the in-partition sort: every consumer of the ranked
    // output (decileLift reads it twice, AP chains two ranks) then
    // pays only a narrow projection + broadcast join per read — never
    // a re-sort
    val sorted = Lifecycle.hold(df.repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__mid", monotonically_increasing_id()))
    val offsets = sorted
      .select(shiftright(col("__mid"), 33).cast("int").as("__pid"))
      .groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(col("__n")).over(
          BoundedWindow.ordered(col("__pid"), col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    sorted
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .join(broadcast(offsets), "__pid")
      .withColumn("rank",
        col("__offset") + (col("__mid") - shiftleft(col("__pid").cast("long"), 33)) + 1L)
      .drop("__pid", "__offset", "__mid")
  }

  /** Interval OVERLAP join — all (left, right) pairs sharing a key whose
    * closed intervals intersect (`l_start ≤ r_end AND r_start ≤ l_end`),
    * WITHOUT the BroadcastNestedLoopJoin a naive range predicate plans
    * to. The classic genomics/telemetry binning trick: each interval
    * explodes into the fixed-width time buckets it covers, the join is
    * EQUI on (key, bucket), and each surviving pair is emitted EXACTLY
    * once because the match is pinned to the single bucket containing
    * `greatest(l_start, r_start)` — that instant lies inside both
    * intervals whenever they overlap, so no post-join `distinct` (and
    * its full-pair shuffle) is ever needed. Non-overlapping same-bucket
    * candidates die on the overlap predicate.
    *
    * Scale posture: fanout per row is `span DIV bucketUs + 1` — pick
    * `bucketUs` near the typical span so the explode is O(1) per
    * interval; the join is a plain shuffled equi-join on (key, bucket),
    * so AQE's skew-join split handles hot buckets. Malformed intervals
    * (null bounds, end < start) are dropped, never clamped — and so is
    * any interval spanning more than `maxSpanBuckets` buckets
    * (default 2²⁰ ≈ a 12-day interval at one-second buckets — far past
    * any sane bucketUs choice, since fanout IS the cost the scaladoc
    * above tells callers to tune bucketUs against, yet well below the
    * 2³¹-row explosion a single sentinel end timestamp would otherwise
    * trigger) is handled by the same pre-explode guard, ACCOUNTED, not
    * silent: pass `failOnOversize = true` to fail the job on the first
    * such row, and/or `oversizeLeft`/`oversizeRight` accumulators to
    * receive the per-side dropped-row counts (counted EAGERLY at call
    * time with one pushed-down scan per requested side — an Observation
    * attached below the final sort would double-count under the range
    * partitioner's sampling pass — and logged when non-zero). Callers
    * with genuinely long intervals raise `bucketUs` (or
    * `maxSpanBuckets`) instead. Touching
    * intervals (l_end = r_start) DO match, with `overlap_us` 0 — closed
    * intervals; callers wanting open semantics filter `overlap_us > 0`.
    *
    * Output: `key`, `l_id`, `r_id`, `l_start_us`, `l_end_us`,
    * `r_start_us`, `r_end_us`, `overlap_us` LONG — total order
    * (key, l_id, r_id).
    */
  def overlapJoin(left: DataFrame, right: DataFrame,
                  lKey: Column, lId: Column, lStart: Column, lEnd: Column,
                  rKey: Column, rId: Column, rStart: Column, rEnd: Column,
                  bucketUs: Long, maxSpanBuckets: Long = 1L << 20,
                  failOnOversize: Boolean = false,
                  oversizeLeft: Option[org.apache.spark.util.LongAccumulator] = None,
                  oversizeRight: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    require(bucketUs > 0L, s"bucketUs must be positive, got $bucketUs")
    require(maxSpanBuckets > 0L,
      s"maxSpanBuckets must be positive, got $maxSpanBuckets")
    def side(df: DataFrame, k: Column, id: Column, s: Column, e: Column,
             p: String, obs: Option[org.apache.spark.util.LongAccumulator]): DataFrame = {
      val valid = df
        .select(k.cast("long").as(s"${p}k"), id.cast("long").as(s"${p}id"),
          s.cast("long").as(s"${p}s"), e.cast("long").as(s"${p}e"))
        .filter(col(s"${p}k").isNotNull && col(s"${p}id").isNotNull &&
          col(s"${p}s").isNotNull && col(s"${p}e").isNotNull &&
          col(s"${p}e") >= col(s"${p}s"))
        // span guard BEFORE the explode: a sentinel-wide interval must
        // never fan out the stage — and its drops are never silent
        // (observation count / fail-loud, per the no-silent-caps rule)
        .withColumn("__over",
          expr(s"${p}e DIV ${bucketUs}L - ${p}s DIV ${bucketUs}L")
            >= maxSpanBuckets)
      obs.foreach { acc =>
        val n = valid.filter(col("__over")).count()
        if (n > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"overlapJoin: dropping $n ${p.stripPrefix("__")}-side " +
              s"interval(s) wider than maxSpanBuckets=$maxSpanBuckets " +
              s"(bucketUs=$bucketUs)")
        acc.add(n)
      }
      val kept =
        if (failOnOversize)
          valid.filter(when(col("__over"), raise_error(concat(
            lit(s"overlapJoin: interval wider than maxSpanBuckets=" +
              s"$maxSpanBuckets buckets (bucketUs=$bucketUs) at ${p}id="),
            col(s"${p}id").cast("string")))).otherwise(lit(true)))
        else valid.filter(!col("__over"))
      kept.drop("__over")
        .withColumn("__b", explode(sequence(
          expr(s"${p}s DIV ${bucketUs}L"), expr(s"${p}e DIV ${bucketUs}L"))))
    }
    val l = side(left, lKey, lId, lStart, lEnd, "__l", oversizeLeft)
    val r = side(right, rKey, rId, rStart, rEnd, "__r", oversizeRight)
    l.join(r, col("__lk") === col("__rk") && l("__b") === r("__b"))
      .filter(col("__ls") <= col("__re") && col("__rs") <= col("__le") &&
        l("__b") === expr(s"greatest(__ls, __rs) DIV ${bucketUs}L"))
      .select(col("__lk").as("key"), col("__lid").as("l_id"),
        col("__rid").as("r_id"), col("__ls").as("l_start_us"),
        col("__le").as("l_end_us"), col("__rs").as("r_start_us"),
        col("__re").as("r_end_us"),
        (least(col("__le"), col("__re")) -
          greatest(col("__ls"), col("__rs"))).as("overlap_us"))
      .orderBy("key", "l_id", "r_id")
  }
}
