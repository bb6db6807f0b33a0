package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph ranking on DataFrames — PageRank with EXACT integer
  * arithmetic.
  *
  * Floating-point PageRank is nondeterministic across engines and even
  * across partition layouts (per-vertex contribution sums are
  * order-dependent). This implementation keeps ranks in integer
  * "micro-units" and replaces every float op with integer ops:
  *
  *   contrib(u→v) = rank(u) DIV outdeg(u)
  *   rank'(v)     = base + (dampNum · Σ contrib) DIV dampDen
  *   base         = init · (dampDen − dampNum) DIV dampDen
  *
  * Integer sums are exact and order-free, so the result is bit-identical
  * on any cluster layout and reproducible by any engine that has 64-bit
  * integer division (the q78 oracle replays it in DuckDB as an unrolled
  * CTE chain). The DIV truncation loses < 1 micro-unit of mass per edge
  * per iteration — a deliberately deterministic leak, far below ranking
  * granularity with init = 1e6.
  *
  * Scale posture: each iteration joins the static edge frame with the
  * current rank frame on `src` and aggregates contributions on `dst`
  * (what the executed plan does with the statics is recorded on
  * [[Graph.edgeStatic]]). Iterations are a fixed small count, and
  * state never exceeds one long per vertex. i64 headroom: a hub's
  * in-mass times dampNum must fit 2^63 — with init 1e6 and damp 85/100
  * that allows ~10^11 total graph mass, far beyond any real corpus
  * graph's hub.
  */
object Graph {

  /** The unweighted edge static the PageRank, PPR, HITS and
    * label-propagation loops scan every round: canonical (`src`, `dst`)
    * LONG edges, duplicates collapsed, persisted, plus the persisted
    * vertex set (every node appearing as src OR dst — a pure source
    * receives nothing but must survive every round; an inner-join-only
    * recurrence would drop it and, transitively, its contributions).
    * `decorate` extends the vertex frame before it is persisted (PPR's
    * seed flag). The caller releases both frames.
    *
    * ONE shuffle builds the edges: the explicit CLUSTER BY src runs
    * first, and the distinct's ClusteredDistribution(src, dst) is
    * satisfied by hash(src), so dedup rides the same exchange. The user
    * repartition is exempt from AQE coalescing, so the cached layout is
    * a deterministic hash(src). Without the persist, the degree
    * aggregate, the per-round joins and the vertex set would each re-run
    * the caller's whole edge construction (a fact⋈dim join + distinct
    * for q78).
    *
    * What the executed plan does with it (final AQE plans of the q78,
    * q200 and q90 round writes; GraftSession conf, local[4]): every
    * PageRank/PPR round re-scans the cache and RECOMPUTES the
    * out-degree aggregate from it (exchange-free on the hash(src)
    * layout, but never read once). At sf0.1 the degree attach is a
    * SortMergeJoin in every round, exchange-free on both sides (one
    * Sort each); at sf0.01 the edges are small enough that AQE
    * broadcasts them into that join instead. At both sizes the
    * previous round's state frame (and PPR's seed flag) is broadcast
    * into the edge side, and a PageRank round shuffles once, on the
    * in-mass aggregate's key. Label propagation's votes join broadcasts
    * the winners frame the same way. */
  private def edgeStatic(edges: DataFrame,
                         decorate: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame) = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .repartition(col("src")).distinct().persist()
    (e, vertexSet(e, decorate))
  }

  private def vertexSet(e: DataFrame, decorate: DataFrame => DataFrame): DataFrame =
    decorate(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()).persist()

  /** The edge static with each edge's source out-degree `__d` attached,
    * lazy over the cached edges (see [[edgeStatic]] for its plan). */
  private def withOutDegree(e: DataFrame): DataFrame =
    e.join(e.groupBy(col("src")).agg(count(lit(1)).as("__d")), "src")

  /** The fixed-iteration round loop the PageRank family and label
    * propagation share. `step` builds round i+1's state from round i's
    * (`None` before round 1: the closed-form seed, no join at all);
    * `densify` turns the last state into the output.
    *
    * Rounds COMPOSE LAZILY: the sink writes a round only on its cut
    * cadence (deleting the cut it supersedes) and always writes the
    * densified output, which the returned frame reads. Each round
    * references the previous state EXACTLY ONCE, so the composed plan
    * grows linearly (never the 2^iters doubling HITS guards against)
    * and every shuffle in it executes once. A segment between cuts is a
    * pure lazy plan over persisted statics and the previous cut's file
    * scan, so a lost task recomputes at most one segment from durable
    * inputs.
    *
    * ROUND STATE IS SPARSE: a vertex absent from the state frame holds
    * its closed-form default (PageRank: the base term; label
    * propagation: its own id), and every static `src` is a vertex, so
    * the per-round `vertices ⟕ state` densify join folds into the next
    * round's edge join as an inline coalesce. Vertices are joined ONCE,
    * in `densify`. */
  private def fixedRounds(spark: SparkSession, iters: Int)(
      step: Option[DataFrame] => DataFrame)(
      densify: DataFrame => DataFrame): DataFrame = {
    val sink = Lifecycle.roundSink(spark)
    var state: Option[DataFrame] = None
    for (i <- 1 until iters) state = Some(sink.cut(i, step(state)))
    sink.round(densify(step(state)))
  }

  /** The exact integer rank recurrence shared by the PageRank variants:
    * each round, every edge of `static` sends the contribution `c0`
    * (round 1) or `c` (later rounds, over the previous in-mass `__in`,
    * left-joined on `src`) to its `dst`, and the in-mass is
    * (dampNum · Σ contrib) DIV dampDen. The output is
    * `rankBase + coalesce(__in, 0)` for every vertex, then the statics
    * are released. */
  private def massRounds(e: DataFrame, vertices: DataFrame,
                         static: DataFrame, iters: Int,
                         dampNum: Long, dampDen: Long,
                         c0: String, c: String, rankBase: Column): DataFrame = {
    val spark = e.sparkSession
    val out = fixedRounds(spark, iters) { sums =>
      sums.fold(static.select(col("dst").as("node"), expr(c0).as("__c"))) { s =>
        static.join(s, static("src") === s("node"), "left")
          .select(col("dst").as("node"), expr(c).as("__c"))
      }.groupBy(col("node"))
        .agg(expr(s"($dampNum * sum(__c)) DIV $dampDen").as("__in"))
    } { sums =>
      vertices.join(sums, Seq("node"), "left")
        .select(col("node"), (rankBase + coalesce(col("__in"), lit(0L))).as("rank"))
    }
    // the output is materialized; release the statics only after the
    // session's async exchange jobs drain — see
    // [[Lifecycle.drainAndUnpersist]] for the race this closes
    Lifecycle.drainAndUnpersist(spark, vertices, e)
    out
  }

  /** PageRank over a directed edge list (`src`, `dst` — pass both
    * directions for an undirected graph). Duplicate edges are collapsed.
    * Vertices = every node appearing as src OR dst; nodes with no
    * in-links settle at `base` (they receive nothing but never vanish),
    * and mass flowing into dangling nodes (no out-links) is absorbed —
    * the standard simplification, deterministic here like everything
    * else. Returns (`node` LONG, `rank` LONG micro-units). */
  def pagerankMicro(edges: DataFrame, iters: Int,
                    dampNum: Long = 85L, dampDen: Long = 100L,
                    init: Long = 1000000L): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(dampNum > 0 && dampNum < dampDen, "damping in (0,1)")
    val base = init * (dampDen - dampNum) / dampDen
    val (e, vertices) = edgeStatic(edges)
    // rank_i(v) = base + coalesce(__in_i(v), 0); round 1's rank is init
    massRounds(e, vertices, withOutDegree(e), iters, dampNum, dampDen,
      c0 = s"${init}L DIV __d",
      c = s"(${base}L + coalesce(__in, 0L)) DIV __d",
      rankBase = lit(base))
  }

  /** Degree assortativity: the Pearson correlation between the
    * endpoint degrees of every edge — positive means hubs link to hubs
    * (social-network shape), negative means hubs link to leaves
    * (hub-and-spoke / web shape). THE one-number summary that predicts
    * whether the wedge-shaped operators (two-hop, triangles) will meet
    * dense cores, and whether degree-based partitioning will skew.
    *
    * Pass both directions for an undirected graph (each endpoint's
    * out-degree then equals its total degree, and every undirected edge
    * contributes its (dx,dy) pair twice — the standard symmetrized
    * moment set, which makes Σx = Σy by construction).
    *
    * Determinism discipline: the five moments are exact integer sums
    * accumulated in DECIMAL(38,0) (order-free), emitted as the BIGINT
    * audit surface; `r` is then a fixed sequence of correctly-rounded
    * IEEE ops — two int→double conversions, two sqrt, one multiply, one
    * divide — so any engine reproduces it bit-for-bit from the same
    * integers (the [[graft.operators.TimeSeries.autocorr]] contract).
    * sqrt(denx)·sqrt(deny) deliberately replaces sqrt(denx·deny): the
    * product of the two variance terms can overflow DECIMAL(38,0) on
    * large graphs while each factor alone cannot. i64 headroom for the
    * audit columns: m·dmax² must fit 2⁶³.
    *
    * Shape: one distinct + one degree aggregate, two degree-attach
    * joins (broadcast-or-shuffle on node id), ONE moment aggregate →
    * a single row. No window, no sort. Output: `n_edges`, `sum_x`,
    * `sum_y`, `sum_xy`, `sum_x2`, `sum_y2` LONG, `r` DOUBLE (NULL on
    * degenerate zero-variance graphs). */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().persist()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    // dst-side degree attaches with a LEFT join + coalesce(0): on the
    // documented symmetrized input every dst also appears as a src so
    // this is bit-identical to an inner join, but on a directed edge
    // list an inner join would SILENTLY DROP every edge whose dst is a
    // pure sink (no out-edges) from n_edges and all five moments.
    // Directed callers wanting the in-degree convention should
    // symmetrize or pre-attach their own degree columns.
    val withDeg = e
      .join(deg.select(col("node").as("src"), col("d").as("__dx")), "src")
      .join(deg.select(col("node").as("dst"), col("d").as("__dy0")),
        Seq("dst"), "left_outer")
      .withColumn("__dy", coalesce(col("__dy0"), lit(0L)))
    val out = withDeg.agg(
        count(lit(1)).as("n_edges"),
        expr("CAST(sum(CAST(__dx AS DECIMAL(38,0))) AS BIGINT)").as("sum_x"),
        expr("CAST(sum(CAST(__dy AS DECIMAL(38,0))) AS BIGINT)").as("sum_y"),
        expr("CAST(sum(CAST(__dx AS DECIMAL(38,0)) * __dy) AS BIGINT)").as("sum_xy"),
        expr("CAST(sum(CAST(__dx AS DECIMAL(38,0)) * __dx) AS BIGINT)").as("sum_x2"),
        expr("CAST(sum(CAST(__dy AS DECIMAL(38,0)) * __dy) AS BIGINT)").as("sum_y2"))
      .withColumn("r", expr(
        """CASE WHEN n_edges * CAST(sum_x2 AS DECIMAL(38,0)) - CAST(sum_x AS DECIMAL(38,0)) * sum_x > 0
          |      AND n_edges * CAST(sum_y2 AS DECIMAL(38,0)) - CAST(sum_y AS DECIMAL(38,0)) * sum_y > 0
          | THEN CAST(n_edges * CAST(sum_xy AS DECIMAL(38,0)) - CAST(sum_x AS DECIMAL(38,0)) * sum_y AS DOUBLE)
          |      / (sqrt(CAST(n_edges * CAST(sum_x2 AS DECIMAL(38,0)) - CAST(sum_x AS DECIMAL(38,0)) * sum_x AS DOUBLE))
          |         * sqrt(CAST(n_edges * CAST(sum_y2 AS DECIMAL(38,0)) - CAST(sum_y AS DECIMAL(38,0)) * sum_y AS DOUBLE)))
          | END""".stripMargin))
      .localCheckpoint(true)
    Lifecycle.drainAndUnpersist(edges.sparkSession, e)
    out
  }

  /** Weighted PageRank: [[pagerankMicro]] with per-edge weights — mass
    * leaves a node proportionally to edge weight instead of uniformly,
    * which is what real interaction graphs need (a customer who bought
    * a part 40 times endorses it more than a one-off; a domain linking
    * a URL on every page more than a footnote). Exact integer:
    *
    *   contrib(u→v) = (rank(u) · w(u→v)) DIV W(u),  W(u) = Σ out-weights
    *
    * with the product widened to DECIMAL(38,0) (rank·w can pass 2⁶³ on
    * hot hubs), everything else identical to the unweighted recurrence
    * — truncating DIVs, CASE-free integer sums, bit-replayable in SQL.
    * Parallel edges SUM their weights (the natural multigraph
    * semantics); edges with weight ≤ 0 or NULL are dropped loudly by
    * filter, never silently treated as 1.
    *
    * Scale posture: identical to [[pagerankMicro]] — the weight rides
    * the static clustered edge cache as one extra long per edge.
    * Input (`src`, `dst`, `weight`); returns (`node`, `rank`). */
  def weightedPagerankMicro(edges: DataFrame, iters: Int,
                            dampNum: Long = 85L, dampDen: Long = 100L,
                            init: Long = 1000000L): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(dampNum > 0 && dampNum < dampDen, "damping in (0,1)")
    val base = init * (dampDen - dampNum) / dampDen
    // one shuffle builds the static, as in [[edgeStatic]]: the
    // multigraph weight-sum's ClusteredDistribution(src, dst) is
    // satisfied by the CLUSTER BY src that runs first
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col("weight").cast("long").as("__w"))
      .filter(col("__w").isNotNull && col("__w") > 0)
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("__w"))
      .persist()
    val wTot = e.groupBy(col("src")).agg(sum(col("__w")).as("__wt"))
    massRounds(e, vertexSet(e, identity), e.join(wTot, "src"), iters, dampNum, dampDen,
      c0 = s"(CAST(${init} AS DECIMAL(38,0)) * __w) div __wt",
      c = s"(CAST(${base}L + coalesce(__in, 0L) AS DECIMAL(38,0)) * __w) div __wt",
      rankBase = lit(base))
  }

  /** Personalized PageRank: [[pagerankMicro]]'s teleport redirected to a
    * seed set — random walks restart at the seeds instead of uniformly,
    * so mass concentrates in the seeds' neighborhood and the ranking
    * reads "how related is this node to the seeds". The seed-expansion
    * primitive behind related-document discovery, topic-conditioned
    * crawl prioritization, and growing a labeled set from a few known
    * positives.
    *
    * Same exact integer recurrence as [[pagerankMicro]] with one change:
    * the additive base term lands ONLY on seed nodes —
    *
    *   rank'(v) = [v ∈ S]·base + (dampNum · Σ contrib) DIV dampDen
    *
    * so non-seed ranks decay to pure received mass and unreachable
    * nodes settle at exactly 0 (visible, never dropped). All ops are
    * integer sums and truncating DIVs — bit-identical on any engine and
    * any layout, replayable in SQL as an unrolled CTE chain.
    *
    * Seed membership is a flag computed once on the static edges and
    * once on the vertex frame, never per round. Seeds not present in
    * the graph are ignored (they have no edges to walk). Returns
    * (`node` LONG, `rank` LONG micro-units). */
  def personalizedPagerankMicro(edges: DataFrame, seeds: DataFrame,
                                iters: Int,
                                dampNum: Long = 85L, dampDen: Long = 100L,
                                init: Long = 1000000L): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(dampNum > 0 && dampNum < dampDen, "damping in (0,1)")
    val base = init * (dampDen - dampNum) / dampDen
    val seedSet = seeds.select(col("node").cast("long").as("node")).distinct()
    val (e, vertices) = edgeStatic(edges, _
      .join(seedSet.withColumn("__seed", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(false)).as("__seed")))
    val eDeg = withOutDegree(e)
      .join(seedSet.select(col("node").as("src"), lit(true).as("__s")),
        Seq("src"), "left")
      .select(col("src"), col("dst"), col("__d"),
        coalesce(col("__s"), lit(false)).as("__seed"))
    massRounds(e, vertices, eDeg, iters, dampNum, dampDen,
      c0 = s"(CASE WHEN __seed THEN ${init}L ELSE 0L END) DIV __d",
      c = s"((CASE WHEN __seed THEN ${base}L ELSE 0L END) " +
        "+ coalesce(__in, 0L)) DIV __d",
      rankBase = when(col("__seed"), lit(base)).otherwise(lit(0L)))
  }

  /** HITS (Kleinberg's hubs & authorities) over a directed edge list,
    * with EXACT integer arithmetic — the same cross-engine determinism
    * discipline as [[pagerankMicro]]. Scores live in micro-units; each
    * half-round rescales by that round's maximum, so the leader pins at
    * exactly 1e6 and every other node carries a truncated ppm of it:
    *
    *   a_raw(v) = Σ_{u→v} h(u)                       (exact integer sum)
    *   a(v)     = (a_raw(v) · 1e6) DIV max(a_raw)    (DECIMAL(38,0) product)
    *   h_raw(u) = Σ_{u→v} a(v)
    *   h(u)     = (h_raw(u) · 1e6) DIV max(h_raw)
    *
    * Max-normalization replaces the textbook L2 norm deliberately: a
    * square root is not exactly replayable across engines, while max and
    * integer DIV are — and a monotone rescale preserves the ranking,
    * which is what HITS is for. It also caps state: scores ≤ 1e6, raw
    * sums ≤ 1e6·maxdeg, and the rescale product is widened to
    * DECIMAL(38,0) (int128 territory), so no real graph's hub can
    * overflow it. The division is safe by construction: after every
    * rescale the leader holds exactly 1e6, so the next half-round's max
    * is ≥ 1e6 on any non-empty edge set.
    *
    * Every vertex keeps both scores — pure sources settle at authority
    * 0 and pure sinks at hub 0 via the left joins from the full vertex
    * frame (an inner-join recurrence would silently drop them, and
    * transitively their contributions).
    *
    * Per iteration: two equi-joins of the static edge cache against the
    * one-long-per-node score frame and two map-side-combined
    * aggregations, each half-round's rescale max observed by its write
    * job. Returns (`node` LONG, `hub` LONG, `auth` LONG) micro-units. */
  def hitsMicro(edges: DataFrame, iters: Int, init: Long = 1000000L): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val (e, vertices) = edgeStatic(edges)

    // one rescaled half-round: raw sums → ppm-of-max. The raw frame
    // feeds BOTH the max and the scale projection — without an eager
    // materialization here, the recurrence would sit in the plan TWICE
    // per half-round and re-execution would grow 2^(2·iters) (measured:
    // 108 s for 3 iterations on the sf0.1 layer graph vs ~5 s written
    // per half-round). The written frame is one long per scored node,
    // so the barrier costs O(V), not plan depth.
    //
    // Scores stay SPARSE between rounds: a node absent from the frame
    // scores 0, and a zero score contributes exactly nothing to the
    // next half-round's sums — so the V-sized densify join is deferred
    // to ONE final pass. The rescale max is an OBSERVED metric of the
    // write job itself (round 14), applied as a literal.
    //
    // The auth and hub chains interleave through ONE sink (each write
    // is sized from the previous write's bytes), which keeps the last
    // two rounds: a half-round's raw is dead once the same chain's next
    // raw is written, and the final auth/hub raws stay until the
    // densify below has read them.
    val sink = Lifecycle.roundSink(edges.sparkSession, keep = 2)
    def rescale(rawLazy: DataFrame): DataFrame = {
      val (raw, m) = sink.roundObserved(rawLazy, max(col("__raw")).as("__mx"))
      // null max ⇔ zero rows written ⇔ zero rows to scale; 1 avoids a
      // useless div-by-null expression on the empty frame
      val mx = Option(m("__mx")).map(_.asInstanceOf[Number].longValue)
        .getOrElse(1L)
      raw.select(col("node2").as("node"),
        expr(s"(CAST(__raw AS DECIMAL(38,0)) * 1000000) div ${mx}L").as("score"))
    }

    var hubs = vertices.withColumn("score", lit(init))
    var auths: DataFrame = hubs
    for (_ <- 1 to iters) {
      auths = rescale(e.join(hubs, e("src") === hubs("node"))
        .groupBy(e("dst").as("node2")).agg(sum(col("score")).as("__raw")))
      hubs = rescale(e.join(auths, e("dst") === auths("node"))
        .groupBy(e("src").as("node2")).agg(sum(col("score")).as("__raw")))
    }
    // densify ONCE: every vertex appears, absentees at 0 (exactly the
    // value the sparse frames implied all along)
    val out = vertices
      .join(hubs.withColumnRenamed("score", "hub"), Seq("node"), "left")
      .join(auths.withColumnRenamed("score", "auth"), Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
      .localCheckpoint(true)
    sink.close() // the densify consumed the last raws
    Lifecycle.drainAndUnpersist(edges.sparkSession, e, vertices)
    out
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each round it adopts the most
    * frequent label among its in-neighbors, ties to the SMALLEST label,
    * nodes with no in-edges keep their current label. Deterministic by
    * construction — synchronous updates + total tie-break — so any
    * engine replays it exactly (float-free, like [[pagerankMicro]]).
    * Classic LPA caveat: synchronous updates can oscillate on bipartite
    * structure; that too is deterministic and both engines agree. Pass
    * both edge directions for the undirected variant.
    *
    * Per round: one join of the edge static with the sparse winners
    * frame on `src`, one (dst, label)-keyed count with map-side combine,
    * and one argmax aggregate. State is one long per node. Returns
    * (`node`, `label`). */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val (e, vertices) = edgeStatic(edges)
    // label_i(v) = coalesce(winner_i(v), v): a node absent from the
    // winners frame has in-degree 0 and never left its initial label.
    // Each round references the previous winners exactly once — the
    // 2^iters doubling an earlier join-to-labels form measured (26 s
    // for 3 rounds) came from a second reference per round.
    val out = fixedRounds(edges.sparkSession, iters) { winners =>
      val votes = winners.fold(
        e.select(col("src"), col("dst"), col("src").as("label"))) { w =>
        e.join(w, e("src") === w("node"), "left")
          .select(col("src"), col("dst"),
            coalesce(col("__new"), col("src")).as("label"))
      }
      // argmax(count) with smallest-label ties as ONE hash aggregate:
      // lexicographic min of (−count, label) — a row_number window here
      // would add a full sort per round (measured 2× slower end-to-end)
      votes.groupBy(col("dst").as("node2"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("node2"))
        .agg(min(struct((-col("__c")).as("nc"), col("label"))).as("__m"))
        .select(col("node2").as("node"), col("__m.label").as("__new"))
    } { winners =>
      vertices.join(winners, Seq("node"), "left")
        .select(col("node"), coalesce(col("__new"), col("node")).as("label"))
    }
    Lifecycle.drainAndUnpersist(edges.sparkSession, e, vertices)
    out
  }

  /** Exact triangle count + local clustering coefficient per node, by
    * degree-ordered edge orientation (the compact-forward / Cohen
    * MapReduce algorithm).
    *
    * Each undirected edge is oriented from its lower endpoint to its
    * higher endpoint under the total order (degree, id). Every triangle
    * then has exactly one apex with out-edges to the other two
    * vertices, so intersecting the oriented OUT-NEIGHBOR lists of an
    * edge's endpoints enumerates each triangle once (the edge-iterator
    * form of compact-forward) — and the per-edge work is bounded by the
    * max ORIENTED out-degree, which is O(√m) for any graph (a node of
    * degree d only keeps out-edges to nodes of degree ≥ d, and there
    * can be at most 2m/d of those). That bound is what makes this
    * survive power-law graphs at 100 TB: the hub with 10⁸ neighbors
    * keeps no out-edges at all (every edge points INTO it), while a
    * naive wedge enumeration would explode on it quadratically.
    *
    * Shape: two hash aggregations (canonical edges, degrees), one
    * broadcast-or-shuffle join to attach degrees, one aggregation into
    * O(m)-total adjacency arrays, and two O(m)-row joins that put each
    * edge next to both endpoints' arrays for a narrow in-row
    * `array_intersect` — the O(Σd²) wedge work happens INSIDE rows,
    * never as rows through an exchange (the materialized-wedge join it
    * replaces shuffled 34× more rows than the graph has edges). All
    * integers — the count is exact and engine-independent;
    * `lcc = 2·T / (d·(d−1))` is a single IEEE division of integers,
    * deterministic bit-for-bit.
    *
    * Input (`src`, `dst`) in any mix of directions/duplicates;
    * self-loops dropped. Returns (`node`, `degree`, `triangles`, `lcc`)
    * for every node of the graph, lcc 0.0 for degree < 2. */
  def triangles(edges: DataFrame): DataFrame = {
    val p = edges.sparkSession.sparkContext.defaultParallelism
    // MATERIALIZATION POSTURE — the pagerank discipline, because this
    // operator's static frames each feed SEVERAL consumers: `und`
    // feeds the degree agg and the orientation joins; `oriented` feeds
    // the adjacency build and the first attachment join; `adj` feeds
    // both attachment joins. The round-10/11 alternatives both failed
    // measurably:
    // eager localCheckpoints put the frames in block-manager storage
    // where a long session's accumulated blocks caused eviction churn
    // (20 s median, 34 s spread in the r10 driver run), and relying on
    // AQE shuffle-stage reuse to deduplicate the identical repartition
    // subtrees did not reuse across the consumers at all — the
    // upstream edge construction re-executed per consumer (measured
    // 14–50 s solo). persist() (MEMORY_AND_DISK) + eager output +
    // unpersist is the stable form: the layout captured at persist
    // time (CLUSTER BY + local sort) serves every consumer
    // exchange-free, evicted blocks go to DISK instead of recomputing,
    // and nothing outlives the call.
    //
    // canonical undirected edge set, keyed (a < b), clustered on `a`
    // so the degree aggregation and the a-side orientation join read
    // the cached layout exchange-free.
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .repartition(p, col("a"))
      .distinct()
      .persist()

    // degrees are consumed THREE times (both orientation joins + the
    // final join-back); 8 bytes × nodes — persist or each broadcast
    // recomputes the degree aggregation from scratch (measured 1.1 s
    // per recompute on the q103 graph)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .persist()

    // orient by (degree, id): out-edge u→v iff (deg(u), u) < (deg(v), v)
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    // CLUSTER BY u: the adjacency aggregation and the first
    // attachment join below both read this layout exchange-free.
    // Explicit partition count is pinned (p): edge rows are tiny but
    // the intersection work per row is large, and byte-targeted AQE
    // coalescing would fold the shuffle into one or two partitions —
    // serializing exactly the work that needs the cluster. AQE does
    // not re-coalesce a user repartition, and the persisted relation
    // reports this layout.
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .repartition(p, col("u"))
      .persist()

    // EDGE-ITERATOR closing (adjacency intersection) instead of wedge
    // materialization: a wedge join emits O(Σd_out²) ROWS through an
    // exchange (41M rows for the 1.2M-edge q103 graph — row overhead
    // dominated the whole operator), while intersecting out-neighbor
    // lists does the same O(Σd_out²) WORK inside one narrow expression
    // over O(m) rows. Each oriented edge (u,v) finds exactly the
    // triangles {u→v, u→w, v→w} via adj(u) ∩ adj(v) — every triangle
    // has a unique orientation apex, so each is emitted ONCE at its
    // (u,v) edge. The adjacency table is O(m) total (out-degrees are
    // O(√m)-bounded by the orientation, so no row is a hub blob), built
    // exchange-free on the persisted CLUSTER BY u layout; the first
    // attachment join is co-partitioned (zero exchange), and only the
    // second shuffles the edge frame by v with one neighbor array
    // aboard — O(m) rows either way, never O(Σd²).
    val adj = oriented.groupBy(col("u"))
      .agg(collect_list(col("v")).as("nbrs"))
      .persist()
    val withA = oriented
      .join(adj.select(col("u").as("__au"), col("nbrs").as("__na")),
        col("u") === col("__au"))
      .select(col("u"), col("v"), col("__na"))
    val tris = withA
      .join(adj.select(col("u").as("__bv"), col("nbrs").as("__nb")),
        col("v") === col("__bv"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("__na"), col("__nb"))).as("w"))

    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))

    val result = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc",
        when(col("degree") < 2, lit(0.0))
          .otherwise((col("triangles") * 2L).cast("double") /
            (col("degree") * (col("degree") - 1L))))
    // eager per-node materialization (one small row per vertex), then
    // release the statics — same lifecycle as pagerankMicro
    val out = result.localCheckpoint(true)
    Lifecycle.drainAndUnpersist(edges.sparkSession,
      adj, oriented, deg, und)
    out
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the LOG-ROUND alternative to min-label
    * propagation ([[graft.operators.TextDedup.connectedComponents]]),
    * whose round count is the component DIAMETER: a 100 TB web-graph
    * path component can have diameter in the thousands, while
    * large-star/small-star contracts any topology in O(log n) rounds.
    * Both produce the identical labeling (min id per component), so
    * they cross-check each other.
    *
    * One round = two neighborhood contractions, each a (node-keyed
    * min-aggregate + join-back) — no driver state, edge set shrinks
    * toward the star fixpoint. Convergence = edge multiset unchanged
    * (order-free count + xor/sum-of-hash checksum over the
    * materialized round — no extra pass, same trick as the corpus
    * content checksum).
    *
    * Input: (id_a, id_b) pairs. Output: (id, component) for every
    * endpoint, component = min id reachable. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // order-free edge-multiset fingerprint (bit_xor, not sum: an
    // ANSI-mode long sum of hashes can overflow) — computed as an
    // OBSERVED metric of each round's write job (round 14), so the
    // former per-round checksum action (a second full scan of the
    // just-written round) is folded into the one unavoidable action
    val sigMetrics = Seq(count(lit(1)).as("__n"),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("__h"))
    def sigOf(m: Map[String, Any]): (Long, Long) =
      (m("__n").asInstanceOf[Number].longValue,
        m("__h").asInstanceOf[Number].longValue)
    // disk-backed (not localCheckpoint): `init` is read by EVERY
    // round and by the final node-set union — an evicted
    // non-recomputable block here would fail the whole call
    val (init, m0) = Lifecycle.diskRoundObserved(pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), sigMetrics: _*)

    // large-star: symmetrize; per node u with neighborhood G(u),
    // m = min(G(u) ∪ {u}); emit (v, m) for v ∈ G(u), v > u
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mn = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mn, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: orient every edge high→low; per node u,
    // m = min(G(u)); emit (v, m) for v ∈ G(u) ∪ {u}, v ≠ m
    def smallStar(e: DataFrame): DataFrame = {
      val hi = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mn = hi.groupBy("u").agg(min(col("v")).as("m"))
      hi.join(mn, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mn.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // `init` stays outside the sink's chain: the node-set union below
    // still reads it. The returned frame reads the last round, so the
    // sink is never closed.
    val sink = Lifecycle.roundSink(pairs.sparkSession)
    var edges = init
    var sig = sigOf(m0)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val (next, m) = sink.roundObserved(smallStar(largeStar(edges)),
        sigMetrics: _*)
      val nextSig = sigOf(m)
      converged = nextSig == sig
      edges = next
      sig = nextSig
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds")

    // fixpoint edges are (node → component-min) stars; roots appear
    // only on the right — union them back as self-labeled
    val nodes = init.select(col("u").as("id"))
      .unionByName(init.select(col("v").as("id"))).distinct()
    // a star fixpoint has one out-edge per non-root; the min-aggregate
    // is a no-op there and keeps the join duplication-safe regardless
    val roots = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("comp"))
    nodes.join(roots, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
  }

  /** Two-hop reach: for each node, how many distinct nodes sit within
    * distance ≤ 2 — the neighborhood-size signal behind
    * friends-of-friends recommendations and influence/coverage
    * estimates (a node with modest degree but huge 2-hop reach borders
    * a hub). Exact, on the [[triangles]] adjacency-array pattern: the
    * inherent O(Σ deg²) candidate volume is done as in-row WORK over
    * O(m) exchanged rows, never as wedge ROWS through a shuffle (the
    * wedge-join form this replaces shuffled Σ deg² rows and the row
    * overhead dominated — the q103 lesson applied to 2-hop).
    *
    * Shape: one adjacency-array aggregate (sorted neighbor ids per
    * node), one O(m)-row join that ships each mid-node's array to its
    * neighbors, then ONE distinct-union aggregate per node
    * (`array_distinct(flatten(collect_list(...)))` — concat partials,
    * one hash-dedup at finish; measured ~40% faster than a
    * dedup-in-buffer sorted-merge Aggregator on this graph, whose
    * per-row merges cost more than the dup volume they saved).
    * Per-node state is the node's true distance-≤2 set — exact
    * 2-hop's inherent output cost; sketch with [[twoHopReachKmv]]
    * when the graph's reach sets are prohibitive.
    *
    * Input edges are canonicalized (undirected, self-loops dropped,
    * dups collapsed). Output: `node`, `deg` LONG (direct neighbors),
    * `reach2` LONG (distinct nodes at distance ≤ 2, excluding self),
    * total order by node.
    */
  def twoHopReach(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      .persist()
    // neighbor ARRAYS, one sorted long array per node — edges are
    // distinct so collect_list is duplicate-free; sorted for the merge
    // aggregate's sorted-distinct input contract
    val nbrs = adj.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v").cast("long"))).as("__nbrs"),
        count(lit(1)).as("deg"))
      .persist()
    // ship each mid-node's array to its neighbors: O(m) rows through
    // the exchange, each carrying ONE deg(mid)-long array
    val shipped = adj.select(col("u"), col("v").as("__mid"))
      .join(nbrs.select(col("u").as("__mid"), col("__nbrs")), "__mid")
      .select(col("u"), col("__nbrs"))
    // self is removed from every candidate array BEFORE the union
    // (u ∈ N(mid) for every shipped mid) — exact removal, mirroring
    // the old `u ≠ v` wedge filter
    val reach = nbrs.select(col("u"), col("__nbrs")).unionAll(shipped)
      .select(col("u"),
        array_remove(col("__nbrs"), col("u").cast("long")).as("__nbrs"))
      .groupBy(col("u"))
      .agg(size(array_distinct(flatten(collect_list(col("__nbrs")))))
        .cast("long").as("reach2"))
      .select(col("u").as("node"), col("reach2"))
    val out = nbrs.select(col("u").as("node"), col("deg"))
      .join(reach, "node")
      .select(col("node"), col("deg"), col("reach2"))
      .orderBy("node")
      .localCheckpoint(true)
    Lifecycle.drainAndUnpersist(edges.sparkSession, nbrs, adj)
    out
  }

  /** KMV-sketched two-hop reach — the dense-graph fallback
    * [[twoHopReach]]'s scaladoc promises: per node, a bottom-k sketch
    * of the distance-≤2 neighbor set instead of the materialized set,
    * so the budget is O(m·k) shuffled sketch rows where exact pays the
    * Σ deg² wedge volume (a 10⁵-degree hub costs 10¹⁰ exact candidate
    * pairs but only 10⁵·k sketch rows).
    *
    * Construction uses KMV mergeability: each node's 1-hop sketch is
    * the bottom-k of its neighbors' hashes; the 2-hop sketch is the
    * bottom-k of the UNION of the 1-hop sketches of its neighbors plus
    * its own — valid because the bottom-k of a union of bottom-k
    * sketches is the bottom-k of the union. Each sketch is built by
    * ONE mergeable [[graft.functions.Aggregators.bottomKDistinct]]
    * aggregate whose bounded sorted-distinct buffer prunes duplicates
    * and above-k values together map-side — one shuffle carrying ≤k-
    * long arrays, replacing the former `distinct()` + `topKPerKey`
    * double shuffle over the raw candidate stream. The self hash is
    * filtered out of the candidate stream BEFORE the final truncation
    * (exact removal, mirroring twoHopReach's `u ≠ v`).
    *
    * Exactness/error contract: a node whose candidate set fits in the
    * sketch (`n_sig < k`) gets the EXACT reach; a truncated node gets
    * the classic (k−1)/frac(kth) estimate, standard error ≈ 1/√(k−2)
    * (≈6% at k=256). Deterministic: xxhash64 + bottom-k is layout-
    * independent, so the estimate never flaps between runs.
    *
    * Output: `node`, `deg` LONG, `n_sig` INT (sketch fill),
    * `reach2_est` DOUBLE — total order by node. */
  def twoHopReachKmv(edges: DataFrame, k: Int = 256): DataFrame = {
    require(k >= 2, s"sketch size k must be >= 2, got $k")
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
    // disk-backed static ([[Lifecycle.diskRound]]): the returned frame
    // reads it lazily, so it must be recomputable, not evictable.
    // (Round 14 probe: spreading this scan to cluster width with a
    // repartition was MEASURED SLOWER — 6.7 s vs 3.4 s — the three
    // consumers each paid the extra full-adjacency exchange and the
    // bottom-k partials were never scan-bound; left as-is.)
    val adj = Lifecycle.diskRound(
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v"))))
    // flipped hash: unsigned order as signed (the Sketches convention)
    def fh(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      xxhash64(c).bitwiseXOR(lit(Long.MinValue))
    val bk = graft.functions.Aggregators.bottomKDistinct(k)
    val nbHash = adj.select(col("u"), fh(col("v")).as("__h"))
    val nbSig = nbHash.groupBy(col("u")).agg(bk(col("__h")).as("__sig"))
    // ship each mid-node's 1-hop sketch to its neighbors as ONE array
    // row per edge (explode after the join, inside the same stage), so
    // the join exchange moves Σ deg rows of ≤k-long arrays, not Σ deg·k
    // scalar rows
    val bkm = graft.functions.Aggregators.bottomKDistinctMerge(k)
    val twoSets = adj.select(col("u"), col("v").as("__mid"))
      .join(nbSig.select(col("u").as("__mid"), col("__sig")), "__mid")
      .select(col("u"), col("__sig"))
    // ONE mergeable bottom-k set-union aggregate replaces the former
    // distinct()+topKPerKey double shuffle: whole sketches merge as
    // single array rows (one linear merge per edge), and duplicates
    // are pruned inside the bounded sorted buffer map-side — what the
    // dense_rank attempt (PLANS.md round-6, ~9× SLOWER) could not do;
    // its WindowGroupLimit partial kept every copy of a surviving hash
    val sketch = nbHash.select(col("u"), array(col("__h")).as("__sig"))
      .unionAll(twoSets)
      .select(col("u"),
        array_remove(col("__sig"), fh(col("u"))).as("__sig")) // no self
      .groupBy(col("u")).agg(bkm(col("__sig")).as("__sig"))
    val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    deg.join(sketch.select(col("u").as("node"), col("__sig")), "node")
      .select(col("node"), col("deg"), size(col("__sig")).as("n_sig"),
        Sketches.kmvDistinctEst(col("__sig"), k).as("reach2_est"))
      .orderBy("node")
  }

  /** k-hop reach PROFILE via iterated bottom-k sketch union — the
    * HyperBall/HyperANF idea (Boldi–Rosa–Vigna WWW'11) with KMV
    * sketches in place of HyperLogLog counters, generalizing
    * [[twoHopReachKmv]] from one fixed radius to the whole
    * neighborhood-function curve: for every node and every t ≤
    * `maxHops`, an estimate of |{u ≠ v : dist(u,v) ≤ t}|. The curve is
    * what the single-radius operator can't show — where a graph's
    * reachability saturates (effective diameter), which nodes are
    * t-hop hubs.
    *
    * Recurrence (per round, all relational):
    *   S₁(v) = bottom-k of neighbor hashes;
    *   Sₜ₊₁(v) = bottom-k(Sₜ(v) ∪ ⋃_{u∈N(v)} Sₜ(u)) minus h(v)
    * — each round is ONE adjacency equi-join shipping each node's
    * sketch as a single ≤k-long ARRAY row per edge (O(edges) shuffled
    * rows, O(edges·k) values, never Σ degᵗ path materialization), then
    * ONE mergeable [[graft.functions.Aggregators.bottomKDistinct]]
    * aggregate whose bounded sorted-distinct buffer prunes duplicates
    * and above-k values together map-side (replacing the former
    * `distinct()` + `topKPerKey` double shuffle; the snapshot is a
    * free projection of the array, not another groupBy). Lineage cut
    * per round (a scratch round write), driver state none. KMV over
    * HLL here for one reason: bottom-k unions are EXACT while the set fits
    * (n_sig < k ⇒ exact reach, gate-able), where HLL is approximate
    * from the first element.
    *
    * Same exactness/error contract as [[twoHopReachKmv]]: n_sig < k ⇒
    * exact; truncated ⇒ (k−1)/frac(kth), se ≈ 1/√(k−2). Deterministic
    * (xxhash64 bottom-k — layout-independent, never flaps).
    *
    * Output: `node`, `hop` INT (1..maxHops), `n_sig` INT,
    * `reach_est` DOUBLE; total order (node, hop). */
  def reachProfileKmv(edges: DataFrame, k: Int = 256,
                      maxHops: Int = 3): DataFrame = {
    require(k >= 2, s"sketch size k must be >= 2, got $k")
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val sym = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    // the adjacency static is LOOP-INTERNAL here (unlike
    // [[twoHopReachKmv]], whose returned lazy frame keeps reading its
    // adj): every hop's snapshot projects from an already-materialized
    // sig round file, so adj can be a recomputable PERSIST released
    // before returning (round 14) — one exchange builds it (CLUSTER BY
    // u first; the symmetric-pair dedup's ClusteredDistribution(u,v) is
    // satisfied by hash(u), and round 1's groupBy(u) reads the cached
    // layout exchange-free), where the former diskRound staging paid a
    // full write + per-consumer read-back of the edge set.
    val adj = sym.select(col("a").as("u"), col("b").as("v"))
      .unionAll(sym.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u")).distinct().persist()
    def fh(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      xxhash64(c).bitwiseXOR(lit(Long.MinValue))
    val bk = graft.functions.Aggregators.bottomKDistinct(k)
    // the sketch lives as ONE sorted-array row per node; the snapshot
    // is a free projection of it (no extra groupBy)
    def snapshot(sig: DataFrame, hop: Int): DataFrame = sig
      .select(col("u").as("node"), lit(hop).as("hop"),
        size(col("__sig")).as("n_sig"),
        Sketches.kmvDistinctEst(col("__sig"), k).as("reach_est"))
    // Each round is one array-shipping equi-join + ONE mergeable
    // bottomKDistinct aggregate: the bounded sorted buffer dedups and
    // truncates map-side, so the former union→distinct→rank cascade —
    // the CPU-heavy tiny-row stage that needed explicit repartition
    // pins against AQE coalescing (PLANS.md: 85.6 s before the pins) —
    // no longer exists. Measured at sf0.1: 21.0 s cold / 10.3 s warm
    // (pinned cascade) → 7.2 s cold / 3.4 s warm (this shape).
    val bkm = graft.functions.Aggregators.bottomKDistinctMerge(k)
    // sig rounds go through a RoundSink: every round after the first is
    // coalesced to ceil(measured bytes / target) files — sketch state
    // is O(V·k) bytes regardless of cluster width, so the per-round
    // write stops paying `cores` tasks+files (the r13 anti-scaling).
    // The sink keeps EVERY round: the returned union reads each hop's.
    val sink = Lifecycle.roundSink(edges.sparkSession, keep = Int.MaxValue)
    var sig = sink.round(
      adj.select(col("u"), fh(col("v")).as("__h"))
        .groupBy(col("u")).agg(bk(col("__h")).as("__sig")))
    val hops = scala.collection.mutable.ArrayBuffer(snapshot(sig, 1))
    var t = 2
    while (t <= maxHops) {
      // whole sketches flow as single array rows into the set-merge
      // aggregate — one reduce per edge, not one per hash; the self
      // hash is removed from each candidate array BEFORE any merge
      // (identical to the former per-row filter: exact removal ahead
      // of truncation)
      val shipped = adj.select(col("u"), col("v").as("__mid"))
        .join(sig.select(col("u").as("__mid"), col("__sig")), "__mid")
        .select(col("u"), col("__sig"))
      sig = sink.round(
        sig.select(col("u"), col("__sig")).unionAll(shipped)
          .select(col("u"),
            array_remove(col("__sig"), fh(col("u"))).as("__sig"))
          .groupBy(col("u")).agg(bkm(col("__sig")).as("__sig")))
      hops += snapshot(sig, t)
      t += 1
    }
    // the returned union reads only the materialized sig round files —
    // adj is dead once the loop ends; release after the async exchange
    // jobs drain (see [[Lifecycle.drainAndUnpersist]])
    Lifecycle.drainAndUnpersist(edges.sparkSession, adj)
    hops.reduce(_ unionByName _).orderBy("node", "hop")
  }

  /** k-core peeling (bounded rounds): repeatedly delete nodes of degree
    * < k; the survivors of the fixpoint form the k-core — the dense
    * backbone used to split hub structure from tendrils in co-occurrence
    * graphs (Seidman '83 semantics). `rounds` caps the iterations the
    * same way [[pagerankMicro]]'s `iters` does: each extra round only
    * ever removes more nodes, and once a round removes nothing the
    * remaining rounds are no-ops — so the early-stop below never changes
    * the result, it only skips dead work.
    *
    * Scale posture: per round, one degree aggregate (node-keyed,
    * map-side combined) and two semi-joins of the edge list against the
    * surviving-node set — all equi-joins on node ids; lineage is cut
    * per round (a scratch round write) so plans stay flat; driver
    * state is one Boolean (did the round shrink the edge count).
    *
    * Input edges are canonicalized (undirected, self-loops dropped,
    * duplicates collapsed). Output: surviving `node`, `deg` LONG (degree
    * within the core), total order by node.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    require(rounds >= 1, "rounds >= 1")
    def degrees(e: DataFrame): DataFrame = e
      .select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // the surviving-edge count drives convergence; it is an OBSERVED
    // metric of each round's write job (round 14) — the former
    // separate count() action per round (a second scan of the
    // just-written file) is folded into the one unavoidable action
    val nMetric = count(lit(1)).as("__n")
    def nOf(m: Map[String, Any]): Long = m("__n").asInstanceOf[Number].longValue
    val (e0, m0) = Lifecycle.diskRoundObserved(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct(), nMetric)
    // e0 joins the sink's chain without sizing its writes (round 1
    // keeps the producer's layout); each round deletes the one it
    // supersedes, and the returned frame reads the last
    val sink = Lifecycle.roundSink(edges.sparkSession)
    sink.adopt(e0)
    var e = e0
    var nEdges = nOf(m0)
    var i = 0
    var done = nEdges == 0L
    while (i < rounds && !done) {
      val keep = degrees(e).filter(col("deg") >= k).select(col("node"))
      val (next, m) = sink.roundObserved(e
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")), nMetric)
      e = next
      val n = nOf(m)
      done = n == nEdges
      nEdges = n
      i += 1
    }
    degrees(e).orderBy("node")
  }
}
