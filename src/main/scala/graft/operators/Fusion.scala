package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank fusion for retrieval pipelines — combining several independent
  * ranked candidate lists (BM25, dense ANN, recency, …) into one list
  * per query without score calibration.
  *
  * Reference behavior: the engine's search surface returns one ranked
  * list per retriever; production RAG/data-curation stacks fuse them
  * (reference repo has no fusion stage — this is part of the
  * LLM-pipeline tier, SURVEY.md §2.10).
  */
object Fusion {

  /** Reciprocal Rank Fusion (Cormack et al., SIGIR'09):
    * `score(d) = Σ_lists 1/(k + rank_list(d))`, the standard
    * calibration-free fusion — only RANKS cross lists, so wildly
    * different score scales (BM25 vs cosine) fuse without tuning.
    *
    * Engine-exact arithmetic: each contribution is the INTEGER
    * `1_000_000_000 DIV (k + rank)` (nano-units, exact integral
    * division — no libm, no float-summation order), summed as longs.
    * Ties in an input list break by ascending id; fused ties break by
    * ascending id. Both rules are part of the contract so any engine
    * replays the fusion bit-for-bit.
    *
    * Scale posture: per-list ranks are one window keyed by
    * (list, query) — each retriever's candidate list is bounded (top-N
    * per query), so partitions are small and skew-free by construction;
    * the fusion itself is one (query, id)-keyed aggregation with
    * map-side combine. No driver state, no all-pairs work. At 100 TB
    * the lists arrive as the bounded OUTPUT of ANN/BM25 stages, so this
    * operator's cost is O(queries · Σ list sizes), independent of
    * corpus size.
    *
    * @param lists     one DataFrame per retriever, each with
    *                  `queryCols ++ (idCol, scoreCol)` (higher score =
    *                  better)
    * @param kConst    the RRF damping constant (60 in the paper)
    * @param topK      keep only the best `topK` fused rows per query
    *                  (0 = keep all); plans to WindowGroupLimit
    * @return `queryCols ++ (idCol, n_lists, rrf_nano, fused_rank)`
    */
  def rrf(lists: Seq[DataFrame], queryCols: Seq[String], idCol: String,
          scoreCol: String, kConst: Int = 60, topK: Int = 0): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    require(kConst >= 1, s"kConst must be >= 1, got $kConst")
    val q = queryCols.map(col)

    // rank each list on ITS OWN score (lists may score in different
    // types/scales — only ranks cross the union), then fuse
    val ranked = lists.map { df =>
      val perList = Window.partitionBy(q: _*)
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(q :+ col(idCol) :+ col(scoreCol): _*)
        .withColumn("__rank", row_number().over(perList))
        // exact integral division — floor(1e9/(k+r)) over DOUBLES could
        // round across an integer boundary; DIV on longs cannot
        .withColumn("__contrib", expr(s"1000000000L DIV (__rank + $kConst)"))
        .select(q :+ col(idCol) :+ col("__contrib"): _*)
    }.reduce(_ unionByName _)

    val fusedW = Window.partitionBy(q: _*)
      .orderBy(col("rrf_nano").desc, col(idCol).asc)
    val fused = ranked
      .groupBy(q :+ col(idCol): _*)
      .agg(count(lit(1)).cast("long").as("n_lists"),
        sum(col("__contrib")).as("rrf_nano"))
      .withColumn("fused_rank", row_number().over(fusedW).cast("long"))
    if (topK > 0) fused.filter(col("fused_rank") <= topK) else fused
  }

  /** Rank-biased overlap (Webber et al. 2010) between two ranked lists
    * per query — the ranking-similarity metric that pairs with [[rrf]]
    * (how much do two retrievers agree?) and with release-to-release
    * regression checks (did the new index change results?). Top-weighted
    * by persistence p: RBO@k = (1−p) Σ_{d=1..k} p^(d−1) · |A_d ∩ B_d|/d.
    *
    * Exact integer evaluation with rational p = pNum/pDen: the depth
    * weight w_d = ⌊10⁹ · pNum^(d−1) · (pDen−pNum) / pDen^d⌋ is computed
    * ONCE, exactly, in BigInt at plan time and enters the plan as a
    * k-element array literal (no engine float `power` anywhere; an
    * oracle interpolates the same integers), each per-depth term is
    * (w_d · overlap_d) DIV d, and the score is their exact long sum —
    * the standard deterministic-truncation discipline (bias < k
    * nano-units per depth, far below any comparison threshold).
    *
    * Shape: ranks are one bounded window per list; the overlap join is
    * (query, id)-keyed on the ≤k prefixes; each agreeing item expands to
    * its ≤k surviving depths (bounded fan-out k); one (query, d) count
    * + one query-keyed sum. Queries with NO agreement in the prefixes
    * still report (rbo_nano = 0) via the left join on the query spine.
    *
    * @return one row per query: `queryCols ++ (n_agree, rbo_nano)` —
    *         n_agree = items shared by the two k-prefixes. */
  /** The exact nano-unit RBO depth weights — public so an oracle (or a
    * caller re-normalizing truncated mass) can interpolate the identical
    * integers: w_d = ⌊10⁹ · pNum^(d−1) · (pDen−pNum) / pDen^d⌋. */
  def depthWeights(k: Int, pNum: Int, pDen: Int): Seq[Long] =
    (1 to k).map { d =>
      (BigInt(1000000000) * BigInt(pNum).pow(d - 1) * (pDen - pNum) /
        BigInt(pDen).pow(d)).toLong
    }

  def rboNano(a: DataFrame, b: DataFrame, queryCols: Seq[String],
              idCol: String, scoreCol: String, k: Int,
              pNum: Int = 9, pDen: Int = 10): DataFrame = {
    require(k >= 1 && k <= 100, s"depth k in 1..100, got $k")
    require(pNum >= 1 && pNum < pDen, "persistence p = pNum/pDen in (0,1)")
    val q = queryCols.map(col)
    def prefix(df: DataFrame, rankName: String): DataFrame = {
      val w = Window.partitionBy(q: _*)
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(q :+ col(idCol) :+ col(scoreCol): _*)
        .withColumn(rankName, row_number().over(w))
        .filter(col(rankName) <= k)
        .select(q :+ col(idCol) :+ col(rankName): _*)
    }
    val joined = prefix(a, "__ra")
      .join(prefix(b, "__rb"), queryCols :+ idCol)
      .withColumn("__m", greatest(col("__ra"), col("__rb")))
    // every agreeing item contributes to depths d = max(ra, rb) .. k
    val byDepth = joined
      .select((q :+ explode(sequence(col("__m"), lit(k))).as("__d")): _*)
      .groupBy(q :+ col("__d"): _*)
      .agg(count(lit(1)).as("__overlap"))
      .withColumn("__w",
        element_at(array(depthWeights(k, pNum, pDen).map(lit): _*),
          col("__d")))
      .withColumn("__term", expr("(__w * __overlap) DIV __d"))
    val spine = a.select(q: _*).distinct()
      .unionByName(b.select(q: _*).distinct()).distinct()
    val perQuery = joined.groupBy(q: _*)
      .agg(count(lit(1)).cast("long").as("n_agree"))
      .join(byDepth.groupBy(q: _*).agg(sum(col("__term")).as("rbo_nano")),
        queryCols)
    spine.join(perQuery, queryCols, "left_outer")
      .select((q :+ coalesce(col("n_agree"), lit(0L)).as("n_agree") :+
        coalesce(col("rbo_nano"), lit(0L)).as("rbo_nano")): _*)
  }

  /** 1e6/log2(r+1) rounded to ppm for ranks 1..10 — the NDCG discount
    * table as LITERALS (an engine `log` call would not be bit-portable;
    * a constant table is). */
  val ndcgDiscountPpm: Seq[Long] = Seq(1000000L, 630930L, 500000L,
    430677L, 386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  /** Retrieval/recommendation evaluation per query: MRR, hit@k, and
    * binary-relevance NDCG@k from a ranked list + a relevant-pairs
    * truth table — the searcher scorecard that grades [[graft.operators
    * .Similarity]]'s ANN variants (and any ranker) against labels.
    *
    * Everything integer: rr_ppm = 1e6 DIV first_relevant_rank
    * (truncating); DCG/IDCG are sums of the LITERAL ppm discount table
    * (no engine log); ndcg_ppm = (1e6·dcg) DIV idcg. Output covers
    * exactly the queries that HAVE truth rows (metrics are undefined
    * without relevance labels); a labeled query with no retrieved hit
    * scores rr NULL / hit 0 / ndcg 0.
    *
    * One (query, item) equi-join of the rank-bounded list against the
    * truth pairs, then a query-keyed aggregate; the ideal DCG comes
    * from the truth-side per-query count — no window touches the
    * ranked list. `k` ≤ 10 (the discount table's reach).
    *
    * Output: `query_id`, `n_rel` LONG (truth size), `first_rank`
    * LONG-or-NULL (within k), `rr_ppm`, `hit_at_k` INT, `dcg_ppm`,
    * `idcg_ppm`, `ndcg_ppm` — total order by query_id.
    */
  def rankEval(ranked: DataFrame, truth: DataFrame, k: Int,
               queryCol: String = "query_id",
               itemCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && k <= ndcgDiscountPpm.size,
      s"k must be in [1, ${ndcgDiscountPpm.size}]")
    val discount = ndcgDiscountPpm.take(k)
    val discExpr = element_at(
      typedLit(discount), col("rank").cast("int"))
    val topk = ranked.filter(col("rank") <= k)
      .select(col(queryCol).as("__q"), col(itemCol).as("__i"), col("rank"))
    val rels = truth.select(col(queryCol).as("__q"), col(itemCol).as("__i"))
      .distinct()
    val perQueryTruth = rels.groupBy(col("__q")).agg(count(lit(1)).as("n_rel"))
    val hits = topk.join(rels, Seq("__q", "__i"))
      .withColumn("__disc", discExpr)
      .groupBy(col("__q"))
      .agg(min(col("rank")).cast("long").as("first_rank"),
        coalesce(sum(col("__disc")), lit(0L)).as("dcg_ppm"))
    val idealPrefix = discount.scanLeft(0L)(_ + _) // idcg for n_rel=i
    perQueryTruth
      .join(hits, Seq("__q"), "left_outer")
      .withColumn("rr_ppm",
        when(col("first_rank").isNotNull, expr("1000000L DIV first_rank")))
      .withColumn("hit_at_k",
        when(col("first_rank").isNotNull, 1).otherwise(0))
      .withColumn("dcg_ppm", coalesce(col("dcg_ppm"), lit(0L)))
      .withColumn("idcg_ppm",
        element_at(typedLit(idealPrefix),
          (least(col("n_rel"), lit(k.toLong)) + 1L).cast("int")))
      .withColumn("ndcg_ppm",
        when(col("idcg_ppm") > 0L,
          expr("(1000000L * dcg_ppm) DIV idcg_ppm")))
      .select(col("__q").as(queryCol), col("n_rel"), col("first_rank"),
        col("rr_ppm"), col("hit_at_k"), col("dcg_ppm"), col("idcg_ppm"),
        col("ndcg_ppm"))
      .orderBy(queryCol)
  }

  /** Team-draft interleaving (Radlinski–Kurup–Joachims CIKM'08): merge
    * two rankers' lists per query into ONE list users actually see,
    * tagging every position with the team that drafted it — the online
    * ranker-comparison design whose click credit is unbiased where
    * per-arm A/B splits aren't. Draft rounds: the team with fewer
    * picks drafts its best not-yet-picked doc; when tied, a
    * DETERMINISTIC coin (seeded xxhash64 of (query, round)) decides —
    * reproducible experiments, no RNG state.
    *
    * Defining invariants (spec/gate surface — team-draft is CHARACTERIZED
    * by these): positions are 1..m with distinct docs; WHILE BOTH lists
    * still have unpicked docs, team pick counts never differ by more
    * than 1 (once one list exhausts, the other drafts alone and counts
    * diverge — with overlapping rankers that happens before rank k);
    * each team's picks preserve its source list's relative order; every
    * pick comes from list A ∪ B.
    *
    * Scale posture: the greedy is inherently sequential PER QUERY, so
    * it runs inside cogroup with O(k) state — both lists arrive
    * rank-bounded by their producers (pass top-k lists, not corpora);
    * the corpus never enters the loop. LONG query/doc ids (the library
    * vector-id contract). Input frames carry (queryCol, idCol, rankCol).
    * Output: (queryCol, `pos`, idCol, `team` 'A'|'B'); total order
    * (query, pos). */
  def interleaveTeamDraft(listA: DataFrame, listB: DataFrame,
                          queryCol: String, idCol: String, rankCol: String,
                          k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = listA.sparkSession
    import spark.implicits._
    def prep(df: DataFrame) = df
      .select(col(queryCol).cast("long"), col(idCol).cast("long"),
        col(rankCol).cast("long"))
      .as[(Long, Long, Long)]
    val kk = k
    val sd = seed
    prep(listA).groupByKey(_._1).cogroup(prep(listB).groupByKey(_._1)) {
      (q, as, bs) =>
        val a = as.map(t => (t._3, t._2)).toArray.sorted.map(_._2)
        val b = bs.map(t => (t._3, t._2)).toArray.sorted.map(_._2)
        val taken = new java.util.HashSet[Long]()
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
        var ia = 0; var ib = 0; var nA = 0; var nB = 0; var round = 0
        def nextFrom(list: Array[Long], i0: Int): Int = {
          var i = i0
          while (i < list.length && taken.contains(list(i))) i += 1
          i
        }
        while (out.length < kk && {
          ia = nextFrom(a, ia); ib = nextFrom(b, ib)
          ia < a.length || ib < b.length
        }) {
          // deterministic coin on ties: avalanche the (seed, q, round)
          // triple through the splitmix64 finalizer
          val coinA = {
            var h = sd ^ (q * 0x9E3779B97F4A7C15L) ^ round.toLong
            h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
            h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
            ((h ^ (h >>> 31)) & 1L) == 0L
          }
          val pickA =
            if (ia >= a.length) false
            else if (ib >= b.length) true
            else if (nA < nB) true
            else if (nB < nA) false
            else coinA
          if (pickA) {
            taken.add(a(ia)); nA += 1
            out += ((q, out.length + 1L, a(ia), "A"))
          } else {
            taken.add(b(ib)); nB += 1
            out += ((q, out.length + 1L, b(ib), "B"))
          }
          round += 1
        }
        out.iterator
    }.toDF(queryCol, "pos", idCol, "team")
      .orderBy(queryCol, "pos")
  }

  /** Expected Reciprocal Rank (Chapelle et al. CIKM'09) — the graded,
    * CASCADE-model ranking metric [[rankEval]]'s NDCG can't express:
    * a user scans top-down and stops at a satisfying result, so a
    * relevant doc at rank 3 is worth little when rank 1 already
    * satisfied most users.
    *
    *   ERR = Σ_r (1/r) · R_r · Π_{i<r} (1 − R_i),
    *   R = (2^g − 1) / 2^gMax   (graded relevance g ∈ [0, gMax])
    *
    * Determinism: the cascade product is SEQUENTIAL by definition, so
    * it runs as an in-row integer fold over each query's rank-sorted
    * list — R in exact ppm (shiftleft/DIV), the continue-probability
    * truncated to ppm at every step, each rank's contribution
    * truncated to nano — one pinned order both engines replay exactly
    * (no float ever).
    *
    * Scale posture: lists arrive rank-bounded from their producers
    * (pass top-k, not corpora; ranks must be contiguous 1..m per query
    * — the library list contract). One (query, item) grade join + one
    * query-keyed collect of ≤ k structs + the O(k) in-row fold; the
    * corpus never enters. Items absent from `truth` carry grade 0.
    * Output: query, `k_used` LONG, `err_nano` LONG, `rest_ppm` LONG
    * (the un-stopped mass Π(1−R) after the full list — the audit
    * column: err + coverage account for every scan path); total order
    * by query. */
  def errEval(ranked: DataFrame, truth: DataFrame, k: Int, gMax: Int,
              queryCol: String = "query_id", itemCol: String = "vec_id",
              rankCol: String = "rank",
              gradeCol: String = "grade"): DataFrame = {
    require(k >= 1 && k <= 100, s"k in [1, 100], got $k")
    require(gMax >= 1 && gMax <= 20, s"gMax in [1, 20], got $gMax")
    val top = ranked.filter(col(rankCol) <= k)
      .select(col(queryCol).as("__q"), col(itemCol).as("__i"),
        col(rankCol).cast("long").as("__r"))
    val tr = truth.select(col(queryCol).as("__q"), col(itemCol).as("__i"),
      col(gradeCol).cast("long").as("__g"))
    top.join(tr, Seq("__q", "__i"), "left_outer")
      .withColumn("__gc",
        coalesce(least(lit(gMax.toLong), greatest(lit(0L), col("__g"))),
          lit(0L)))
      .withColumn("__rel",
        expr(s"(1000000L * (shiftleft(1L, CAST(__gc AS INT)) - 1L)) " +
          s"DIV ${1L << gMax}L"))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("k_used"),
        expr("""aggregate(
               |  array_sort(collect_list(struct(__r, __rel))),
               |  struct(CAST(1000000 AS BIGINT) AS prod,
               |         CAST(0 AS BIGINT) AS err),
               |  (acc, x) -> struct(
               |    (acc.prod * (1000000L - x.__rel)) DIV 1000000L AS prod,
               |    acc.err + (acc.prod * x.__rel) DIV (1000L * x.__r)
               |      AS err))""".stripMargin).as("__st"))
      .select(col("__q").as(queryCol), col("k_used"),
        col("__st.err").as("err_nano"), col("__st.prod").as("rest_ppm"))
      .orderBy(queryCol)
  }

  /** Click credit for an interleaved experiment: joins click events to
    * [[interleaveTeamDraft]] assignments and scores each query — the
    * team with MORE clicked picks wins it. Output (one row): `n_queries`
    * (with ≥1 click), `wins_a`, `wins_b`, `ties` LONG. One equi-join on
    * (query, doc) + a query-keyed aggregate + a one-row rollup. */
  def interleavedWins(assignments: DataFrame, clicks: DataFrame,
                      queryCol: String, idCol: String): DataFrame = {
    val clicked = assignments.join(
      clicks.select(col(queryCol), col(idCol)).distinct(),
      Seq(queryCol, idCol), "left_semi")
    clicked.groupBy(col(queryCol))
      .agg(
        coalesce(sum(when(col("team") === "A", 1L).otherwise(0L)), lit(0L))
          .as("__ca"),
        coalesce(sum(when(col("team") === "B", 1L).otherwise(0L)), lit(0L))
          .as("__cb"))
      .agg(count(lit(1)).as("n_queries"),
        coalesce(sum(when(col("__ca") > col("__cb"), 1L).otherwise(0L)),
          lit(0L)).as("wins_a"),
        coalesce(sum(when(col("__cb") > col("__ca"), 1L).otherwise(0L)),
          lit(0L)).as("wins_b"),
        coalesce(sum(when(col("__ca") === col("__cb"), 1L).otherwise(0L)),
          lit(0L)).as("ties"))
  }

  /** Bradley–Terry strengths from pairwise duels — the model behind
    * preference-data curation (RLHF reward comparisons, LLM-judge
    * A/B verdicts, [[interleaveTeamDraft]] click wins): each player i
    * gets a strength w_i with P(i beats j) = w_i/(w_i+w_j), fit by the
    * classic minorization–maximization recurrence (Hunter 2004):
    *
    *   w_i ← W_i / Σ_j n_ij/(w_i + w_j)
    *
    * (W_i total wins, n_ij games between i and j), run `iters`
    * synchronous rounds in INTEGER MICRO-UNITS — the pagerank/HITS
    * replay discipline: per-pair terms are (n_ij·10¹²) DIV (w_i+w_j),
    * the update (W_i·10¹²) DIV Σterms, then a max-rescale pinning the
    * leader at 10⁶ with a 1-micro floor (keeps zero-win players from
    * collapsing a later denominator to 0; they bottom out at the floor,
    * which is also the honest answer — the MLE sends them to 0).
    * Every operand is exact integer arithmetic (DECIMAL(38,0)-widened
    * sums), so any engine replays the fit bit-for-bit.
    *
    * Scale posture: duels collapse ONCE to a symmetric (i, j, n_ij)
    * games frame and a per-player wins frame — pair-space sized, never
    * duel-space. Each round is one join of the held games frame
    * with the player-sized strength frame + one map-side-combined sum,
    * the rescale max observed by the round's write job (the
    * [[graft.operators.Graph]] edge-cache shape); state is one long per
    * player, written per round through a [[Lifecycle.RoundSink]] so
    * lineage stays flat (the HITS 2^iters lesson) and no round lives in
    * non-recomputable evictable blocks.
    *
    * Output: `player`, `strength_micro` (leader = 10⁶), `wins`,
    * `games` LONG — total order by player.
    */
  def bradleyTerry(duels: DataFrame, winner: Column, loser: Column,
                   iters: Int): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    // normalized duels are held for the round of frame-builds below —
    // games AND wins each scan it (the graph tier's edge-cache
    // discipline); two longs per duel
    val d = Lifecycle.hold(duels.select(winner.cast("long").as("__w"),
        loser.cast("long").as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l")))
    val games = Lifecycle.hold(d.select(col("__w").as("i"), col("__l").as("j"))
      .union(d.select(col("__l").as("i"), col("__w").as("j")))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n"))
      .repartition(col("i")))
    val wins = d.groupBy(col("__w").as("p"))
      .agg(count(lit(1)).as("wins"))
    val players = Lifecycle.hold(games.select(col("i").as("player")).distinct()
      .join(wins, col("player") === col("p"), "left")
      .select(col("player"),
        coalesce(col("wins"), lit(0L)).as("wins")))

    var strength = players.select(col("player"), lit(1000000L).as("s"))
    // strength is a lazy view over each round's written `raw`.
    // The rescale max is an OBSERVED metric of the round's write job
    // (round 14): the former agg(max) + crossJoin(broadcast) cost one
    // extra scan + one broadcast-exchange job per round; the observed
    // max is the identical exact long, applied as a literal.
    val sink = Lifecycle.roundSink(duels.sparkSession)
    var it = 0
    while (it < iters) {
      val terms = games
        .join(strength.withColumnRenamed("player", "__pi")
          .withColumnRenamed("s", "__si"), col("i") === col("__pi"))
        .join(strength.withColumnRenamed("player", "__pj")
          .withColumnRenamed("s", "__sj"), col("j") === col("__pj"))
        .groupBy(col("i").as("player2"))
        .agg(coalesce(sum(expr(
          "(CAST(n AS DECIMAL(38,0)) * 1000000000000) DIV (__si + __sj)")),
          lit(0L)).as("__t"))
      // per-round DISK state ([[Lifecycle.RoundSink]] — flat lineage,
      // recomputable from the scratch file; the localCheckpoint form
      // flapped under driver-box memory pressure, r12 q253)
      val (raw, m) = sink.roundObserved(players
        .join(terms, col("player") === col("player2"))
        .select(col("player"), when(col("__t") > 0L, expr(
          "(CAST(wins AS DECIMAL(38,0)) * 1000000000000) DIV __t"))
          .otherwise(0L).as("__raw")), max(col("__raw")).as("__mx"))
      // null max ⇔ zero rows written ⇔ zero rows to scale (and a zero
      // max previously made the DIV yield NULL → greatest picks 1L;
      // inlining 0L reproduces that exactly)
      val mx = Option(m("__mx")).map(_.asInstanceOf[Number].longValue)
        .getOrElse(1L)
      strength = raw
        .select(col("player"), greatest(lit(1L), expr(
          s"(CAST(__raw AS DECIMAL(38,0)) * 1000000) DIV ${mx}L")).as("s"))
      it += 1
    }
    val gamesPer = games.groupBy(col("i").as("gp"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("games"))
    players
      .join(strength, "player")
      .join(gamesPer, col("player") === col("gp"))
      .select(col("player"), col("s").as("strength_micro"), col("wins"),
        col("games"))
      .orderBy(col("player"))
  }
}
