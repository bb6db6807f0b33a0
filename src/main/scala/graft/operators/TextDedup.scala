package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.plans.HashExprs

/** Document deduplication operators for training-data pipelines: exact,
  * MinHash+LSH near-dup, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (100 TB):
  *  - exact dedup is a single hash shuffle on the content digest (not the
  *    text itself — 16-byte keys move through the exchange, not documents);
  *  - MinHash/LSH is the classic shingle→signature→band→bucket-join
  *    pipeline: candidate generation is a self-equi-join on (band,
  *    band_hash) — linear shuffle volume, never an all-pairs cross join;
  *  - exact Jaccard runs only on LSH candidates, so the quadratic step is
  *    bounded by collision count;
  *  - everything is built-in expressions (codegen), no UDF in any
  *    shuffle-side path.
  */
object TextDedup {

  /** Heavy per-row hashing over a small-file SCAN would otherwise run in
    * one task (a single small parquet file = one input partition) —
    * spread it across the cluster first. For LEAF frames the file
    * listing is the right signal (cheap — the file index already holds
    * it); this helper is only ever called on scans of the documents
    * table. Derived frames (joins) must NOT use this: their inputFiles
    * report leaf files (mis-measuring a well-partitioned join), and
    * probing their RDD partition count under AQE materializes query
    * stages during planning. For those, callers repartition explicitly
    * (see jaccardVerify). */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length < p) df.repartition(p) else df
  }

  /** Exact dedup: keep the lowest-id document per identical text digest.
    * Digest first (md5 of the raw text) so the shuffle key is 16 bytes. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    Relational.latestPerKey(
      docs.withColumn("__digest", md5(col(textCol))),
      Seq("__digest"),
      Seq(col(idCol).asc)
    ).drop("__digest")

  /** Canonical text for normalization-robust exact dedup: Unicode NFC →
    * accent fold → lowercase → non-alphanumerics to spaces → whitespace
    * collapse → trim. Byte-different, render-equivalent copies ("Naïve
    * Bayes!", "naive   bayes") collapse to one key. The punct-strip +
    * collapse + trim tail runs as the ONE-pass native `AlnumFold` kernel
    * — bit-equivalent to the RE2-safe regex pair an oracle engine
    * replays (`[^a-z0-9\s]`→' ' then `\s+`→' ' then trim; the
    * equivalence argument and its bitwise spec live with the kernel),
    * at a third of the per-row cost (two compiled-regex scans → one
    * branch-per-char loop; measured on the 80 k-doc sweep). Narrow
    * per-row — pipelined with the scan, nothing shuffles. */
  def canonicalText(spark: org.apache.spark.sql.SparkSession, c: Column): Column = {
    import graft.plans.TextExprs
    TextExprs.alnumFold(spark,
      lower(TextExprs.stripAccents(spark, TextExprs.nfc(spark, c))))
  }

  /** Normalization-robust exact dedup: [[exact]] keyed on the md5 of
    * [[canonicalText]] instead of the raw bytes — the first dedup stage
    * real pipelines run (RefinedWeb/CCNet normalize before hashing,
    * because crawls re-serve the same page with case/punctuation/accent
    * jitter). Keeps the smallest id per canonical key; same 16-byte
    * digest shuffle as [[exact]]. */
  def normalizedExact(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    Relational.latestPerKey(
      docs.withColumn("__digest",
        md5(canonicalText(spark, coalesce(col(textCol), lit(""))))),
      Seq("__digest"),
      Seq(col(idCol).asc)
    ).drop("__digest")
  }

  /** Per-group duplicate stats: (group, n_docs, n_unique_texts). */
  def exactStats(docs: DataFrame, groupCol: String, textCol: String = "text"): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col(textCol))).as("n_unique"))
      .orderBy(col(groupCol))

  /** doc_id → (band, band_hash) rows for LSH banding: `bands` bands of
    * `rows` signature positions each; a pair colliding in ANY band becomes
    * a candidate. Tune (bands, rows): P(collide) ≈ 1-(1-j^rows)^bands.
    * Shingling/signature/band hashing run as native Catalyst expressions
    * (graft.plans) — the HOF formulation falls back to interpreted eval
    * and profiled ~1000× slower. */
  def lshBands(docs: DataFrame, idCol: String, textCol: String,
               shingleN: Int, bands: Int, rows: Int): DataFrame = {
    val spark = docs.sparkSession
    // hashed shingles end-to-end: no n-gram string ever materializes in
    // the signature pipeline (the q184 lesson — its 50M-shingle explode
    // ran 7× faster hashed; HERE the docs-frame is small enough that
    // local wall time is unchanged, the win is allocation/shuffle bytes
    // at corpus scale). The family change is gate-safe because every
    // minhash consumer gates on Jaccard/recall invariants, not
    // signature values — re-gated q27/q28/q60/q61/q92/q120 bit-exact.
    val sh  = HashExprs.hashedShingles(spark, col(textCol), shingleN)
    val sig = HashExprs.minhashSigHashed(spark, sh, bands * rows)
    spread(docs)
      .select(col(idCol), HashExprs.bandHash(spark, sig, bands, rows).as("__bands"))
      .select(col(idCol), posexplode(col("__bands")).as(Seq("band", "band_hash")))
  }

  /** Candidate near-dup pairs from LSH: self-join on (band, band_hash),
    * deduplicated. Returns (id_a, id_b) with id_a < id_b.
    *
    * `maxBucketSize` is the SKEW GUARD for degenerate buckets: a corpus
    * slice of boilerplate (empty strings, templated pages) can land a
    * million documents in one bucket, turning the self-join quadratic in
    * that bucket (5·10^11 pairs from one key kills the stage). Buckets
    * above the cap are dropped from candidate generation — one count
    * aggregate + a semi-join, linear. Recall within a mega-bucket is
    * sacrificed deliberately: its members are near-identical boilerplate
    * that exact dedup (q23's path) already collapses, and any pair also
    * colliding in a sane bucket still surfaces. */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3, bands: Int = 8, rows: Int = 4,
                        maxBucketSize: Int = 100000): DataFrame = {
    val b = lshBands(docs, idCol, textCol, shingleN, bands, rows)
    val sane = b.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .select("band", "band_hash")
    val bounded = b.join(sane, Seq("band", "band_hash"), "left_semi")
    val left  = bounded.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
    val right = bounded.select(col("band"), col("band_hash"), col(idCol).as("id_b"))
    left.join(right, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact n-gram Jaccard on given pairs — the verification step after LSH
    * candidate generation. `docs` must carry (idCol, textCol). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleN: Int = 3): DataFrame =
    jaccardVerifyTwoSided(pairs, docs, docs, idCol, textCol, shingleN)

  /** Two-frame variant: `id_a` resolves against `leftDocs`, `id_b`
    * against `rightDocs` — REQUIRED when the two sides are different
    * populations that may reuse ids (a batch re-submitting a corpus
    * doc_id must verify batch-text-vs-corpus-text, not fan out across
    * every text sharing the id). */
  def jaccardVerifyTwoSided(pairs: DataFrame,
                            leftDocs: DataFrame, rightDocs: DataFrame,
                            idCol: String = "doc_id", textCol: String = "text",
                            shingleN: Int = 3): DataFrame = {
    // hashed shingle sets: array_intersect/union cardinalities — and so
    // every Jaccard value and threshold — are identical under an
    // injective-in-practice hash, and the per-pair set ops run on longs
    def sh(docs: DataFrame) = spread(docs).select(col(idCol),
      HashExprs.hashedShingles(docs.sparkSession, col(textCol), shingleN)
        .as("sh"))
    jaccardVerifyOnShingles(pairs, sh(leftDocs), sh(rightDocs), idCol)
  }

  /** Verification core over PRE-SHINGLED frames (`idCol`, `sh`) — for
    * callers that already hold the shingle sets (e.g.
    * [[prefixFilterJoin]], which materializes them once for the prefix
    * pass); recomputing the shingle expression is the dominant CPU in
    * a verify-heavy pipeline. */
  def jaccardVerifyOnShingles(pairs: DataFrame,
                              shLeft: DataFrame, shRight: DataFrame,
                              idCol: String = "doc_id"): DataFrame = {
    val shA = shLeft.select(col(idCol), col("sh"))
    val shB = shRight.select(col(idCol), col("sh"))
    // pairs often arrive in 1-2 partitions (a coalesced LSH join / cross
    // join output) and the per-pair set intersection is the expensive
    // part — ALWAYS spread them. Unconditional: measuring a derived
    // frame's real partition count under AQE would materialize its
    // stages during planning, and the pair set is post-LSH bounded, so
    // the round-robin shuffle is linear and modest next to the
    // verification it parallelizes.
    pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism)
      .join(shA.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shB.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      // two shingle-less docs (empty/whitespace text) have no defined
      // Jaccard — emit NULL explicitly, never 0/0: IEEE gives NaN and
      // Spark orders NaN above every threshold, which would silently
      // call two EMPTY documents near-duplicates (exact dedup owns
      // those). Oracles mirror this with NULLIF on the denominator.
      .withColumn("__union_n", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        when(col("__union_n") > 0,
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            col("__union_n"))
          .otherwise(lit(null).cast("double")))
      .select("id_a", "id_b", "jaccard")
  }

  /** Pair OVERLAP report — Jaccard plus both CONTAINMENTS
    * (|A∩B|/|A| and |A∩B|/|B|): the asymmetric measure Jaccard-only
    * dedup misses. A short document quoted inside a long one has tiny
    * Jaccard (the union is article-sized) but containment ≈ 1 on the
    * short side — the quote-inclusion / boilerplate-envelope case a
    * curation pipeline must catch. Same frame contract as
    * [[jaccardVerifyOnShingles]] (pre-shingled sides, post-candidate
    * pairs); ratios are single IEEE divisions of exact set sizes, so
    * they gate engine-exactly. Shingle-less sides yield NULL ratios. */
  def overlapStats(pairs: DataFrame, shLeft: DataFrame, shRight: DataFrame,
                   idCol: String = "doc_id"): DataFrame = {
    val shA = shLeft.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val shB = shRight.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism)
      .join(shA, "id_a").join(shB, "id_b")
      .withColumn("n_a", size(col("sh_a")))
      .withColumn("n_b", size(col("sh_b")))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("__union_n", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        when(col("__union_n") > 0,
          col("n_inter").cast("double") / col("__union_n"))
          .otherwise(lit(null).cast("double")))
      .withColumn("cont_a",
        when(col("n_a") > 0, col("n_inter").cast("double") / col("n_a"))
          .otherwise(lit(null).cast("double")))
      .withColumn("cont_b",
        when(col("n_b") > 0, col("n_inter").cast("double") / col("n_b"))
          .otherwise(lit(null).cast("double")))
      .select("id_a", "id_b", "n_a", "n_b", "n_inter", "jaccard",
        "cont_a", "cont_b")
  }

  /** MinHash near-dup pipeline: LSH candidates → exact Jaccard ≥ threshold. */
  def minhashNearDups(docs: DataFrame, threshold: Double,
                      idCol: String = "doc_id", textCol: String = "text",
                      shingleN: Int = 3, bands: Int = 8, rows: Int = 4): DataFrame =
    jaccardVerify(minhashCandidates(docs, idCol, textCol, shingleN, bands, rows),
      docs, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)

  /** EXACT set-similarity self-join via prefix filtering (the
    * SSJoin/PPJoin family: Chaudhuri–Ganti–Kaushik ICDE'06, Xiao et al.
    * WWW'08) — every pair with shingle-Jaccard ≥ `threshold`, with NO
    * approximation and NO all-pairs scan. This is the exact counterpart
    * of [[minhashNearDups]]: MinHash+LSH trades recall for speed, this
    * trades nothing and still avoids the quadratic join.
    *
    * How: order each document's shingle set by GLOBAL document frequency
    * ascending (ties by token — one total order on both sides). A pair
    * with J ≥ t must share ≥ ⌈t·|X|⌉ tokens with each member X, so it
    * must collide inside each side's first |X| − ⌈t·|X|⌉ + 1 tokens —
    * the prefix. Candidates = equi-join on prefix tokens only; because
    * prefixes hold each document's RAREST tokens, fan-out per join key
    * is naturally tiny (that is the whole trick). A length filter
    * (|A| ≥ t·|B|, the J ≥ t size bound) prunes before verification,
    * and exact Jaccard on the survivors gives the final answer.
    *
    * Scale posture: one df aggregate (map-side combined), one token-keyed
    * join to attach df, one id-keyed window to slice prefixes, one
    * prefix-token equi-join, then [[jaccardVerify]] bounded by candidate
    * count. All shuffles are linear in tokens; the quadratic step never
    * materializes because high-df (hot) tokens are pushed out of every
    * prefix by the ascending-df order. Float guard: ⌈t·s⌉ is computed
    * with a 1e-9 downward nudge, so IEEE rounding can only LENGTHEN a
    * prefix (more candidates, never a lost pair).
    *
    * Output: (id_a < id_b, jaccard) — exactly the pairs an all-pairs
    * scan would return (the q92 oracle IS that all-pairs scan). */
  def prefixFilterJoin(docs: DataFrame, threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window

    // shingle ONCE: the sets feed the prefix pass AND both verification
    // sides, so the shingle expression would run three times per doc if
    // each consumer recomputed it (measured: ~30% wall saved at 1×/4×
    // sweep scale; neutral at 16× where the candidate join dominates).
    // persist() is the materialization point — the q103/graph-tier
    // discipline. The round-11 form relied on AQE shuffle-stage reuse
    // across the three consumers of one id-keyed repartition, but (the
    // q103 SCALING.md finding, reconfirmed by the round-11 driver
    // bench: 4.55 s vs 1.26 s budget with a 51 s spread) AQE does NOT
    // reliably deduplicate identical repartition subtrees across
    // consumers — each re-shingled the corpus. The persisted relation
    // serves all consumers from MEMORY_AND_DISK, the id-keyed CLUSTER
    // BY layout below survives into the cache so the verification
    // joins read it exchange-free, and the cache is released (after
    // the session's async exchange jobs drain) before returning.
    // Storage is one (id, shingle-set) row per doc — the same linear
    // class as the token shuffle below.
    // hashed shingle tokens: PPJoin's prefix filter is EXACT under any
    // consistent global token order (the df-ascending order just makes
    // prefixes rare-token-first), so hashed longs change neither the
    // pair set nor any Jaccard — only the allocation profile
    val shf = spread(docs)
      .select(col(idCol).as("__id"),
        HashExprs.hashedShingles(spark, col(textCol), shingleN).as("sh"))
      .withColumn("__sz", size(col("sh")))
      .filter(col("__sz") > 0) // shingle-less docs have no defined Jaccard
      .repartition(spark.sparkContext.defaultParallelism, col("__id"))
      .persist()
    val toks = shf.select(col("__id"), col("__sz"), explode(col("sh")).as("__tok"))

    // global document frequency per token (shingles are distinct per doc,
    // so count(*) == document frequency)
    val dfreq = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))

    val w = Window.partitionBy(col("__id")).orderBy(col("__df"), col("__tok"))
    val prefixes = toks.join(dfreq, "__tok")
      .withColumn("__rn", row_number().over(w))
      // prefix length |X| − ⌈t·|X|⌉ + 1, nudged so rounding never shortens
      .filter(col("__rn") <=
        col("__sz") - ceil(col("__sz") * threshold - lit(1e-9)) + 1)
      .select(col("__tok"), col("__id"), col("__sz"))

    val a = prefixes.select(col("__tok"), col("__id").as("id_a"), col("__sz").as("__sza"))
    val b = prefixes.select(col("__tok"), col("__id").as("id_b"), col("__sz").as("__szb"))
    val candidates = a.join(b, "__tok")
      .filter(col("id_a") < col("id_b"))
      // J ≥ t ⟹ min size ≥ t · max size (nudged in the safe direction)
      .filter(least(col("__sza"), col("__szb")).cast("double") >=
        greatest(col("__sza"), col("__szb")) * threshold - lit(1e-9))
      .select("id_a", "id_b")
      .distinct()

    val shNamed = shf.select(col("__id").as(idCol), col("sh"))
    // eager output (near-dup pairs — small), then drained release of
    // the shingle cache: the [[graft.operators.Lifecycle]] contract
    val out = jaccardVerifyOnShingles(candidates, shNamed, shNamed, idCol)
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    Lifecycle.drainAndUnpersist(spark, shf)
    out
  }

  /** Connected components over a near-dup pair graph — TRANSITIVE dedup:
    * if A≈B and B≈C, all three are one duplicate cluster even when A and
    * C never collided directly. Iterative min-label propagation: every
    * node's component label drops to the smallest label among itself and
    * its neighbors, repeated to a fixpoint. One equi-join + one partial
    * aggregate per round, labels written per round through a
    * [[graft.operators.Lifecycle.RoundSink]] so the plan never
    * accumulates lineage; rounds needed = component diameter, and
    * near-dup clusters are short chains in practice (`maxIter` guards the
    * pathological case — a loud error beats a silent wrong cluster).
    * Output: (id, component) for every id present in `pairs`, component =
    * min id reachable. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // the edge static is LOOP-INTERNAL (the returned frame is a view
    // over the LAST round's disk file, and every round is eagerly
    // written), so it can be a recomputable PERSIST released before
    // returning (round 14) rather than a diskRound write+read. ONE
    // exchange builds it: CLUSTER BY src first — the symmetric-pair
    // dedup's ClusteredDistribution(src,dst) is satisfied by hash(src)
    // — and each round's min-label aggregation (groupBy src over a
    // broadcast-probe join that preserves the cached layout) then runs
    // exchange-free.
    val edges =
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .repartition(col("src")).distinct().persist()
    // round-0 labels stay LAZY (a distinct projection of the cached
    // edges — exchange-free on the clustering): round 1's write job is
    // the first and only consumer, so a separate round-0 disk write
    // bought nothing
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))

    // one round: labels' comp drops to min over itself + neighbors; the
    // OLD label rides along so convergence is a filter over the already
    // materialized result, not another join. Each round's disk
    // write truncates lineage; superseded rounds' scratch files
    // are deleted as the loop advances, and the label set is
    // O(|docs in ≥1 pair|) — small next to the corpus — so peak scratch
    // across rounds stays modest.
    def propagateLazy(cur: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(cur.select(col("id").as("dst"), col("comp").as("nbr_comp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_comp")).as("nbr_comp"))
      cur.select(col("id"), col("comp").as("old"))
        .join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("old"), coalesce(col("nbr_comp"), col("old"))).as("comp"),
          col("old"))
    }

    // convergence (= no label changed this round) is an OBSERVED metric
    // of the round's write job (round 14): the former separate
    // filter+count action re-scanned every just-written round file
    val changedMetric = coalesce(sum(when(col("comp") =!= col("old"), 1L)
      .otherwise(0L)), lit(0L)).as("__changed")
    // the sink deletes each superseded round; the returned frame is a
    // view over the LAST round only, so the sink is never closed
    val sink = Lifecycle.roundSink(pairs.sparkSession)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val (next, m) = sink.roundObserved(propagateLazy(labels), changedMetric)
      converged = m("__changed").asInstanceOf[Number].longValue == 0L
      labels = next.select("id", "comp")
      iter += 1
    }
    if (!converged) {
      // the cap round may have made the LAST correction (eccentricity ==
      // maxIter): run one confirmation pass before declaring failure, so
      // a correct result is never discarded by an off-by-one. The pass
      // is checked lazily (both inputs are already disk-backed, and the
      // result itself is discarded, so no round write is needed).
      converged = propagateLazy(labels)
        .filter(col("comp") =!= col("old")).isEmpty
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — component diameter exceeds the bound")
    // the returned view reads only the last round's disk file; the edge
    // cache is dead once convergence (incl. the confirmation pass) is
    // decided
    Lifecycle.drainAndUnpersist(pairs.sparkSession, edges)
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Transitive dedup keep-list: every document keeps its cluster's
    * smallest id; docs in no near-dup pair keep themselves. Returns
    * (idCol, keep_id). */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("id").as(idCol), col("component").as("keep_id"))
    docs.select(col(idCol))
      .join(comp, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("keep_id"), col(idCol)).as("keep_id"))
  }

  /** Quality-aware dedup keep-list: like [[dedupClusters]] but each
    * cluster keeps its BEST document instead of its smallest id —
    * `keep_id` = the cluster member maximizing `quality` (ties: lowest
    * id). Dropping near-dups is only half the curation decision; WHICH
    * copy survives decides what the model trains on, and min-id is an
    * arbitrary proxy (often the earliest crawl — frequently the worst
    * extraction). Pass any score: [[graft.functions.Text.qualityScore]],
    * a fluency ppm, n_chars.
    *
    * Output: (idCol, component, keep_id, is_rep). Singletons (docs in no
    * pair) form their own component and keep themselves.
    *
    * Scale posture: [[connectedComponents]] over the pair set (O(pairs)
    * per round, bounded rounds), then ONE component-keyed window whose
    * partitions are cluster-sized — the argmax never sees the corpus,
    * only clustered docs; singleton docs bypass the window entirely
    * via the left join. */
  def dedupRepresentatives(docs: DataFrame, pairs: DataFrame,
                           quality: Column,
                           idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("id").as(idCol), col("component"))
    val withComp = docs
      .select(col(idCol), quality.as("__q"))
      .join(comp, Seq(idCol), "left_outer")
    // split BEFORE the window: only genuinely clustered docs pay the sort
    val clustered = withComp.filter(col("component").isNotNull)
    val singleton = withComp.filter(col("component").isNull)
      .select(col(idCol), col(idCol).as("component"),
        col(idCol).as("keep_id"), lit(true).as("is_rep"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__q").desc_nulls_last, col(idCol).asc)
    val reps = clustered
      .withColumn("keep_id", first(col(idCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(idCol), col("component"), col("keep_id"),
        (col(idCol) === col("keep_id")).as("is_rep"))
    reps.unionByName(singleton)
  }

  /** Per-document SimHash signatures — the SimHash62 native expression
    * (graft.plans): tight JVM loop inside codegen, shuffle-free.
    * (Text.simhash64 is the HOF reference implementation; its hash family
    * differs, but both satisfy the SimHash locality property.) */
  /** Cross-document duplicate-passage statistics — the substring-level
    * member of the dedup family (exact doc / MinHash / SimHash /
    * embedding work at DOCUMENT granularity; repeated PASSAGES inside
    * otherwise-distinct documents are what substring dedup à la "
    * Deduplicating Training Data Makes Language Models Better" targets).
    *
    * A passage is a window of `k` consecutive words; a window is
    * duplicated when its text occurs in ≥ 2 distinct documents. Output
    * per document: `n_grams` (windows), `n_dup` (windows whose text is
    * shared with another document), `dup_ratio` = n_dup/n_grams (raw
    * double, 0.0 for docs shorter than k words — callers round).
    *
    * Scale posture: one explode to (doc, window) rows, one gram-keyed
    * aggregation to find shared windows (map-side partial combine takes
    * the per-partition duplicate mass out first), one join back and a
    * doc-keyed count. Never all-pairs. The default shuffle key is the
    * gram STRING (k·word bytes) because the oracle compares against
    * DuckDB grouping the same strings; `hashGrams = true` keys on
    * xxhash64(gram) instead — 8-byte shuffle keys, same plan shape,
    * collision odds ~2⁻⁶⁴ per pair — the 100 TB variant (the spec
    * asserts both paths produce identical stats on real text). */
  def duplicatePassageStats(docs: DataFrame, k: Int,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            hashGrams: Boolean = false): DataFrame = {
    require(k >= 2, "window size k must be ≥ 2")
    val base = spread(docs).select(col(idCol).as("doc_id"),
      graft.functions.Text.words(col(textCol)).as("__w"))
    val grams = base.select(col("doc_id"), explode(expr(
      s"CASE WHEN size(__w) >= $k THEN transform(sequence(0, size(__w) - $k), " +
        s"i -> concat_ws(' ', slice(__w, i + 1, $k))) " +
        "ELSE array() END")).as("__gram"))
    val occ =
      if (hashGrams) grams.select(col("doc_id"), xxhash64(col("__gram")).as("__gram"))
      else grams
    val shared = occ.groupBy(col("__gram"))
      .agg(count_distinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__gram"), lit(1).as("__dup"))
    val perDoc = occ.join(shared, Seq("__gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__dup").cast("long")), lit(0L)).as("n_dup"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_grams")))
  }

  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    spread(docs).select(col(idCol),
      HashExprs.simhash62(docs.sparkSession, col(textCol)).as("simhash"))

  /** SimHash near-dup pairs: bucket by the top `prefixBits` bits (cheap
    * blocking), then keep pairs with Hamming distance ≤ maxHamming. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 8, prefixBits: Int = 12,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = simhash(docs, idCol, textCol)
      .withColumn("bucket", shiftright(col("simhash"), 62 - prefixBits))
    val a = sh.select(col("bucket"), col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("bucket"), col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.join(b, "bucket")
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Cross-source duplication matrix: for every source pair, how much
    * of each side's DISTINCT content also appears in the other — the
    * "is source B just a re-crawl of source A" curation readout that
    * decides which feeds are worth ingesting at all. Presence is by
    * exact content digest (compose with [[canonicalText]] upstream for
    * normalization-robust overlap).
    *
    * Scale posture: (source, md5) presence distinct first (16-byte
    * digests shuffle, never documents), then a digest-keyed self-join
    * whose fan-out is Σ (#sources sharing a digest)² — bounded by the
    * source count per digest, never corpus²; marginals broadcast onto
    * the sources²-bounded pair aggregate.
    *
    * Output: `source_a` < `source_b`, `n_a`/`n_b` LONG (distinct docs
    * per source), `n_common` LONG, `cont_a_ppm` (share of a's content
    * inside b, truncating) and `cont_b_ppm`; total order
    * (source_a, source_b). Pairs with no overlap are omitted.
    */
  def sourceOverlap(docs: DataFrame, sourceCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    // 8-byte xxhash64 content keys: the digest never surfaces in the
    // output (only pair COUNTS do), so any collision-free-in-practice
    // hash gives identical results, and a long shuffles 4× fewer key
    // bytes than the 32-char md5 hex this used to ship. Honest local
    // measurement: wall time unchanged at sf0.1 (10.1 → 10.6 s warm —
    // the cost there is the upstream shingle explode, not the key);
    // the win is shuffle volume at the scale where exchanges dominate.
    val present = docs
      .select(col(sourceCol).cast("string").as("__s"),
        xxhash64(col(textCol)).as("__h"))
      .filter(col("__s").isNotNull && col("__h").isNotNull)
      .distinct()
    val marginals = present.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val x = present.select(col("__h"), col("__s").as("source_a"))
    val y = present.select(col("__h"), col("__s").as("source_b"))
    x.join(y, "__h")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(marginals.select(col("__s").as("source_a"),
        col("__n").as("n_a"))), "source_a")
      .join(broadcast(marginals.select(col("__s").as("source_b"),
        col("__n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        expr("(1000000L * n_common) DIV n_a").as("cont_a_ppm"),
        expr("(1000000L * n_common) DIV n_b").as("cont_b_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** Span-level dedup with document REASSEMBLY (the CCNet/RefinedWeb
    * move): where [[duplicatePassageStats]] only MEASURES repeated
    * passages, this one REMOVES them — every document is cut into
    * consecutive spans of `spanTokens` whitespace tokens, each span
    * survives only at its globally FIRST occurrence (smallest
    * (doc_id, span_idx) over the whole corpus), and each document is
    * rebuilt from its surviving spans in order. Boilerplate shared by
    * thousands of pages disappears from all but one of them while the
    * unique prose stays — the corpus-side sibling of
    * [[graft.operators.CorpusStats.stripBoilerplate]] (which needs a
    * domain key and line granularity; this needs neither).
    *
    * Determinism: the winner per span is the MINIMUM (doc_id, idx)
    * pair — a total order, so membership never depends on layout; a
    * duplicated span inside ONE document keeps only its first position
    * (idx breaks the tie). Reassembly is the in-row array_sort
    * collect pattern (layout-proof).
    *
    * Scale posture: spans shuffle as md5 DIGESTS (16 bytes) for the
    * winner aggregate, never span text; the winner frame is
    * |distinct spans|-sized with map-side combine; the keep decision
    * is one digest equi-join back. Reassembly is one doc-keyed
    * aggregate over kept spans. No windows over row-scaled frames, no
    * driver state. Output: `doc_id`, `n_spans`, `n_kept` LONG,
    * `text_kept` STRING ('' when every span was seen earlier); total
    * order by doc_id. */
  def dropDuplicateSpans(docs: DataFrame, spanTokens: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val k = spanTokens
    val toks = spread(docs)
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        expr(s"filter(split($textCol, '\\\\s+'), x -> length(x) > 0)")
          .as("__toks"))
    val spans = toks
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, CAST(greatest(0,
             |    (size(__toks) + ${k - 1}) DIV $k - 1) AS INT)),
             |  i -> array_join(slice(__toks, i * $k + 1, $k), ' '))"""
            .stripMargin)))
      .toDF("doc_id", "idx", "span")
      .filter(length(col("span")) > 0) // empty docs produce no spans
      .withColumn("__h", md5(col("span")))
    val winners = spans.groupBy(col("__h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("__w"))
    val kept = spans.join(winners, "__h")
      .filter(struct(col("doc_id"), col("idx")) === col("__w"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(array_sort(" +
          "collect_list(struct(idx, span))), s -> s.span)"), " ")
          .as("text_kept"))
    val counts = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"))
    toks.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left_outer")
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
      .orderBy("doc_id")
  }

  /** Dedup-clustering evaluation — pairwise precision/recall/F1 of a
    * predicted clustering against labeled truth, plus the blocking
    * literature's reduction ratio: the metrics that tell you whether a
    * cheaper dedup tier (exact digest, LSH bands) can replace an
    * expensive one BEFORE you switch 100 TB over to it. Everything is
    * counted in unordered WITHIN-CLUSTER PAIRS, straight off three
    * counts frames (never materializing a pair):
    *
    *   P = Σ_pred c(c−1)/2,  T = Σ_true t(t−1)/2,
    *   B = Σ_(pred,true) s(s−1)/2    (pairs both agree on)
    *
    * precision = B/P, recall = B/T and — the identity that keeps F1
    * exact — F1 = 2B/(P+T), so `f1_ppm` is ONE truncating positive
    * quotient, not a float of floats. `rr_ppm` = 10⁶ − P·10⁶/(n(n−1)/2)
    * is the comparison-space reduction. A NULL cluster id on either
    * side means "this row is its own singleton" (keyed by the row id —
    * the [[graft.operators.Sampling.groupAwareSplit]] null policy;
    * gluing unknowns into one mega-cluster would fabricate pairs).
    *
    * Scale posture: three map-side-combined counts aggregates over one
    * projection — cluster-sized, (pred, true)-cell-sized frames; no
    * joins, no windows, no pairs.
    *
    * Output (one row): `n`, `n_pred_pairs`, `n_true_pairs`,
    * `n_both_pairs`, `precision_ppm`, `recall_ppm`, `f1_ppm`, `rr_ppm`
    * LONG (ppms NULL when their denominator is 0).
    */
  def dedupEval(df: DataFrame, id: Column, predCluster: Column,
                trueCluster: Column): DataFrame = {
    val base = df.select(id.cast("string").as("__id"),
        predCluster.cast("string").as("__p"),
        trueCluster.cast("string").as("__t"))
      .filter(col("__id").isNotNull)
      .withColumn("__p", coalesce(col("__p"),
        concat(lit("\u0000s:"), col("__id"))))
      .withColumn("__t", coalesce(col("__t"),
        concat(lit("\u0000s:"), col("__id"))))
    def pairSum(d: DataFrame, keys: Seq[String], out: String): DataFrame =
      d.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
        .agg(coalesce(sum(expr(
          "CAST(__c AS DECIMAL(38,0)) * (__c - 1) DIV 2")),
          lit(0).cast("decimal(38,0)")).cast("long").as(out))
    val n = base.agg(count(lit(1)).as("n"))
    val p = pairSum(base, Seq("__p"), "n_pred_pairs")
    val t = pairSum(base, Seq("__t"), "n_true_pairs")
    val b = pairSum(base, Seq("__p", "__t"), "n_both_pairs")
    n.crossJoin(p).crossJoin(t).crossJoin(b)
      .withColumn("precision_ppm",
        when(col("n_pred_pairs") > 0L, expr(
          "CAST((CAST(n_both_pairs AS DECIMAL(38,0)) * 1000000)" +
            " DIV n_pred_pairs AS BIGINT)")))
      .withColumn("recall_ppm",
        when(col("n_true_pairs") > 0L, expr(
          "CAST((CAST(n_both_pairs AS DECIMAL(38,0)) * 1000000)" +
            " DIV n_true_pairs AS BIGINT)")))
      .withColumn("f1_ppm",
        when(col("n_pred_pairs") + col("n_true_pairs") > 0L, expr(
          "CAST((CAST(n_both_pairs AS DECIMAL(38,0)) * 2000000)" +
            " DIV (n_pred_pairs + n_true_pairs) AS BIGINT)")))
      .withColumn("rr_ppm",
        when(col("n") >= 2L, lit(1000000L) - expr(
          """CAST((CAST(n_pred_pairs AS DECIMAL(38,0)) * 1000000)
            | DIV (CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2)
            | AS BIGINT)""".stripMargin)))
      .select(col("n"), col("n_pred_pairs"), col("n_true_pairs"),
        col("n_both_pairs"), col("precision_ppm"), col("recall_ppm"),
        col("f1_ppm"), col("rr_ppm"))
  }
}
