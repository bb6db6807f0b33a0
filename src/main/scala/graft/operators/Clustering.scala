package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means over embedding vectors with EXACT integer
  * arithmetic — the clustering tier of an embedding corpus (SemDeDup
  * groups, IVF coarse quantizers, mixture-by-topic all start from "run
  * k-means over the vectors").
  *
  * Float k-means is nondeterministic across engines AND layouts (every
  * centroid mean is an order-dependent float sum), so this
  * implementation works in integer micro-units end-to-end, the
  * `pagerankMicro` discipline applied to geometry:
  *
  *   x_micro      = ⌊x·10⁶ + 0.5⌋                 (one rounding, at ingest)
  *   dist²(x, c)  = Σ_d (x_d − c_d)²               (exact integer sum)
  *   centroid'_d  = (Σ_assigned x_d) DIV n          (truncating integer mean)
  *
  * Assignment argmin breaks ties toward the LOWEST cluster id; seeds are
  * the k vectors with the lowest (md5(id), id) — deterministic on any
  * layout, the engine's standard digest-order trick (`bottomKPerStratum`,
  * `shuffleShard`). Every step is replayable by any engine with 64-bit
  * integers + 128-bit sums (the oracle unrolls the iterations as CTE
  * chains, like q78's PageRank).
  *
  * Scale posture (100 TB of vectors): per iteration, ONE broadcast of
  * the k×dims centroid table into a narrow distance projection (the k
  * candidate distances fold inside the row — no k-fanout join rows
  * materialize), one (cluster, dim)-keyed partial→final aggregate for
  * the update (shuffle = k·dims rows, not vectors), and an O(k·dims)
  * driver-side centroid table — the same bounded-driver-state contract
  * as IVF's sampled training. The micro-unit vector frame is held
  * across iterations (released at the query boundary); assignment output is
  * one (id, cluster, dist) row per vector.
  *
  * i64 headroom: |x| ≤ ~9·10³ keeps Σ_d (Δ_micro)² under 2⁶³ at 4096
  * dims; unit-norm-ish embeddings are orders of magnitude below that.
  */
object Clustering {

  /** The k-candidate distance array: struct(dist2, cluster) per
    * centroid, folded IN the row — array_min then picks
    * (min dist, lowest cluster) with no k-way row fanout. */
  private def candidateArray(cents: Seq[(Int, Seq[Long])]): Column =
    array(cents.map { case (cid, c) =>
      struct(
        aggregate(
          zip_with(col("vm"), typedLit(c), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, d) => acc + d).as("dist2"),
        lit(cid).as("cluster"))
    }: _*)

  private def assignFrom(micro: DataFrame, cents: Seq[(Int, Seq[Long])],
                         idCol: String): DataFrame =
    micro.select(col(idCol), col("vm"),
        array_min(candidateArray(cents)).as("__best"))
      .select(col(idCol), col("vm"),
        col("__best.cluster").as("cluster"),
        col("__best.dist2").as("dist2"))

  /** Shared Lloyd preamble + loop: micro-quantize (held for the query,
    * [[Lifecycle.hold]]), deterministic digest-order seeds, `iters` update
    * rounds. Returns (micro, final centroids); centroids empty iff the
    * corpus is. */
  private def lloydFit(embs: DataFrame, k: Int, iters: Int, idCol: String,
                       vecCol: String): (DataFrame, Seq[(Int, Seq[Long])]) = {
    require(k >= 1, "k >= 1")
    require(iters >= 1, "iters >= 1")
    val micro = Lifecycle.hold(embs.select(
      col(idCol),
      transform(col(vecCol), x =>
        floor(x.cast("double") * lit(1000000.0d) + lit(0.5d)).cast("long"))
        .as("vm")))

    // deterministic seeds: k lowest (digest, id) — layout-independent
    val seeds = micro
      .withColumn("__dig", md5(col(idCol).cast("string")))
      .orderBy(col("__dig"), col(idCol))
      .limit(k)
      .select(col("vm"))
    var centroids = seeds.collect().zipWithIndex.map { case (r, i) =>
      (i, r.getSeq[Long](0))
    }.toSeq
    if (centroids.isEmpty) return (micro, Nil)

    var i = 0
    while (i < iters) {
      val assigned = assignFrom(micro, centroids, idCol)
      val updated = assigned
        .select(col("cluster"), posexplode(col("vm")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(sum(col("x").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          expr("CAST(s DIV n AS BIGINT)").as("c"))
        .collect()
        .groupBy(_.getInt(0))
      centroids = centroids.map { case (cid, old) =>
        updated.get(cid) match {
          case Some(rows) =>
            val byDim = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
            (cid, old.indices.map(d => byDim(d)))
          case None => (cid, old) // empty cluster keeps its centroid
        }
      }
      i += 1
    }
    (micro, centroids)
  }

  /** Run `iters` Lloyd iterations; returns assignments
    * (`id`, `cluster` 0-based, `dist2` — exact Σ(Δ_micro)²) under the
    * FINAL centroids. Empty clusters keep their previous centroid. */
  def kmeansMicro(embs: DataFrame, k: Int, iters: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val (micro, centroids) = lloydFit(embs, k, iters, idCol, vecCol)
    // empty corpus → no seeds → the candidate array would be a
    // zero-length VOID array and the struct extraction fails analysis;
    // return the (id, cluster, dist2) schema with zero rows instead
    if (centroids.isEmpty)
      micro.select(col(idCol), lit(0).as("cluster"), lit(0L).as("dist2"))
        .where(lit(false))
    else assignFrom(micro, centroids, idCol).drop("vm")
  }

  /** Simplified (centroid-based) silhouette per cluster — the cluster-
    * quality readout that says whether k was sane without the O(n²)
    * full silhouette: per vector, a² = dist2 to the OWN (nearest)
    * centroid, b² = dist2 to the nearest OTHER centroid, and
    *
    *   s_ppm = 10⁶ · (b² − a²) DIV max(a², b²)   ∈ [0, 10⁶]
    *
    * (squared-distance variant — monotone in the textbook simplified
    * silhouette and integer-exact; b² ≥ a² by construction of the
    * assignment, so the score is never negative). High mean → tight,
    * well-separated cluster; near 0 → the cluster boundary runs through
    * the data and k is wrong. Degenerate a² = b² = 0 scores 0.
    *
    * One extra narrow pass over the held micro frame with the same
    * in-row k-candidate fold (no row fanout), then a k-sized aggregate.
    * Requires k ≥ 2 (no "other" centroid otherwise). Output: `cluster`
    * LONG, `n_vecs`, `mean_s_ppm`, `min_s_ppm`, `max_s_ppm` LONG;
    * total order by cluster. */
  def silhouetteSimplified(embs: DataFrame, k: Int, iters: Int,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(k >= 2, "silhouette needs k >= 2")
    val (micro, centroids) = lloydFit(embs, k, iters, idCol, vecCol)
    if (centroids.isEmpty)
      return micro.select(lit(0L).as("cluster"), lit(0L).as("n_vecs"),
          lit(0L).as("mean_s_ppm"), lit(0L).as("min_s_ppm"),
          lit(0L).as("max_s_ppm"))
        .where(lit(false))
    val scored = micro
      .select(col(idCol), candidateArray(centroids).as("__all"))
      .select(col(idCol), array_min(col("__all")).as("__best"),
        col("__all"))
      .select(
        col("__best.cluster").cast("long").as("cluster"),
        col("__best.dist2").as("__a2"),
        array_min(filter(col("__all"),
          s => s.getField("cluster") =!= col("__best.cluster")))
          .getField("dist2").as("__b2"))
      .withColumn("__s",
        when(greatest(col("__a2"), col("__b2")) > 0,
          expr("""CAST((CAST(__b2 AS DECIMAL(38,0)) - __a2) * 1000000
                 |  div greatest(__a2, __b2) AS BIGINT)""".stripMargin))
          .otherwise(lit(0L)))
    scored.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("CAST(sum(CAST(__s AS DECIMAL(38,0))) DIV count(1) AS BIGINT)")
          .as("mean_s_ppm"),
        min(col("__s")).as("min_s_ppm"),
        max(col("__s")).as("max_s_ppm"))
      .orderBy("cluster")
  }

  /** Top terms per cluster — c-TF-IDF topic labeling (the BERTopic
    * readout): after [[kmeansMicro]] (or any clustering) assigns docs
    * to clusters, rank each cluster's terms by occurrence mass ×
    * linear inverse CLUSTER frequency, all integer:
    *
    *   w_ppm(c, t) = tf(c, t) · ((1e6 · nClusters) DIV cdf(t))
    *
    * (cdf = #clusters containing t — terms shared by every cluster get
    * the floor weight, cluster-distinctive terms the ceiling; linear
    * idf keeps it log-free, the [[graft.operators.Bm25]] PRF
    * discipline). Ties break (w DESC, term) — total order.
    *
    * Scale posture: one token-stream aggregate to (cluster, term) tf
    * (map-side combined), a vocabulary-sized cdf aggregate joined back,
    * and a per-cluster rank window that plans to WindowGroupLimit under
    * the rank ≤ m filter. The doc corpus is scanned once.
    *
    * Output: `cluster`, `term`, `tf` LONG, `cdf` LONG, `w_ppm` LONG,
    * `rank` LONG, total order (cluster, rank).
    */
  def clusterTerms(docs: DataFrame, clusterCol: Column, textCol: Column,
                   topM: Int): DataFrame = {
    require(topM >= 1, "topM >= 1")
    import graft.functions.Text
    val tf = docs
      .select(clusterCol.cast("string").as("cluster"),
        explode(Text.words(textCol)).as("term"))
      .groupBy(col("cluster"), col("term")).agg(count(lit(1)).as("tf"))
    val nClusters = tf.select(col("cluster")).distinct()
      .agg(count(lit(1)).as("__nc"))
    val cdf = tf.groupBy(col("term")).agg(count(lit(1)).as("cdf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("w_ppm").desc, col("term"))
    tf.join(cdf, "term")
      .crossJoin(broadcast(nClusters))
      .withColumn("w_ppm", expr("tf * ((1000000L * __nc) DIV cdf)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topM)
      .select(col("cluster"), col("term"), col("tf"), col("cdf"),
        col("w_ppm"), col("rank"))
      .orderBy("cluster", "rank")
  }

  /** The final centroid table of [[kmeansMicro]] reconstructed from an
    * assignment frame + the micro vectors — (`cluster`, `dim`,
    * `c_micro`, `n`): the audit view an oracle recomputes. */
  def centroidTable(embs: DataFrame, assignments: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val micro = embs.select(
      col(idCol),
      transform(col(vecCol), x =>
        floor(x.cast("double") * lit(1000000.0d) + lit(0.5d)).cast("long"))
        .as("vm"))
    micro.join(assignments.select(col(idCol), col("cluster")), idCol)
      .select(col("cluster"), posexplode(col("vm")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast("decimal(38,0)")).as("s"))
      .select(col("cluster"), col("dim"), expr("CAST(s DIV n AS BIGINT)").as("c_micro"),
        col("n"))
  }
}
