package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Bm25, Bpe, CorpusStats, Decontaminate, Domains, Fuzzy, Graph, IncrementalDedup, Packing, Profile, Relational, Sampling, Similarity, TextDedup}
import graft.plans.TextExprs
import graft.sources.Tables

/** Dev tool: operator-family scaling sweep. Replicates the sf0.1 corpus
  * 1x/4x/16x (ids offset per replica; document text salted per replica so
  * near-dup cluster sizes stay constant instead of multiplying) and times
  * one representative query per operator family at each level.
  *
  * The point is the CURVE, not the absolute numbers: an operator whose
  * plan is linear shows ~4x time per 4x data (minus fixed job overhead);
  * anything super-linear is a scale bug. Results feed SCALING.md.
  *
  * Usage: runMain graft.tools.ScaleSweep [baseSfDir] [workDir] [opSubstr...]
  * (trailing args filter ops by substring — re-measure a family without
  * paying for the whole sweep)
  */
object ScaleSweep {
  def main(args: Array[String]): Unit = {
    val baseSf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val opFilter = args.drop(2).toSeq
    val reps = Seq(1, 4, 16)
    val spark = graft.GraftSession.getOrCreate("graft-scale-sweep")
    spark.sparkContext.setLogLevel("WARN")

    val KEY_OFF = 100000000L // beyond any base key

    def prep(rep: Int): String = {
      val dir = s"$workDir/x$rep"
      val done = new java.io.File(s"$dir/_DONE")
      def rpl(name: String, shift: (DataFrame, Int) => DataFrame): Unit = {
        val base =
          if (name == "events") Tables.events(spark, baseSf) // nanos-safe read
          else spark.read.parquet(s"$baseSf/$name.parquet")
        (0 until rep).map(i => shift(base, i)).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      val eventsShift: (DataFrame, Int) => DataFrame = (df, i) => df
        .withColumn("event_id", col("event_id") + lit(i * KEY_OFF))
        .withColumn("user_id", col("user_id") + lit(i * KEY_OFF))
      // events joined the sweep after the first _DONE dirs were built —
      // backfill it into already-prepared dirs
      if (done.exists() && !new java.io.File(s"$dir/events.parquet").exists())
        rpl("events", eventsShift)
      if (!done.exists()) {
        rpl("events", eventsShift)
        rpl("lineitem", (df, i) => df
          .withColumn("l_orderkey", col("l_orderkey") + lit(i * KEY_OFF)))
        rpl("orders", (df, i) => df
          .withColumn("o_orderkey", col("o_orderkey") + lit(i * KEY_OFF))
          .withColumn("o_custkey", col("o_custkey") + lit(i * KEY_OFF)))
        rpl("documents", (df, i) => {
          val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * KEY_OFF))
          // salt EVERY word with the replica id: cross-replica Jaccard
          // drops to 0 so near-dup structure repeats per replica instead
          // of every replica near-duplicating every other (a tail-only
          // salt leaves long docs ~95% similar across replicas — the
          // true pair set, and therefore the measured work, would grow
          // quadratically in rep: a workload change, not a scale-up)
          if (i == 0) shifted
          else shifted.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", "$1" + s"r$i"))
        })
        rpl("embeddings", (df, i) => df
          .withColumn("vec_id", col("vec_id") + lit(i * KEY_OFF)))
        done.createNewFile()
      }
      dir
    }

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def timeMed(body: => Unit, iters: Int = 3): Double = {
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(iters / 2)
    }

    for (rep <- reps) {
      val d = prep(rep)
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      val o = spark.read.parquet(s"$d/orders.parquet")
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val emb = spark.read.parquet(s"$d/embeddings.parquet")
      val ev = spark.read.parquet(s"$d/events.parquet") // µs ts (rewritten)
      val nLi = li.count(); val nDocs = docs.count(); val nEmb = emb.count()

      val ops: Seq[(String, () => Unit)] = Seq(
        "agg_groupby" -> (() => noop(
          li.groupBy("l_returnflag", "l_linestatus")
            .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"),
              avg("l_extendedprice").as("p"), count(lit(1)).as("n")))),
        "join_shuffle" -> (() => noop(
          o.join(li, col("o_orderkey") === col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("s")))),
        "window_latest" -> (() => noop(
          o.withColumn("rn", row_number().over(
              Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc,
                col("o_orderkey").desc)))
            .filter(col("rn") === 1))),
        "dedup_exact" -> (() => noop(TextDedup.exact(docs))),
        "dedup_minhash" -> (() => noop(
          TextDedup.minhashNearDups(docs, threshold = 0.5, bands = 12, rows = 4))),
        "ann_lsh_300q" -> (() => noop(
          Similarity.lshTopK(emb,
            emb.filter(col("vec_id") < 300)
              .select(col("vec_id").as("query_id"), col("embedding")),
            k = 1, bits = 6, dim = 64))),
        "tfidf_topterms" -> (() => noop(CorpusStats.tfidfTopTerms(docs, k = 3))),
        "decontaminate" -> (() => noop(
          Decontaminate.flag(docs, col("doc_id"), col("text"),
            docs.filter(col("doc_id") % 50 === 0).select(col("text").as("btext")),
            col("btext"), n = 8))),
        // the incremental-dedup headline: a FIXED 15-doc batch admitted
        // against the (1x/4x/16x) indexed corpus — the curve should be
        // FLAT because only band collisions touch the corpus
        "incr_dedup_batch" -> { () =>
          val idxDir = s"$d/minhash_index"
          if (!new java.io.File(idxDir).exists())
            IncrementalDedup.writeIndex(docs, idxDir)
          val batch = docs.filter(col("doc_id") % 20 === 0 && col("doc_id") < 300)
            .select((col("doc_id") + 900000000L).as("doc_id"),
              concat(col("text"), lit(" sweep batch suffix")).as("text"))
          noop(IncrementalDedup.dedupeBatch(batch, docs, idxDir, threshold = 0.5))
        },
        "seq_packing" -> (() => noop(
          Packing.packGreedy(docs, col("lang"), col("doc_id"),
            col("n_chars"), budget = 2000L))),
        "stratified_sample" -> (() => noop(
          Sampling.stratifiedExact(docs, Seq("lang", "source"),
            col("doc_id"), fraction = 0.2))),
        "retention" -> (() => noop(
          Analytics.retention(ev, col("user_id"), col("ts")))),
        "funnel" -> (() => noop(
          Analytics.funnel(ev, col("user_id"), col("ts"), col("event_type"),
            Seq("view", "click", "purchase")))),
        // term set matches replica 0 only (word salting) — the curve
        // measures the scan+explode+filter path, which is the claim:
        // cost tracks corpus size, not an inverted index build
        "bm25" -> (() => noop(
          Bm25.score(docs, col("doc_id"), col("text"),
            Seq("spark", "join", "stream")))),
        "dup_passages" -> (() => noop(
          TextDedup.duplicatePassageStats(docs, k = 8))),
        // distinct (cust,part) edges grow ~linearly in rep (customers
        // replicate, parts are shared, so the graph densifies — the
        // realistic direction); 5 integer iterations
        "pagerank_5it" -> { () =>
          val cp = li.join(o, col("l_orderkey") === col("o_orderkey"))
            .select((col("o_custkey") * 2).as("src"),
              (col("l_partkey") * 2 + 1).as("dst")).distinct()
          val edges = cp.unionByName(
            cp.select(col("dst").as("src"), col("src").as("dst")))
          noop(Graph.pagerankMicro(edges, iters = 5))
        },
        // the SAME pagerank with broadcasts DISABLED: the recurring
        // measurement behind the 1000-executor claim (PLANS.md round-4
        // task-8 experiment) that the per-round rank⋈edges join rides
        // the persisted repartition(src) layout with no edge-side
        // exchange — locally the rank frame broadcasts, which would
        // hide a broken layout from the default row above.
        "pagerank_nobc_5it" -> { () =>
          val s = graft.GraftSession.getOrCreate("graft-scale-sweep")
          val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
          val prevA =
            s.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
          try {
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            val cp = li.join(o, col("l_orderkey") === col("o_orderkey"))
              .select((col("o_custkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst")).distinct()
            val edges = cp.unionByName(
              cp.select(col("dst").as("src"), col("src").as("dst")))
            noop(Graph.pagerankMicro(edges, iters = 5))
          } finally {
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
            prevA match {
              case Some(v) => s.conf
                .set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
              case None => s.conf
                .unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
            }
          }
        },
        // train is bounded-sample (flat); encode is the linear term
        "bpe_count" -> { () =>
          val merges = Bpe.train(docs, col("text"), col("doc_id"),
            nMerges = 200, maxSample = 512)
          noop(docs.select(col("doc_id"),
            TextExprs.bpeCount(spark, col("text"), merges).as("n")))
        },
        // k scales with the corpus (the documented k ~ n/const usage) so
        // cluster sizes — and per-cluster pair work — stay constant;
        // the curve should be ~linear, not quadratic
        "semdedup" -> (() => noop(
          graft.operators.SemDedup.semDedup(emb, col("embedding"), col("vec_id"),
            k = 8 * rep, iters = 2, thr = 0.35))),
        // replica-salted words multiply the vocabulary linearly — the
        // model (observed bigrams) and the pair stream both scale
        // linearly; the model join flips broadcast→shuffle on its own
        "lm_fluency" -> (() => noop(
          graft.operators.LangModel.fluency(docs, col("text"), col("doc_id")))),
        // per-user sweep: group COUNT grows with rep (user ids are
        // replica-shifted), per-group size stays constant — the
        // parallelism-friendly shape; event_type grouping at 16x would
        // serialize 5 giant sorts (the documented segmented-sweep case)
        "peak_concurrency" -> (() => noop(
          Analytics.peakConcurrency(ev, col("user_id"), col("ts"),
            col("ts") + expr("INTERVAL 30 MINUTES")))),
        "hampel" -> (() => noop(
          graft.operators.TimeSeries.hampel(
            ev.withColumn("v", floor(col("value") * 1000000 + 0.5).cast("long")),
            col("user_id"), Seq(col("ts"), col("event_id")), col("v")))),
        "label_prop_3it" -> { () =>
          val cp = li.join(o, col("l_orderkey") === col("o_orderkey"))
            .select((col("o_custkey") * 2).as("src"),
              (col("l_partkey") * 2 + 1).as("dst")).distinct()
          val edges = cp.unionByName(
            cp.select(col("dst").as("src"), col("src").as("dst")))
          noop(Graph.labelPropagation(edges, iters = 3))
        },
        // round-4 third wave — the new operator families
        "prefix_filter_join" -> (() => noop(
          TextDedup.prefixFilterJoin(docs, threshold = 0.3))),
        "url_dedup" -> (() => noop {
          val url = concat(lit("https://site"), col("doc_id") % 997,
            lit(".example/p/"), col("doc_id") - col("doc_id") % 2,
            lit("?utm_source=x"))
          Domains.dedupByUrl(docs.withColumn("url", url), col("url"), col("doc_id"))
        }),
        "domain_cap" -> (() => noop(
          Domains.capPerDomain(
            docs.withColumn("host", concat(lit("h"), col("doc_id") % 997)),
            col("host"), col("doc_id"), cap = 5))),
        "sorted_neighborhood" -> (() => noop(
          Fuzzy.sortedNeighborhood(docs, substring(col("text"), 1, 40),
            window = 8, maxEdits = 8))),
        "winsorize" -> (() => noop(
          Profile.winsorize(li, col("l_returnflag"), col("l_extendedprice"),
            0.05, 0.95))),
        "equidepth_globalrank" -> (() => noop(
          Profile.equiDepthBins(li,
            Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
            nb = 16))),
        "asof_fwd_tolerance" -> (() => noop {
          val clicks = ev.filter(col("event_type") === "click")
            .select("event_id", "user_id", "ts")
          val purchases = ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
          Relational.asOfJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts",
            direction = "forward", tolerance = Some(expr("INTERVAL 2 DAYS")))
        }),
        "negative_sample" -> { () =>
          val pos = li.join(o, col("l_orderkey") === col("o_orderkey"))
            .select(col("o_custkey"), col("l_partkey"))
          val nItems = 200000L // item space fixed across reps (parts not replicated)
          noop(Sampling.negativeSample(pos, col("o_custkey"), col("l_partkey"),
            nItems, k = 3, m = 12))
        },
        // round-4 fourth wave — graph/sketch/shuffle/chunking families
        // co-purchase projection DENSIFIES with rep (customers replicate,
        // parts shared): edges ~linear, wedge work bounded by the √m
        // oriented out-degree — the curve tests that bound, not linearity
        "triangles" -> { () =>
          val op2 = li.select(col("l_orderkey").as("oo"), col("l_partkey").as("p"))
            .distinct()
          val edges = op2.join(op2.withColumnRenamed("p", "p2"), "oo")
            .filter(col("p") < col("p2"))
            .select(col("p").as("src"), col("p2").as("dst"))
          noop(Graph.triangles(edges))
        },
        // users replicate → spine constant, (user, bucket) rows linear
        "sliding_distinct" -> (() => noop(
          graft.operators.TimeSeries.slidingDistinct(ev, col("user_id"),
            expr("unix_micros(ts) DIV 3600000000"), window = 24))),
        // sketch build linear in distinct elements; pairwise part is
        // sketch-sized (5×5 keys) — flat by construction
        "kmv_overlap" -> { () =>
          val elems = ev.select(col("event_type"),
            (col("user_id") * 100 + dayofmonth(col("ts"))).as("elem"))
          val sigs = graft.operators.Sketches.kmvSignatures(
            elems, col("event_type"), col("elem"), 512)
          noop(graft.operators.Sketches.kmvPairwise(sigs, 512))
        },
        // bigram stream linear; aggregates carry distinct n-grams (the
        // replica salt multiplies vocabulary — worst case for this op)
        "collocations" -> (() => noop(
          CorpusStats.collocations(docs, minCount = 5))),
        "shuffle_shard" -> (() => noop(
          Sampling.shuffleShard(docs, col("doc_id"), nShards = 64))),
        // ONE aggregate however many moment columns; curve = scan cost
        "corr_matrix" -> (() => noop(
          Profile.correlationMatrix(li,
            Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")))),
        // narrow codegen kernels — scan-linear by construction
        "cdc_entropy" -> (() => noop(
          docs.select(col("doc_id"),
            size(TextExprs.cdcChunks(spark, col("text"), 32, 64, 256)).as("nc"),
            TextExprs.charEntropy(spark, col("text")).as("ce")))),
        // shuffle bounded by depth×width cells per task, never the corpus
        "countmin" -> { () =>
          val words = docs.select(
            explode(graft.functions.Text.words(col("text"))).as("w"))
          noop(graft.operators.Sketches.countMin(words, col("w"), 4, 1024))
        },
        "content_checksum" -> (() => noop(
          CorpusStats.contentChecksum(docs, col("source"), col("text")))),
        // posting lists capped at 32 — replica-salted vocab grows terms
        // ×rep while each term's shipped postings stay O(cap)
        "inverted_index" -> (() => noop(
          CorpusStats.invertedIndex(docs, maxPostings = 32))),
        "skew_diagnose" -> (() => noop(
          graft.operators.Skew.diagnose(li, col("l_suppkey"), topK = 20))),
        // (margin_knn is NOT swept: its exact penalty pass is the
        // documented quadratic baseline — the scale path composes the
        // already-swept LSH/IVF searchers for penalties)
        // WFQ interleave: per-source rank window + globalRank
        "interleave" -> { () =>
          val weights = (0 until 20).map(i => s"src$i" -> (i % 4 + 1)).toMap
          noop(graft.operators.Mixture.interleave(docs, col("source"),
            col("doc_id"), weights))
        },
        "mad_zscore" -> (() => noop(
          Profile.madZscore(ev, col("event_type"),
            col("value").cast("decimal(18,2)")))),
        "rrf_fusion" -> (() => {
          val byLen = docs.select(col("source"), col("doc_id"),
            col("n_chars").as("score"))
          val byDig = docs.select(col("source"), col("doc_id"),
            md5(concat(lit("7|"), col("doc_id").cast("string"))).as("score"))
          noop(graft.operators.Fusion.rrf(Seq(byLen, byDig), Seq("source"),
            "doc_id", "score", topK = 10))
        }),
        "budget_cap" -> (() => noop(
          Sampling.budgetCap(docs, Seq("source"), col("doc_id"),
            col("n_chars"), budget = 100000L))),
        "uniqueness_audit" -> (() => noop(
          Profile.uniqueness(li, Seq(Seq("l_orderkey", "l_linenumber"),
            Seq("l_partkey"), Seq("l_suppkey", "l_partkey"))))),
        "nfc_fold" -> (() => noop(
          docs.select(col("doc_id"), length(TextExprs.stripAccents(spark,
            TextExprs.nfc(spark, col("text")))).as("n")))),
        "dedup_representatives" -> (() => {
          // candidate pairs from the cheap exact path (digest equality)
          // so the sweep times components+argmax, not pair generation
          val pairs = docs.alias("a").join(docs.alias("b"),
              md5(col("a.text")) === md5(col("b.text")) &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          noop(TextDedup.dedupRepresentatives(docs, pairs, col("n_chars")))
        }),
        // round-5 wave — APSS with the documented df cut: replica
        // salting multiplies vocabulary, so candidate fanout Σ df²
        // tracks docs, not docs² (maxDf caps the stopword tail exactly
        // as it would at 100 TB)
        "sparse_cosine_join" -> (() => noop(
          CorpusStats.sparseCosineJoin(docs, threshold = 0.4, maxDf = 200))),
        // star-contraction CC over digest-equality pairs: rounds are
        // O(log n), each a pair of node-keyed min-aggregates
        "cc_star" -> { () =>
          val pairs = docs.alias("a").join(docs.alias("b"),
              md5(col("a.text")) === md5(col("b.text")) &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          noop(Graph.connectedComponentsStar(pairs))
        },
        "normalized_dedup" -> (() => noop(TextDedup.normalizedExact(docs))),
        // planted 3-line docs: (domain, line) presence agg + strip join
        "boilerplate_strip" -> { () =>
          val planted = docs.select(col("doc_id"), col("source"),
            concat(lit("NAV "), col("source"), lit("\n"), col("text"),
              lit("\n(c) "), col("source")).as("text"))
          noop(CorpusStats.stripBoilerplate(planted, "source"))
        },
        // train on even ids, score odd — two token aggs + vocab join
        "ratio_classifier" -> { () =>
          val model = graft.operators.Classify.ratioModel(
            docs.filter(col("doc_id") % 2 === 0),
            col("lang") === "en", col("text"))
          noop(graft.operators.Classify.ratioScore(
            docs.filter(col("doc_id") % 2 === 1), model))
        },
        "int8_quantize" -> (() => noop(
          graft.operators.Quantize.int8Audit(emb))),
        "l_diversity" -> (() => noop(
          graft.operators.Quality.lDiversity(li,
            Seq("l_suppkey"), "l_partkey", l = 5))),
        // phrase postings filter to 2 terms BEFORE the (id, pos) join
        "phrase_search" -> (() => noop(
          CorpusStats.phraseSearch(docs, Seq("hash", "join")))),
        // 3 narrow gates + one-aggregate funnel
        "gate_funnel" -> { () =>
          val gates = Seq(
            "len_ok" -> col("n_chars").between(50L, 5000L),
            "lang_ok" -> col("lang").isin("en", "de", "fr"),
            "text_ok" -> (col("text").isNotNull && length(col("text")) > 0))
          noop(graft.operators.Quality.gateSummary(
            graft.operators.Quality.gateReport(docs, gates), gates))
        },
        // bounded prefixes per query (source) — corpus size only enters
        // through the rank windows
        "rbo" -> { () =>
          val byLen = docs.select(col("source"), col("doc_id"),
            col("n_chars").cast("double").as("score"))
          val byDig = docs.select(col("source"), col("doc_id"),
            conv(substring(md5(concat(lit("r|"),
              col("doc_id").cast("string"))), 1, 15), 16, 10)
              .cast("double").as("score"))
          noop(graft.operators.Fusion.rboNano(byLen, byDig, Seq("source"),
            "doc_id", "score", k = 10))
        },
        "sqrt_temperature" -> (() => noop(
          graft.operators.Mixture.sqrtTemperatureShares(docs, col("source"))),
        ),
        // per iteration: broadcast centroid fold (narrow) + (cluster,
        // dim)-keyed update agg — vectors replicate with rep, k fixed
        "kmeans_k8_2it" -> (() => noop(
          graft.operators.Clustering.kmeansMicro(emb, k = 8, iters = 2))),
        // (key, how) profile agg + join-back — events replicate with rep
        "seasonal_residuals" -> (() => noop(
          graft.operators.TimeSeries.seasonalResiduals(ev, col("event_type"),
            col("ts"), expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")))),
        // two stacked windows over one event_type exchange
        "cusum" -> (() => noop(
          graft.operators.TimeSeries.cusum(ev, col("event_type"),
            Seq(col("ts"), col("event_id")),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"), 500L, 50000L))),
        // postings-pruned feedback top-k + vocab-sized df attach
        "prf_expansion" -> (() => noop(
          Bm25.prfExpansion(docs, col("doc_id"), col("text"),
            Seq("hash", "join"), kDocs = 10, mTerms = 15))),
        // two regex counts + token count, narrow
        "readability" -> (() => noop(
          docs.select(col("doc_id"),
            graft.functions.Text.readabilityMicro(col("text")).as("fk")))),
        // one user-keyed exchange for the lag, states²-sized pair agg
        "transition_matrix" -> (() => noop(
          Analytics.transitionMatrix(ev, col("user_id"),
            Seq(col("ts"), col("event_id")), col("event_type")))),
        // all lags share one key exchange + sort; per-lag partial aggs
        "autocorr_l123" -> (() => noop(
          graft.operators.TimeSeries.autocorr(ev, col("event_type"),
            Seq(col("ts"), col("event_id")),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"), Seq(1, 2, 3)))),
        // presence distinct → basket-keyed self-join (fanout Σ b²)
        "assoc_lift" -> (() => noop(
          graft.operators.Assoc.pairCounts(ev, col("user_id"),
            col("event_type"), minPairCount = 2L))),
        // score-keyed agg + range-exchange cumulative (globalRank shape)
        "auc_exact" -> (() => noop(
          graft.operators.Classify.aucExact(docs, col("n_chars"),
            col("lang") === lit("en")))),
        // two stacked windows over one key exchange + island agg
        "interval_merge" -> (() => noop(
          graft.operators.TimeSeries.mergeIntervals(ev, col("user_id"),
            unix_micros(col("ts")), unix_micros(col("ts")) + 300000000L))),
        // x-keyed max agg + range-exchange running max + frontier join
        "pareto_frontier" -> (() => noop(
          graft.operators.Analytics.paretoFrontier2D(
            li.groupBy(col("l_suppkey"))
              .agg(sum(col("l_quantity").cast("long")).as("q"),
                count(lit(1)).as("n")),
            col("l_suppkey"), col("q"), col("n")))),
        // token-count agg → count-of-counts agg → sub-√-sized window
        "freq_of_freqs" -> (() => noop(
          graft.operators.CorpusStats.freqOfFreqs(docs))),
        // (key, category) agg with map-side combine, then key-sized agg
        "categorical_gini" -> (() => noop(
          Analytics.categoricalGini(ev, col("user_id"), col("event_type")))),
        // per round: node-keyed degree agg + two semi-joins
        "kcore_k3_r3" -> { () =>
          val op = li.select(col("l_orderkey").as("o"),
            col("l_partkey").as("p")).distinct()
          val o2 = op.select(col("o"), col("p").as("p2"))
          val edges = op.join(o2, "o").filter(col("p") < col("p2"))
            .groupBy(col("p").as("src"), col("p2").as("dst"))
            .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2L)
            .select(col("src"), col("dst"))
          noop(Graph.kCorePeel(edges, k = 3, rounds = 3))
        },
        // pair-keyed self-equi-join over the k·|queries| kNN frame
        "mutual_nn" -> { () =>
          val sub = emb.filter(col("vec_id") < 2000)
          val qs = sub.select(col("vec_id").as("query_id"), col("embedding"))
          noop(Similarity.mutualPairs(
            Similarity.bruteForceTopK(sub, qs, 3), kMutual = 3))
        },
        // narrow digit projection into a 9-row aggregate
        "benford" -> (() => noop(
          graft.operators.Quality.benford(li,
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")))),
        // entity-keyed window + path agg share one exchange; then a
        // path-keyed count and TakeOrdered
        "journey_paths" -> (() => noop(
          Analytics.journeyPaths(ev, col("user_id"),
            Seq(col("ts"), col("event_id")), col("event_type"), 3, 20))),
        // (lhs, rhs) agg → lhs-sized agg → one row
        "fd_audit" -> (() => noop(
          graft.operators.Quality.functionalDependency(li,
            Seq(col("l_orderkey")), col("l_shipdate")))),
        // two (group, dim)-keyed aggs + a groups·dims join
        "centroid_shift" -> (() => noop(
          Similarity.centroidShiftMicro(
            emb.filter(col("vec_id") % 2 === 0),
            emb.filter(col("vec_id") % 2 === 1), "label"))),
        // one (row, col) agg; marginals are windows over the cells frame
        "contingency" -> (() => noop(
          graft.operators.Profile.contingency(ev, col("event_type"),
            expr("(unix_micros(ts) DIV 3600000000) % 24")))),
        // classes²-sized confusion agg + marginal joins
        "multiclass_eval" -> (() => noop(
          graft.operators.Classify.evalMulticlass(docs,
            expr("CASE WHEN n_chars % 3 = 0 THEN 'en' WHEN n_chars % 3 = 1 THEN 'de' ELSE 'fr' END"),
            col("lang")))),
        // one arm-keyed agg → one row
        "ab_test" -> (() => noop(
          Analytics.abTest(ev,
            when(col("user_id") % 2 === 0, "A").otherwise("B"),
            col("value") >= 50.0, "A", "B"))),
        // token agg → vocab cdf join → WindowGroupLimit rank
        "cluster_terms" -> (() => noop(
          graft.operators.Clustering.clusterTerms(docs, col("source"),
            col("text"), topM = 10))),
        // key-mass agg → range-exchange rank+cumsum → 10-row join
        "concentration" -> (() => noop(
          graft.operators.Profile.concentrationCurve(docs, col("source"),
            col("n_chars")))),
        // one lag window + key agg over one exchange
        "inter_event_gaps" -> (() => noop(
          graft.operators.TimeSeries.interEventGaps(ev, col("user_id"),
            unix_micros(col("ts")), col("event_id")))),
        // both directions from two frames over ONE key exchange
        "asof_nearest" -> { () =>
          val l = ev.filter(col("event_id") % 2 === 0)
            .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
              col("event_id"))
          val r = ev.filter(col("event_id") % 2 === 1)
            .select(col("user_id"), unix_micros(col("ts")).as("rt_us"),
              col("event_id").as("r_event_id"), col("value").as("r_value"))
          noop(Relational.asOfNearest(l, r, Seq("user_id"), "t_us", "rt_us",
            lit(3600000000L)))
        },
        // one cluster-keyed agg with per-field struct maxes
        "golden_record" -> (() => noop(
          graft.operators.Golden.goldenRecords(ev, col("user_id"),
            col("event_id"), expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
            Seq("type" -> expr("CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_type END"),
              "props" -> expr("CASE WHEN event_id % 5 = 0 THEN NULL ELSE props END"))))),
        // vocabulary²-bounded symmetric expansion + WindowGroupLimit
        "top_partners" -> (() => noop(
          graft.operators.Assoc.topPartners(
            graft.operators.Assoc.pairCounts(ev, col("user_id"),
              col("event_type"), minPairCount = 1L), k = 2))),
        // two entity-keyed min-aggs + one equi-join; no event windows
        "conversion_lag" -> (() => noop(
          Analytics.conversionLag(ev, col("user_id"),
            unix_micros(col("ts")), col("event_type"), "signup",
            "purchase", bucketUs = 3600000000L))),
        // one lead window + state-keyed agg
        "time_in_state" -> (() => noop(
          graft.operators.TimeSeries.timeInState(ev, col("user_id"),
            unix_micros(col("ts")), col("event_id"), col("event_type")))),
        // category agg + join-back
        "target_encode" -> (() => noop(
          graft.operators.Classify.targetEncodeLoo(docs, col("doc_id"),
            col("lang"), col("n_chars")))),
        // rank-bounded list ⋈ truth pairs + query agg; exact-kNN stage
        // is the bounded baseline (ANN searchers swap in at scale)
        "rank_eval" -> { () =>
          val sub = emb.filter(col("vec_id") < 2000)
          val qs = sub.select(col("vec_id").as("query_id"), col("embedding"))
          val ranked = Similarity.bruteForceTopK(sub, qs, 10)
          val a = sub.select(col("vec_id").as("query_id"), col("label"))
          val b = sub.select(col("vec_id"), col("label"))
          val truth = a.join(b, "label")
            .filter(col("query_id") =!= col("vec_id"))
            .select(col("query_id"), col("vec_id"))
          noop(graft.operators.Fusion.rankEval(ranked, truth, k = 10))
        },
        // ANN-fed margin-kNN: the scale path for the quadratic exact
        // baseline. bits grows with the corpus (log2 rep) so bucket
        // SIZE stays constant — the LSH scaling discipline; with it the
        // self-kNN penalty pass is linear in the corpus, not quadratic.
        "margin_ann" -> { () =>
          val bits = 6 + (31 - Integer.numberOfLeadingZeros(rep))
          val qs = emb.filter(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col("embedding"))
          noop(Similarity.marginTopKAnn(emb, qs, k = 5, kAvg = 8,
            bits = bits, dim = 64, nProbe = 4, shortlist = 20))
        },
        // ANN-fed rank eval: ranked lists from multi-probe LSH over the
        // FULL replicated corpus (same constant-bucket bits schedule);
        // the truth side stays the bounded 2000-query universe.
        "rank_eval_ann" -> { () =>
          val bits = 6 + (31 - Integer.numberOfLeadingZeros(rep))
          val sub = emb.filter(col("vec_id") < 2000)
          val qs = sub.select(col("vec_id").as("query_id"), col("embedding"))
          val ranked = Similarity.lshTopKMultiProbe(emb, qs, k = 10,
            bits = bits, dim = 64, nProbe = 4)
          val a = sub.select(col("vec_id").as("query_id"), col("label"))
          val b = sub.select(col("vec_id"), col("label"))
          val truth = a.join(b, "label")
            .filter(col("query_id") =!= col("vec_id"))
            .select(col("query_id"), col("vec_id"))
          noop(graft.operators.Fusion.rankEval(ranked, truth, k = 10))
        },
        // ANN-fed MMR: shortlist from the same constant-bucket LSH
        // schedule; the greedy + pairwise stage is O(queries·S²), fixed
        // by the 20-query × 10-shortlist bound — flat by contract.
        "mmr_ann" -> { () =>
          val bits = 6 + (31 - Integer.numberOfLeadingZeros(rep))
          val qs = emb.filter(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col("embedding"))
          noop(Similarity.mmrRerankAnn(emb, qs, k = 4, bits = bits,
            dim = 64, nProbe = 4, shortlist = 10))
        },
        // persisted-LSH SEARCH against a pre-built bucket-partitioned
        // index (built once per rep dir, outside the timing — the
        // incremental-dedup convention): scan I/O is the probed-bucket
        // listing, so search should stay flat as the corpus grows
        "lsh_index_search" -> { () =>
          val bits = 6 + (31 - Integer.numberOfLeadingZeros(rep))
          val idxDir = s"$d/lsh_index_b$bits"
          if (!new java.io.File(idxDir).exists())
            Similarity.writeLshIndex(emb, idxDir, bits, dim = 64)
          val qs = emb.filter(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col("embedding"))
          noop(Similarity.searchLshIndex(spark, idxDir, qs, k = 5,
            bits = bits, dim = 64, nProbe = 4))
        },
        // subject agg + ONE range exchange carrying risk counts and
        // both cumulative sums (globalRank offsets discipline)
        "kaplan_meier" -> { () =>
          val evt = ev.select(col("user_id"),
            unix_micros(col("ts")).as("__t"), col("event_type"))
            .filter(col("user_id").isNotNull && col("__t").isNotNull)
          val firsts = evt.groupBy(col("user_id"))
            .agg(min(col("__t")).as("__f"))
          val firstErr = evt.filter(col("event_type") === "error")
            .groupBy(col("user_id")).agg(min(col("__t")).as("__te"))
          val subjects = firsts.join(firstErr, Seq("user_id"), "left_outer")
            .select(
              when(col("__te").isNotNull &&
                  expr("(__te - __f) DIV 3600000000") < 24L,
                expr("(__te - __f) DIV 3600000000")).otherwise(lit(24L))
                .as("dur_h"),
              (col("__te").isNotNull &&
                expr("(__te - __f) DIV 3600000000") < 24L).as("observed"))
          noop(graft.operators.Survival.kaplanMeier(subjects,
            col("dur_h"), col("observed")))
        },
        // duels collapse ONCE to pair space; per round one games⋈strength
        // join + map-side sums + a one-row max broadcast, per-round state
        // on disk scratch (the q253 shape — flap set, swept post-rework)
        "bradley_terry_3it" -> { () =>
          val duelLi = li.select(col("l_orderkey").as("ok"),
            col("l_linenumber").as("ln"), (col("l_suppkey") % 16).as("pl"),
            col("l_extendedprice").as("px"))
          val b = duelLi.select(col("ok").as("ok2"), col("ln").as("ln2"),
            col("pl").as("pl2"), col("px").as("px2"))
          val duels = duelLi.join(b,
              col("ok") === col("ok2") && col("ln2") === col("ln") + 1)
            .filter(col("pl") =!= col("pl2"))
            .select(
              when(col("px") < col("px2") ||
                (col("px") === col("px2") && col("pl") < col("pl2")),
                col("pl")).otherwise(col("pl2")).as("w"),
              when(col("px") < col("px2") ||
                (col("px") === col("px2") && col("pl") < col("pl2")),
                col("pl2")).otherwise(col("pl")).as("l"))
          noop(graft.operators.Fusion.bradleyTerry(duels,
            col("w"), col("l"), iters = 3))
        },
        // KM's range-exchange staging + a (duration, type) cells agg
        // joined back on the steps frame (the q293 shape — flap set,
        // swept post-rework)
        "cumulative_incidence" -> { () =>
          val evt = ev.filter(col("user_id").isNotNull &&
              col("ts").isNotNull)
            .select(col("user_id"), unix_micros(col("ts")).as("__t"),
              col("event_type"))
          val firsts = evt.groupBy(col("user_id"))
            .agg(min(col("__t")).as("__f"))
          def firstOf(t: String, out: String) =
            evt.filter(col("event_type") === t)
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
          noop(graft.operators.Survival.cumulativeIncidence(subjects,
            col("dur_h"), col("ev")))
        },
        // |vocab| shuffle + ONE one-row f1/f2 aggregate
        "richness" -> (() => noop(
          CorpusStats.richness(docs))),
        // bins-keyed agg + windows over the bins frame
        "brier" -> (() => noop(
          graft.operators.Classify.brierDecomposition(docs,
            least(lit(1000000L), col("n_chars") * 1800L),
            col("lang") === "en", nBins = 10))),
        // (group, value) counts + cumulative over the counts frame —
        // rows never sort (the winsorize discipline)
        "conformal" -> (() => noop(
          graft.operators.Classify.conformalThreshold(
            docs.filter(col("lang").isNotNull), col("lang"),
            col("n_chars"), alphaPpm = 100000L))),
        // two rank-bounded lists cogrouped per query; greedy state O(k)
        "team_draft" -> { () =>
          val bits = 6 + (31 - Integer.numberOfLeadingZeros(rep))
          val qs = emb.filter(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col("embedding"))
          val a = Similarity.bruteForceTopK(emb, qs, 10)
          val b = Similarity.lshTopKMultiProbe(emb, qs, 10, bits = bits,
            dim = 64, nProbe = 4)
          noop(graft.operators.Fusion.interleaveTeamDraft(a, b,
            "query_id", "vec_id", "rank", k = 10))
        },
        // one context-key equi-join + ONE single-row aggregate
        "ips_eval" -> { () =>
          val e = ev.filter(col("event_id").isNotNull &&
              col("event_type").isNotNull && col("value").isNotNull &&
              col("user_id").isNotNull)
            .select(col("event_id"), col("user_id"), col("event_type"),
              floor(col("value") * 1000000L + 0.5).cast("long").as("__r"))
          val n = e.agg(count(lit(1)).as("__n"))
          val freq = e.groupBy(col("event_type"))
            .agg(count(lit(1)).as("__c")).crossJoin(broadcast(n))
            .select(col("event_type"),
              expr("(1000000L * __c) DIV __n").as("__p"))
          val logs = e.join(freq, "event_type")
          val policy = e.select(col("event_id").as("pol_id"),
            when(col("user_id") % 3 === 0, lit("click"))
              .otherwise(lit("view")).as("pol_action"))
          noop(graft.operators.Classify.ipsEval(logs, col("event_id"),
            col("event_type"), col("__r"), col("__p"), policy,
            col("pol_id"), col("pol_action")))
        },
        // bins-sized: one bin-keyed count agg + one-row totals broadcast
        "woe_iv" -> (() => noop(
          graft.operators.Classify.woeIv(docs, col("source"),
            col("lang") === "en"))),
        // (group, value) weight-sum frame + cumulative + |groups|·|qs|
        // explode — rows never sort (winsorize discipline)
        "weighted_quantile" -> (() => noop(
          Profile.weightedQuantile(
            li.filter(col("l_quantity").isNotNull &&
              col("l_extendedprice").isNotNull),
            col("l_returnflag"), col("l_quantity"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long"),
            Seq(250000L, 500000L, 750000L, 990000L)))),
        // ONE (x, y) cells agg; marginals/total from windows over the
        // cells frame (saturates as rows replicate)
        "mutual_info" -> (() => noop(
          graft.operators.Classify.mutualInfo(docs, col("source"),
            col("lang")))),
        // subject agg + ONE range exchange carrying risk + hazard
        // cumulative (globalRank offsets discipline; KM sibling)
        "nelson_aalen" -> { () =>
          val evt = ev.select(col("user_id"),
            unix_micros(col("ts")).as("__t"), col("event_type"))
            .filter(col("user_id").isNotNull && col("__t").isNotNull)
          val firsts = evt.groupBy(col("user_id"))
            .agg(min(col("__t")).as("__f"))
          val firstErr = evt.filter(col("event_type") === "error")
            .groupBy(col("user_id")).agg(min(col("__t")).as("__te"))
          val subjects = firsts.join(firstErr, Seq("user_id"), "left_outer")
            .select(
              when(col("__te").isNotNull &&
                  expr("(__te - __f) DIV 3600000000") < 24L,
                expr("(__te - __f) DIV 3600000000")).otherwise(lit(24L))
                .as("dur_h"),
              (col("__te").isNotNull &&
                expr("(__te - __f) DIV 3600000000") < 24L).as("observed"))
          noop(graft.operators.Survival.nelsonAalen(subjects,
            col("dur_h"), col("observed")))
        },
        // (group, value) counts frame + cumulative/max windows over it
        "ks_distance" -> (() => noop(
          Profile.ksDistance(docs.filter(col("doc_id").isNotNull),
            col("lang"), col("doc_id") % 2 === 0, col("n_chars")))),
        // span explode + md5-digest winner agg + digest join + doc
        // reassembly — linear in spans, never all-pairs
        "span_dedup" -> (() => noop(
          TextDedup.dropDuplicateSpans(docs, spanTokens = 5))),
        // bins-keyed row agg; the whole B^3 minimax lives on the
        // 10-row bins frame
        "isotonic" -> (() => noop(
          graft.operators.Classify.isotonicCalibrate(docs,
            least(lit(1000000L), col("n_chars") * 1800L),
            col("lang") === "en", nBins = 10))),
        // (query, item) count agg + per-query top-10 window + O(k)
        // in-row cascade fold; corpus never enters the fold
        "err_eval" -> { () =>
          val agg = li.filter(col("l_suppkey") < 30)
            .groupBy(col("l_suppkey").as("query_id"),
              col("l_partkey").as("vec_id"))
            .agg(count(lit(1)).as("__c"))
          val w = Window.partitionBy(col("query_id"))
            .orderBy(col("__c").desc, col("vec_id").asc)
          val ranked = agg.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= 10)
          val truth = agg.filter(col("vec_id") % 3 === 0)
            .select(col("query_id"), col("vec_id"),
              (col("vec_id") % 4).as("grade"))
          noop(graft.operators.Fusion.errEval(ranked, truth, k = 10,
            gMax = 3))
        },
        // two histogram aggs (map-side combined) + bins-frame windows
        "psi" -> (() => noop(
          Profile.psi(docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1),
            col("n_chars"), 0.0, 600.0, nb = 12))),
        // hourly series agg, two-bucket banded pair join, slope-counts
        // median — pairs bounded by series density × lag
        "theil_sen" -> { () =>
          val series = ev.filter(col("event_type").isNotNull &&
              col("ts").isNotNull && col("value").isNotNull)
            .select(col("event_type"),
              expr("unix_micros(ts) DIV 3600000000").as("h"),
              floor(col("value") * 1000000L + 0.5).cast("long").as("vmu"))
            .groupBy(col("event_type"), col("h"))
            .agg(expr("sum(vmu) DIV count(1)").as("v"))
          noop(graft.operators.TimeSeries.theilSenWindowed(series,
            col("event_type"), col("h"), col("v"), maxLag = 5L))
        },
        // one (value)-counts agg per column, one-row rollups unioned
        "column_entropy" -> (() => noop(
          Profile.columnEntropy(docs, Seq("lang", "source", "doc_id")))),
        // per-row WAV encode+decode+meter inside mapPartitions — pure
        // data parallelism, payloads shuffle once on asset_id
        "audio_levels" -> { () =>
          implicit val sp = spark
          import sp.implicits._
          import graft.multimodal.{Codecs, Multimodal}
          val nAssets = 120 * rep
          val assets = spark.range(0, nAssets).as[Long].map { id =>
            val n = 800 + (id % 5).toInt * 400
            val samples = Array.tabulate(n)(i =>
              (((id * 31 + i.toLong * 7919) % 65536) - 32768).toShort)
            Multimodal.Asset(id, "audio",
              Codecs.encodeWav16(samples, 8000f), None, None, None)
          }
          noop(Multimodal.audioLevels(assets).toDF())
        },
        // pure per-row codegen kernels (deflate + Luhn), one narrow agg
        "quality_signals" -> { () =>
          graft.plans.SignalExprs.ensureRegistered(spark)
          noop(graft.operators.Quality.compressionRatio(docs, col("text"))
            .select(col("source"), col("ratio_ppm"),
              org.apache.spark.sql.functions.call_function("graft_luhn",
                lpad(col("doc_id").cast("string"), 16, "0")).as("__l"))
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n"),
              expr("sum(ratio_ppm) DIV count(1)").as("mean_ratio"),
              coalesce(sum(when(col("__l"), 1L).otherwise(0L)), lit(0L))
                .as("n_luhn")))
        },
        // |vocab| shuffle rows (map-side combined) + ONE one-row tail agg
        "zipf_tail" -> (() => noop(
          CorpusStats.zipfTailIndex(docs, xMin = 5L))),
        // ONE full-outer key join + narrow flag projection; output is
        // churn-bounded, never table-bounded
        "column_diff" -> { () =>
          val evd = ev.select(col("event_id"), col("event_type"),
            col("user_id"), col("value"))
          val old = evd.filter(col("event_id") % 7 =!= 0)
          val neu = evd.filter(col("event_id") % 5 =!= 0)
            .withColumn("value", when(col("event_id") % 3 === 0,
              col("value") + 1.0).otherwise(col("value")))
          noop(graft.operators.Diff.columnDiff(old, neu, Seq("event_id")))
        },
        // one narrow per-row HOF projection, no shuffle — pure linear
        "quantization" -> (() => noop(
          Similarity.quantizationAudit(emb))),
        // SRP-bucketed candidates + label filter + re-rank: constant
        // query set, per-bucket occupancy growth (the q225 shape)
        "hard_negatives" -> { () =>
          val queries = emb.filter(col("vec_id") % 17 === 0 &&
              col("vec_id") < 30000)
            .select(col("vec_id").as("query_id"), col("embedding"),
              col("label"))
          noop(Similarity.hardNegatives(emb, queries, k = 5, "label",
            exact = false, bits = 5, dim = 64, nProbe = 4))
        },
        // per round: ONE (pair)-keyed map-side-combined count over the
        // distinct-word vocab frame + a one-row driver argmax — cost
        // tracks the vocab (which the per-replica text salt grows),
        // never the corpus row count
        "bpe_distributed" -> { () =>
          val merges = Bpe.trainDistributed(docs, col("text"),
            col("doc_id"), nMerges = 20)
          require(merges.length == 20, s"expected 20 merges, got ${merges.length}")
        },
        // probed-cell pruned scan + O(m) ADC walk per candidate +
        // shortlist re-rank — constant probe budget, so rows track
        // per-cell occupancy, never the corpus
        "ivfpq" -> { () =>
          val cents = Similarity.ivfCentroids(
            emb.orderBy("vec_id").limit(512).coalesce(1), nCells = 8, dim = 64)
          val cbs = Similarity.ivfPqCodebooks(
            emb.orderBy("vec_id").limit(512).coalesce(1), nCells = 8,
            dim = 64, m = 8, kCodes = 16, cents, maxSample = 512)
          val queries = emb.filter(col("vec_id") % 13 === 0 &&
              col("vec_id") < 30000)
            .select(col("vec_id").as("query_id"), col("embedding"))
          noop(Similarity.ivfPqTopK(emb, queries, k = 10, nCells = 8,
            nProbe = 3, m = 8, kCodes = 16, dim = 64, cents, cbs,
            shortlist = 48))
        },
        // O(edges·k) sketch rows per round × maxHops rounds — the
        // HyperBall shape; immune to ball-size densification
        "reach_profile" -> { () =>
          val edges = li.select((col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst")).distinct()
          noop(Graph.reachProfileKmv(edges, k = 64, maxHops = 3))
        },
        // ONE entity exchange: lag/seq windows + the (entity, seq) agg
        // all ride it (entity hash co-locates every session)
        "session_stats" -> (() => noop(
          Analytics.sessionStats(ev, col("user_id"),
            unix_micros(col("ts")), gapUs = 1800000000L, col("event_id"),
            coalesce(col("event_type"), lit("?"))))),
        // (key, period) agg + lag over the periods-sized frame
        "period_over_period" -> (() => noop(
          Analytics.periodOverPeriod(li, col("l_returnflag"),
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV 2592000000000"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")))),
        // key max agg + one-row broadcast global
        "freshness" -> (() => noop(
          graft.operators.Quality.freshness(ev, col("user_id"),
            unix_micros(col("ts")), staleAfterUs = 604800000000L))),
        // vocab-sized min-agg; cumulative window over |periods| rows
        "vocab_growth" -> (() => noop(
          graft.operators.CorpusStats.vocabGrowth(docs,
            expr("doc_id DIV 50")))),
        // two key-count aggs + a keys-sized join; never the join itself
        "join_cardinality" -> (() => noop(
          graft.operators.Profile.joinCardinality(li, col("l_partkey"),
            li, col("l_partkey"), topK = 10))),
        // presence distinct → two basket-keyed self-joins (Σ C(b,3))
        "triples" -> (() => noop(
          graft.operators.Assoc.tripleCounts(ev, col("user_id"),
            col("event_type"), minCount = 2L))),
        // two_hop_reach (exact) on NAIVELY replicated data would time
        // the graph's density, not the plan: only l_orderkey shifts
        // per replica, so replicas share part nodes and Σ deg² (the
        // inherent exact-2-hop budget) grows QUADRATICALLY with the
        // replica count. Shifting the part side by the replica id
        // (recovered as o DIV KEY_OFF) makes each replica a DISJOINT
        // copy of the base graph — 16× data = 16× identical graphs =
        // the honest linear-scaling test for the plan itself:
        "two_hop_exact_disjoint" -> { () =>
          val op = li.select(col("l_orderkey").as("o"),
              (col("l_partkey") +
                expr(s"(l_orderkey DIV ${KEY_OFF}L) * ${KEY_OFF}L"))
                .as("p")).distinct()
          val o2 = op.select(col("o"), col("p").as("p2"))
          val edges = op.join(o2, "o").filter(col("p") < col("p2"))
            .groupBy(col("p").as("src"), col("p2").as("dst"))
            .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2L)
            .select(col("src"), col("dst"))
          noop(Graph.twoHopReach(edges))
        },
        // The KMV-sketched fallback IS sweepable on the densifying
        // replication too — its budget is O(edges·k) sketch rows,
        // immune to the deg² densification:
        "two_hop_kmv" -> { () =>
          val op = li.select(col("l_orderkey").as("o"),
            col("l_partkey").as("p")).distinct()
          val o2 = op.select(col("o"), col("p").as("p2"))
          val edges = op.join(o2, "o").filter(col("p") < col("p2"))
            .select(col("p").as("src"), col("p2").as("dst")).distinct()
          noop(Graph.twoHopReachKmv(edges, k = 64))
        },
        // (source, shingle-hash) distinct → hash-keyed self-join; the
        // codegen hashed-shingle stream never builds 3-gram strings
        "source_overlap" -> (() => noop(
          graft.operators.TextDedup.sourceOverlap(
            docs.select(col("source"),
              explode(graft.plans.HashExprs.hashedShingles(spark,
                col("text"), 3)).as("text"))))),
        // model broadcast onto the pair stream; one lag exchange each
        "rare_transitions" -> (() => noop(
          Analytics.rareTransitions(ev, col("user_id"),
            Seq(col("ts"), col("event_id")), col("event_type"),
            maxPpm = 195000L))),
        // two bins-sized aggs + bins-sized cumulative
        "histogram_emd" -> (() => noop(
          graft.operators.Profile.histogramEmd(
            li.filter(col("l_returnflag") === "R"),
            li.filter(col("l_returnflag") === "A"), col("l_quantity"),
            0L, 51L, 17))),
        // group min/max agg + broadcast join-back
        "minmax_scale" -> (() => noop(
          graft.operators.Profile.minMaxScale(docs, col("doc_id"),
            col("lang"), col("n_chars")))),
        // (group, value) agg + WindowGroupLimit rank
        "mode_by_group" -> (() => noop(
          graft.operators.Profile.modeByGroup(ev, col("user_id"),
            col("event_type")))),
        // narrow triple-regex projection into a signatures-sized agg
        "pattern_profile" -> (() => noop(
          graft.operators.Profile.patternProfile(docs,
            substring(col("text"), 1, 24), topK = 20))),
        // presence distinct → ONE entity window → periods-sized aggs
        "growth_accounting" -> (() => noop(
          Analytics.growthAccounting(ev, col("user_id"),
            expr("unix_micros(ts) DIV 604800000000")))),
        // one sliced confusion aggregate
        "eval_by_slice" -> (() => noop(
          graft.operators.Classify.evalBinaryBy(docs, col("source"),
            col("n_chars") % 3 === 0, col("lang") === lit("en")))),
        // vocab·(len+1) deletion keys → linear join → bounded verify
        "spelling_variants" -> (() => noop(
          Fuzzy.spellingVariants(
            docs.select(col("text")).unionByName(
              docs.filter(col("doc_id") % 7 === 0)
                .select(regexp_replace(col("text"), "a", "")
                  .as("text")))))),
        // (parent, child) agg + windows over the groups frame
        "share_of_parent" -> (() => noop(
          Analytics.shareOfParent(li, col("l_returnflag"),
            col("l_linestatus"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")))),
        // same 2-shuffles-per-round budget as pagerank, plus two
        // one-row max broadcasts; layer graph densifies like q78's
        "hits_3it" -> { () =>
          val cp = li.join(o, col("l_orderkey") === col("o_orderkey"))
            .select((col("o_custkey") * 3).as("src"),
              (col("l_partkey") * 3 + 1).as("dst")).distinct()
          val ps = li.select((col("l_partkey") * 3 + 1).as("src"),
            (col("l_suppkey") * 3 + 2).as("dst")).distinct()
          noop(Graph.hitsMicro(cp.unionByName(ps), iters = 3))
        },
        // ONE user-keyed exchange (rn + both prefix sums share its
        // sort) + a key agg and a min(struct) argmin — users replicate
        // with rep, per-series length constant: the linear shape
        "changepoint" -> (() => noop(
          graft.operators.TimeSeries.changepoint(ev, col("user_id"),
            Seq(col("ts"), col("event_id")),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"), minSeg = 3))),
        // pagerank's budget + a broadcast-sized seed flag computed once;
        // seed COUNT grows with rep (customers replicate) while the
        // per-iteration plan is unchanged
        "ppr_4it" -> { () =>
          val cp = li.join(o, col("l_orderkey") === col("o_orderkey"))
            .select((col("o_custkey") * 2).as("src"),
              (col("l_partkey") * 2 + 1).as("dst")).distinct()
          val edges = cp.unionByName(
            cp.select(col("dst").as("src"), col("src").as("dst")))
          val seeds = o.filter(col("o_custkey") % 97 === 0)
            .select((col("o_custkey") * 2).as("node")).distinct()
          noop(Graph.personalizedPagerankMicro(edges, seeds, iters = 4))
        },
        // one degree agg + two attach joins + ONE moment aggregate
        "assortativity" -> { () =>
          val cp = li.join(o, col("l_orderkey") === col("o_orderkey"))
            .select((col("o_custkey") * 2).as("src"),
              (col("l_partkey") * 2 + 1).as("dst")).distinct()
          noop(Graph.assortativity(cp.unionByName(
            cp.select(col("dst").as("src"), col("src").as("dst")))))
        },
        // globalRank range exchange + tile agg + bins-sized windows
        "decile_lift" -> (() => noop(
          graft.operators.Classify.decileLift(docs, col("n_chars"),
            col("doc_id"), col("lang") === lit("en")))),
        // group min-agg + join-back + pure-projection hash
        "group_split" -> (() => noop(
          Sampling.groupAwareSplit(
            docs.withColumn("grp", md5(col("text"))), col("grp"),
            col("doc_id"), Seq(0.8, 0.1, 0.1),
            Seq("train", "val", "test")))),
        // one pass of the dim²-long mergeable buffer; shuffle ships one
        // 32 KB buffer per partition regardless of corpus size
        "cov_moments" -> (() => noop(
          Similarity.covarianceMoments(emb, col("embedding"), dim = 64))),
        // entity agg + 3 range exchanges over the entity-sized frame
        "rfm" -> (() => noop(
          Analytics.rfm(o, col("o_custkey"), col("o_orderdate"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")))),
        // entity-keyed join, fanout = in-window touches per conversion
        "attribution" -> (() => noop(
          Analytics.attributionPositional(ev, col("user_id"),
            col("event_id"), expr("unix_micros(ts)"), col("event_type"),
            "click", "purchase", 604800000000L))),
        // key equi-join + interval filter; dim = 2 versions per custkey
        "temporal_join" -> { () =>
          val cust = o.select(col("o_custkey").as("custkey")).distinct()
          val boundary = expr(
            "CAST(concat(CAST(1993 + custkey % 5 AS INT), '-01-01') AS TIMESTAMP)")
          val dim = cust.select(col("custkey"), lit("bronze").as("segment"),
              lit("1992-01-01").cast("timestamp").as("valid_from"),
              boundary.as("valid_to"))
            .unionByName(cust.select(col("custkey"),
              lit("silver").as("segment"), boundary.as("valid_from"),
              lit(null).cast("timestamp").as("valid_to")))
          noop(graft.operators.Scd2.temporalJoin(
            o.select(col("o_orderkey"), col("o_custkey").as("custkey"),
              col("o_orderdate")),
            dim, Seq("custkey"), col("o_orderdate")))
        },
        // bounded 300-doc sample (base-replica ids): the scan grows with
        // the corpus, the pair stage is flat BY CONTRACT
        "diversity_300" -> (() => noop(
          CorpusStats.diversityReport(docs.filter(col("doc_id") < 300),
            col("doc_id"), col("text")))),
        // one group exchange, rank + whole-partition count share its sort
        "trimmed_mean" -> (() => noop(
          Profile.trimmedMean(ev, col("event_type"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
            col("event_id")))),
        // q78's budget + one long per cached edge
        "wpagerank_4it" -> { () =>
          val cpw = li.join(o, col("l_orderkey") === col("o_orderkey"))
            .groupBy((col("o_custkey") * 2).as("src"),
              (col("l_partkey") * 2 + 1).as("dst"))
            .agg(count(lit(1)).as("weight"))
          noop(Graph.weightedPagerankMicro(cpw.unionByName(
            cpw.select(col("dst").as("src"), col("src").as("dst"),
              col("weight"))), iters = 4))
        },
        // sketch-sized end to end: fine sketches ≤ k rows per key
        "kmv_rollup" -> { () =>
          val daily = graft.operators.Sketches.kmvSignatures(ev,
            concat_ws("|", col("event_type"),
              expr("CAST(unix_micros(ts) DIV 86400000000 AS STRING)")),
            col("user_id"), 64)
          noop(graft.operators.Sketches.kmvRollup(daily,
            substring_index(col("key"), "|", 1), 64))
        },
        // tf agg + globalRank vocab + V-bounded broadcast
        "oov_rate" -> (() => noop(
          CorpusStats.oovRate(docs, vocabSize = 500))),
        // vocabulary-sized re-aggregate + TakeOrdered
        "burstiness" -> (() => noop(
          CorpusStats.burstiness(docs, k = 100))),
        // |stages| cascaded entity-keyed min-aggregates
        "funnel_windowed" -> (() => noop(
          Analytics.funnelWindowed(ev, col("user_id"),
            expr("unix_micros(ts)"), col("event_type"),
            Seq("view", "click", "purchase"), 86400000000L))),
        "mann_whitney" -> (() => noop(
          Profile.mannWhitney(docs.filter(col("doc_id").isNotNull),
            col("lang"), col("doc_id") % 2 === 0, col("n_chars")))),
        "fleiss_kappa" -> { () =>
          import graft.operators.Agreement
          val votes = emb.filter(col("vec_id").isNotNull)
            .select(col("vec_id"), col("label"),
              explode(sequence(lit(0),
                when(col("vec_id") % 7 === 0, 3).otherwise(2))).as("r"))
            .withColumn("vote",
              when(conv(substring(md5(concat_ws("|", lit("f"),
                  col("vec_id"), col("r"))), 1, 15), 16, 10)
                  .cast("long") % 10 < 2,
                (col("label") + 1 + col("r")) % 10).otherwise(col("label")))
          noop(Agreement.fleissKappa(votes, col("vec_id"), col("vote"), 3))
        },
        "average_precision" -> (() => noop(
          graft.operators.Classify.averagePrecision(
            docs.filter(col("doc_id").isNotNull), col("n_chars"),
            col("lang") === "en", col("doc_id")))),
        "poisson_bootstrap" -> (() => noop(
          Sampling.poissonBootstrap(docs.filter(col("doc_id").isNotNull),
            col("doc_id"), col("n_chars"), reps = 24, seed = "b7"))),
        "bradley_terry_3it" -> { () =>
          import graft.operators.Fusion
          val l2 = li.select(col("l_orderkey").as("ok"),
            col("l_linenumber").as("ln"), (col("l_suppkey") % 16).as("pl"),
            col("l_extendedprice").as("px"))
          val b = l2.select(col("ok").as("ok2"), col("ln").as("ln2"),
            col("pl").as("pl2"), col("px").as("px2"))
          val duels = l2.join(b,
              col("ok") === col("ok2") && col("ln2") === col("ln") + 1)
            .filter(col("pl") =!= col("pl2"))
            .select(
              when(col("px") < col("px2") ||
                (col("px") === col("px2") && col("pl") < col("pl2")),
                col("pl")).otherwise(col("pl2")).as("w"),
              when(col("px") < col("px2") ||
                (col("px") === col("px2") && col("pl") < col("pl2")),
                col("pl2")).otherwise(col("pl")).as("l"))
          noop(Fusion.bradleyTerry(duels, col("w"), col("l"), iters = 3))
        },
        "log_rank" -> { () =>
          import graft.operators.Survival
          val e2 = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
            .select(col("user_id"), expr("unix_micros(ts)").as("t"),
              col("event_type"))
          val firsts = e2.groupBy(col("user_id")).agg(min(col("t")).as("f"))
          val firstErr = e2.filter(col("event_type") === "error")
            .groupBy(col("user_id")).agg(min(col("t")).as("te"))
          val subjects = firsts.join(firstErr, Seq("user_id"), "left_outer")
            .select((col("user_id") % 2 === 0).as("a"),
              when(col("te").isNotNull &&
                  expr("(te - f) DIV 3600000000") < 24L,
                expr("(te - f) DIV 3600000000")).otherwise(lit(24L)).as("dh"),
              (col("te").isNotNull &&
                expr("(te - f) DIV 3600000000") < 24L).as("o"))
          noop(Survival.logRank(subjects, col("a"), col("dh"), col("o")))
        },
        "spearman" -> (() => noop(
          Profile.spearman(docs.filter(col("doc_id").isNotNull),
            col("lang"), col("n_chars"), octet_length(col("text"))))),
        "qq_shift" -> (() => noop(
          Profile.qqShift(docs.filter(col("doc_id").isNotNull),
            col("doc_id") % 2 === 0, col("n_chars"), nq = 10))),
        "top_component" -> (() => noop(
          Similarity.topComponent(emb, col("embedding"), dim = 64,
            iters = 3))),
        "transition_entropy" -> (() => noop(
          Analytics.transitionEntropy(ev, col("user_id"),
            Seq(col("ts"), col("event_id")), col("event_type")))),
        "best_threshold" -> (() => noop(
          graft.operators.Classify.bestThreshold(docs, col("n_chars"),
            col("lang") === "en"))),
        // round-7 wave — range-join, multivariate outlier, backtest,
        // reshard families
        "overlap_join" -> (() => noop {
          def win(t: String) = ev.filter(col("event_type") === t)
          Relational.overlapJoin(
            win("view"), win("purchase"),
            col("user_id"), col("event_id"), unix_micros(col("ts")),
            unix_micros(col("ts")) + 1800000000L,
            col("user_id"), col("event_id"), unix_micros(col("ts")),
            unix_micros(col("ts")) + 1800000000L,
            bucketUs = 3600000000L)
        }),
        "mahalanobis_top25" -> (() => noop(
          Similarity.mahalanobisDiag(emb, col("vec_id"),
            col("embedding"), dim = 64, topK = 25))),
        "markov_backtest" -> (() => noop(
          Analytics.markovBacktest(ev, col("user_id"),
            unix_micros(col("ts")), col("event_id"), col("event_type"),
            splitTsUs = 1705881600000000L))),
        "reshard_audit_8to12" -> (() => noop(
          graft.operators.Layout.reshardAudit(ev, col("event_id"),
            fromShards = 8, toShards = 12))),
        "kll_rollup" -> (() => noop {
          import graft.operators.Sketches
          val e2 = ev.filter(col("event_type").isNotNull &&
            col("value").isNotNull && col("ts").isNotNull)
            .withColumn("__v",
              expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
          Sketches.kllRollup(
            Sketches.kllQuantileSketches(e2,
              concat_ws("|", col("event_type"),
                expr("CAST(unix_micros(ts) DIV 86400000000 AS STRING)")),
              col("__v")),
            substring_index(col("key"), "|", 1)).drop("sketch")
        }),
        "bleu2" -> (() => noop {
          val ws = graft.functions.Text.words(col("text"))
          val k = greatest(lit(1), (size(ws).cast("long") / lit(5L))
            .cast("int"))
          val pairs = docs.select(col("doc_id"),
            array_join(concat(ws, slice(ws, lit(1), k)), " ")
              .as("cand"), col("text").as("ref"))
          graft.operators.Classify.bleu(pairs, col("doc_id"),
            col("cand"), col("ref"), maxN = 2)
        })
      )
      val selected =
        if (opFilter.isEmpty) ops
        else ops.filter { case (tag, _) => opFilter.exists(tag.contains) }
      selected.foreach { case (tag, body) =>
        body() // warm: codegen + parquet footers out of the measurement
        val s = timeMed(body())
        println(f"""SWEEP {"op":"$tag","rep":$rep,"sec":$s%.3f,""" +
          s""""rows_li":$nLi,"rows_docs":$nDocs,"rows_emb":$nEmb}""")
      }
      // drop this rep's persisted frames (pagerank edges etc.) so the
      // next, larger rep isn't measured under the previous rep's cache
      // pressure
      graft.GraftSession.resetQueryState(spark)
    }
    spark.stop()
  }
}
