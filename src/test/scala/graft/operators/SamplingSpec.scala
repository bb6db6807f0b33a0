package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark
import graft.sources.Tables

/** The reproducibility contract of hash-based sampling: stable across
  * runs AND partitionings, disjoint+exhaustive splits, no train/test
  * leakage per key, and fractions near their weights. */
class SamplingSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  lazy val docs = Tables.documents(spark, SharedSpark.sf0001)

  test("assignSplit: disjoint, exhaustive, stable across partitionings") {
    def tag(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("split", Sampling.assignSplit(
        col("doc_id"), Seq(0.8, 0.1, 0.1), Seq("train", "val", "test")))
      .select("doc_id", "split")
    val a = tag(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // radically different physical layout → identical assignment
    val b = tag(docs.repartition(17, col("lang"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    assert(a.size === docs.count()) // every key assigned exactly once
    val fracs = a.values.groupBy(identity).view.mapValues(_.size.toDouble / a.size).toMap
    assert(math.abs(fracs("train") - 0.8) < 0.1)
    assert(math.abs(fracs("val") - 0.1) < 0.1)
    assert(math.abs(fracs("test") - 0.1) < 0.1)
  }

  test("sampleByKey: stable subset, fraction near target, monotone in fraction") {
    val s10 = Sampling.sampleByKey(docs, col("doc_id"), 0.1)
      .select("doc_id").as[Long].collect().toSet
    val s30 = Sampling.sampleByKey(docs, col("doc_id"), 0.3)
      .select("doc_id").as[Long].collect().toSet
    val again = Sampling.sampleByKey(docs, col("doc_id"), 0.1)
      .select("doc_id").as[Long].collect().toSet
    assert(s10 === again)          // deterministic
    assert(s10.subsetOf(s30))      // nested: raising the fraction only adds
    val n = docs.count().toDouble
    assert(math.abs(s10.size / n - 0.1) < 0.08)
    assert(math.abs(s30.size / n - 0.3) < 0.1)
  }

  test("different seeds give independent assignments; same seed agrees") {
    val x = Sampling.sampleByKey(docs, col("doc_id"), 0.5, seed = 1L)
      .select("doc_id").as[Long].collect().toSet
    val y = Sampling.sampleByKey(docs, col("doc_id"), 0.5, seed = 2L)
      .select("doc_id").as[Long].collect().toSet
    assert(x !== y) // independent draws almost surely differ on 500 keys
    val overlap = x.intersect(y).size.toDouble / math.max(1, x.size)
    assert(overlap > 0.3 && overlap < 0.7) // ~half, not all or none
  }

  test("no leakage: duplicated keys land on one side of the split") {
    // entity-keyed rows: 3 rows per user — every row of a user must get
    // the user's split, or features leak from train into test
    val rows = (0L until 300L).flatMap(u => Seq((u, u * 3), (u, u * 3 + 1), (u, u * 3 + 2)))
      .toDF("user_id", "row_id")
    val tagged = rows.withColumn("split",
      Sampling.assignSplit(col("user_id"), Seq(0.9, 0.1), Seq("train", "test")))
    val splitsPerUser = tagged.groupBy("user_id")
      .agg(countDistinct(col("split")).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(splitsPerUser === 1L)
  }

  test("duplicate split names are rejected (they would break disjointness)") {
    intercept[IllegalArgumentException](
      Sampling.assignSplit(col("doc_id"), Seq(0.5, 0.5), Seq("a", "a")))
  }

  test("splitByKey materializes the splits in order, conserving rows") {
    val parts = Sampling.splitByKey(docs, col("doc_id"),
      Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
    assert(parts.length === 3)
    assert(parts.map(_.count()).sum === docs.count())
  }

  test("stratifiedExact draws exactly ceil(fraction*n) per stratum") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, if (i < 70) "big" else if (i < 95) "mid" else "tiny"))
      .toDF("id", "grp")
    val out = Sampling.stratifiedExact(df, Seq("grp"), col("id"), 0.2)
    val counts = out.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts("big") === 14)  // ceil(0.2*70)
    assert(counts("mid") === 5)   // ceil(0.2*25)
    assert(counts("tiny") === 1)  // ceil(0.2*5)
    // sampled rows come from the source (subset)
    assert(out.join(df, Seq("id", "grp"), "left_anti").count() === 0)
  }

  test("stratifiedExact is deterministic across partitionings, seed changes the draw") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, (i % 3).toString)).toDF("id", "grp")
    def ids(d: org.apache.spark.sql.DataFrame, seed: Long) =
      Sampling.stratifiedExact(d, Seq("grp"), col("id"), 0.3, seed)
        .select("id").as[Long].collect().toSet
    assert(ids(df.repartition(1), 42L) === ids(df.repartition(17, col("id")), 42L))
    assert(ids(df, 42L) !== ids(df, 43L)) // different seed, different members
    assert(ids(df, 43L).size === ids(df, 42L).size) // ...but identical counts
  }

  test("negativeSample: never a positive, ≤k per user, layout-stable") {
    val pos = (for (u <- 1L to 30L; i <- 1L to 5L) yield (u, (u + i * 7) % 50 + 1))
      .toDF("user", "item")
    def run(p: org.apache.spark.sql.DataFrame) =
      Sampling.negativeSample(p, col("user"), col("item"), nItems = 50, k = 3, m = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val out = run(pos)
    val posSet = pos.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.forall { case (u, i, _) => !posSet.contains((u, i)) })
    assert(out.forall { case (_, i, _) => i >= 1 && i <= 50 })
    val perUser = out.groupBy(_._1).view.mapValues(_.map(_._3).toSeq.sorted).toMap
    assert(perUser.keySet === (1L to 30L).toSet)
    assert(perUser.values.forall(d => d == (1 to d.length).toSeq && d.length <= 3))
    // deterministic across physical layouts
    assert(run(pos.repartition(13)) === out)
  }

  test("bottomKPerStratum: k per stratum, digest-ordered, layout-stable") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, (i % 3).toString)).toDF("id", "grp")
    def sample(d: org.apache.spark.sql.DataFrame) =
      Sampling.bottomKPerStratum(d, Seq("grp"), col("id"), k = 10)
        .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2))).toSet
    val out = sample(df)
    assert(out.groupBy(_._1).forall(_._2.size == 10))
    assert(out.groupBy(_._1).values.forall(_.map(_._3).toSeq.sorted == (1 to 10)))
    assert(sample(df.repartition(17, col("id"))) === out)
    // seed changes membership
    val other = Sampling.bottomKPerStratum(df, Seq("grp"), col("id"), 10, seed = "7")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2))).toSet
    assert(other !== out)
  }

  test("shuffleShard: permutation, balance, reproducibility") {
    import spark.implicits._
    val df = (0L until 101L).map(i => (i, s"d$i")).toDF("id", "payload")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.shuffleShard(d, col("id"), nShards = 8)
        .select("id", "pos", "shard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val out = run(df)
    // pos is a permutation of 1..n
    assert(out.map(_._2).sorted.toSeq === (1L to 101L).toSeq)
    // shards balanced to ±1: 5 shards of 13, 3 of 12
    val sizes = out.groupBy(_._3).view.mapValues(_.length).values.toSeq.sorted
    assert(sizes === Seq(12, 12, 12, 13, 13, 13, 13, 13))
    // reproducible across layouts; different seed → different permutation
    assert(run(df.repartition(7)).toSet === out.toSet)
    val other = Sampling.shuffleShard(df, col("id"), 8, seed = "7")
      .select("id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(other !== out.map(t => (t._1, t._2)).toSet)
  }

  test("bottomKPerStratum is monotone under corpus growth") {
    import spark.implicits._
    val small = (0L until 100L).map(i => (i, "g")).toDF("id", "grp")
    val grown = (0L until 200L).map(i => (i, "g")).toDF("id", "grp")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Sampling.bottomKPerStratum(d, Seq("grp"), col("id"), k = 15)
        .select("id").as[Long].collect().toSet
    val a = ids(small); val b = ids(grown)
    // growth only displaces survivors: every pre-growth id still sampled
    // was already in the pre-growth sample (no arbitrary reshuffle)
    assert((b & (0L until 100L).toSet).subsetOf(a))
  }

  test("prioritySample: k per stratum, small strata exact, estimator and determinism") {
    val rows = (0L until 100L).map(i => ("big", i, (i % 10) * 100L + 100L)) ++
      (100L until 103L).map(i => ("small", i, 500L))
    val df = rows.toDF("src", "id", "w")
    def run(d: org.apache.spark.sql.DataFrame, seed: String = "42") =
      Sampling.prioritySample(d, Seq("src"), col("id"), col("w"), k = 20,
          seed = seed)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getInt(4), r.getDouble(5), r.getDouble(6)))
    val out = run(df)
    // big stratum: exactly k picks, contiguous ranks, τ > 0, w_est = max(w, τ)
    val big = out.filter(_._1 == "big")
    assert(big.length === 20)
    assert(big.map(_._5).sorted.toSeq === (1 to 20))
    assert(big.forall(_._6 > 0.0))
    big.foreach { case (_, _, w, _, _, tau, wEst) =>
      assert(wEst === math.max(w.toDouble, tau))
    }
    // small stratum (≤ k rows): the whole stratum, τ = 0, w_est exact
    val small = out.filter(_._1 == "small")
    assert(small.length === 3)
    assert(small.forall(r => r._6 === 0.0 && r._7 === r._3.toDouble))
    // priorities strictly ordered within the rank order
    big.sortBy(_._5).map(_._4).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b); case _ => ()
    }
    // layout independence: bit-identical output on any partitioning
    assert(run(df.repartition(13)).sortBy(r => (r._1, r._5)).toSeq ===
      out.sortBy(r => (r._1, r._5)).toSeq)
    // zero/null weights never sampled
    val withBad = df.unionByName(Seq(("big", 900L, 0L)).toDF("src", "id", "w"))
    assert(!run(withBad).exists(_._2 == 900L))
    // DLT unbiasedness sanity: Σ w_est over the sample estimates Σ w;
    // averaged over seeds the estimate must converge on the truth
    val trueSum = rows.filter(_._1 == "big").map(_._3).sum.toDouble
    val ests = (0 until 30).map { s =>
      run(df, seed = s"seed$s").filter(_._1 == "big").map(_._7).sum
    }
    val mean = ests.sum / ests.length
    assert(math.abs(mean - trueSum) / trueSum < 0.15,
      s"mean estimate $mean vs true $trueSum")
  }

  test("hashBucket: null keys share one deliberate sentinel bucket, not hash-of-nothing") {
    val df = (Seq.fill(4)(None: Option[Long]) ++ Seq(Some(1L), Some(2L)))
      .toDF("k")
    val buckets = df.select(Sampling.hashBucket(col("k")).as("b"))
      .collect().map(_.getLong(0))
    // all null keys co-locate (null is one key)...
    assert(buckets.take(4).distinct.length === 1)
    // ...but NOT in the bucket xxhash64(seed) alone would give — the raw
    // hash skips null inputs, so without the sentinel a null key would
    // collide with the hash-of-nothing value
    val hashOfNothing = df.limit(1)
      .select(pmod(xxhash64(lit(42L)), lit(1000000L)).as("b"))
      .head().getLong(0)
    assert(buckets.head !== hashOfNothing)
    // non-null keys are unaffected by the sentinel branch: same value as
    // the raw xxhash64 chain
    val raw = df.filter(col("k").isNotNull)
      .select(col("k"), pmod(xxhash64(lit(42L), col("k")), lit(1000000L)).as("raw"),
        Sampling.hashBucket(col("k")).as("b"))
      .collect()
    raw.foreach(r => assert(r.getLong(1) === r.getLong(2)))
  }

  test("groupAwareSplit: a group never straddles splits; split = the rep's per-key split") {
    val rows = Seq(
      ("A", 10L), ("A", 11L), ("A", 12L),
      ("B", 3L), ("B", 4L),
      ("C", 7L))
    val tagged = Sampling.groupAwareSplit(rows.toDF("g", "id"),
      col("g"), col("id"), Seq(0.5, 0.5), Seq("x", "y"))
    val byGroup = tagged.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._3).distinct.toSeq }
    assert(byGroup.values.forall(_.length === 1)) // no leakage
    // the group's split is exactly assignSplit(min-id-as-string)
    val expect = Seq("A" -> "10", "B" -> "3", "C" -> "7").toDF("g", "rep")
      .select(col("g"), Sampling.assignSplit(col("rep"), Seq(0.5, 0.5),
        Seq("x", "y")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    byGroup.foreach { case (g, ss) => assert(ss.head === expect(g)) }
  }

  test("groupAwareSplit: null groups are singletons keyed by their own id, and spread") {
    val rows = (0L until 200L).map(i => (null: String, i))
    val tagged = Sampling.groupAwareSplit(rows.toDF("g", "id"),
      col("g"), col("id"), Seq(0.5, 0.5), Seq("x", "y"))
    val splits = tagged.collect().map(_.getString(2)).distinct.sorted
    assert(splits === Array("x", "y")) // NOT one mega-group
    // and each row matches its own-id assignment
    val own = rows.toDF("g", "id")
      .select(col("id"), Sampling.assignSplit(col("id").cast("string"),
        Seq(0.5, 0.5), Seq("x", "y")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    tagged.collect().foreach(r => assert(r.getString(2) === own(r.getLong(1))))
  }

  test("groupAwareSplit: layout-independent; collision-checked tag") {
    val rows = (0L until 1000L).map(i => (s"g${i % 37}", i))
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.groupAwareSplit(df, col("g"), col("id"),
          Seq(0.8, 0.2), Seq("train", "test"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .toSet
    val df = rows.toDF("g", "id")
    assert(run(df) === run(df.repartition(17)))
    intercept[IllegalArgumentException] {
      Sampling.groupAwareSplit(df.withColumn("split", lit("boom")),
        col("g"), col("id"), Seq(1.0), Seq("all"))
    }
  }

  test("postStratify: hand reweighting incl. pop-only and sample-only strata") {
    import spark.implicits._
    val sample = Seq(("a", 10L), ("a", 20L), ("b", 30L), ("d", 50L))
      .toDF("s", "v")
    val pop = Seq(("a", 100L), ("b", 300L), ("c", 600L))
      .toDF("stratum", "pop_n")
    val got = Sampling.postStratify(sample, col("s"), col("v"), pop)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("a", "b", "c", "d"))
    // naive mean over ALL sampled rows: 110/4
    assert(got("a").getLong(6) === 27500000L)
    // post-stratified: (100·30e6/2 + 300·30e6/1) / 400 — d has no pop,
    // c has no sample; N_rep = 400
    assert(got("a").getLong(7) === 26250000L)
    assert(got("a").getLong(8) === 400000L) // pop covered 400/1000
    assert(got("a").getLong(5) === 500000L)  // weight (100/400)/(2/4)
    assert(got("b").getLong(5) === 3000000L) // (300/400)/(1/4)
    assert(got("c").isNullAt(1) && got("c").isNullAt(4) && got("c").isNullAt(5))
    assert(got("d").isNullAt(3) && got("d").isNullAt(5))
    intercept[IllegalArgumentException] {
      Sampling.postStratify(sample, col("s"), col("v"),
        pop.withColumnRenamed("pop_n", "count"))
    }
  }

  test("postStratify: representative sample is a fixed point; layout-proof") {
    import spark.implicits._
    // sample shares == population shares -> post mean == naive mean
    val sample = (0 until 200).map(i =>
      (if (i % 4 == 0) "x" else "y", (i % 31).toLong)).toDF("s", "v")
    val pop = Seq(("x", 250L), ("y", 750L)).toDF("stratum", "pop_n")
    val r = Sampling.postStratify(sample, col("s"), col("v"), pop)
      .collect().head
    // weights are exactly 1e6 when shares line up
    assert(Sampling.postStratify(sample, col("s"), col("v"), pop)
      .collect().forall(_.getLong(5) === 1000000L))
    assert(math.abs(r.getLong(7) - r.getLong(6)) <= 1L) // truncation only
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.postStratify(d, col("s"), col("v"), pop)
        .collect().map(_.toSeq).toSeq
    assert(run(sample) === run(sample.repartition(7)))
  }

  test("poissonBootstrap: constant corpus gives exact means and zero variance") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, 42L)).toDF("id", "v")
    val got = Sampling.poissonBootstrap(df, col("id"), col("v"), reps = 8)
      .collect()
    assert(got.length === 8)
    assert(got.map(_.getInt(0)).toSeq === (0 until 8))
    // every replicate mean is exactly 42e6 (weights cancel), so var = 0
    got.foreach { r =>
      assert(r.getLong(3) === 42000000L)
      assert(r.getLong(4) === 8L && r.getLong(5) === 42000000L)
      assert(r.getLong(6) === 0L)
    }
  }

  test("poissonBootstrap: deterministic, seed-sensitive, layout-independent") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, (i % 97).toLong)).toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame, seed: String) =
      Sampling.poissonBootstrap(d, col("id"), col("v"), 6, seed)
        .collect().map(_.toSeq).toSeq
    val a = run(df, "s1")
    assert(a === run(df.repartition(13), "s1"))
    assert(a !== run(df, "s2"))
    // Poisson(1) weights: n_eff should be near n (mean weight 1)
    val nEff = a.map(_(1).asInstanceOf[Long])
    assert(nEff.forall(e => e > 350 && e < 650))
    // replicate means stay inside the value range; variance non-negative
    a.foreach { r =>
      val m = r(3).asInstanceOf[Long]
      assert(m >= 0L && m <= 96000000L)
      assert(r(6).asInstanceOf[Long] >= 0L)
    }
  }

  test("randomizationTest: planted separation is extreme, null is typical") {
    import spark.implicits._
    // A rows worth ~1000, B rows worth ~10: shuffling can't reproduce
    // that gap -> p at the add-one floor 1/(n_valid+1)
    val strong = (0 until 400).map(i =>
      (i.toLong, i % 2 == 0, if (i % 2 == 0) 1000L + i % 3 else 10L))
      .toDF("id", "a", "v")
    val s = Sampling.randomizationTest(strong, col("id"), col("a"),
      col("v"), reps = 40).collect().head
    assert(s.getLong(6) === 40L)             // every rep valid
    assert(s.getLong(7) === 0L)              // none as extreme
    assert(s.getLong(8) === 1000000L / 41L)  // add-one floor
    // labels independent of values: the observed gap is typical
    val nullCase = (0 until 400).map(i =>
      (i.toLong, i % 2 == 0, (i % 7).toLong)).toDF("id", "a", "v")
    val p = Sampling.randomizationTest(nullCase, col("id"), col("a"),
      col("v"), reps = 40).collect().head.getLong(8)
    assert(p > 200000L, s"typical gap should not look significant: $p")
  }

  test("randomizationTest: one-sided input NULL; negatives drop visibly; layout-proof") {
    import spark.implicits._
    val oneSided = (0 until 20).map(i => (i.toLong, true, 5L))
      .toDF("id", "a", "v")
    val r = Sampling.randomizationTest(oneSided, col("id"), col("a"),
      col("v"), reps = 8).collect().head
    assert(r.isNullAt(4) && r.isNullAt(8)) // t_obs, p both NULL
    val withNeg = (0 until 30).map(i =>
      (i.toLong, i % 2 == 0, if (i == 7) -4L else (i % 5).toLong))
      .toDF("id", "a", "v")
    val d = Sampling.randomizationTest(withNeg, col("id"), col("a"),
      col("v"), reps = 8).collect().head
    assert(d.getLong(1) === 1L && d.getLong(0) === 29L)
    assert(d.toSeq === Sampling.randomizationTest(withNeg.repartition(9),
      col("id"), col("a"), col("v"), reps = 8).collect().head.toSeq)
  }

  test("effectiveSampleSize: uniform weights keep full power, skew destroys it") {
    import spark.implicits._
    val uniform = (1 to 100).map(_ => Tuple1(1000000L)).toDF("w")
    val u = Sampling.effectiveSampleSize(uniform, col("w"))
      .collect().head
    assert(u.getLong(0) === 100L)
    assert(u.getLong(3) === 100000000L) // ESS = n exactly
    assert(u.getLong(4) === 1000000L)   // deff = 1 exactly
    // one giant weight: ESS collapses toward 1
    val skew = (Tuple1(1000000000L) +: (1 to 99).map(_ => Tuple1(1000L)))
      .toDF("w")
    val s = Sampling.effectiveSampleSize(skew, col("w")).collect().head
    assert(s.getLong(3) < 2000000L, s"ESS should collapse: ${s.getLong(3)}")
    assert(s.getLong(4) > 50000000L)
  }

  test("effectiveSampleSize: non-positive weights drop visibly; empty NULLs; layout-proof") {
    import spark.implicits._
    val df = Seq(5000000L, 5000000L, 0L, -7L).map(Tuple1(_)).toDF("w")
    val r = Sampling.effectiveSampleSize(df, col("w")).collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getLong(3) === 2000000L) // two equal weights: ESS = 2
    assert(r.toSeq === Sampling.effectiveSampleSize(df.repartition(3),
      col("w")).collect().head.toSeq)
    val none = df.filter(col("w") > 99999999L)
    val e = Sampling.effectiveSampleSize(none, col("w")).collect().head
    assert(e.getLong(0) === 0L && e.isNullAt(3) && e.isNullAt(4))
  }
}
