package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class ProfileSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  test("profile: one row per column with exact stats, nulls counted, type-aware fields") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(2.5), Some("ab")),
      (2L, None, Some("abcd")),
      (2L, Some(7.5), None)
    ).toDF("id", "score", "tag")
    val rep = Profile.profile(df, Seq("id", "score", "tag"))
      .collect().map(r => r.getString(0) -> r).toMap
    val id = rep("id")
    assert(id.getLong(1) === 3 && id.getLong(2) === 0 && id.getLong(3) === 2)
    assert(id.getDouble(4) === 1.0 && id.getDouble(5) === 2.0)
    assert(id.isNullAt(6)) // avg_len only for strings
    val score = rep("score")
    assert(score.getLong(2) === 1 && score.getLong(3) === 2)
    assert(score.getDouble(4) === 2.5 && score.getDouble(5) === 7.5)
    val tag = rep("tag")
    assert(tag.getLong(2) === 1 && tag.getLong(3) === 2)
    assert(tag.isNullAt(4) && tag.isNullAt(5))
    assert(tag.getDouble(6) === 3.0) // (2+4)/2
  }

  test("profile runs as ONE aggregate over one scan") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val plan = Profile.profile(df, Seq("id", "s")).queryExecution.optimizedPlan
    // multiple exact countDistincts rewrite to Expand + a two-level
    // aggregate — that's still ONE pass; the claim to pin is one LEAF
    // (no per-column self-scans or joins)
    assert(plan.collectLeaves().size === 1, s"expected one scan, got:\n$plan")
  }

  test("histogram: exact bucket counts, clamping, conservation") {
    import spark.implicits._
    val df = (0 until 100).map(_.toDouble).toDF("x")
    val h = Profile.histogram(df, $"x", 0.0, 100.0, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(h === Map(0L -> 25L, 1L -> 25L, 2L -> 25L, 3L -> 25L))
    // out-of-range values clamp into the end buckets; counts conserve
    val h2 = Profile.histogram(df, $"x", 25.0, 75.0, 2).collect()
    assert(h2.map(_.getLong(3)).sum === 100)
    assert(h2.find(_.getLong(0) === 0L).get.getLong(3) === 50) // 0..49
    assert(h2.find(_.getLong(0) === 1L).get.getLong(3) === 50) // 50..99
  }

  test("equiDepthBins: populations differ by at most one, order-aligned") {
    import spark.implicits._
    val df = (0 until 103).map(i => ((i * 31) % 103, i)).toDF("v", "id")
      .repartition(7)
    val binned = Profile.equiDepthBins(df, Seq($"v", $"id"), 10)
      .select("v", "bin").collect().map(r => (r.getInt(0), r.getInt(1)))
    val sizes = binned.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.keySet === (0 until 10).toSet)
    assert(sizes.values.max - sizes.values.min <= 1)
    // bins are monotone in value: every bin-b value <= every bin-(b+1) value
    val byBin = binned.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    for (b <- 0 until 9) assert(byBin(b).max <= byBin(b + 1).min)
  }

  test("statsByPartition + mergeStats == direct scan, and merges incrementally") {
    import spark.implicits._
    val df = (1 to 100).map(i => (s"p${i % 5}", if (i % 10 == 0) None else Some(i.toLong)))
      .toDF("p", "v")
    val partials = Profile.statsByPartition(df, $"p", $"v")
    assert(partials.count() === 5)
    val merged = Profile.mergeStats(partials).collect().head
    val direct = df.agg(count(lit(1)), count($"v"), sum($"v"), min($"v"), max($"v"))
      .collect().head
    assert(merged.toSeq === direct.toSeq)
    // incremental: partials(old) ∪ partials(new day) merges to the full answer
    val old = df.filter($"p" =!= "p0"); val fresh = df.filter($"p" === "p0")
    val viaUnion = Profile.mergeStats(
      Profile.statsByPartition(old, $"p", $"v")
        .unionByName(Profile.statsByPartition(fresh, $"p", $"v"))).collect().head
    assert(viaUnion.toSeq === direct.toSeq)
  }

  test("distinct sketches: merge == direct, bounded error, incremental union") {
    import spark.implicits._
    val df = (0 until 20000).map(i => (s"d${i % 10}", (i * 7919L) % 3001)).toDF("d", "u")
    def est(p: org.apache.spark.sql.DataFrame) =
      Profile.mergeDistinctEstimate(p).head.getLong(0)
    val partials = Profile.distinctSketchByPartition(df, $"d", $"u")
    val direct = df.agg(hll_sketch_estimate(hll_sketch_agg($"u", lit(12))))
      .head.getLong(0)
    assert(est(partials) === direct) // sketch-union exactness
    assert(math.abs(est(partials) - 3001.0) / 3001.0 < 0.05)
    // layout independence + incremental union of old and new partials
    val p2 = Profile.distinctSketchByPartition(df.repartition(17), $"d", $"u")
    assert(est(p2) === direct)
    val old = Profile.distinctSketchByPartition(df.filter($"d" =!= "d0"), $"d", $"u")
    val fresh = Profile.distinctSketchByPartition(df.filter($"d" === "d0"), $"d", $"u")
    assert(est(old.unionByName(fresh)) === direct)
  }

  test("winsorize clips to exact order statistics per group") {
    import spark.implicits._
    // group a: 1..20 → p10 bound = value at ceil(0.1*20)=2, p90 at 18
    val df = ((1 to 20).map(v => ("a", v, v)) ++ Seq(("b", 100, 21)))
      .toDF("g", "v", "id")
    val out = Profile.winsorize(df, $"g", $"v", 0.1, 0.9)
      .select("g", "v", "clipped")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    val a = out.filter(_._1 == "a").map(x => x._2 -> x._3).toMap
    assert(a(1) === 2)   // below lo → clipped up
    assert(a(2) === 2); assert(a(10) === 10); assert(a(18) === 18)
    assert(a(19) === 18); assert(a(20) === 18) // above hi → clipped down
    // singleton group: lo = hi = the value itself
    assert(out.find(_._1 == "b").get._3 === 100)
  }

  test("winsorize: nulls stay null and don't shift positions") {
    import spark.implicits._
    val df = (Seq(Some(1), Some(2), Some(3), Some(4), Some(5),
      Some(6), Some(7), Some(8), Some(9), Some(10), None, None)
      .zipWithIndex.map { case (v, i) => ("g", v, i) }).toDF("g", "v", "id")
    val out = Profile.winsorize(df, $"g", $"v", 0.2, 0.8)
      .select("v", "clipped")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)),
        if (r.isNullAt(1)) None else Some(r.getInt(1))))
    assert(out.filter(_._1.isEmpty).forall(_._2.isEmpty))
    // bounds from the 10 non-null values: lo = ceil(.2*10)=2, hi = 8
    val m = out.collect { case (Some(v), Some(c)) => v -> c }.toMap
    assert(m(1) === 2 && m(2) === 2 && m(8) === 8 && m(9) === 8 && m(10) === 8)
  }

  test("quantileNormalize: endpoints 0 and 1, equal steps, layout-stable") {
    import spark.implicits._
    val df = Seq((10L, 5.0), (20L, 1.0), (30L, 3.0), (40L, 2.0), (50L, 4.0))
      .toDF("id", "score")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.quantileNormalize(d, Seq(col("score"), col("id")))
        .select("id", "rank", "quantile")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val out = run(df)
    assert(out === Set((20L, 1L, 0.0), (40L, 2L, 0.25), (30L, 3L, 0.5),
      (50L, 4L, 0.75), (10L, 5L, 1.0)))
    assert(run(df.repartition(7)) === out)
  }

  test("correlationMatrix: exact r for hand-checked series") {
    import spark.implicits._
    // y = 2x (r = 1), z = -x (r = -1), w constant (r undefined → null)
    val df = Seq((1.0, 2.0, -1.0, 5.0), (2.0, 4.0, -2.0, 5.0),
      (3.0, 6.0, -3.0, 5.0), (4.0, 8.0, -4.0, 5.0))
      .toDF("x", "y", "z", "w")
    val out = Profile.correlationMatrix(df, Seq("x", "y", "z", "w"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(("x", "y")) === Some(1.0))
    assert(out(("x", "z")) === Some(-1.0))
    assert(out(("y", "z")) === Some(-1.0))
    assert(out(("x", "w")) === None)
    assert(out.size === 6)
  }

  test("correlationMatrix matches built-in corr to float tolerance, layout-stable") {
    import spark.implicits._
    // keep every value 2-decimal-quantized — the operator's contract
    // (x·0.5 stays on the cent grid because x sits on the half grid)
    val rows = (0 until 500).map { i =>
      val x = (i % 97).toDouble + 0.5
      val y = ((i * 31) % 89).toDouble - x * 0.5
      (x, y)
    }
    val df = rows.toDF("x", "y")
    def r(d: org.apache.spark.sql.DataFrame): Double =
      Profile.correlationMatrix(d, Seq("x", "y")).head().getDouble(3)
    val mine = r(df)
    val ref = df.agg(corr(col("x"), col("y"))).head().getDouble(0)
    assert(math.abs(mine - ref) < 1e-9)
    // exact determinism (bit-level) across layouts — the whole point
    assert(java.lang.Double.doubleToLongBits(r(df.repartition(17))) ===
      java.lang.Double.doubleToLongBits(mine))
  }

  test("quantileNormalize: single row maps to 0.0, ties broken by the tiebreaker") {
    import spark.implicits._
    val one = Profile.quantileNormalize(Seq((1L, 9.9)).toDF("id", "score"),
      Seq(col("score"), col("id"))).select("quantile").as[Double].collect()
    assert(one.toSeq === Seq(0.0))
    val tied = Profile.quantileNormalize(
      Seq((2L, 1.0), (1L, 1.0), (3L, 1.0)).toDF("id", "score"),
      Seq(col("score"), col("id")))
      .select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tied === Set((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("driftChi2: identical slices score low, shifted slices high, empty ref bin finite") {
    import spark.implicits._
    val base = (0 until 200).map(i => (i % 100).toDouble).toDF("v")
    val shifted = (0 until 200).map(i => (i % 100).toDouble + 50.0).toDF("v")
    def chi2(cur: org.apache.spark.sql.DataFrame,
             ref: org.apache.spark.sql.DataFrame): Long =
      Profile.driftChi2(cur, ref, col("v"), 0.0, 200.0, nb = 8)
        .head().getLong(4)
    val same = chi2(base, base)
    val moved = chi2(shifted, base)
    assert(moved > same * 10, s"shift must dominate: same=$same moved=$moved")
    // cur mass in bins the reference never saw → finite large terms
    val rows = Profile.driftChi2(shifted, base, col("v"), 0.0, 200.0, nb = 8)
      .orderBy("bin").collect()
    assert(rows.forall(r => r.getLong(3) >= 0L))
    val emptyRefOccupied = rows.filter(r => r.getLong(2) == 0L && r.getLong(1) > 0L)
    assert(emptyRefOccupied.nonEmpty)
    assert(emptyRefOccupied.forall(_.getLong(3) > 0L))
    // layout independence (integer ppm everywhere)
    assert(chi2(shifted.repartition(13), base.repartition(7)) === moved)
  }

  test("madZscore: hand series — outlier scored, median robust to it") {
    import spark.implicits._
    // g: 1..9 plus outlier 1000 → med = position ⌈10/2⌉ = 5th value = 5
    // devs: 4,3,2,1,0,1,2,3,4,995 → mad = 5th sorted dev = 2
    val df = ((1 to 9).map(v => ("g", v)) :+ (("g", 1000))).toDF("grp", "v")
    val out = Profile.madZscore(df, col("grp"), col("v"))
      .collect().map(r => r.getInt(1) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), Option(r.get(5)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out(5) === ((5, 0, 2, Some(0.0))))
    assert(out(1) === ((5, 4, 2, Some(2.0))))
    assert(out(1000) === ((5, 995, 2, Some(497.5))))
  }

  test("madZscore: zero MAD and null values yield null z") {
    import spark.implicits._
    val df = Seq(("a", Some(3)), ("a", Some(3)), ("a", Some(3)), ("a", Some(9)),
      ("b", None: Option[Int]), ("b", Some(1)), ("b", Some(2)), ("b", Some(5)))
      .toDF("grp", "v")
    val rows = Profile.madZscore(df, col("grp"), col("v")).collect()
    // group a: med 3, devs {0,0,0,6} → mad 0 → all z null
    rows.filter(_.getString(0) == "a").foreach(r => assert(r.isNullAt(5)))
    // group b: null value row has null z; med over non-nulls = 2
    val bNull = rows.find(r => r.getString(0) == "b" && r.isNullAt(1)).get
    assert(bNull.isNullAt(5))
    val b5 = rows.find(r => r.getString(0) == "b" && !r.isNullAt(1) &&
      r.getInt(1) == 5).get
    assert(b5.getInt(2) === 2) // med
  }

  test("modeByGroup: most frequent wins, ties to lowest value, shares truncate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("g1", "b"), ("g1", "b"), ("g1", "a"),
      ("g2", "y"), ("g2", "x"),           // tie → x
      ("g3", null), ("g3", "only")).toDF("g", "v")
    val out = Profile.modeByGroup(df, col("g"), col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(out("g1") === (("b", 2L, 2L, 3L, 666666L)))
    assert(out("g2") === (("x", 1L, 2L, 2L, 500000L)))
    assert(out("g3") === (("only", 1L, 1L, 1L, 1000000L))) // null ignored
  }

  test("modeByGroup is layout-independent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = (0L until 5000L).map(i => (s"g${i % 13}", s"v${(i * 31) % 17}"))
      .toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.modeByGroup(d, col("g"), col("v")).collect()
        .map(_.toSeq).toSeq
    assert(run(df) === run(df.repartition(17)))
  }

  test("patternProfile: run-collapsed signatures, deterministic example, top-k order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq("AB-12", "XY-99", "Q-7", "abc", "zz", "a1b2", "AB-12")
      .toDF("v")
    val out = Profile.patternProfile(df, col("v"), topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq
    // 'A-9' covers AB-12, XY-99, Q-7 (runs collapse); example = min
    assert(out.head === (("A-9", 4L, "AB-12")))
    assert(out.map(_._1).toSet === Set("A-9", "a", "a9a9"))
    // top-k order is (n DESC, signature)
    assert(out === out.sortBy(t => (-t._2, t._1)))
  }

  test("histogramEmd: identical→0, one-bin shift→1e6, order sensitivity beats chi2 blindness") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val a = (0 until 100).map(_ % 10).map(_.toLong).toDF("v") // uniform 0..9
    val same = Profile.histogramEmd(a, a, col("v"), 0L, 10L, 10).collect().head
    assert((same.getLong(0), same.getLong(1), same.getLong(2)) ===
      ((100L, 100L, 0L)))
    // b = a shifted right by one bin: each of 10 boundaries off by 1e5
    val b = (0 until 100).map(i => (i % 10 + 1).toLong).toDF("v")
    val shift = Profile.histogramEmd(a, b, col("v"), 0L, 11L, 11)
      .collect().head
    // unit shift of the whole mass = 1 bin of work: Σ|cumΔ| ≈ 1e6·(1 bin)
    assert(shift.getLong(2) >= 900000L && shift.getLong(2) <= 1000010L)
    // far shift moves more earth than near shift (the metric chi2 lacks)
    val far = (0 until 100).map(i => (i % 10 + 5).toLong).toDF("v")
    val emdFar = Profile.histogramEmd(a, far, col("v"), 0L, 15L, 15)
      .collect().head.getLong(2)
    val emdNear = Profile.histogramEmd(a, b, col("v"), 0L, 15L, 15)
      .collect().head.getLong(2)
    assert(emdFar > emdNear * 3)
  }

  test("histogramEmd clamps outliers; empty side gives full mass distance; layout-proof") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val a = Seq(-100L, 5L, 900L).toDF("v") // clamp to bins 0 and last
    val r = Profile.histogramEmd(a, a, col("v"), 0L, 10L, 10).collect().head
    assert(r.getLong(2) === 0L)
    val big1 = (0L until 5000L).map(i => (i * 7) % 100).toDF("v")
    val big2 = (0L until 4000L).map(i => (i * 13) % 90 + 5).toDF("v")
    def run(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      Profile.histogramEmd(x, y, col("v"), 0L, 100L, 20).collect()
        .head.toSeq
    assert(run(big1, big2) ===
      run(big1.repartition(17), big2.repartition(5)))
  }

  test("minMaxScale: exact ppm positions, degenerate group NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "g", 10L), (2L, "g", 55L), (3L, "g", 100L),
      (4L, "flat", 7L), (5L, "flat", 7L)).toDF("id", "grp", "v")
    val out = Profile.minMaxScale(df, col("id"), col("grp"), col("v"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(out(1L) === Some(0L))
    assert(out(2L) === Some(500000L))
    assert(out(3L) === Some(1000000L))
    assert(out(4L) === None && out(5L) === None)
  }

  test("joinCardinality: exact product sum equals the real join size; hot keys surface") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val a = (Seq.fill(100)("hot") ++ Seq("w", "w", "x", "onlyA")).toDF("k")
    val b = (Seq.fill(50)("hot") ++ Seq("w", "x", "onlyB")).toDF("k")
    val out = Profile.joinCardinality(a, col("k"), b, col("k"), topK = 2)
      .collect()
    val summary = out.head
    assert(summary.isNullAt(0))
    assert(summary.getLong(3) === 3L)         // hot, w, x
    assert(summary.getLong(4) === 5003L)      // 5000 + 2 + 1
    // the true join size is exactly the forecast
    assert(a.join(b, "k").count() === 5003L)
    val tops = out.tail.map(r => (r.getString(0), r.getLong(5))).toSeq
    assert(tops.toSet === Set(("hot", 5000L), ("w", 2L)))
  }

  test("joinCardinality: disjoint inputs report an explicit zero; layout-proof") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val z = Profile.joinCardinality(Seq("a").toDF("k"), col("k"),
      Seq("b").toDF("k"), col("k")).collect()
    assert(z.length === 1 && z.head.getLong(3) === 0L &&
      z.head.getLong(4) === 0L)
    val a = (0L until 4000L).map(i => s"k${(i * 7) % 50}").toDF("k")
    val b = (0L until 3000L).map(i => s"k${(i * 11) % 70}").toDF("k")
    def run(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      Profile.joinCardinality(x, col("k"), y, col("k")).collect()
        .map(_.toSeq).toSeq
    assert(run(a, b) === run(a.repartition(17), b.repartition(5)))
  }

  test("concentrationCurve: hand deciles on a skewed distribution") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 10 keys, masses 100, 50, 10×8 → total 230
    val rows = Seq(("k0", 100L), ("k1", 50L)) ++
      (2 to 9).map(i => (s"k$i", 10L))
    val out = Profile.concentrationCurve(
        rows.toDF("k", "w"), col("k"), col("w"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // decile 1 = top 1 key: 100/230 = 434782 ppm
    assert(out(1) === ((1L, 100L, 434782L)))
    assert(out(2) === ((2L, 150L, 652173L)))
    assert(out(3) === ((3L, 160L, 695652L)))
    assert(out(10) === ((10L, 230L, 1000000L)))
  }

  test("concentrationCurve: K < 10 omits empty deciles; uniform mass is linear; layout-proof") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tiny = Profile.concentrationCurve(
      Seq(("a", 5L), ("b", 5L)).toDF("k", "w"),
      org.apache.spark.sql.functions.col("k"),
      org.apache.spark.sql.functions.col("w")).collect()
    // boundaries: floor(d·2/10) ≥ 1 only from decile 5 up
    assert(tiny.map(_.getInt(0)).toSeq === (5 to 10).toSeq)
    val uniform = (0 until 100).map(i => (s"k$i", 7L)).toDF("k", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.concentrationCurve(d, col("k"), col("w")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val u = run(uniform)
    // top d·10 of 100 uniform keys hold exactly d·10% of mass
    assert(u.map(t => (t._1, t._4)) ===
      (1 to 10).map(d => (d, d * 100000L)))
    assert(u === run(uniform.repartition(17)))
  }

  test("contingency: hand expectations and chi2 cells; independence gives chi2 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // perfectly independent 2x2: rows {r1:40, r2:40}, cols {c1:40, c2:40}
    val indep = (Seq.fill(20)(("r1", "c1")) ++ Seq.fill(20)(("r1", "c2")) ++
      Seq.fill(20)(("r2", "c1")) ++ Seq.fill(20)(("r2", "c2")))
      .toDF("r", "c")
    val iOut = Profile.contingency(indep, col("r"), col("c")).collect()
    assert(iOut.length === 4)
    assert(iOut.forall(r => r.getLong(2) === 20L &&
      r.getLong(3) === 20000L && r.getLong(4) === 0L))
    // skewed cell: obs 30 vs exp 20 in one cell of an 80-row table
    val skew = (Seq.fill(30)(("r1", "c1")) ++ Seq.fill(10)(("r1", "c2")) ++
      Seq.fill(10)(("r2", "c1")) ++ Seq.fill(30)(("r2", "c2")))
      .toDF("r", "c")
    val sOut = Profile.contingency(skew, col("r"), col("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    // every marginal is 40, grand 80 → exp = 20 (milli 20000) everywhere;
    // chi2 cell = (30−20)²/20 = 5 → micro 5_000_000
    assert(sOut(("r1", "c1")) === ((20000L, 5000000L)))
    assert(sOut(("r1", "c2")) === ((20000L, 5000000L)))
  }

  test("contingency: nulls on either axis drop; layout independence") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", Some("x")), ("a", None), (null, Some("x")),
      ("b", Some("y"))).toDF("r", "c")
    val out = Profile.contingency(df, col("r"), col("c")).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("a", "x"), ("b", "y")))
    val big = (0L until 6000L)
      .map(i => (s"r${i % 5}", s"c${(i * 31) % 7}")).toDF("r", "c")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.contingency(d, col("r"), col("c")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    assert(run(big) === run(big.repartition(17)))
  }

  // --- trimmed mean ---

  test("trimmedMean: outliers trimmed by rank, exact truncating means") {
    import spark.implicits._
    val rows = Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L),
      ("g", 4L, 4L), ("g", 1000L, 5L))
    val out = Profile.trimmedMean(rows.toDF("g", "v", "id"), col("g"),
        col("v"), col("id"), trimPpm = 200000L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).head
    // n=5, t=1 → kept ranks 2..4 = {2,3,4}: trimmed mean 3; raw 1010/5=202
    assert(out === ((5L, 1L, 3L, 202L, 3L)))
  }

  test("trimmedMean: 10% of a small group truncates to zero trim (mean unchanged)") {
    import spark.implicits._
    val rows = (1L to 5L).map(v => ("g", v, v))
    val out = Profile.trimmedMean(rows.toDF("g", "v", "id"), col("g"),
        col("v"), col("id"))
      .collect().head
    assert(out.getLong(2) === 0L) // (5·1e5) DIV 1e6 = 0
    assert(out.getLong(4) === out.getLong(5)) // nothing trimmed
  }

  test("trimmedMean: ties at the cut resolve by tiebreak, layout-independent") {
    import spark.implicits._
    val rows = (0L until 3000L).map(i =>
      (s"g${i % 5}", (i * 37) % 100, i))
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.trimmedMean(d, col("g"), col("v"), col("id"))
        .collect().map(_.toSeq).toSeq
    val df = rows.toDF("g", "v", "id")
    assert(run(df) === run(df.repartition(13)))
  }

  test("psi: identical distributions → 0; planted shift detected; symmetry") {
    import spark.implicits._
    val a = (0 until 1000).map(i => Tuple1((i % 100).toDouble)).toDF("v")
    val same = Profile.psi(a, a, col("v"), 0, 100, 10).collect()
    assert(same.forall(_.getLong(3) === 0L))
    assert(same.head.getLong(4) === 0L)
    // shifted current: mass moves up 30 → PSI well above the 0.25 alarm
    val b = (0 until 1000).map(i => Tuple1((i % 100 * 0.4).toDouble)).toDF("v")
    val drift = Profile.psi(b, a, col("v"), 0, 100, 10).collect()
    assert(drift.head.getLong(4) > 250000000L, s"psi=${drift.head.getLong(4)}")
    // PSI is symmetric up to per-term quantization (terms negate)
    val rev = Profile.psi(a, b, col("v"), 0, 100, 10).collect()
    assert(math.abs(drift.head.getLong(4) - rev.head.getLong(4)) <= 10L)
  }

  test("psi: empty-bin smoothing finite; layout-independent") {
    import spark.implicits._
    val cur = (0 until 500).map(i => Tuple1((i % 30).toDouble)).toDF("v")
    val ref = (0 until 500).map(i => Tuple1((i % 90).toDouble)).toDF("v")
    def run(c: org.apache.spark.sql.DataFrame) =
      Profile.psi(c, ref, col("v"), 0, 100, 10)
        .collect().map(_.toSeq).toSeq
    val r = run(cur)
    assert(r === run(cur.repartition(7)))
    assert(r.forall(x => math.abs(x(3).asInstanceOf[Long]) < 10000000000L))
  }

  test("columnEntropy: constant → 0, uniform → ln k, null is a value") {
    import spark.implicits._
    val df = (0 until 100).map(i => (
      "const",
      s"u${i % 4}",
      if (i < 90) None else Some("x"))) // 90% null column
      .toDF("c1", "c2", "c3")
    val got = Profile.columnEntropy(df, Seq("c1", "c2", "c3"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got("c1") === ((100L, 0L, 1L, 0L, 0L)))
    // uniform over 4: entropy = ln 4, each term 0.25·ln4
    val ln4 = math.floor(0.25 * math.log(0.25) * -1e9 + 0.5).toLong * 4
    assert(got("c2")._4 === ln4)
    assert(got("c2")._5 === math.floor(math.log(4.0) * 1e9 + 0.5).toLong)
    // null-heavy column: NULL is one of 2 values, 90 nulls counted
    assert(got("c3")._2 === 90L && got("c3")._3 === 2L)
    assert(got("c3")._4 > 0L && got("c3")._4 < got("c2")._4)
  }

  test("weightedQuantile: hand table — weight mass, not row count, decides") {
    import spark.implicits._
    // values 1..4 with weights 1,1,1,7 → W=10; q50 rank=5 → value 4
    // (unweighted median would be 2); q10 rank=1 → value 1
    val df = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 1L),
      ("g", 4L, 7L)).toDF("grp", "v", "w")
    val got = Profile.weightedQuantile(df, col("grp"), col("v"), col("w"),
        Seq(100000L, 500000L, 1000000L))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === Seq(
      (100000L, 4L, 10L, 1L, 1L),    // ⌈0.1·10⌉=1 → v=1
      (500000L, 4L, 10L, 5L, 4L),    // ⌈0.5·10⌉=5 → v=4
      (1000000L, 4L, 10L, 10L, 4L))) // full mass → max value
  }

  test("weightedQuantile: NULL group is a real slice; zero/NULL weights drop; layout-proof") {
    import spark.implicits._
    val rows: Seq[(Option[String], Long, Long)] =
      (1L to 9L).map(v => (None: Option[String], v, 1L)) ++
        (1L to 9L).map(v => (Some("a"), v, v)) :+
        ((Some("a"), 100L, 0L))       // zero weight: must not shift ranks
    val df = rows.toDF("grp", "v", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.weightedQuantile(d, col("grp"), col("v"), col("w"),
        Seq(500000L)).collect().map(r => (Option(r.getString(0)),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val got = run(df)
    // NULL slice: W=9, rank 5 → v=5; "a": W=45, rank 23 → 1+..+6=21<23≤28 → v=7
    assert(got === Seq((None, 9L, 9L, 5L, 5L),
      (Some("a"), 9L, 45L, 23L, 7L)))
    assert(got === run(df.repartition(7)))
  }

  test("ksDistance: hand CDF gap; identical samples → 0; one-sided → NULL") {
    import spark.implicits._
    // A = {1,2,3,4}, B = {3,4,5,6}: max gap at v=2 (cumA=2, cumB=0)
    // → |2·4 − 0·4| / 16 = 0.5
    val df = (Seq(1L, 2L, 3L, 4L).map(("g", true, _)) ++
      Seq(3L, 4L, 5L, 6L).map(("g", false, _)) ++
      Seq(1L, 2L).map(("same", true, _)) ++
      Seq(1L, 2L).map(("same", false, _)) ++
      Seq(1L, 2L).map(("lone", true, _))).toDF("grp", "sa", "v")
    val got = Profile.ksDistance(df, col("grp"), col("sa"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got === Seq(
      ("g", 4L, 4L, Some(500000L), Some(2L)),
      ("lone", 2L, 0L, None, None),
      ("same", 2L, 2L, Some(0L), Some(1L))))
  }

  test("ksDistance: layout-independent and symmetric in D") {
    import spark.implicits._
    val rows = (0 until 4000).map(i =>
      ("g", i % 2 == 0, ((i * 37) % 97 + (if (i % 2 == 0) 0 else 9)).toLong))
    val df = rows.toDF("grp", "sa", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.ksDistance(d, col("grp"), col("sa"), col("v"))
        .collect().map(_.toSeq).toSeq
    val a = run(df)
    assert(a === run(df.repartition(13)))
    // flipping sides preserves D (|F1−F2| is symmetric)
    val flipped = Profile.ksDistance(df, col("grp"), !col("sa"), col("v"))
      .collect().head
    assert(flipped.getLong(3) === a.head(3))
  }

  test("spearman: monotone nonlinearity scores exactly ±1; midrank ties") {
    import spark.implicits._
    // y = x^3: Pearson < 1 but rank correlation is num/(√n·√n) — the
    // pinned two-sqrt sequence, 1.0 up to one ulp (never past it)
    def rho(r: org.apache.spark.sql.Row): Double =
      r.getLong(2).toDouble /
        (math.sqrt(r.getLong(3).toDouble) * math.sqrt(r.getLong(4).toDouble))
    val cube = (1 to 5).map(i => ("g", i.toLong, (i * i * i).toLong))
      .toDF("grp", "x", "y")
    val rc = Profile.spearman(cube, col("grp"), col("x"), col("y"))
      .collect().head
    assert(rc.getLong(2) === rc.getLong(3) && rc.getLong(3) === rc.getLong(4))
    assert(rc.getDouble(5) === rho(rc) && math.abs(rc.getDouble(5) - 1.0) < 1e-15)
    val anti = (1 to 5).map(i => ("g", i.toLong, -(i * i * i).toLong))
      .toDF("grp", "x", "y")
    val ra = Profile.spearman(anti, col("grp"), col("x"), col("y"))
      .collect().head
    assert(ra.getDouble(5) === rho(ra) && math.abs(ra.getDouble(5) + 1.0) < 1e-15)
    // tied x block gets the average rank: hand moments on doubled ranks
    val tied = Seq(("g", 1L, 3L), ("g", 1L, 4L), ("g", 2L, 5L))
      .toDF("grp", "x", "y")
    val r = Profile.spearman(tied, col("grp"), col("x"), col("y"))
      .collect().head
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((18L, 18L, 24L)))
    assert(r.getDouble(5) ===
      18.0 / (math.sqrt(18.0) * math.sqrt(24.0)))
  }

  test("spearman: constant axis NULL; outlier cannot inflate; layout-proof") {
    import spark.implicits._
    val const = Seq(("g", 1L, 5L), ("g", 2L, 5L)).toDF("grp", "x", "y")
    assert(Profile.spearman(const, col("grp"), col("x"), col("y"))
      .collect().head.isNullAt(5))
    // NULL group is a real slice (null-safe rank join), not a silent drop
    val withNullG = Seq[(Option[String], Long, Long)](
      (None, 1L, 2L), (None, 2L, 4L), (None, 3L, 6L),
      (Some("g"), 1L, 1L)).toDF("grp", "x", "y")
    val rows = Profile.spearman(withNullG, col("grp"), col("x"), col("y"))
      .collect()
    assert(rows.length === 2)
    assert(rows.head.isNullAt(0) && rows.head.getLong(1) === 3L &&
      math.abs(rows.head.getDouble(5) - 1.0) < 1e-15)
    // a consistent monotone outlier changes nothing: moments stay the
    // perfect-correlation triple (num = den_x = den_y)
    val base = (1 to 6).map(i => ("g", i.toLong, i.toLong * 2))
    val withOutlier = (base :+ (("g", 1000000L, 99999999L)))
      .toDF("grp", "x", "y")
    val ro = Profile.spearman(withOutlier, col("grp"), col("x"), col("y"))
      .collect().head
    assert(ro.getLong(2) === ro.getLong(3) && ro.getLong(3) === ro.getLong(4))
    assert(math.abs(ro.getDouble(5) - 1.0) < 1e-15)
    val big = (0 until 500).map(i =>
      (s"g${i % 3}", (i % 37).toLong, ((i * 13) % 41).toLong))
      .toDF("grp", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.spearman(d, col("grp"), col("x"), col("y"))
        .collect().map(_.toSeq).toSeq
    assert(run(big) === run(big.repartition(13)))
  }

  test("qqShift: hand deciles on shifted uniforms; duplicate mass; empty side") {
    import spark.implicits._
    // A = 1..10, B = 11..20, nq=5: r_k = 2k, q_a = 2k, q_b = 2k+10
    val rows = ((1 to 10).map(v => (true, v.toLong)) ++
      (11 to 20).map(v => (false, v.toLong))).toDF("sa", "v")
    val got = Profile.qqShift(rows, col("sa"), col("v"), nq = 5)
      .collect().map(r => (r.getInt(0), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(got === (1 to 5).map(k => (k, 2L * k, 2L * k + 10L, 10L)))
    // duplicated mass: [1,1,1,2] at nq=2 -> median 1, max 2
    val dup = Seq((true, 1L), (true, 1L), (true, 1L), (true, 2L))
      .toDF("sa", "v")
    val d = Profile.qqShift(dup, col("sa"), col("v"), nq = 2)
      .collect().map(r => (r.getInt(0), r.getLong(3))).toSeq
    assert(d === Seq((1, 1L), (2, 2L)))
    // the other side is empty -> NULL q_b and delta, never fake zeros
    val e = Profile.qqShift(dup, col("sa"), col("v"), nq = 2).collect()
    assert(e.forall(r => r.isNullAt(4) && r.isNullAt(5)))
  }

  test("qqShift: layout independence") {
    import spark.implicits._
    val rows = (0 until 2000).map(i =>
      (i % 2 == 0, ((i * 37) % 211 + (if (i % 2 == 0) 0 else 13)).toLong))
      .toDF("sa", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.qqShift(d, col("sa"), col("v"), 10)
        .collect().map(_.toSeq).toSeq
    assert(run(rows) === run(rows.repartition(17)))
  }

  test("mannWhitney: textbook separation, tie credit, tie-corrected variance") {
    import spark.implicits._
    // A={1,2}, B={3,4}: no A above any B -> u2 = 0; T = 0;
    // var = 2*2*(5*4*3)/ (12*4*3) = 5/3; z = (0-4)/(2*sqrt(5/3))
    val sep = Seq(("g", true, 1L), ("g", true, 2L),
      ("g", false, 3L), ("g", false, 4L)).toDF("grp", "sa", "v")
    val a = Profile.mannWhitney(sep, col("grp"), col("sa"), col("v"))
      .collect().head
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4)) ===
      ((2L, 2L, 0L, 0L)))
    assert(a.getDouble(5) === -4.0 / (2.0 * math.sqrt(240.0 / 144.0)))
    // all tied: u2 = 2*(half-credit pairs), variance 0 -> z NULL
    val tied = Seq(("g", true, 1L), ("g", true, 1L), ("g", false, 1L))
      .toDF("grp", "sa", "v")
    val t = Profile.mannWhitney(tied, col("grp"), col("sa"), col("v"))
      .collect().head
    assert(t.getLong(3) === 2L)       // 2U = 2 * (2 pairs * 1/2)
    assert(t.getLong(4) === 24L)      // t=3: 27-3
    assert(t.isNullAt(5))
  }

  test("mannWhitney: side flip mirrors u2 and negates z; one-sided group NULL") {
    import spark.implicits._
    val rows = (0 until 600).map(i =>
      ("g", i % 3 == 0, ((i * 13) % 50 + (if (i % 3 == 0) 4 else 0)).toLong))
    val df = rows.toDF("grp", "sa", "v")
    val a = Profile.mannWhitney(df, col("grp"), col("sa"), col("v"))
      .collect().head
    val b = Profile.mannWhitney(df, col("grp"), !col("sa"), col("v"))
      .collect().head
    // u2_A + u2_B = 2 * n_a * n_b (every pair credited once, ties half each)
    assert(a.getLong(3) + b.getLong(3) === 2L * a.getLong(1) * a.getLong(2))
    assert(b.getDouble(5) === -a.getDouble(5))
    assert(a === Profile.mannWhitney(df.repartition(11), col("grp"),
      col("sa"), col("v")).collect().head) // layout independence
    val oneSided = Seq(("g", true, 1L), ("g", true, 5L))
      .toDF("grp", "sa", "v")
    assert(Profile.mannWhitney(oneSided, col("grp"), col("sa"), col("v"))
      .collect().head.isNullAt(5))
  }

  test("kendallTau: hand table with ties matches the textbook counts") {
    import spark.implicits._
    // x: 1 1 2 3, y: 1 2 2 3 — pairs (n0=6):
    // (1,1)-(1,2): x tie; (1,1)-(2,2): conc; (1,1)-(3,3): conc
    // (1,2)-(2,2): y tie (x rises, y tied -> neither conc nor disc)
    // (1,2)-(3,3): conc; (2,2)-(3,3): conc
    val df = Seq(("g", 1L, 1L), ("g", 1L, 2L), ("g", 2L, 2L),
      ("g", 3L, 3L)).toDF("grp", "x", "y")
    val r = Profile.kendallTau(df, col("grp"), col("x"), col("y"))
      .collect().head
    assert(r.getLong(1) === 4L)
    assert(r.getLong(2) === 4L && r.getLong(3) === 0L) // conc, disc
    assert(r.getLong(4) === 1L && r.getLong(5) === 1L) // tie_x, tie_y
    // tau_b = 4 / (sqrt(5) * sqrt(5)) = 0.8
    assert(math.abs(r.getDouble(6) - 0.8) < 1e-15)
  }

  test("kendallTau: perfect monotone is 1, reversal is -1, constant axis NULL") {
    import spark.implicits._
    val n = 40
    val up = (1 to n).map(i => ("g", i.toLong, (i * 7 + 3).toLong))
    val r1 = Profile.kendallTau(up.toDF("grp", "x", "y"),
      col("grp"), col("x"), col("y")).collect().head
    // sqrt(n0)*sqrt(n0) can land one ulp off n0 — tolerance, not ===
    assert(math.abs(r1.getDouble(6) - 1.0) < 1e-12)
    val r2 = Profile.kendallTau(up.toDF("grp", "x", "y"),
      col("grp"), col("x"), -col("y")).collect().head
    assert(math.abs(r2.getDouble(6) + 1.0) < 1e-12)
    val const = (1 to 5).map(i => ("g", i.toLong, 9L))
    assert(Profile.kendallTau(const.toDF("grp", "x", "y"),
      col("grp"), col("x"), col("y")).collect().head.isNullAt(6))
  }

  test("kendallTau: NULL group is a real slice; layout independence") {
    import spark.implicits._
    val rows = (0 until 120).map { i =>
      val g: String = if (i % 3 == 0) null else s"g${i % 2}"
      (g, (i % 7).toLong, ((i * 5) % 11).toLong)
    }
    val df = rows.toDF("grp", "x", "y")
    val base = Profile.kendallTau(df, col("grp"), col("x"), col("y"))
      .collect()
    assert(base.length === 3) // null slice + g0 + g1
    assert(base.head.isNullAt(0)) // NULLS FIRST
    assert(Profile.kendallTau(df.repartition(13), col("grp"), col("x"),
      col("y")).collect() === base)
    // pair conservation: conc + disc <= n0 on every slice
    base.foreach { r =>
      val n = r.getLong(1)
      assert(r.getLong(2) + r.getLong(3) <= n * (n - 1) / 2)
    }
  }

  test("dispersionIndex: hand moments, Poisson-ish vs bursty, NULL degenerates") {
    import spark.implicits._
    // g1 counts 2,2,2,2 -> var 0 -> D = 0 (underdispersed)
    // g2 counts 0,0,0,8 -> n=4 sum=8 sx2=64: D*1e6 = (256-64)*1e6/(3*8)
    val df = Seq(("g1", 2L), ("g1", 2L), ("g1", 2L), ("g1", 2L),
      ("g2", 0L), ("g2", 0L), ("g2", 0L), ("g2", 8L)).toDF("g", "x")
    val out = Profile.dispersionIndex(df, col("g"), col("x"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(5), r.getBoolean(6)))).toMap
    assert(out("g1") === ((0L, false)))
    assert(out("g2") === ((8000000L, true)))
    val deg = Seq(("z", 0L), ("z", 0L), ("one", 5L)).toDF("g", "x")
    val d = Profile.dispersionIndex(deg, col("g"), col("x")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(d("z").isNullAt(5), "sum 0: undefined, not 0")
    assert(d("one").isNullAt(5), "n < 2: undefined")
  }

  test("dispersionIndex: negatives drop visibly; layout-proof") {
    import spark.implicits._
    val df = (0 until 90).map(i => (s"g${i % 2}",
      if (i == 7) -3L else (i % 5).toLong)).toDF("g", "x")
    val a = Profile.dispersionIndex(df, col("g"), col("x")).collect()
    assert(a.map(r => r.getLong(2)).sum === 1L)
    assert(a.map(_.toSeq).toSeq === Profile.dispersionIndex(
      df.repartition(7), col("g"), col("x")).collect().map(_.toSeq).toSeq)
  }

  test("hellinger: identical distributions 0, disjoint 1, hand mid-case") {
    import spark.implicits._
    val a = Seq("x", "x", "y", "y").map(Tuple1(_)).toDF("v")
    val same = Profile.hellinger(a, a, col("v"), col("v"))
      .collect().head
    assert(same.getLong(4) === 1000000L && same.getLong(5) === 0L)
    val b = Seq("z", "w").map(Tuple1(_)).toDF("v")
    val dis = Profile.hellinger(a, b, col("v"), col("v"))
      .collect().head
    assert(dis.getLong(3) === 0L && dis.getLong(5) === 1000000L)
    assert(dis.getLong(2) === 4L) // union of values
    // hand: a = {x:1, y:1}, b = {x:2}: BC = sqrt(2)/sqrt(2*2) = 0.7071
    val h = Profile.hellinger(
      Seq("x", "y").map(Tuple1(_)).toDF("v"),
      Seq("x", "x").map(Tuple1(_)).toDF("v"), col("v"), col("v"))
      .collect().head
    assert(h.getLong(4) === 707107L)
    assert(h.getLong(5) === 292893L)
  }

  test("hellinger: empty side NULLs the distance; layout-proof") {
    import spark.implicits._
    val a = Seq("x").map(Tuple1(_)).toDF("v")
    val empty = a.filter(col("_1") === "nope")
    val r = Profile.hellinger(a, empty, col("v"), col("v"))
      .collect().head
    assert(r.isNullAt(4) && r.isNullAt(5))
    val big = (0 until 300).map(i => Tuple1(s"v${i % 9}")).toDF("v")
    val big2 = (0 until 200).map(i => Tuple1(s"v${i % 6}")).toDF("v")
    val x = Profile.hellinger(big, big2, col("v"), col("v"))
      .collect().head
    val y = Profile.hellinger(big.repartition(11),
      big2.repartition(5), col("v"), col("v")).collect().head
    assert(x.toSeq === y.toSeq)
  }

  test("logStats: geometric vs arithmetic mean, non-positive drops, layout-proof") {
    import spark.implicits._
    // g: 1, 10, 100 -> geo = 10 exactly (ln sum symmetric), arith 37
    val df = Seq(("g", 1L), ("g", 10L), ("g", 100L),
      ("h", 5L), ("h", 0L), ("h", -3L)).toDF("grp", "x")
    val out = Profile.logStats(df, col("grp"), col("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(g.getLong(1) === 3L && g.getLong(2) === 0L)
    assert(math.abs(g.getLong(5) - 10000000L) <= 1L) // geo ~ 10.0
    val h = out("h")
    assert(h.getLong(1) === 1L && h.getLong(2) === 2L) // 0 and -3 drop
    assert(h.getLong(5) === 5000000L)
    assert(Profile.logStats(df.repartition(7), col("grp"), col("x"))
      .collect().map(_.toSeq).toSeq ===
      Profile.logStats(df, col("grp"), col("x")).collect().map(_.toSeq).toSeq)
  }

  test("topkStability: stable head survives halving, noise tail does not") {
    import spark.implicits._
    // keys h1/h2 dominate massively (stable); t1..t6 all tie-ish
    val rows = (0 until 400).map { i =>
      val k = if (i % 4 < 2) s"h${i % 2}" else s"t${i % 6}"
      val v = if (k.startsWith("h")) 1000L else 10L + (i % 3)
      (i.toLong, k, v)
    }
    val df = rows.toDF("id", "k", "v")
    val out = Profile.topkStability(df, col("id"), col("k"), col("v"),
      k = 2, halves = 4).collect()
    assert(out.length === 4)
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
    // the two huge keys are the full top-2 and every half agrees
    assert(out.forall(_.getLong(2) === 2L),
      s"stable head must survive halving: ${out.toSeq}")
    assert(out.forall(_.getLong(3) === 1000000L))
    // determinism across layouts
    assert(out.map(_.toSeq).toSeq === Profile.topkStability(
      df.repartition(13), col("id"), col("k"), col("v"), 2, 4)
      .collect().map(_.toSeq).toSeq)
  }

  test("topkStability: half rows are ~50% and halves differ") {
    import spark.implicits._
    val df = (0 until 2000).map(i => (i.toLong, s"k${i % 40}", 1L))
      .toDF("id", "k", "v")
    val out = Profile.topkStability(df, col("id"), col("k"), col("v"),
      k = 5, halves = 3).collect()
    out.foreach { r =>
      assert(r.getLong(1) > 800L && r.getLong(1) < 1200L,
        s"half should hold ~1000 rows: ${r.getLong(1)}")
    }
    assert(out.map(_.getLong(1)).distinct.length > 1,
      "independent seeds: halves should not be identical subsets")
  }

  test("missingnessMatrix: hand pair counts, planted co-missingness, degenerate NULLs") {
    import spark.implicits._
    // a and b null together on rows 1,2; c null on row 3; d never null
    val df = Seq(
      (Option.empty[String], Option.empty[Long], Some(1L), 1L),
      (Option.empty[String], Option.empty[Long], Some(2L), 2L),
      (Some("x"), Some(5L), Option.empty[Long], 3L),
      (Some("y"), Some(6L), Some(4L), 4L)
    ).toDF("a", "b", "c", "d")
    val out = Profile.missingnessMatrix(df, Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size === 6)
    val ab = out(("a", "b"))
    assert((ab.getLong(3), ab.getLong(4), ab.getLong(5)) === ((2L, 2L, 2L)))
    assert(ab.getDouble(6) === 1.0, "perfectly co-missing: phi = 1")
    // a vs c: disjoint missingness -> negative phi
    assert(out(("a", "c")).getDouble(6) < 0.0)
    // d never null: phi undefined
    assert(out(("a", "d")).isNullAt(6))
    // one pass: single leaf in the optimized plan
    val plan = Profile.missingnessMatrix(df, Seq("a", "b", "c"))
      .queryExecution.optimizedPlan
    assert(plan.collectLeaves().map(_.toString).distinct.size === 1)
  }

  test("missingnessMatrix: layout independence and name ordering") {
    import spark.implicits._
    val df = (0 until 200).map(i => (
      if (i % 3 == 0) None else Some(i.toLong),
      if (i % 4 == 0) None else Some(i.toString))).toDF("zz", "aa")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.missingnessMatrix(d, Seq("zz", "aa"))
        .collect().map(_.toSeq).toSeq
    val out = run(df)
    assert(out.head.head === "aa", "pairs order by name, not input order")
    assert(out === run(df.repartition(7)))
  }
}
