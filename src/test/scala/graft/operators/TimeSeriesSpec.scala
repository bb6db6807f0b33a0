package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.Date

import graft.SharedSpark

/** EWMA recurrence and LOCF gap filling on hand-built series. */
class TimeSeriesSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  test("rollingMedianInt: odd/even frame medians are exact") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 90L), ("a", 4L, 40L),
      ("b", 1L, 5L)
    ).toDF("g", "seq", "v")
    val out = TimeSeries.rollingMedianInt(df, col("g"), Seq(col("seq")),
        col("v"), window = 3)
      .orderBy("g", "seq").collect()
      .map(r => (r.getString(0), r.getDouble(r.fieldIndex("med")))).toSeq
    // a: [10]→10; [10,20]→15; [10,20,90]→20; [20,90,40]→40; b: [5]→5
    assert(out === Seq(("a", 10.0), ("a", 15.0), ("a", 20.0), ("a", 40.0),
      ("b", 5.0)))
  }

  test("rollingMedianInt is outlier-robust where the mean is not") {
    val df = (1L to 20L).map(i => ("a", i, if (i == 10) 1000000L else 100L))
      .toDF("g", "seq", "v")
    val out = TimeSeries.rollingMedianInt(df, col("g"), Seq(col("seq")),
        col("v"), window = 5)
      .orderBy("seq").collect()
    val meds = out.map(r => r.getDouble(r.fieldIndex("med"))).toSeq
    // a single spike never becomes the median of any 5-row frame
    assert(!meds.contains(1000000.0))
    assert(meds.count(_ == 100.0) >= 18)
  }

  test("hampel flags the spike, not the level shift neighbors") {
    // constant 100s with one spike at seq 5
    val df = (1L to 11L).map(i => ("a", i, if (i == 5) 900L else 100L))
      .toDF("g", "seq", "v")
    val out = TimeSeries.hampel(df, col("g"), Seq(col("seq")), col("v"),
        half = 2, k = 3)
      .orderBy("seq").collect()
      .map(r => (r.getLong(r.fieldIndex("seq")),
        r.getBoolean(r.fieldIndex("anomaly")))).toSeq
    // windows containing the spike have med 100 and mad 0 → dev 800 > 0
    // flags ONLY the spike row (its neighbors deviate 0 from their median)
    assert(out.filter(_._2).map(_._1) === Seq(5L))
  }

  test("hampel: med/dev2/mad2 exact on a hand series") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 31L))
      .toDF("g", "seq", "v")
    val r = TimeSeries.hampel(df, col("g"), Seq(col("seq")), col("v"),
        half = 1, k = 1)
      .orderBy("seq").collect()
      .map(x => (x.getDouble(x.fieldIndex("med")), x.getLong(x.fieldIndex("dev2")),
        x.getDouble(x.fieldIndex("mad2")))).toSeq
    // row1 frame [10,20]: med 15, dev2 |20-30|=10; row2 frame [10,20,31]:
    // med 20, dev2 0; row3 frame [20,31]: med 25.5, dev2 |62-51|=11
    assert(r(0) === ((15.0, 10L, r(0)._3)))
    assert(r(1) === ((20.0, 0L, r(1)._3)))
    assert(r(2) === ((25.5, 11L, r(2)._3)))
    // mad2 of row2: frame devs [10,0,11] → median 10
    assert(r(1)._3 === 10.0)
  }

  test("ewmaInt follows s_t = (a·x + (1−a)·s) floordiv den") {
    val df = Seq(
      ("a", d("2024-01-01"), 100L),
      ("a", d("2024-01-02"), 200L),
      ("a", d("2024-01-03"), 200L),
      ("b", d("2024-01-01"), 50L)
    ).toDF("g", "day", "v")
    val out = TimeSeries.ewmaInt(df, col("g"), col("day"), col("v"), 20, 100)
      .orderBy("g", "day")
      .collect().map(r => (r.getString(0), r.getLong(3)))
    // a: s1=100; s2=(20·200+80·100)/100=120; s3=(20·200+80·120)/100=136
    assert(out.toSeq === Seq(("a", 100L), ("a", 120L), ("a", 136L), ("b", 50L)))
  }

  test("ewmaInt is layout-independent and order-insensitive on input") {
    val rows = Seq(
      ("a", d("2024-01-03"), 200L), // shuffled input order
      ("a", d("2024-01-01"), 100L),
      ("a", d("2024-01-02"), 200L))
    val a = TimeSeries.ewmaInt(rows.toDF("g", "day", "v"),
      col("g"), col("day"), col("v"), 20, 100)
      .orderBy("day").collect().map(_.getLong(3)).toSeq
    val b = TimeSeries.ewmaInt(rows.toDF("g", "day", "v").repartition(5),
      col("g"), col("day"), col("v"), 20, 100)
      .orderBy("day").collect().map(_.getLong(3)).toSeq
    assert(a === Seq(100L, 120L, 136L) && b === a)
  }

  test("ewmaInt floor division matches DuckDB semantics for negative values") {
    val df = Seq(("a", d("2024-01-01"), -100L), ("a", d("2024-01-02"), -105L))
      .toDF("g", "day", "v")
    val out = TimeSeries.ewmaInt(df, col("g"), col("day"), col("v"), 20, 100)
      .orderBy("day").collect().map(_.getLong(3))
    // s2 = floor((20·(-105) + 80·(-100))/100) = floor(-101.0) = -101
    assert(out.toSeq === Seq(-100L, -101L))
  }

  test("gapFillLocf fills only interior gaps, per group, with the prior value") {
    val df = Seq(
      ("a", d("2024-01-01"), 10L),
      ("a", d("2024-01-04"), 40L), // gap: Jan 2, Jan 3
      ("b", d("2024-01-02"), 7L)   // single day — no spine growth
    ).toDF("g", "day", "v")
    val out = TimeSeries.gapFillLocf(df, col("g"), col("day"), col("v"))
      .orderBy("g", "day")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq === Seq(
      ("a", "2024-01-01", 10L, 10L, false),
      ("a", "2024-01-02", -1L, 10L, true),
      ("a", "2024-01-03", -1L, 10L, true),
      ("a", "2024-01-04", 40L, 40L, false),
      ("b", "2024-01-02", 7L, 7L, false)))
  }

  test("dedupDays sums duplicate (group, day) rows exactly") {
    val df = Seq(("a", d("2024-01-01"), 1L), ("a", d("2024-01-01"), 2L))
      .toDF("g", "day", "v")
    val out = TimeSeries.dedupDays(df, col("g"), col("day"), col("v")).collect()
    assert(out.length === 1 && out(0).getLong(2) === 3L)
  }

  private def sliding(rows: Seq[(String, Long)], w: Int): Map[Long, Long] =
    TimeSeries.slidingDistinct(rows.toDF("u", "b"), col("u"), col("b"), w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("slidingDistinct: hand-checked coverage, duplicates collapse") {
    // A in {1,4}, B in {2}; W=2 → A covers [1,2]∪[4,5], B covers [2,3]
    val out = sliding(Seq(("A", 1L), ("A", 4L), ("A", 4L), ("B", 2L)), 2)
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("slidingDistinct: W=1 is per-bucket distinct; empty interior buckets report 0") {
    val out = sliding(Seq(("A", 1L), ("B", 1L), ("A", 5L)), 1)
    assert(out === Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 1L))
  }

  test("slidingDistinct matches the naive range join on a dense corpus") {
    val rows = for (u <- 0L until 40L; b <- 0L until 30L
                    if (u * 31 + b * 17) % 7 < 2) yield (s"u$u", b)
    val w = 5
    val naive = (rows.map(_._2).min to rows.map(_._2).max).map { t =>
      t -> rows.filter(r => r._2 > t - w && r._2 <= t).map(_._1).distinct.size.toLong
    }.toMap
    assert(sliding(rows, w) === naive)
    // and layout-independent
    val re = TimeSeries.slidingDistinct(rows.toDF("u", "b").repartition(13),
      col("u"), col("b"), w).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re === naive)
  }

  test("autocorr: hand-computed moments at lags 1..3") {
    // a: cents [10,20,30,40] → mu=25, dx=[-15,-5,5,15], den=500
    //    lag1 num = 75-25+75 = 125 → acf .25
    //    lag2 num = -75-75 = -150 → acf -.3
    //    lag3 num = -225 → acf -.45
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("a", 4L, 40L)).toDF("k", "seq", "cents")
    val out = TimeSeries.autocorr(df, col("k"), Seq(col("seq")),
        col("cents"), Seq(1, 2, 3))
      .collect().map(r => r.getInt(r.fieldIndex("lag")) ->
        ((r.getLong(r.fieldIndex("n_pairs")), r.getLong(r.fieldIndex("num")),
          r.getLong(r.fieldIndex("den")), r.getDouble(r.fieldIndex("acf")))))
      .toMap
    assert(out(1) === ((3L, 125L, 500L, 0.25)))
    assert(out(2) === ((2L, -150L, 500L, -0.3)))
    assert(out(3) === ((1L, -225L, 500L, -0.45)))
  }

  test("autocorr: constant series → den 0, acf NULL; short series → num 0") {
    val df = (Seq.tabulate(4)(i => ("const", i.toLong, 70L)) ++
      Seq(("short", 1L, 10L), ("short", 2L, 30L))).toDF("k", "seq", "cents")
    val rows = TimeSeries.autocorr(df, col("k"), Seq(col("seq")),
        col("cents"), Seq(1, 3))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(r.fieldIndex("n_pairs")), r.getLong(r.fieldIndex("num")),
          Option(r.get(r.fieldIndex("acf")))))).toMap
    // constant: every dx = 0 → den 0 → acf NULL, never 0/0 = NaN
    assert(rows(("const", 1)) === ((3L, 0L, None)))
    // short@lag3: no pairs exist → n_pairs 0, num coalesced to 0, acf 0.0
    assert(rows(("short", 3)) === ((0L, 0L, Some(0.0))))
    assert(rows(("short", 1)) === ((1L, -100L, Some(-0.5))))
  }

  test("timeInState: dwell attribution, open last events, truncating mean") {
    // u1: A@0 → B@10 → A@25 → (open): A holds 10, B holds 15, A open
    // u2: B@0 → (open)
    val ev = Seq((1L, 0L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 25L, 3L, "A"),
      (2L, 0L, 4L, "B")).toDF("u", "t", "id", "s")
    val out = TimeSeries.timeInState(ev, col("u"), col("t"), col("id"),
        col("s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))).toMap
    assert(out("A") === ((1L, 10L, Some(10L), 1L)))
    assert(out("B") === ((1L, 15L, Some(15L), 1L)))
  }

  test("timeInState: totals partition the observed span; layout independence") {
    val ev = (0L until 3000L).map(i =>
      (i % 11, (i * 601) % 100000, i, s"s${(i * 7) % 4}")).toDF("u", "t", "id", "s")
    val out = TimeSeries.timeInState(ev, col("u"), col("t"), col("id"),
      col("s")).collect()
    // Σ state totals = Σ per-entity spans (every closed interval counted once)
    val spans = ev.groupBy("u")
      .agg(org.apache.spark.sql.functions.max("t").minus(
        org.apache.spark.sql.functions.min("t")).as("span"))
      .collect().map(_.getLong(1)).sum
    assert(out.map(_.getLong(2)).sum === spans)
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.timeInState(d, col("u"), col("t"), col("id"), col("s"))
        .collect().map(_.toSeq).toSeq
    assert(run(ev) === run(ev.repartition(17)))
  }

  test("interEventGaps: hand gaps, single-event key NULL stats, truncating mean") {
    val ev = Seq(("a", 0L, 1L), ("a", 10L, 2L), ("a", 25L, 3L),
      ("a", 26L, 4L), ("lone", 100L, 5L)).toDF("k", "t", "id")
    val out = TimeSeries.interEventGaps(ev, col("k"), col("t"), col("id"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]),
          Option(r.get(6)).map(_.asInstanceOf[Long])))).toMap
    // gaps: 10, 15, 1 → min 1, max 15, mean 26 DIV 3 = 8
    assert(out("a") === ((4L, 3L, 26L, Some(1L), Some(15L), Some(8L))))
    assert(out("lone") === ((1L, 0L, 0L, None, None, None)))
  }

  test("interEventGaps is layout-independent") {
    val ev = (0L until 5000L).map(i =>
      (s"k${i % 7}", (i * 617) % 100000, i)).toDF("k", "t", "id")
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.interEventGaps(d, col("k"), col("t"), col("id"))
        .collect().map(_.toSeq).toSeq
    assert(run(ev) === run(ev.repartition(17)))
  }

  test("mergeIntervals: overlap and touch merge, gaps split, islands indexed in time order") {
    val iv = Seq(
      ("a", 0L, 10L), ("a", 5L, 20L),   // overlap → island 1
      ("a", 20L, 25L),                  // touches (start == running end)
      ("a", 30L, 40L),                  // gap of 5 → island 2
      ("b", 100L, 200L)
    ).toDF("k", "s", "e")
    val out = TimeSeries.mergeIntervals(iv, col("k"), col("s"), col("e"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(out === Seq(
      ("a", 1L, 0L, 25L, 3L, 25L),
      ("a", 2L, 30L, 40L, 1L, 10L),
      ("b", 1L, 100L, 200L, 1L, 100L)))
  }

  test("mergeIntervals: tolerance bridges small gaps; contained intervals never split an island") {
    val iv = Seq(("a", 0L, 10L), ("a", 13L, 20L), // gap 3 ≤ tol 3 → merge
      ("a", 2L, 4L),                              // fully contained
      ("a", 30L, 31L)                             // gap 10 → new island
    ).toDF("k", "s", "e")
    val out = TimeSeries.mergeIntervals(iv, col("k"), col("s"), col("e"),
        tolUs = 3L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out === Seq((1L, 0L, 20L, 3L), (2L, 30L, 31L, 1L)))
  }

  test("mergeIntervals: malformed rows drop; layout-independent islands") {
    val good = (0L until 3000L).map { i =>
      val s = (i * 613) % 10000
      (s"k${i % 5}", s, s + 1 + (i % 7))
    }
    val df = (good ++ Seq(("k0", 50L, 40L))).toDF("k", "s", "e") // end<start
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.mergeIntervals(d, col("k"), col("s"), col("e"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    val a = run(df)
    assert(a === run(df.repartition(17)))
    // the malformed interval contributed to no island
    assert(a.map(_._5).sum === 3000L)
  }

  test("autocorr sums are layout-independent (exact integer moments)") {
    val df = (0L until 3000L).map(i => (s"k${i % 3}", i, (i * 37) % 1000))
      .toDF("k", "seq", "cents")
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.autocorr(d, col("k"), Seq(col("seq")), col("cents"),
          Seq(1, 2)).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(4), r.getLong(5),
          r.getDouble(6))).toSeq
    assert(run(df) === run(df.repartition(17)))
  }

  // --- changepoint (exact single-split scan) ---

  private def cp(vs: Seq[Long], minSeg: Int = 1) =
    TimeSeries.changepoint(
      vs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "seq", "cents"),
      col("k"), Seq(col("seq")), col("cents"), minSeg)
      .collect().map(r => (r.getLong(r.fieldIndex("cp_index")),
        r.getLong(r.fieldIndex("cost_null_sq")),
        r.getLong(r.fieldIndex("cost_split_sq")),
        r.getLong(r.fieldIndex("gain_sq")),
        r.getLong(r.fieldIndex("mean_before_cents")),
        r.getLong(r.fieldIndex("mean_after_cents")))).toSeq

  test("changepoint: clean level shift found exactly, with zero split cost") {
    // [10,10,10,50,50]: S=130, Q=5300, null = 5300 − 130²//5 = 1920
    // split at 3: both segments constant → cost 0, gain 1920
    assert(cp(Seq(10L, 10L, 10L, 50L, 50L)) ===
      Seq((3L, 1920L, 0L, 1920L, 10L, 50L)))
  }

  test("changepoint: constant series ties every split → smallest index; gain 0") {
    assert(cp(Seq(7L, 7L, 7L, 7L)) === Seq((1L, 0L, 0L, 0L, 7L, 7L)))
  }

  test("changepoint: minSeg gates candidates; short series yield no row") {
    // length 5, minSeg 3 → no s with 3 ≤ s ≤ 2: empty result
    assert(cp(Seq(1L, 2L, 3L, 4L, 5L), minSeg = 3).isEmpty)
    // length 6, minSeg 3 → exactly one candidate s=3
    val only = cp(Seq(1L, 1L, 1L, 9L, 9L, 9L), minSeg = 3)
    assert(only.map(_._1) === Seq(3L))
    assert(only.head._3 === 0L)
  }

  test("changepoint matches a driver-side brute force (truncating DIVs)") {
    val vs = (0 until 200).map(i =>
      (if (i < 83) 100L else 340L) + (i * 37 % 23) - 11L)
    def sse(xs: Seq[Long]): BigInt = {
      val s = BigInt(xs.sum); val q = xs.map(x => BigInt(x) * x).sum
      q - (s * s) / xs.length
    }
    val costs = (1 until vs.length).map(s =>
      (sse(vs.take(s)) + sse(vs.drop(s)), s))
    val (bestCost, bestS) = costs.min
    val got = cp(vs.map(identity))
    assert(got.map(_._1) === Seq(bestS.toLong))
    assert(got.head._3 === bestCost.toLong)
    assert(got.head._2 === sse(vs).toLong)
  }

  test("changepoint is layout-independent") {
    val df = (0L until 2000L).map(i =>
        (s"k${i % 5}", i, (i * 37) % 1000 + (if (i > 1200) 5000L else 0L)))
      .toDF("k", "seq", "cents")
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.changepoint(d, col("k"), Seq(col("seq")), col("cents"), 2)
        .collect().map(r => r.toSeq).toSeq
    assert(run(df) === run(df.repartition(17)))
  }

  test("theilSenWindowed: hand pairs — the outlier cannot drag the median") {
    import spark.implicits._
    // slope 10/step, then one wild point at t=3: OLS would bend, the
    // slope median stays 10 (in µ/step: 10,000,000)
    val df = Seq(("g", 0L, 0L), ("g", 1L, 10L), ("g", 2L, 20L),
      ("g", 3L, 1000L)).toDF("k", "t", "v")
    val got = TimeSeries.theilSenWindowed(df, col("k"), col("t"),
        col("v"), maxLag = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSeq
    // pairs (Δt≤2): 0→1, 0→2, 1→2 slope 1e7; 1→3: 495e6; 2→3: 980e6
    // n=5, rank ⌈6/2⌉=3 → median 1e7
    assert(got === Seq(("g", 5L, 10000000L)))
  }

  test("theilSenWindowed: window bound honored; pairless groups report; layout-proof") {
    import spark.implicits._
    val rows = (0 until 2000).map(i =>
      (s"g${i % 3}", (i / 3).toLong * 10L,
        (i / 3).toLong * 7L + (i % 3))) ++
      Seq(("lonely", 0L, 5L)) // one row: no pairs
    val df = rows.toDF("k", "t", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.theilSenWindowed(d, col("k"), col("t"), col("v"), 30L)
        .collect().map(_.toSeq).toSeq
    val a = run(df)
    assert(a === run(df.repartition(13)))
    val lonely = a.find(_.head == "lonely").get
    assert(lonely(1) === 0L && lonely(2) == null)
    // clean series: slope exactly 7 per 10 ticks → 700000 µ/tick
    a.filter(_.head != "lonely").foreach(r =>
      assert(r(2) === 700000L, s"row $r"))
    // every pair respects Δt ≤ maxLag: tighten the lag, pairs shrink
    val narrow = TimeSeries.theilSenWindowed(df, col("k"), col("t"),
      col("v"), 10L).collect().map(r => r.getLong(1)).sum
    assert(narrow < a.map(_(1).asInstanceOf[Long]).sum)
  }

  test("mase: hand errors; naive forecast scores exactly 1e6; constant NULL") {
    import spark.implicits._
    val rows = Seq(("k", 1L, 10L, 11L), ("k", 2L, 20L, 18L),
      ("k", 3L, 15L, 15L), ("k", 4L, 25L, 24L)).toDF("k", "t", "y", "p")
    val got = TimeSeries.mase(rows, col("k"), Seq(col("t")), col("y"),
      col("p")).collect().head
    assert((got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) === ((3L, 3L, 25L, 120000L)))
    // a model that IS the naive forecast scores exactly 1.0
    val naive = Seq(("k", 1L, 10L, 0L), ("k", 2L, 20L, 10L),
      ("k", 3L, 15L, 20L)).toDF("k", "t", "y", "p")
    assert(TimeSeries.mase(naive, col("k"), Seq(col("t")), col("y"),
      col("p")).collect().head.getLong(4) === 1000000L)
    // constant series: the naive baseline is perfect -> NULL, never inf
    val const = Seq(("k", 1L, 5L, 4L), ("k", 2L, 5L, 4L))
      .toDF("k", "t", "y", "p")
    assert(TimeSeries.mase(const, col("k"), Seq(col("t")), col("y"),
      col("p")).collect().head.isNullAt(4))
  }

  test("mase: layout independence") {
    import spark.implicits._
    val rows = (0 until 600).map(i => (s"k${i % 5}", i.toLong,
      ((i * 13) % 97).toLong, ((i * 7) % 89).toLong))
      .toDF("k", "t", "y", "p")
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.mase(d, col("k"), Seq(col("t")), col("y"), col("p"))
        .collect().map(_.toSeq).toSeq
    assert(run(rows) === run(rows.repartition(13)))
  }

  test("crossCorrelation: planted shift found at the right lag") {
    import spark.implicits._
    // y is x delayed by 3 buckets (plus a wobble) -> |r| peaks at lag 3
    val xs = (0 until 60).map(t => (t.toLong,
      (math.sin(t / 5.0) * 100).toLong + 200L))
    val ys = xs.map { case (t, v) => t -> v }.toMap
    val rows = xs.map { case (t, x) =>
      (t, x, ys.getOrElse(t - 3, 0L) + (t % 2)) }
    val out = TimeSeries.crossCorrelation(rows.toDF("t", "x", "y"),
        col("t"), col("x"), col("y"), maxLag = 5)
      .collect()
    assert(out.length === 11 && out.map(_.getLong(0)).toSeq ===
      (-5L to 5L))
    val best = out.filter(_.getBoolean(6))
    assert(best.length === 1 && best.head.getLong(0) === 3L)
    assert(best.head.getDouble(5) > 0.9)
  }

  test("crossCorrelation: lag-0 on identical series is 1; constant axis NULL; layout-proof") {
    import spark.implicits._
    val rows = (0 until 40).map(t => (t.toLong, (t * 7 % 13).toLong,
      (t * 7 % 13).toLong))
    val df = rows.toDF("t", "x", "y")
    val out = TimeSeries.crossCorrelation(df, col("t"), col("x"),
      col("y"), maxLag = 2).collect()
    val at0 = out.find(_.getLong(0) === 0L).get
    assert(math.abs(at0.getDouble(5) - 1.0) < 1e-12 && at0.getBoolean(6))
    assert(out === TimeSeries.crossCorrelation(df.repartition(7),
      col("t"), col("x"), col("y"), maxLag = 2).collect())
    val const = (0 until 10).map(t => (t.toLong, 5L, t.toLong))
    val cOut = TimeSeries.crossCorrelation(const.toDF("t", "x", "y"),
      col("t"), col("x"), col("y"), maxLag = 1).collect()
    assert(cOut.forall(_.isNullAt(5)))
    assert(cOut.forall(!_.getBoolean(6)), "no best when every r is NULL")
  }

  test("mannKendall: hand S and variance, monotone extremes, tie NULL") {
    import spark.implicits._
    // x: 1 3 2 4 over t 1..4: up pairs {13,12?}: (1,3)+,(1,2)+,(1,4)+,
    // (3,2)-,(3,4)+,(2,4)+ -> S = 5-1 = 4; no ties: var18 = 4*3*13 = 156
    val df = Seq(("g", 1L, 1L), ("g", 2L, 3L), ("g", 3L, 2L),
      ("g", 4L, 4L)).toDF("grp", "t", "x")
    val r = TimeSeries.mannKendall(df, col("grp"), col("t"), col("x"))
      .collect().head
    assert(r.getLong(1) === 4L && r.getLong(2) === 4L)
    assert(r.getLong(3) === 156L)
    val want = 3.0 / math.sqrt(156.0 / 18.0)
    assert(math.abs(r.getDouble(4) - want) < 1e-15)
    // strictly increasing: S = n(n-1)/2; strictly decreasing mirrors
    val up = (1 to 12).map(i => ("u", i.toLong, (i * 3).toLong))
      .toDF("grp", "t", "x")
    val ur = TimeSeries.mannKendall(up, col("grp"), col("t"), col("x"))
      .collect().head
    assert(ur.getLong(2) === 66L && ur.getDouble(4) > 3.0)
    val const = (1 to 6).map(i => ("c", i.toLong, 5L))
      .toDF("grp", "t", "x")
    assert(TimeSeries.mannKendall(const, col("grp"), col("t"),
      col("x")).collect().head.isNullAt(4)) // all tied: Var = 0
  }

  test("mannKendall: tie-adjusted variance and layout independence") {
    import spark.implicits._
    // x: 1 1 2 (t 1..3): pairs (1,1)0 (1,2)+ (1,2)+ -> S=2
    // var18 = 3*2*11 - [2*1*9] = 66 - 18 = 48
    val df = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 2L))
      .toDF("grp", "t", "x")
    val r = TimeSeries.mannKendall(df, col("grp"), col("t"), col("x"))
      .collect().head
    assert(r.getLong(2) === 2L && r.getLong(3) === 48L)
    val big = (0 until 200).map(i =>
      (s"g${i % 2}", (i / 2).toLong, ((i * 13) % 17).toLong))
      .toDF("grp", "t", "x")
    def run(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.mannKendall(d, col("grp"), col("t"), col("x"))
        .collect().map(_.toSeq).toSeq
    assert(run(big) === run(big.repartition(11)))
  }

  test("decompositionStrength: planted seasonality and trend are attributed") {
    import spark.implicits._
    // pure seasonal: x = 100 + 50*(t%4==0), no trend
    val seasonal = (0 until 96).map(t => ("s", t.toLong,
      if (t % 4 == 0) 150L else 100L)).toDF("g", "t", "x")
    val sr = TimeSeries.decompositionStrength(seasonal, col("g"),
      col("t"), col("x"), period = 4).collect().head
    assert(sr.getLong(4) > 900000L,
      s"seasonal strength should be high: ${sr.getLong(4)}")
    // pure trend: x = t (seasonal means of detrended stay ~0)
    val trend = (0 until 96).map(t => ("t", t.toLong, (10L * t)))
      .toDF("g", "t", "x")
    val tr = TimeSeries.decompositionStrength(trend, col("g"),
      col("t"), col("x"), period = 4).collect().head
    assert(tr.getLong(3) > 900000L,
      s"trend strength should be high: ${tr.getLong(3)}")
    // noise-free constant: both variances 0 -> NULLs, never fake 0
    val const = (0 until 48).map(t => ("c", t.toLong, 7L))
      .toDF("g", "t", "x")
    val cr = TimeSeries.decompositionStrength(const, col("g"),
      col("t"), col("x"), period = 4).collect().head
    assert(cr.isNullAt(3) && cr.isNullAt(4))
  }

  test("decompositionStrength: negatives drop visibly; NULL group is a slice; layout-proof") {
    import spark.implicits._
    val rows = (0 until 120).map { i =>
      val g: String = if (i % 3 == 0) null else "g"
      (g, i.toLong, if (i == 5) -9L else (50 + (i % 6) * 10).toLong)
    }
    val df = rows.toDF("g", "t", "x")
    val out = TimeSeries.decompositionStrength(df, col("g"), col("t"),
      col("x"), period = 6).collect()
    assert(out.length === 2 && out.head.isNullAt(0))
    assert(out.map(_.getLong(2)).sum === 1L) // the -9 dropped visibly
    assert(out.map(_.toSeq).toSeq === TimeSeries.decompositionStrength(
      df.repartition(13), col("g"), col("t"), col("x"), 6)
      .collect().map(_.toSeq).toSeq)
  }
}
