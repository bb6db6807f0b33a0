package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.{Date, Timestamp}

import graft.SharedSpark

/** Cohort retention + funnel semantics on hand-built event fixtures. */
class AnalyticsSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("retention: cohorts by first week, offsets count distinct active users") {
    // u1 first active wk of Jan-01 (Mon), again wk of Jan-08 and Jan-15;
    // u2 first active wk of Jan-01 only; u3 first active wk of Jan-08.
    val ev = Seq(
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-03 10:00:00")),
      (1L, ts("2024-01-09 10:00:00")), (1L, ts("2024-01-16 10:00:00")),
      (2L, ts("2024-01-04 10:00:00")),
      (3L, ts("2024-01-10 10:00:00"))
    ).toDF("user_id", "ts")
    val out = Analytics.retention(ev, col("user_id"), col("ts"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      ("2024-01-01", 0, 2L, 1.0),   // u1,u2
      ("2024-01-01", 1, 1L, 0.5),   // u1
      ("2024-01-01", 2, 1L, 0.5),   // u1
      ("2024-01-08", 0, 1L, 1.0)))  // u3 (u1 belongs to the earlier cohort)
  }

  test("retention: duplicate events in one week count a user once") {
    val ev = Seq(
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-02 11:00:00")),
      (1L, ts("2024-01-05 10:00:00"))
    ).toDF("user_id", "ts")
    val out = Analytics.retention(ev, col("user_id"), col("ts")).collect()
    assert(out.length === 1 && out(0).getLong(2) === 1L)
  }

  test("funnel: strictly-after ordering — pre-stage events don't convert") {
    // u1 completes view→click→purchase in order;
    // u2 clicks BEFORE its first view (doesn't count), never re-clicks;
    // u3 views only; u4 view→click but purchase precedes the click.
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00"), "view"),
      (1L, ts("2024-01-01 10:00:00"), "click"),
      (1L, ts("2024-01-01 11:00:00"), "purchase"),
      (2L, ts("2024-01-01 08:00:00"), "click"),
      (2L, ts("2024-01-01 09:00:00"), "view"),
      (3L, ts("2024-01-01 09:00:00"), "view"),
      (4L, ts("2024-01-01 09:00:00"), "view"),
      (4L, ts("2024-01-01 10:30:00"), "purchase"),
      (4L, ts("2024-01-01 11:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = Analytics.funnel(ev, col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1, "view", 4L, 1.0),
      (2, "click", 2L, 0.5),      // u1, u4
      (3, "purchase", 1L, 0.5)))  // u1 only: u4's purchase precedes its click
  }

  test("funnel: equal timestamps do NOT advance (strict >)") {
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00"), "view"),
      (1L, ts("2024-01-01 09:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = Analytics.funnel(ev, col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click")).collect().map(r => r.getLong(2))
    assert(out.toSeq === Seq(1L, 0L))
  }

  test("funnel: zero-user middle stage yields 0.0 conversion downstream, not NULL") {
    val ev = Seq((1L, ts("2024-01-01 09:00:00"), "view")).toDF("user_id", "ts", "event_type")
    val out = Analytics.funnel(ev, col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 1.0), (0L, 0.0), (0L, 0.0)))
  }

  test("peakConcurrency: hand-built overlaps, half-open [start, end)") {
    // group a: [0,10), [5,15), [9,12) → peak 3 at t=9; back-to-back
    // [20,30), [30,40) never overlap (end is exclusive).
    val iv = Seq(
      ("a", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:10")),
      ("a", ts("2024-01-01 00:00:05"), ts("2024-01-01 00:00:15")),
      ("a", ts("2024-01-01 00:00:09"), ts("2024-01-01 00:00:12")),
      ("a", ts("2024-01-01 00:00:20"), ts("2024-01-01 00:00:30")),
      ("a", ts("2024-01-01 00:00:30"), ts("2024-01-01 00:00:40")),
      ("b", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:01:00"))
    ).toDF("g", "s", "e")
    val out = Analytics.peakConcurrency(iv, col("g"), col("s"), col("e"))
      .orderBy("group").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2))).toSeq
    assert(out === Seq(
      ("a", 3L, ts("2024-01-01 00:00:09")),
      ("b", 1L, ts("2024-01-01 00:00:00"))))
  }

  test("peakConcurrency is layout-independent") {
    val iv = (0L until 200L).map { i =>
      (s"g${i % 3}", ts(f"2024-01-01 0${i % 10}:${i % 60}%02d:00"),
        ts(f"2024-01-01 0${i % 10}:${(i % 60)}%02d:30"))
    }.toDF("g", "s", "e")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.peakConcurrency(d, col("g"), col("s"), col("e"))
        .orderBy("group").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(run(iv) === run(iv.repartition(13)))
  }

  test("trend: exact normal-equation slope on a hand line") {
    // y = 2x + 1 exactly (fix units): slope_num/slope_den = 2
    val pts = Seq(("a", 100L, 201L), ("a", 101L, 203L), ("a", 102L, 205L),
      ("b", 10L, 7L), ("b", 20L, 7L), // flat
      ("c", 5L, 9L) // single point → den 0
    ).toDF("g", "x", "y")
    val out = Analytics.trend(pts, col("g"), col("x"), col("y"))
      .orderBy("group").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(4), r.getDouble(5), r.getInt(6)))
      .toSeq
    // a: xc = 0,1,2; n=3 sxy=(0·201+1·203+2·205)=613; sx=3 sy=609
    //    num = 3·613 − 3·609 = 12; den = 3·(0+1+4) − 9 = 6 → slope 2 ✓
    assert(out === Seq(
      ("a", 3L, 12.0, 6.0, 1),
      ("b", 2L, 0.0, 100.0, 0),
      ("c", 1L, 0.0, 0.0, 0)))
  }

  test("trend sums are layout-independent (exact, no float order)") {
    val pts = (0L until 5000L).map(i => (s"g${i % 4}", i, i * 3 - 1000))
      .toDF("g", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.trend(d, col("g"), col("x"), col("y"))
        .orderBy("group").collect()
        .map(r => (r.getString(0), r.getDouble(4), r.getDouble(5))).toSeq
    assert(run(pts) === run(pts.repartition(17)))
  }

  test("trending: strictly-prior baseline, calendar-gap aware, NULL before history") {
    def day(d: Int) = java.sql.Date.valueOf(f"2024-01-$d%02d")
    // "a": 2/day on days 1-3, spike of 8 on day 4; "b": days 1 and 12
    // (gap > window → day-12 baseline must be NULL, not day-1's count)
    val rows = (for (d <- 1 to 3; _ <- 1 to 2) yield ("a", day(d))) ++
      (1 to 8).map(_ => ("a", day(4))) ++ Seq(("b", day(1)), ("b", day(12)))
    val df = rows.toDF("k", "dt")
    val out = Analytics.trending(df, col("k"), col("dt"), window = 7)
      .collect().map(r => (r.getString(0), r.getInt(1) - 19723) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    // 2024-01-01 = day 19723 since epoch
    assert(out(("a", 0)) === ((2L, None, None))) // first day: no baseline
    assert(out(("a", 1)) === ((2L, Some(2L), Some(7000000L)))) // 2·7e6/2
    assert(out(("a", 3)) === ((8L, Some(6L), Some(9333333L)))) // 8·7e6 DIV 6
    assert(out(("b", 11)) === ((1L, None, None))) // baseline window passed
  }

  test("transitionMatrix: adjacency counts, marginals, ppm rows") {
    // u1: A B A C → A→B, B→A, A→C; u2: A B → A→B
    val ev = Seq((1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"), (1L, 4L, "C"),
      (2L, 1L, "A"), (2L, 2L, "B")).toDF("u", "seq", "s")
    val out = Analytics.transitionMatrix(ev, col("u"), Seq(col("seq")),
        col("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      ("A", "B") -> ((2L, 3L, 666666L)),
      ("A", "C") -> ((1L, 3L, 333333L)),
      ("B", "A") -> ((1L, 1L, 1000000L))))
  }

  test("transitionMatrix: entities never bleed into each other") {
    // u1 ends on X, u2 starts on Y — no X→Y transition may appear
    val ev = Seq((1L, 1L, "W"), (1L, 2L, "X"), (2L, 1L, "Y"), (2L, 2L, "Z"))
      .toDF("u", "seq", "s")
    val out = Analytics.transitionMatrix(ev, col("u"), Seq(col("seq")),
        col("s")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("W", "X"), ("Y", "Z")))
  }

  test("transitionMatrix: null states drop the transition, not the row pair around it") {
    // A null B: A→null and null→B are both dropped (no fabricated A→B —
    // the gap is real; adjacency is over the raw sequence)
    val ev = Seq((1L, 1L, Some("A")), (1L, 2L, None), (1L, 3L, Some("B")),
      (1L, 4L, Some("C"))).toDF("u", "seq", "s")
    val out = Analytics.transitionMatrix(ev, col("u"), Seq(col("seq")),
        col("s")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("B", "C")))
  }

  test("shareOfParent: two-level shares truncate; zero parents NULL") {
    val df = Seq(("r1", "c1", 300L), ("r1", "c2", 100L),
      ("r2", "c3", 600L), ("z", "c4", 0L)).toDF("p", "c", "v")
    val out = Analytics.shareOfParent(df, col("p"), col("c"), col("v"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
          r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Long])))).toMap
    assert(out(("r1", "c1")) === ((300L, Some(750000L), 400L, Some(400000L))))
    assert(out(("r1", "c2")) === ((100L, Some(250000L), 400L, Some(400000L))))
    assert(out(("r2", "c3")) === ((600L, Some(1000000L), 600L, Some(600000L))))
    assert(out(("z", "c4")) === ((0L, None, 0L, Some(0L))))
  }

  test("growthAccounting: new/retained/resurrected/churned ledger balances") {
    // u1: p1, p2, p4 (churns at 3, resurrects at 4, churns after 4 — censored? no: churn at 5 not observed... p5 absent → censored unless 5 observed)
    // u2: p1 only (churns at 2); u3: p2, p3
    val ev = Seq((1L, 1L), (1L, 2L), (1L, 4L), (2L, 1L), (3L, 2L), (3L, 3L))
      .toDF("u", "p")
    val out = Analytics.growthAccounting(ev, col("u"), col("p"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(out(1L) === ((2L, 2L, 0L, 0L, 0L)))
    // p2: active {u1, u3}; u1 retained, u3 new; u2 churned (active p1 only)
    assert(out(2L) === ((2L, 1L, 1L, 0L, 1L)))
    // p3: active {u3} retained; u1 churned (no p3 after p2)
    assert(out(3L) === ((1L, 0L, 1L, 0L, 1L)))
    // p4: u1 resurrected; u3 churned
    assert(out(4L) === ((1L, 0L, 0L, 1L, 1L)))
    // u1's churn after p4 is right-censored: no period 5 row exists
    assert(!out.contains(5L))
    // ledger identity: active = new + retained + resurrected
    out.values.foreach { case (a, n, r, z, _) => assert(a === n + r + z) }
  }

  test("growthAccounting is layout-independent; multiple events per period collapse") {
    val ev = (0L until 6000L).map(i => (i % 150, (i * 13) % 12))
      .toDF("u", "p")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.growthAccounting(d, col("u"), col("p"))
        .collect().map(_.toSeq).toSeq
    assert(run(ev) === run(ev.repartition(17)))
  }

  test("rareTransitions: population-rare paths surface with the taker's count") {
    // population: A→B dominates (9 users); one user takes A→C twice
    val ev = (1L to 9L).flatMap(u => Seq((u, 1L, "A"), (u, 2L, "B"))) ++
      Seq((10L, 1L, "A"), (10L, 2L, "C"), (10L, 3L, "A"), (10L, 4L, "C"))
    val out = Analytics.rareTransitions(ev.toDF("u", "seq", "s"), col("u"),
        Seq(col("seq")), col("s"), maxPpm = 200000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    // A→C: 2 of 11 A-departures → 181818 ppm ≤ 200000; C→A is 1/1 → 1e6 (kept out)
    assert(out === Seq((10L, "A", "C", 2L, 181818L)))
  }

  test("rareTransitions: threshold 1e6 returns every pair with model probabilities") {
    val ev = Seq((1L, 1L, "X"), (1L, 2L, "Y"), (2L, 1L, "X"), (2L, 2L, "Z"))
      .toDF("u", "seq", "s")
    val out = Analytics.rareTransitions(ev, col("u"), Seq(col("seq")),
        col("s"), maxPpm = 1000000L)
      .collect().map(r => ((r.getLong(0), r.getString(1), r.getString(2)),
        r.getLong(4))).toMap
    assert(out === Map((1L, "X", "Y") -> 500000L, (2L, "X", "Z") -> 500000L))
  }

  test("periodOverPeriod: adjacent deltas, gap yields NULL prev, zero prev yields NULL pct") {
    val df = Seq(
      ("a", 1L, 100L), ("a", 2L, 150L), ("a", 4L, 300L), // gap at 3
      ("b", 1L, 0L), ("b", 2L, 50L)                       // prev 0
    ).toDF("k", "p", "v")
    val out = Analytics.periodOverPeriod(df, col("k"), col("p"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long])))).toMap
    assert(out(("a", 1L)) === ((100L, None, None)))
    assert(out(("a", 2L)) === ((150L, Some(100L), Some(500000L)))) // +50%
    assert(out(("a", 4L)) === ((300L, None, None)))                // gap
    assert(out(("b", 2L)) === ((50L, Some(0L), None)))             // 0 prev
  }

  test("periodOverPeriod: negative prev uses abs denominator; layout independence") {
    val df = Seq(("k", 1L, -200L), ("k", 2L, -100L)).toDF("k", "p", "v")
    val r = Analytics.periodOverPeriod(df, col("k"), col("p"), col("v"))
      .collect().map(r => r.getLong(1) -> r).toMap
    // (−100 − −200)·1e6 DIV 200 = +500000 — improvement reads positive
    assert(r(2L).getLong(5) === 500000L)
    val big = (0L until 6000L).map(i => (s"k${i % 9}", i % 30, (i * 37) % 500))
      .toDF("k", "p", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.periodOverPeriod(d, col("k"), col("p"), col("v"))
        .collect().map(_.toSeq).toSeq
    assert(run(big) === run(big.repartition(17)))
  }

  test("conversionLag: buckets from first-from to first-subsequent-to; never-converted visible") {
    val ev = Seq(
      (1L, 0L, "signup"), (1L, 50L, "purchase"), (1L, 70L, "purchase"),
      (2L, 100L, "signup"), (2L, 100L, "purchase"),   // same-ts converts (lag 0)
      (3L, 10L, "purchase"), (3L, 20L, "signup"),     // purchase BEFORE signup → not after
      (4L, 0L, "signup"),                             // never converts
      (5L, 0L, "view")                                // never signed up → absent
    ).toDF("u", "t", "s")
    val out = Analytics.conversionLag(ev, col("u"), col("t"), col("s"),
        "signup", "purchase", bucketUs = 25L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // u1 lag 50 → bucket 2; u2 lag 0 → bucket 0; u3, u4 → -1
    assert(out === Map(-1L -> 2L, 0L -> 1L, 2L -> 1L))
  }

  test("conversionLag is layout-independent") {
    val ev = (0L until 4000L).map { i =>
      val s = (i % 3) match { case 0 => "A"; case 1 => "B"; case _ => "C" }
      (i % 97, (i * 613) % 100000, s)
    }.toDF("u", "t", "s")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.conversionLag(d, col("u"), col("t"), col("s"), "A", "B",
        bucketUs = 1000L).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
    assert(run(ev) === run(ev.repartition(17)))
  }

  test("abTest: hand rates, lift, pooled z2 in micro; degenerate arms NULL") {
    // arm A: 100 users, 10 convert; arm B: 100 users, 20 convert
    val rows = (0 until 100).map(i => ("A", i < 10)) ++
      (0 until 100).map(i => ("B", i < 20)) ++
      Seq(("C", true)) // foreign arm ignored
    val r = Analytics.abTest(rows.toDF("arm", "ok"), col("arm"), col("ok"),
      "A", "B").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((100L, 10L, 100000L)))
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) === ((100L, 20L, 200000L)))
    assert(r.getLong(6) === 100000L)  // +10pp lift
    assert(r.getLong(7) === 150000L)  // pooled 30/200
    // z² = Δ²·n_a·n_b / (p(1−p)·N) = .01·1e4 / (.1275·200) = 3.92156…
    // micro with truncating integer ops: 1e6·1e10·1e4 DIV (15e4·85e4·200)
    val z2 = r.getLong(8)
    assert(z2 === (BigInt(1000000L) * BigInt(100000L) * 100000L * 100 * 100 /
      (BigInt(150000L) * 850000L * 200L)).toLong)
    assert(math.abs(z2 - 3921568L) < 2L)
    // all-convert pool → no variance → NULL z2
    val degen = Analytics.abTest(
      Seq(("A", true), ("B", true)).toDF("arm", "ok"),
      col("arm"), col("ok"), "A", "B").collect().head
    assert(degen.isNullAt(8))
  }

  test("abTest: empty arm yields NULL rate and z2; layout independence") {
    val one = Analytics.abTest(Seq(("A", true), ("A", false))
        .toDF("arm", "ok"), col("arm"), col("ok"), "A", "B")
      .collect().head
    assert(one.getLong(0) === 2L && one.getLong(3) === 0L)
    assert(one.isNullAt(5) && one.isNullAt(8))
    val big = (0L until 8000L)
      .map(i => (if (i % 2 == 0) "A" else "B", (i * 7919) % 11 < 3))
      .toDF("arm", "ok")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.abTest(d, col("arm"), col("ok"), "A", "B")
        .collect().head.toSeq
    assert(run(big) === run(big.repartition(17)))
  }

  test("journeyPaths: prefix paths, null steps skipped, top-N tie order") {
    val ev = Seq(
      (1L, 1L, Some("A")), (1L, 2L, Some("B")), (1L, 3L, Some("C")),
      (1L, 4L, Some("D")),                     // beyond pathLen 3
      (2L, 1L, Some("A")), (2L, 2L, None), (2L, 3L, Some("B")),
      (2L, 4L, Some("C")),                     // null is a gap, not a step
      (3L, 1L, Some("A")), (3L, 2L, Some("B")), // short journey
      (4L, 1L, Some("X"))
    ).toDF("u", "seq", "s")
    val out = Analytics.journeyPaths(ev, col("u"), Seq(col("seq")),
        col("s"), pathLen = 3, topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("A>B>C", 2L), ("A>B", 1L), ("X", 1L)))
  }

  test("journeyPaths: topN truncates after the (count, path) total order; layout-independent") {
    val ev = (0L until 3000L).map { i =>
      val u = i % 300
      (u, i / 300, s"s${(u * 7 + i / 300) % 4}")
    }.toDF("u", "seq", "s")
    def run(d: org.apache.spark.sql.DataFrame, n: Int) =
      Analytics.journeyPaths(d, col("u"), Seq(col("seq")), col("s"),
        pathLen = 4, topN = n).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    val all = run(ev, 1000)
    assert(run(ev, 3) === all.take(3))
    assert(run(ev.repartition(17), 1000) === all)
  }

  test("categoricalGini: hand impurities, null categories dropped") {
    val df = Seq(("pure", "a"), ("pure", "a"), ("pure", "a"),
      ("even", "a"), ("even", "b"),
      ("skew", "a"), ("skew", "a"), ("skew", "a"), ("skew", "b"),
      ("nully", "a"), ("nully", null)).toDF("k", "c")
    val out = Analytics.categoricalGini(df, col("k"), col("c"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("pure") === ((3L, 1L, 0L)))          // 1 − 9/9
    assert(out("even") === ((2L, 2L, 500000L)))     // 1 − 2/4
    // 1 − (9+1)/16 = 6/16 = .375
    assert(out("skew") === ((4L, 2L, 375000L)))
    assert(out("nully") === ((1L, 1L, 0L)))         // null is absence
  }

  test("categoricalGini is layout-independent (exact integer sums)") {
    val df = (0L until 5000L).map(i => (s"k${i % 7}", s"c${(i * 31) % 23}"))
      .toDF("k", "c")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.categoricalGini(d, col("k"), col("c")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    assert(run(df) === run(df.repartition(13)))
  }

  test("paretoFrontier2D: dominated points drop, duplicates of frontier points survive") {
    // frontier: (5,1), (3,4), (1,6). (3,3) dominated by (3,4);
    // (2,4) dominated by (3,4); (5,1) duplicated → both survive
    val pts = Seq((1L, 5L, 1L), (2L, 3L, 4L), (3L, 1L, 6L), (4L, 3L, 3L),
      (5L, 2L, 4L), (6L, 5L, 1L)).toDF("id", "x", "y")
    val out = Analytics.paretoFrontier2D(pts, col("id"), col("x"), col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((3L, 1L, 6L), (2L, 3L, 4L), (1L, 5L, 1L),
      (6L, 5L, 1L)))
  }

  test("paretoFrontier2D matches the naive NOT-EXISTS definition on random points") {
    val pts = (0L until 500L).map(i =>
      (i, (i * 7919) % 97, (i * 104729) % 89))
    def dominated(p: (Long, Long, Long)) = pts.exists(q =>
      q._2 >= p._2 && q._3 >= p._3 && (q._2 > p._2 || q._3 > p._3))
    val naive = pts.filterNot(dominated).map(p => (p._1, p._2, p._3))
      .sortBy(p => (p._2, p._1))
    val df = pts.toDF("id", "x", "y")
    Seq(1, 13).foreach { parts =>
      val out = Analytics.paretoFrontier2D(df.repartition(parts), col("id"),
          col("x"), col("y"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(out === naive)
    }
  }

  test("transitionMatrix is layout-independent") {
    val ev = (0L until 4000L)
      .map(i => (i % 37, i / 37, s"s${(i * 7919) % 5}"))
      .toDF("u", "seq", "s")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.transitionMatrix(d, col("u"), Seq(col("seq")), col("s"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    assert(run(ev) === run(ev.repartition(13)))
  }

  // --- activity streaks ---

  test("longestStreak: hand islands — longest vs latest; same-day dups collapse") {
    def d(s: String) = Date.valueOf(s)
    val rows = Seq(
      (1L, d("2024-01-01")), (1L, d("2024-01-02")), (1L, d("2024-01-03")),
      (1L, d("2024-01-07")), (1L, d("2024-01-08")),
      (1L, d("2024-01-20")), (1L, d("2024-01-20")), // dup day
      (2L, d("2024-03-05")))
    val out = Analytics.longestStreak(rows.toDF("u", "day"), col("u"),
        col("day"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((6L, 3L, 3L, 1L))) // 3+2+1 days; latest streak is the lone Jan 20
    assert(out(2L) === ((1L, 1L, 1L, 1L)))
  }

  test("longestStreak is layout-independent") {
    val rows = (0L until 3000L).map(i =>
      (i % 23, Date.valueOf(java.time.LocalDate.ofEpochDay((i * 7) % 400))))
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.longestStreak(d, col("u"), col("day"))
        .collect().map(_.toSeq).toSeq
    val df = rows.toDF("u", "day")
    assert(run(df) === run(df.repartition(13)))
  }

  // --- time-constrained funnel ---

  private def wfunnel(rows: Seq[(Long, Long, String)], gapUs: Long) =
    Analytics.funnelWindowed(rows.toDF("u", "t", "ty"), col("u"), col("t"),
        col("ty"), Seq("view", "click", "purchase"), gapUs)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq

  test("funnelWindowed: the gap constraint breaks chains the plain funnel passes") {
    val rows = Seq(
      (1L, 0L, "view"), (1L, 50L, "click"), (1L, 200L, "purchase"),
      (2L, 0L, "view"), (2L, 60L, "click"), (2L, 140L, "purchase"))
    // gap 100: u1's purchase is 150 after its click → only u2 completes
    assert(wfunnel(rows, 100L) === Seq(
      ("view", 2L, 1000000L, 1000000L),
      ("click", 2L, 1000000L, 1000000L),
      ("purchase", 1L, 500000L, 500000L)))
    // unconstrained (huge gap): both complete
    assert(wfunnel(rows, 1000000L).map(_._2) === Seq(2L, 2L, 2L))
  }

  test("funnelWindowed: greedy first-occurrence semantics, stated and enforced") {
    // view@0, click@10, click@40, purchase@80, gap 45: the greedy clock
    // starts at click@10 (purchase misses 55); a backtracking search
    // would pass via click@40 — the operator deliberately does not
    val rows = Seq((1L, 0L, "view"), (1L, 10L, "click"),
      (1L, 40L, "click"), (1L, 80L, "purchase"))
    assert(wfunnel(rows, 45L).map(_._2) === Seq(1L, 1L, 0L))
    // boundary: a step exactly AT the gap limit counts (≤), same ts not (>)
    val edge = Seq((1L, 0L, "view"), (1L, 45L, "click"), (1L, 45L, "purchase"))
    assert(wfunnel(edge, 45L).map(_._2) === Seq(1L, 1L, 0L))
  }

  test("funnelWindowed is layout-independent") {
    val rows = (0L until 4000L).map { i =>
      val ty = Seq("view", "click", "purchase", "other")((i % 4).toInt)
      (i % 31, i * 13L, ty)
    }
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.funnelWindowed(d, col("u"), col("t"), col("ty"),
          Seq("view", "click", "purchase"), 500L)
        .collect().map(_.toSeq).toSeq
    val df = rows.toDF("u", "t", "ty")
    assert(run(df) === run(df.repartition(13)))
  }

  // --- positional multi-touch attribution ---

  private def attrib(rows: Seq[(Long, Long, Long, String)], winUs: Long) =
    Analytics.attributionPositional(rows.toDF("u", "id", "t", "ty"),
        col("u"), col("id"), col("t"), col("ty"), "click", "purchase", winUs)
      .collect().map(r => (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq

  test("attributionPositional: U-shape credits, exact 1e6 total, dust to first touch") {
    // 5 clicks then a purchase: first 400002, middles 3×66666, last 400000
    val rows = (1L to 5L).map(i => (1L, i, i * 10L, "click")) :+
      ((1L, 99L, 60L, "purchase"))
    val out = attrib(rows, 1000L)
    assert(out.map(_._5).sum === 1000000L)
    assert(out === Seq(
      (99L, Some(1L), 1L, 5L, 400002L),
      (99L, Some(2L), 2L, 5L, 66666L),
      (99L, Some(3L), 3L, 5L, 66666L),
      (99L, Some(4L), 4L, 5L, 66666L),
      (99L, Some(5L), 5L, 5L, 400000L)))
  }

  test("attributionPositional: 1-touch, 2-touch, and no-touch conversions") {
    val rows = Seq(
      (1L, 1L, 10L, "click"), (1L, 90L, 20L, "purchase"), // 1 touch
      (2L, 2L, 10L, "click"), (2L, 3L, 15L, "click"),
      (2L, 91L, 20L, "purchase"), // 2 touches
      (3L, 92L, 20L, "purchase")) // no touch at all
    val out = attrib(rows, 1000L).groupBy(_._1)
    assert(out(90L) === Seq((90L, Some(1L), 1L, 1L, 1000000L)))
    assert(out(91L).map(_._5) === Seq(500000L, 500000L))
    assert(out(92L) === Seq((92L, None, 0L, 0L, 0L))) // visible, credit 0
    // the unattributed row must keep the CONVERSION's entity (the
    // self-join-ambiguity regression surfaced a NULL here)
    val ent = Analytics.attributionPositional(rows.toDF("u", "id", "t", "ty"),
        col("u"), col("id"), col("t"), col("ty"), "click", "purchase", 1000L)
      .filter(col("conversion_id") === 92L)
      .collect().map(r => Option(r.get(0)))
    assert(ent.toSeq === Seq(Some(3L)))
  }

  test("attributionPositional: window gates touches; out-of-window-only → unattributed") {
    val rows = Seq(
      (1L, 1L, 10L, "click"),      // 90 µs before purchase: outside win=50
      (1L, 2L, 80L, "click"),      // inside
      (1L, 90L, 100L, "purchase"),
      (2L, 3L, 10L, "click"),      // only touch, outside window
      (2L, 91L, 100L, "purchase"))
    val out = attrib(rows, 50L).groupBy(_._1)
    assert(out(90L) === Seq((90L, Some(2L), 1L, 1L, 1000000L)))
    assert(out(91L) === Seq((91L, None, 0L, 0L, 0L)))
  }

  test("attributionPositional is layout-independent") {
    val rows = (0L until 3000L).map { i =>
      val ty = if (i % 11 == 0) "purchase" else if (i % 3 == 0) "click" else "view"
      (i % 17, i, i * 7L, ty)
    }
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.attributionPositional(d, col("u"), col("id"), col("t"),
          col("ty"), "click", "purchase", 500L)
        .collect().map(_.toSeq).toSeq
    val df = rows.toDF("u", "id", "t", "ty")
    assert(run(df) === run(df.repartition(13)))
  }

  // --- RFM segmentation ---

  test("rfm: hand case — aggregates, observed-max recency, quintile scores") {
    // 5 customers, one order each except c1 (two orders)
    val rows = Seq(
      (1L, Date.valueOf("2024-01-10"), 100L), // c1: freq 2, last 01-10
      (1L, Date.valueOf("2024-01-01"), 100L),
      (2L, Date.valueOf("2024-01-09"), 500L),
      (3L, Date.valueOf("2024-01-08"), 400L),
      (4L, Date.valueOf("2024-01-07"), 300L),
      (5L, Date.valueOf("2024-01-06"), 200L))
    val out = Analytics.rfm(rows.toDF("c", "d", "a"), col("c"), col("d"),
        col("a"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // c1: recency 0 (observed max = 01-10), freq 2, monetary 200
    assert(out(1L)._1 === 0L && out(1L)._2 === 2L && out(1L)._3 === 200L)
    // 5 entities → each quintile holds exactly one; recency asc: c1..c5
    assert(out(1L)._4 === 5L && out(5L)._4 === 1L) // r_score best..worst
    assert(out(1L)._5 === 5L) // only multi-order customer: top frequency
    // monetary desc: 500,400,300 then the 200-tie (c1 before c5 by id)
    assert(out(2L)._6 === 5L && out(1L)._6 === 2L && out(5L)._6 === 1L)
    // rfm_code arithmetic
    out.values.foreach(v => assert(v._7 === v._4 * 100 + v._5 * 10 + v._6))
  }

  test("rfm: ties break by entity id; layout-independent") {
    val rows = (1L to 100L).map(c =>
      (c, Date.valueOf("2024-02-01"), 1000L)) // all identical
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.rfm(d, col("c"), col("d"), col("a"))
        .collect().map(_.toSeq).toSeq
    val df = rows.toDF("c", "d", "a")
    val a = run(df)
    assert(a === run(df.repartition(17)))
    // identical customers: scores follow pure entity order, 20 per tile
    val scores = a.map(r => (r(0).asInstanceOf[Long], r(4).asInstanceOf[Long]))
    assert(scores.filter(_._2 == 5L).map(_._1) === (1L to 20L))
    assert(scores.filter(_._2 == 1L).map(_._1) === (81L to 100L))
  }

  test("sessionize: strict-gap boundary, seq numbering, running start") {
    // user 1: events at 0, 100, 101 with gap 100 — the 0→100 gap is NOT
    // > 100 (same session, strict semantics); then 300 opens session 2
    val ev = Seq((1L, 0L, 10L), (1L, 100L, 11L), (1L, 101L, 12L),
      (1L, 300L, 13L), (2L, 5L, 20L)).toDF("u", "t", "eid")
    val got = Analytics.sessionize(ev, col("u"), col("t"), gapUs = 100L,
        col("eid"))
      .orderBy("entity", "ts_us")
      .select("entity", "ts_us", "session_seq", "session_start_us")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 0L, 1L, 0L), (1L, 100L, 1L, 0L),
      (1L, 101L, 1L, 0L), (1L, 300L, 2L, 300L), (2L, 5L, 1L, 5L)))
  }

  test("sessionize: tied timestamps split deterministically by tieBreak") {
    val ev = Seq((1L, 50L, 2L), (1L, 50L, 1L), (1L, 50L, 3L))
      .toDF("u", "t", "eid")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.sessionize(d, col("u"), col("t"), 10L, col("eid"))
        .orderBy("ts_us", "tie").collect().map(_.toSeq).toSeq
    val a = run(ev)
    assert(a === run(ev.repartition(7)))
    // all ties share one session (gap 0 never exceeds the threshold)
    assert(a.map(_(3)).distinct === Seq(1L))
  }

  test("sessionStats: entry/exit labels and durations; null rows excluded") {
    val ev = Seq(
      (Some(1L), Some(0L), 10L, "view"), (Some(1L), Some(60L), 11L, "click"),
      (Some(1L), Some(70L), 12L, "buy"), (Some(1L), Some(500L), 13L, "view"),
      (None, Some(9L), 14L, "view"), (Some(3L), None, 15L, "view"))
      .toDF("u", "t", "eid", "et")
    val got = Analytics.sessionStats(ev, col("u"), col("t"), gapUs = 100L,
        col("eid"), col("et"))
      .select("entity", "session_seq", "session_start_us", "session_end_us",
        "duration_us", "n_events", "entry_label", "exit_label")
      .as[(Long, Long, Long, Long, Long, Long, String, String)]
      .collect().toSeq
    assert(got === Seq(
      (1L, 1L, 0L, 70L, 70L, 3L, "view", "buy"),
      (1L, 2L, 500L, 500L, 0L, 1L, "view", "view")))
  }

  test("sessionStats(gap−1) rollups agree with the q49 streaming-batch " +
      "sessionizer's >= gap semantics") {
    // strict > (gap−1) ≡ >= gap on integer µs: the two operators'
    // documented conventions meet exactly, so their session boundaries
    // must coincide on ANY data — cross-checking the new row-level
    // path against the oracled q49 plan (and transitively against the
    // streaming flatMapGroupsWithState operator SessionizeSpec ties to
    // that plan).
    val ev = (0 until 500).map { i =>
      val u = i % 7L
      val t = new Timestamp(i.toLong * 347000L * (i % 11 + 1))
      (u, t, i.toLong, 1.0)
    }.toDF("user_id", "ts", "eid", "value")
    val gapUs = 30L * 60L * 1000000L
    val mine = Analytics.sessionStats(ev, col("user_id"),
        unix_micros(col("ts")), gapUs - 1L, col("eid"), lit("x"))
      .select(col("entity"), col("session_start_us"),
        col("session_end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val q49 = graft.streaming.Sessionize.sessionizeBatch(
        ev.select(col("user_id"), col("ts"), col("value")), gapMinutes = 30)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events").cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(mine === q49)
  }

  test("transitionEntropy: deterministic flow scores 0; mixed flow scores ln 2") {
    import spark.implicits._
    // one user: a,b,a,c,a,b,a,c -> from a: {b:2, c:2}; b,c deterministic
    val seq = Seq("a", "b", "a", "c", "a", "b", "a", "c").zipWithIndex
      .map { case (s, i) => (1L, i.toLong, s) }
    val df = seq.toDF("u", "t", "s")
    val got = Analytics.transitionEntropy(df, col("u"),
      Seq(col("t")), col("s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val ln2term = math.floor(0.5 * -math.log(0.5) * 1e9 + 0.5).toLong
    assert(got("a") === ((4L, 2L * ln2term, 7L,
      4L * 2L * ln2term / 7L)))
    assert(got("b")._2 === 0L && got("c")._2 === 0L)
    assert(got.values.map(_._4).toSet.size === 1) // total repeated
  }

  test("ebShrink: small samples shrink to the prior, evidence wins out") {
    import spark.implicits._
    // prior: 5 pseudo-successes / 20 pseudo-trials (mean 0.25)
    val rows = (Seq.fill(1)(("lucky", true)) ++
      Seq.fill(990)(("solid", true)) ++ Seq.fill(10)(("solid", false)))
      .toDF("k", "s")
    val got = Analytics.ebShrink(rows, col("k"), col("s"),
      alphaMicro = 5000000L, betaMicro = 15000000L)
      .collect().map(r => r.getString(0) -> r).toMap
    // raw: lucky 1.0 beats solid 0.99 — EB inverts that
    assert(got("lucky").getLong(3) === 1000000L)
    assert(got("solid").getLong(3) === 990000L)
    // lucky: (1e6+5e6)*1e6 DIV (1e6+20e6) = 285714; solid ≈ 975490
    assert(got("lucky").getLong(4) === 6000000000000L / 21000000L)
    assert(got("solid").getLong(4) ===
      (990000000L + 5000000L) * 1000000L / (1000000000L + 20000000L))
    assert(got("solid").getLong(5) === 1L && got("lucky").getLong(5) === 2L)
    intercept[IllegalArgumentException] {
      Analytics.ebShrink(rows, col("k"), col("s"), 0L, 1L)
    }
  }

  test("simpsonCheck: the textbook flip is flagged, division-free") {
    import spark.implicits._
    // slice x: A mean 9 vs B mean 8 (A wins); slice y: A 2 vs B 1 (A
    // wins); but A's traffic concentrates in the low-value slice:
    // overall A = (9 + 2·9)/10 = 2.7 < B = (8·9 + 1)/10 = 7.3
    val rows = (Seq((true, "x", 9L)) ++ Seq.fill(9)((true, "y", 2L)) ++
      Seq.fill(9)((false, "x", 8L)) ++ Seq((false, "y", 1L)))
      .toDF("a", "sl", "v")
    val got = Analytics.simpsonCheck(rows, col("a"), col("sl"), col("v"))
      .collect().map(r => r.getString(0) -> (r.getInt(5), r.getInt(6),
        r.getBoolean(7))).toMap
    assert(got("x") === ((1, -1, true)) && got("y") === ((1, -1, true)))
    // a one-sided slice has direction 0 and never counts as a flip
    val oneSided = rows.union(Seq((true, "z", 5L)).toDF("a", "sl", "v"))
    val z = Analytics.simpsonCheck(oneSided, col("a"), col("sl"),
      col("v")).collect().map(r => r.getString(0) -> r.getBoolean(7)).toMap
    assert(!z("z"))
  }

  test("simpsonCheck: layout independence; exact tie is direction 0") {
    import spark.implicits._
    val tie = Seq((true, "t", 4L), (false, "t", 4L)).toDF("a", "sl", "v")
    assert(Analytics.simpsonCheck(tie, col("a"), col("sl"), col("v"))
      .collect().head.getInt(5) === 0)
    val big = (0 until 700).map(i =>
      (i % 3 == 0, s"s${i % 6}", ((i * 13) % 50).toLong))
      .toDF("a", "sl", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.simpsonCheck(d, col("a"), col("sl"), col("v"))
        .collect().map(_.toSeq).toSeq
    assert(run(big) === run(big.repartition(11)))
  }

  test("cuped: hand moments — covariate imbalance shrinks the variant gap") {
    import spark.implicits._
    // y = x + small effect; A drew low-x users, B high-x: raw delta 25
    val rows = Seq(("A", 110L, 10L), ("A", 120L, 20L),
      ("B", 135L, 30L), ("B", 145L, 40L)).toDF("v", "y", "x")
    val got = Analytics.cuped(rows, col("v"), col("y"), col("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("A").getLong(4) === 2400L && got("A").getLong(5) === 2000L)
    assert(got("A").getDouble(6) === 1.2)
    assert(got("A").getDouble(7) === 115.0 && got("B").getDouble(7) === 140.0)
    // adjusted: 115 − 1.2·(15−25) = 127; 140 − 1.2·(35−25) = 128
    assert(got("A").getDouble(8) === 127.0 && got("B").getDouble(8) === 128.0)
  }

  test("cuped: constant covariate is an honest no-op; layout-proof") {
    import spark.implicits._
    val const = Seq(("A", 10L, 5L), ("B", 20L, 5L)).toDF("v", "y", "x")
    val r = Analytics.cuped(const, col("v"), col("y"), col("x"))
      .collect()
    assert(r.forall(_.isNullAt(6)))
    assert(r.forall(row => row.getDouble(8) === row.getDouble(7)))
    val big = (0 until 400).map(i =>
      (s"v${i % 2}", (i * 3 % 97).toLong, (i * 7 % 89).toLong))
      .toDF("v", "y", "x")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.cuped(d, col("v"), col("y"), col("x"))
        .collect().map(_.toSeq).toSeq
    assert(run(big) === run(big.repartition(13)))
  }

  test("transitionEntropy: layout independence") {
    import spark.implicits._
    val rows = (0 until 900).map(i =>
      ((i % 13).toLong, i.toLong, s"s${(i * 7) % 5}"))
    val df = rows.toDF("u", "t", "s")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.transitionEntropy(d, col("u"), Seq(col("t")), col("s"))
        .collect().map(_.toSeq).toSeq
    assert(run(df) === run(df.repartition(17)))
  }

  test("diffInDiff: hand 2x2 cells, exact micro means") {
    import spark.implicits._
    // T pre mean 10, T post mean 25, C pre mean 5, C post mean 8
    // DiD = (25 - 10) - (8 - 5) = 12 -> 12_000_000 micro
    val rows = Seq(
      (true, false, 10L), (true, false, 10L),
      (true, true, 20L), (true, true, 30L),
      (false, false, 5L), (false, true, 8L))
    val r = Analytics.diffInDiff(rows.toDF("t", "p", "v"),
      col("t"), col("p"), col("v")).collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 20L)  // T pre
    assert(r.getLong(2) === 2L && r.getLong(3) === 50L)  // T post
    assert(r.getLong(8) === 0L)
    assert(r.getLong(9) === 12000000L)
  }

  test("diffInDiff: empty cell NULLs the estimate; negatives drop visibly; layout-proof") {
    import spark.implicits._
    val noCpost = Seq((true, false, 1L), (true, true, 2L),
      (false, false, 3L))
    val r = Analytics.diffInDiff(noCpost.toDF("t", "p", "v"),
      col("t"), col("p"), col("v")).collect().head
    assert(r.isNullAt(9), "missing control-post cell: no DiD")
    val withNeg = (0 until 40).map(i => (i % 2 == 0, i % 4 < 2,
      if (i == 3) -9L else (i % 7).toLong))
    val df = withNeg.toDF("t", "p", "v")
    val d = Analytics.diffInDiff(df, col("t"), col("p"), col("v"))
      .collect().head
    assert(d.getLong(8) === 1L)
    assert(d.toSeq === Analytics.diffInDiff(df.repartition(9), col("t"),
      col("p"), col("v")).collect().head.toSeq)
  }

  test("markovBacktest: hand chains — model beats baseline, unseen counted") {
    import spark.implicits._
    // train (t < 100): u1: a->b, b->a, a->b ; u2: a->b
    // model: a->b (3), b->a (1); baseline: b (3 wins over a's 1)
    // test (t >= 100): u1: b->a (hit; base miss), a->b (hit; base hit),
    //   u2: b->c (miss; base miss), then c->b: c UNSEEN (miss; base hit)
    val rows = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "a"), (1L, 40L, "b"),
      (2L, 10L, "a"), (2L, 20L, "b"),
      (1L, 110L, "a"), (1L, 120L, "b"),
      (2L, 110L, "c"), (2L, 120L, "b"))
    val df = rows.toDF("u", "t", "s")
    val r = Analytics.markovBacktest(df, col("u"), col("t"), col("t"),
      col("s"), splitTsUs = 100L).collect().head
    assert(r.getLong(0) === 4L)  // n_train
    assert(r.getLong(1) === 4L)  // n_test
    assert(r.getLong(2) === 1L)  // unseen 'c'
    assert(r.getLong(3) === 2L)  // hits: b->a, a->b
    assert(r.getLong(4) === 500000L)
    assert(r.getLong(5) === 2L)  // baseline 'b' hits a->b and c->b
    assert(r.getLong(7) === 1000000L) // lift 2/2
  }

  test("markovBacktest: deterministic tiebreak and layout independence") {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      val u = (i % 10).toLong
      val t = (i / 10).toLong * 10 + u
      (u, t, s"s${(i * 7) % 4}")
    }
    val df = rows.toDF("u", "t", "s")
    def run(d: org.apache.spark.sql.DataFrame) =
      Analytics.markovBacktest(d, col("u"), col("t"), col("t"),
        col("s"), splitTsUs = 120L).collect().head.toSeq
    assert(run(df) === run(df.repartition(13)))
  }
}
