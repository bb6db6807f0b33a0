package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Integer likelihood-ratio classifier: hand-computed weights, unseen-term
  * backoff, separation on a synthetic two-class corpus, degenerate docs. */
class ClassifySpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("weights match the hand-computed ratio formula") {
    // pos corpus: "spark spark", neg corpus: "flink"
    // c(spark)=(2,0), c(flink)=(0,1); T+=2, T-=1, V=2
    val train = Seq((true, "spark spark"), (false, "flink"))
      .toDF("label", "text")
    val m = Classify.ratioModel(train, col("label"), col("text"))
      .select("term", "w_ppm").as[(String, Long)].collect().toMap
    // w(spark) = 1e6·(2+1)·(1+2) DIV ((2+2)·(0+1)) = 9e6 DIV 4 = 2250000
    assert(m("spark") == 2250000L)
    // w(flink) = 1e6·(0+1)·(1+2) DIV ((2+2)·(1+1)) = 3e6 DIV 8 = 375000
    assert(m("flink") == 375000L)
  }

  test("scores average per-token ratios; unseen terms use the w0 backoff") {
    val train = Seq((true, "spark spark"), (false, "flink"))
      .toDF("label", "text")
    val m = Classify.ratioModel(train, col("label"), col("text"))
    val test = Seq((1L, "spark"), (2L, "flink"), (3L, "unseen"),
      (4L, "spark flink")).toDF("doc_id", "text")
    val out = Classify.ratioScore(test, m)
      .orderBy("doc_id")
      .select("doc_id", "score_ppm", "pred")
      .as[(Long, Option[Long], Option[Boolean])].collect()
    assert(out(0) == ((1L, Some(2250000L), Some(true))))
    assert(out(1) == ((2L, Some(375000L), Some(false))))
    // w0 = 1e6·(1+2) DIV (2+2) = 750000 → negative-leaning neutral
    assert(out(2) == ((3L, Some(750000L), Some(false))))
    // (2250000 + 375000) DIV 2 = 1312500 → positive
    assert(out(3) == ((4L, Some(1312500L), Some(true))))
  }

  test("tokenless and null-text docs score NULL but stay in the output") {
    val train = Seq((true, "a"), (false, "b")).toDF("label", "text")
    val m = Classify.ratioModel(train, col("label"), col("text"))
    val test = Seq((1L, ""), (2L, null.asInstanceOf[String]), (3L, "a"))
      .toDF("doc_id", "text")
    val out = Classify.ratioScore(test, m)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "score_ppm")
      .as[(Long, Long, Option[Long])].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out(0)._2 == 0L && out(0)._3.isEmpty)
    assert(out(1)._2 == 0L && out(1)._3.isEmpty)
    assert(out(2)._3.nonEmpty)
  }

  test("separates a synthetic two-vocabulary corpus") {
    val pos = (0 until 30).map(i => (true, s"good great fine token$i"))
    val neg = (0 until 30).map(i => (false, s"bad awful poor token$i"))
    val train = (pos ++ neg).toDF("label", "text")
    val m = Classify.ratioModel(train, col("label"), col("text"))
    val test = Seq((1L, "good great stuff"), (2L, "awful poor stuff"))
      .toDF("doc_id", "text")
    val out = Classify.ratioScore(test, m)
      .select("doc_id", "pred").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && !out(2L))
  }

  test("null labels are excluded from training") {
    val train = Seq((Some(true), "spark"), (Some(false), "flink"),
      (None, "poison poison poison")).toDF("label", "text")
    val m = Classify.ratioModel(train, col("label"), col("text"))
    assert(m.filter(col("term") === "poison").count() == 0)
  }

  test("evalBinary: hand-computed confusion and ppm metrics") {
    val scored = Seq(
      (Some(true), Some(true)),   // tp
      (Some(true), Some(true)),   // tp
      (Some(true), Some(false)),  // fp
      (Some(false), Some(true)),  // fn
      (Some(false), Some(false)), // tn
      (None, Some(true)),         // null pred
      (Some(true), None)          // null truth
    ).toDF("pred", "truth")
    val r = Classify.evalBinary(scored, col("pred"), col("truth"))
      .select("tp", "fp", "tn", "fn", "n_null", "accuracy_ppm",
        "precision_ppm", "recall_ppm", "f1_ppm")
      .as[(Long, Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long], Option[Long])].head()
    assert(r._1 == 2L && r._2 == 1L && r._3 == 1L && r._4 == 1L && r._5 == 2L)
    assert(r._6 == Some(600000L))  // 3/5
    assert(r._7 == Some(666666L))  // 2/3 truncated
    assert(r._8 == Some(666666L))  // 2/3
    // f1 = 2·p·r/(p+r) on the ppm values = 666666
    assert(r._9 == Some(666666L))
  }

  test("evalBinary: undefined metrics are NULL, not fake zeros") {
    // no positive predictions → precision NULL; no positive truth →
    // recall NULL; both → f1 NULL
    val allNeg = Seq((Some(false), Some(false)), (Some(false), Some(false)))
      .toDF("pred", "truth")
    val r = Classify.evalBinary(allNeg, col("pred"), col("truth"))
      .select("accuracy_ppm", "precision_ppm", "recall_ppm", "f1_ppm")
      .as[(Option[Long], Option[Long], Option[Long], Option[Long])].head()
    assert(r._1 == Some(1000000L) && r._2.isEmpty && r._3.isEmpty &&
      r._4.isEmpty)
    // empty frame: every cell 0, every metric NULL
    val e = Classify.evalBinary(allNeg.limit(0), col("pred"), col("truth"))
      .select("tp", "accuracy_ppm")
      .as[(Long, Option[Long])].head()
    assert(e._1 == 0L && e._2.isEmpty)
  }

  test("layout independence: same scores on any partitioning") {
    val train = (0 until 40).map(i =>
      (i % 3 == 0, s"w${i % 7} w${i % 5} w${i % 11}")).toDF("label", "text")
    val test = (0 until 25).map(i => (i.toLong, s"w${i % 7} w${i % 5}"))
      .toDF("doc_id", "text")
    val a = Classify.ratioScore(test,
        Classify.ratioModel(train, col("label"), col("text")))
      .orderBy("doc_id").collect().toSeq
    val b = Classify.ratioScore(test.repartition(13),
        Classify.ratioModel(train.repartition(7), col("label"), col("text")))
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("evalBinaryBy: per-slice metrics expose a subgroup gap the average hides") {
    // slice "en": perfect; slice "sw": all wrong; average accuracy 50%
    val rows = Seq(
      ("en", true, true), ("en", false, false),
      ("sw", true, false), ("sw", false, true)
    ).toDF("lang", "p", "t")
    val out = Classify.evalBinaryBy(rows, col("lang"), col("p"), col("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(4),
          Option(r.get(6)).map(_.asInstanceOf[Long])))).toMap
    assert(out("en")._3 === Some(1000000L))
    assert(out("sw")._3 === Some(0L))
    // slice-blind evalBinary would have reported 500000
    val avg = Classify.evalBinary(rows, col("p"), col("t")).collect().head
    assert(avg.getLong(5) === 500000L)
  }

  test("evalBinaryBy: null slice forms its own visible group; agrees with per-slice evalBinary") {
    val rows = Seq((Some("a"), true, true), (None, true, false),
      (None, false, false)).toDF("s", "p", "t")
    val out = Classify.evalBinaryBy(rows, col("s"), col("p"), col("t"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap // fp
    assert(out.keySet === Set("a", "(null)"))
    assert(out("(null)") === 1L)
    val direct = Classify.evalBinary(rows.filter(col("s").isNull),
      col("p"), col("t")).collect().head
    assert(direct.getLong(1) === 1L)
  }

  test("targetEncodeLoo: own label excluded, singleton NULL, truncating mean") {
    val df = Seq(
      (1L, "c1", 100L), (2L, "c1", 200L), (3L, "c1", 301L),
      (4L, "solo", 999L)
    ).toDF("id", "cat", "y")
    val out = Classify.targetEncodeLoo(df, col("id"), col("cat"), col("y"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    // row 1: (200+301) DIV 2 = 250; row 2: (100+301) DIV 2 = 200 (trunc)
    assert(out(1L) === ((3L, Some(250L))))
    assert(out(2L) === ((3L, Some(200L))))
    assert(out(3L) === ((3L, Some(150L))))
    assert(out(4L) === ((1L, None)))
  }

  test("targetEncodeLoo never leaks its own row: constant-except-one category") {
    // category of 50 rows: 49 zeros and one 1000 — the 1000-row's LOO
    // must be 0 (pure others), every zero-row's LOO is 1000/49 = 20
    val df = ((0L until 49L).map(i => (i, "c", 0L)) :+ (99L, "c", 1000L))
      .toDF("id", "cat", "y")
    val out = Classify.targetEncodeLoo(df, col("id"), col("cat"), col("y"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(99L) === 0L)
    assert((0L until 49L).forall(i => out(i) === 20L))
  }

  test("evalMulticlass: hand confusion, one-vs-rest cells, NULL metrics") {
    val rows = Seq(
      ("a", "a"), ("a", "a"), ("a", "b"),  // truth a: 2 right, 1 → b
      ("b", "b"),                           // truth b: 1 right
      ("c", "a"),                           // truth c: predicted a
      ("d", null)                           // null pred → excluded
    ).map { case (t, p) => (p, t) }.toDF("p", "t")
    val out = Classify.evalMulticlass(rows, col("p"), col("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.get(5)).map(_.asInstanceOf[Long]),
          Option(r.get(6)).map(_.asInstanceOf[Long])))).toMap
    // class a: tp 2, fp 1 (the c→a miss), fn 1 (a→b), support 3
    assert(out("a") === ((2L, 1L, 1L, 3L, Some(666666L), Some(666666L))))
    // class b: tp 1, fp 1, fn 0, support 1 → precision .5, recall 1
    assert(out("b") === ((1L, 1L, 0L, 1L, Some(500000L), Some(1000000L))))
    // class c: never predicted → precision NULL, recall 0
    assert(out("c") === ((0L, 0L, 1L, 1L, None, Some(0L))))
    assert(!out.contains("d")) // its only row was null-pred
  }

  test("evalMulticlass: binary case agrees with evalBinary; layout independence") {
    val rows = (0 until 1000).map { i =>
      (if ((i * 7) % 3 == 0) "pos" else "neg",
       if ((i * 13) % 4 == 0) "pos" else "neg")
    }.toDF("p", "t")
    val mc = Classify.evalMulticlass(rows, col("p"), col("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val bin = Classify.evalBinary(rows, col("p") === "pos", col("t") === "pos")
      .collect().head
    assert(mc("pos") === ((bin.getLong(0), bin.getLong(1), bin.getLong(3))))
    val b = Classify.evalMulticlass(rows.repartition(13), col("p"), col("t"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(b === mc.map { case (k, v) => k -> ((v._1, v._2, v._3)) })
  }

  private def aucRow(rows: Seq[(Long, Boolean)]) = {
    import spark.implicits._
    val r = Classify.aucExact(rows.toDF("s", "t"), col("s"), col("t"))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      Option(r.get(4)).map(_.asInstanceOf[Double]))
  }

  test("aucExact: perfect, inverted, random-tie, and textbook-tie cases") {
    // perfect separation: every pos above every neg → auc 1
    assert(aucRow(Seq((10L, true), (9L, true), (1L, false), (2L, false))) ===
      ((2L, 2L, 0L, 8L, Some(1.0))))
    // fully inverted → 0
    assert(aucRow(Seq((1L, true), (10L, false))) ===
      ((1L, 1L, 0L, 0L, Some(0.0))))
    // all scores equal: every pair is a tie → 1/2
    assert(aucRow(Seq((5L, true), (5L, true), (5L, false))) ===
      ((2L, 1L, 0L, 2L, Some(0.5))))
    // hand case: pos {3,1}, neg {2,1}. pairs: (3,2)win (3,1)win
    // (1,2)loss (1,1)tie → u2 = 2·2 + 1 = 5 of 8 → 0.625
    assert(aucRow(Seq((3L, true), (1L, true), (2L, false), (1L, false))) ===
      ((2L, 2L, 0L, 5L, Some(0.625))))
  }

  test("aucExact publishes u2 as LONG — no DECIMAL on the output surface") {
    // DECIMAL output columns are driver-hash-unsafe (engines serialize
    // numerically-equal decimals differently); accumulation stays
    // DECIMAL(38,0) internally but the published column must be LONG.
    import spark.implicits._
    val schema = Classify.aucExact(Seq((1L, true)).toDF("s", "t"),
      col("s"), col("t")).schema
    assert(schema("u2").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(!schema.exists(_.dataType.typeName.startsWith("decimal")))
  }

  test("aucExact: one-class input → NULL auc; nulls quarantined not scored") {
    assert(aucRow(Seq((3L, true), (1L, true))) === ((2L, 0L, 0L, 0L, None)))
    val withNulls = Seq((Some(3L), Some(true)), (None, Some(false)),
      (Some(2L), None), (Some(1L), Some(false))).toDF("s", "t")
    val r = Classify.aucExact(withNulls, col("s"), col("t")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 1L, 2L)))
    assert(r.getDouble(4) === 1.0)
  }

  test("aucExact is layout-independent and matches a naive pair count") {
    val rows = (0 until 2000).map { i =>
      val s = ((i * 7919) % 101).toLong
      (s, (i * 13) % 3 == 0 || s > 60)
    }
    val naive = {
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      val u2 = pos.map(p => neg.map(n =>
        if (p > n) 2L else if (p == n) 1L else 0L).sum).sum
      (pos.size.toLong, neg.size.toLong, u2,
        u2.toDouble / (2.0 * pos.size * neg.size))
    }
    Seq(1, 7).foreach { parts =>
      val r = Classify.aucExact(rows.toDF("s", "t").repartition(parts),
        col("s"), col("t")).collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(3),
        r.getDouble(4)) === ((naive._1, naive._2, naive._3, naive._4)))
    }
  }

  test("woeIv: hand-computed symmetric table; iv from quantized longs") {
    import spark.implicits._
    val rows = Seq.fill(4)(("A", true)) ++ Seq(("A", false)) ++
      Seq(("B", true)) ++ Seq.fill(4)(("B", false))
    val out = Classify.woeIv(rows.toDF("f", "y"), col("f"), col("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(6))).toSeq
    // woe(A) = ln((4·5)/(1·5)) = ln 4; B symmetric; each contrib
    // 0.6·ln4 ≈ 0.8317766 → 831777 µ; iv = 1663554 µ
    assert(out.map(t => (t._1, t._2, t._3, t._4)) ===
      Seq(("A", 5L, 4L, 1L), ("B", 5L, 1L, 4L)))
    assert(math.abs(out.head._5 - math.log(4.0)) < 1e-12)
    assert(out.forall(_._6 === 1663554L))
  }

  test("woeIv: one-sided bins NULL and excluded from iv; NULL bin is a bin") {
    import spark.implicits._
    val rows = Seq((Some("A"), true), (Some("A"), false),
      (Some("P"), true), (Some("P"), true), // pure-positive: undefined woe
      (None: Option[String], false), (None, true))
    val out = Classify.woeIv(rows.toDF("f", "y"), col("f"), col("y"))
      .collect()
    // nulls-first order: NULL bin, then A, then P
    assert(out.map(r => Option(r.getString(0))) ===
      Array(None, Some("A"), Some("P")))
    val p = out.find(r => r.getString(0) == "P").get
    assert(p.isNullAt(4) && p.isNullAt(5)) // woe, iv_contrib NULL
    // iv sums only the defined bins — and every row carries the same iv
    assert(out.map(_.getLong(6)).distinct.length === 1)
    val defined = out.filter(!_.isNullAt(5))
      .map(r => math.floor(r.getDouble(5) * 1e6 + 0.5).toLong).sum
    assert(out.head.getLong(6) === defined)
  }

  test("woeIv: layout independence") {
    import spark.implicits._
    val rows = (0 until 400).map(i => (s"b${i % 7}", i % 3 == 0))
    val df = rows.toDF("f", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Classify.woeIv(d, col("f"), col("y")).collect().map(_.toSeq).toSeq
    assert(run(df) === run(df.repartition(13)))
  }

  test("ipsEval: hand-computed weights, mismatch zero, bad propensity counted") {
    import spark.implicits._
    val logs = Seq((1L, "x", 1000000L, 500000L),
      (2L, "y", 2000000L, 250000L), (3L, "x", 500000L, 0L))
      .toDF("k", "a", "r", "p")
    val policy = Seq((1L, "x"), (2L, "n"), (3L, "x")).toDF("pk", "pa")
    val r = Classify.ipsEval(logs, col("k"), col("a"), col("r"), col("p"),
      policy, col("pk"), col("pa")).collect().head
    // row1: match, w = 1e12 DIV 5e5 = 2e6 µ, term 2e6·1e6 → sum_wr 2e6
    // row2: policy mismatch → weight 0; row3: match but p=0 → bad
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((3L, 2L, 1L, 2000000L, 2000000L)))
    assert(r.getDouble(5) === 2000000.0 / 3)
    assert(r.getDouble(6) === 1000000.0)
  }

  test("ipsEval: uniform logging + always-match policy recovers the mean; " +
      "layout-proof") {
    import spark.implicits._
    // p = 1 (1e6 ppm) and π ≡ logged ⇒ IPS = SNIPS = mean reward
    val logs = (1L to 200L).map(i => (i, "a", i * 1000L, 1000000L))
      .toDF("k", "a", "r", "p")
    val policy = (1L to 200L).map(i => (i, "a")).toDF("pk", "pa")
    def run(l: org.apache.spark.sql.DataFrame) =
      Classify.ipsEval(l, col("k"), col("a"), col("r"), col("p"),
        policy, col("pk"), col("pa")).collect().head
    val r = run(logs)
    val mean = (1L to 200L).map(_ * 1000L).sum.toDouble / 200
    assert(r.getDouble(5) === mean && r.getDouble(6) === mean)
    assert(run(logs.repartition(13)).toSeq === r.toSeq)
  }

  test("brierDecomposition: hand-computed two-bin table") {
    import spark.implicits._
    // (p ppm, y): bin0 = {.2/0, .2/0, .4/1}, bin1 = {.8/1, .6/0}
    val rows = Seq((200000L, false), (200000L, false), (400000L, true),
      (800000L, true), (600000L, false))
    val r = Classify.brierDecomposition(rows.toDF("p", "y"), col("p"),
      col("y"), nBins = 2).collect().head
    assert(r.getLong(0) === 5L)
    assert(r.getLong(1) === 168000000000L) // 0.168 in µ²
    assert(r.getLong(2) === 18666693333L)  // REL ≈ 0.018667
    assert(r.getLong(3) === 6666693334L)   // RES ≈ 0.006667
    assert(r.getLong(4) === 239999799999L) // ȳ=399999ppm → UNC ≈ 0.24
    // the published gap = within-bin var − 2·within-bin cov ≈ −0.084
    assert(r.getLong(5) ===
      r.getLong(1) - (r.getLong(2) - r.getLong(3) + r.getLong(4)))
  }

  test("brierDecomposition: constant-per-bin forecasts close the gap " +
      "to quantization only; layout-proof") {
    import spark.implicits._
    // forecasts constant within each bin and equal to that bin's exact
    // positive rate → REL = 0, gap = 0 (no quantization loss either:
    // rates are exact ppm)
    val rows = Seq.fill(3)((250000L, true)) ++ Seq.fill(9)((250000L, false)) ++
      Seq.fill(3)((750000L, true)) ++ Seq((750000L, false))
    val df = rows.toDF("p", "y")
    val r = Classify.brierDecomposition(df, col("p"), col("y"), 2)
      .collect().head
    assert(r.getLong(2) === 0L, "calibrated constant bins ⇒ REL 0")
    assert(r.getLong(5) === 0L, "constant forecasts ⇒ zero gap")
    assert(Classify.brierDecomposition(df.repartition(7), col("p"),
      col("y"), 2).collect().head.toSeq === r.toSeq)
  }

  test("drEval: zero model reduces to IPS; perfect model kills corrections") {
    import spark.implicits._
    val logs = Seq((1L, "x", 1000000L, 500000L),
      (2L, "y", 2000000L, 250000L), (3L, "x", 600000L, 500000L))
      .toDF("k", "a", "r", "p")
    val policy = Seq((1L, "x"), (2L, "n"), (3L, "x")).toDF("pk", "pa")
    val zeroQ = Seq(("x", 0L), ("y", 0L), ("n", 0L)).toDF("qa", "qv")
    val dZero = Classify.drEval(logs, col("k"), col("a"), col("r"),
      col("p"), policy, col("pk"), col("pa"), zeroQ, col("qa"),
      col("qv")).collect().head
    val ips = Classify.ipsEval(logs, col("k"), col("a"), col("r"),
      col("p"), policy, col("pk"), col("pa")).collect().head
    assert(dZero.getDouble(6) === ips.getDouble(5)) // DR == IPS
    assert(dZero.getLong(3) === 0L)                 // no model mass
    // perfect model: q̂ equals every reward of its action exactly →
    // corrections vanish, DR == DM == mean model value of π(x)
    val logs2 = Seq((1L, "x", 500000L, 500000L),
      (2L, "y", 900000L, 250000L), (3L, "x", 500000L, 500000L))
      .toDF("k", "a", "r", "p")
    val perfectQ = Seq(("x", 500000L), ("y", 900000L), ("n", 300000L))
      .toDF("qa", "qv")
    val d = Classify.drEval(logs2, col("k"), col("a"), col("r"),
      col("p"), policy, col("pk"), col("pa"), perfectQ, col("qa"),
      col("qv")).collect().head
    assert(d.getLong(4) === 0L) // sum_corr == 0
    // model term: π gives x,n,x → 500000 + 300000 + 500000 over 3
    assert(d.getLong(3) === 1300000L)
    assert(d.getDouble(5) === d.getDouble(6))
  }

  test("drEval: bad propensity keeps the model term, drops only the correction; layout-proof") {
    import spark.implicits._
    val logs = Seq((1L, "x", 1000000L, 0L), (2L, "x", 1000000L, 500000L))
      .toDF("k", "a", "r", "p")
    val policy = Seq((1L, "x"), (2L, "x")).toDF("pk", "pa")
    val q = Seq(("x", 400000L)).toDF("qa", "qv")
    def run(l: org.apache.spark.sql.DataFrame) =
      Classify.drEval(l, col("k"), col("a"), col("r"), col("p"),
        policy, col("pk"), col("pa"), q, col("qa"), col("qv"))
        .collect().head
    val r = run(logs)
    assert(r.getLong(2) === 1L)       // one bad propensity
    assert(r.getLong(3) === 800000L)  // BOTH rows keep the model term
    // correction only from row 2: w = 2e6 µ, residual 6e5 → 1.2e6
    assert(r.getLong(4) === 1200000L)
    assert(run(logs.repartition(7)).toSeq === r.toSeq)
  }

  test("conformalThreshold: textbook ranks, tie safety, unattainable → NULL") {
    import spark.implicits._
    // group a: scores 1..9, α=10% → rank = ⌈10·0.9⌉ = 9 → threshold 9
    // group b: 4 points all tied at 7 → rank = ⌈5·0.9⌉ = 5 > 4 → NULL
    // group c: 19 points 1..19 → rank = ⌈20·0.9⌉ = 18 → threshold 18
    val rows = (1L to 9L).map(("a", _)) ++ Seq.fill(4)(("b", 7L)) ++
      (1L to 19L).map(("c", _))
    val got = Classify.conformalThreshold(rows.toDF("g", "s"), col("g"),
        col("s"), alphaPpm = 100000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(got === Seq(("a", 9L, 9L, Some(9L)), ("b", 4L, 5L, None),
      ("c", 19L, 18L, Some(18L))))
    // coverage property on c: ≥ 90% of calibration scores ≤ threshold
    assert((1L to 19L).count(_ <= 18L) >= math.ceil(19 * 0.9))
  }

  test("conformalThreshold: duplicates count individually; layout-proof") {
    import spark.implicits._
    // 10 copies of 5 then 1..8: n=18, rank=⌈19·0.9⌉=18 → the 18th
    // smallest of (1,2,3,4,5×11,6,7,8) = 8
    val rows = Seq.fill(10)(("g", 5L)) ++ (1L to 8L).map(("g", _))
    val df = rows.toDF("g", "s")
    def run(d: org.apache.spark.sql.DataFrame) =
      Classify.conformalThreshold(d, col("g"), col("s"), 100000L)
        .collect().map(_.toSeq).toSeq
    val a = run(df)
    assert(a.head === Seq("g", 18L, 18L, 8L))
    assert(a === run(df.repartition(7)))
  }

  test("conformalThreshold: NULL group is a real slice with its own threshold") {
    import spark.implicits._
    // NULL slice: scores 1..9 at α=10% → rank 9 → threshold 9, exactly
    // like a named group — the counts⋈cum join must be null-safe
    val rows: Seq[(Option[String], Long)] =
      (1L to 9L).map(s => (None: Option[String], s)) ++
        (1L to 9L).map(s => (Some("a"), s))
    val got = Classify.conformalThreshold(rows.toDF("g", "s"), col("g"),
        col("s"), alphaPpm = 100000L)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSeq
    // Spark asc = NULLS FIRST: the NULL slice sorts ahead of "a"
    assert(got === Seq((None, 9L, 9L, Some(9L)),
      (Some("a"), 9L, 9L, Some(9L))))
  }

  test("brierDecomposition: out-of-contract scores clamp into edge bins") {
    import spark.implicits._
    // scores -2e5 and 12e5 are outside [0, 1e6]: they must land in
    // bins 0 and 9 (never a negative bin), and their un-clamped
    // (p−y)² terms still charge the Brier sum
    val rows = Seq((-200000L, false), (1200000L, true),
      (500000L, false), (500000L, true))
    val r = Classify.brierDecomposition(rows.toDF("p", "y"), col("p"),
      col("y"), nBins = 10).collect().head
    assert(r.getLong(0) === 4L)
    // Σ(p−y)² = (−2e5)² + (2e5)² + (5e5)² + (−5e5)² = 5.8e11 over 4
    assert(r.getLong(1) === 580000000000L / 4L)
    // identical result under any layout (bin ids clamp identically)
    val r2 = Classify.brierDecomposition(
      rows.toDF("p", "y").repartition(5), col("p"), col("y"), 10)
      .collect().head
    assert(r2.toSeq === r.toSeq)
  }

  test("isotonicCalibrate: hand PAV pooling via the minimax form") {
    import spark.implicits._
    // bins 0/5/9 with raw rates 0.5 / 0 / 1 and equal weight 2:
    // PAV pools {bin0, bin5} to (1e6·1) DIV 4 = 250000, leaves bin9
    val rows = Seq((50000L, true), (50000L, false),
      (550000L, false), (550000L, false),
      (950000L, true), (950000L, true))
    val got = Classify.isotonicCalibrate(rows.toDF("p", "y"), col("p"),
        col("y"), nBins = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq(
      (0, 2L, 1L, 500000L, 250000L),
      (5, 2L, 0L, 0L, 250000L),
      (9, 2L, 2L, 1000000L, 1000000L)))
    // pooled block preserves mass exactly here (integral means)
    assert(got.map(r => r._2 * r._5).sum === got.map(r => r._2 * r._4).sum)
  }

  test("isotonicCalibrate: monotone on any input; already-isotonic is identity; layout-proof") {
    import spark.implicits._
    val rows = (0 until 4000).map(i =>
      (((i * 7919) % 1000000).toLong, (i * 31) % 97 < (i * 7919) % 90))
    val df = rows.toDF("p", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Classify.isotonicCalibrate(d, col("p"), col("y"), nBins = 10)
        .collect().map(r => (r.getInt(0), r.getLong(4))).toSeq
    val a = run(df)
    assert(a === run(df.repartition(17)))
    assert(a.sliding(2).forall(w =>
      w.length < 2 || w(0)._2 <= w(1)._2), s"not monotone: $a")
    // an input already nondecreasing must come back unchanged
    val iso = Seq((50000L, false), (550000L, true), (550000L, false),
      (950000L, true))
    val ri = Classify.isotonicCalibrate(iso.toDF("p", "y"), col("p"),
      col("y"), 10).collect().map(r => r.getLong(3) -> r.getLong(4))
    ri.foreach { case (rate, fit) => assert(rate === fit) }
  }

  test("mutualInfo: independence → 0; perfect dependence → ln 2; nulls drop") {
    import spark.implicits._
    // independent 2×2: all four cells equal → every contribution 0
    val indep = Seq(("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"))
      .toDF("x", "y")
    val ri = Classify.mutualInfo(indep, col("x"), col("y")).collect()
    assert(ri.forall(_.getLong(5) === 0L))
    assert(ri.head.getLong(6) === 0L)
    // perfectly dependent: MI = ln 2 ≈ 0.693147180 (nano-quantized)
    val dep: Seq[(Option[String], Option[String])] =
      Seq(Some("a") -> Some("a"), Some("a") -> Some("a"),
        Some("b") -> Some("b"), Some("b") -> Some("b"),
        None -> Some("a"), Some("a") -> None) // null rows must drop
        .map { case (a, b) => (a, b) }
    val rd = Classify.mutualInfo(dep.toDF("x", "y"), col("x"), col("y"))
      .collect()
    assert(rd.length === 2)
    assert(rd.head.getLong(5) === 346573590L) // 0.5·ln2 in nano-nats
    assert(rd.head.getLong(6) === 693147180L)
  }

  test("mutualInfo: marginals from the cells frame; layout-independent") {
    import spark.implicits._
    val rows = (0 until 5000).map(i =>
      (s"x${i % 7}", s"y${(i * i) % 5}"))
    val df = rows.toDF("x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Classify.mutualInfo(d, col("x"), col("y"))
        .collect().map(_.toSeq).toSeq
    val a = run(df)
    assert(a === run(df.repartition(11)))
    // marginals must tie out to direct recounts
    val nx = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    a.foreach(r => assert(r(3) === nx(r.head.asInstanceOf[String])))
    // MI total ≥ 0 up to per-cell quantization slack
    val total = a.head(6).asInstanceOf[Long]
    assert(total >= -a.length)
  }

  test("calibrationBins: bin edges, truncating means, clamp at top bin") {
    val rows = Seq((50000L, false), (99999L, false), (150000L, true),
      (950000L, true), (1000000L, true))
    val out = Classify.calibrationBins(rows.toDF("p", "y"), col("p"),
        col("y"), nBins = 10)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // bin 0: scores 50000, 99999 → mean (149999 DIV 2), rate 0
    assert(out(0) === ((2L, 74999L, 0L)))
    // 150000 lands in bin 1 (closed lower edge)
    assert(out(1) === ((1L, 150000L, 1000000L)))
    // 1000000 · 10 DIV 1e6 = 10 → clamped into bin 9 with 950000
    assert(out(9) === ((2L, 975000L, 1000000L)))
    assert(out.keySet === Set(0, 1, 9))
  }

  test("decileLift: hand gains table — perfect top-tile targeting") {
    // 20 rows, scores 20..1, positives = the top-5 scores
    val rows = (1 to 20).map(i => (i.toLong, i.toLong, i > 15))
    val out = Classify.decileLift(rows.toDF("s", "id", "y"), col("s"),
        col("id"), col("y"), bins = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // tile 1: 2 rows, both positive; lift = (2·20·1e6) DIV (2·5) = 4e6
    assert(out(1L) === ((2L, 2L, 2L, 2L, 1000000L, 400000L, 4000000L)))
    // tile 3: cum 6 rows / 5 pos → capture 1e6, lift 1e8 DIV 30
    assert(out(3L) === ((2L, 1L, 6L, 5L, 500000L, 1000000L, 3333333L)))
    // tile 10: lift settles at exactly random = 1e6
    assert(out(10L) === ((2L, 0L, 20L, 5L, 0L, 1000000L, 1000000L)))
    assert(out.keySet === (1L to 10L).toSet)
  }

  test("decileLift: remainder rows land in the first (n mod bins) tiles, deterministically") {
    val rows = (1 to 12).map(i => (100L - i, i.toLong, i % 2 == 0))
    val out = Classify.decileLift(rows.toDF("s", "id", "y"), col("s"),
        col("id"), col("y"), bins = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ((rank−1)·10) DIV 12 puts 2 rows in tiles 1 and 6, 1 elsewhere
    assert(out === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 2L, 7L -> 1L, 8L -> 1L, 9L -> 1L, 10L -> 1L))
  }

  test("decileLift: score ties broken by tieBreak — layout-independent") {
    val rows = (0 until 500).map(i => ((i % 7).toLong, i.toLong, i % 3 == 0))
    def run(df: org.apache.spark.sql.DataFrame) =
      Classify.decileLift(df, col("s"), col("id"), col("y"), bins = 10)
        .collect().map(_.toSeq).toSeq
    val df = rows.toDF("s", "id", "y")
    assert(run(df) === run(df.repartition(17)))
  }

  test("mcnemar: concordance grid, discordant-only chi2, never-disagree NULL") {
    // truth t; A right on 1,2,3; B right on 1,4: b=2 (A only), c=1
    val rows = Seq(
      ("t", "t", "t"), ("t", "t", "x"), ("t", "t", "x"), // 1 both, 2 A-only
      ("t", "x", "t"),                                   // 1 B-only
      ("t", "x", "x"), (null, "t", "t"))                 // 1 both-wrong, 1 null
    val got = Classify.mcnemar(rows.toDF("y", "pa", "pb"), col("y"),
      col("pa"), col("pb")).collect().head
    assert(got.getLong(0) === 5L && got.getLong(1) === 1L)
    assert(got.getLong(2) === 1L && got.getLong(3) === 1L)
    assert(got.getLong(4) === 2L && got.getLong(5) === 1L)
    assert(got.getLong(6) === (1L * 1000000L) / 3L) // (2-1)^2 / 3
    val agreeing = Seq(("t", "t", "t"), ("t", "x", "x"))
    assert(Classify.mcnemar(agreeing.toDF("y", "pa", "pb"), col("y"),
      col("pa"), col("pb")).collect().head.isNullAt(6))
  }

  test("averagePrecision: hand-ranked list, perfect ranking, no positives") {
    // ranks 1..5 by score desc: pos at k=1,3,4
    val rows = Seq((10L, true, 1L), (9L, false, 2L), (8L, true, 3L),
      (7L, true, 4L), (6L, false, 5L)).toDF("s", "y", "id")
    val got = Classify.averagePrecision(rows, col("s"), col("y"), col("id"))
      .collect().head
    val terms = 1000000L + 2000000L / 3L + 3000000L / 4L
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) === ((3L, 2L, 0L)))
    assert(got.getLong(3) === terms && got.getLong(4) === terms / 3L)
    // all positives ranked first -> every precision@k = 1 -> AP = 1
    val perfect = Seq((9L, true, 1L), (8L, true, 2L), (1L, false, 3L))
      .toDF("s", "y", "id")
    assert(Classify.averagePrecision(perfect, col("s"), col("y"), col("id"))
      .collect().head.getLong(4) === 1000000L)
    val none = Seq((9L, false, 1L)).toDF("s", "y", "id")
    assert(Classify.averagePrecision(none, col("s"), col("y"), col("id"))
      .collect().head.isNullAt(4))
  }

  test("averagePrecision: score ties resolved by tieBreak — layout-independent") {
    val rows = (0 until 400).map(i => ((i % 5).toLong, i % 3 == 0, i.toLong))
    val df = rows.toDF("s", "y", "id")
    def run(d: org.apache.spark.sql.DataFrame) =
      Classify.averagePrecision(d, col("s"), col("y"), col("id"))
        .collect().head.toSeq
    assert(run(df) === run(df.repartition(13)))
  }

  test("benjaminiHochberg: hand battery — only the rank-1 alarm survives") {
    // m=4, alpha=0.05: thresholds 12500/25000/37500/50000
    val rows = Seq(("t1", 10000L), ("t2", 30000L), ("t3", 200000L),
      ("t4", 900000L)).toDF("t", "p")
    val got = Classify.benjaminiHochberg(rows, col("t"), col("p"), 50000L)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(5),
        r.getBoolean(6))).toSeq
    assert(got === Seq(("t1", 1L, 12500L, true), ("t2", 2L, 25000L, false),
      ("t3", 3L, 37500L, false), ("t4", 4L, 50000L, false)))
  }

  test("benjaminiHochberg: step-up accepts a non-qualifying p below k_max") {
    // rank 1 fails its own threshold but ranks 2 and 3 qualify -> ALL in
    val rows = Seq(("a", 40000L), ("b", 60000L), ("c", 90000L))
      .toDF("t", "p")
    val got = Classify.benjaminiHochberg(rows, col("t"), col("p"), 100000L)
      .collect().map(r => (r.getString(0), r.getBoolean(6))).toSeq
    assert(got === Seq(("a", true), ("b", true), ("c", true)))
    // nothing qualifies -> nothing selected, no NULL booleans
    val none = Seq(("a", 500000L), ("b", 900000L)).toDF("t", "p")
    assert(Classify.benjaminiHochberg(none, col("t"), col("p"), 50000L)
      .collect().forall(!_.getBoolean(6)))
  }

  test("benjaminiHochberg: invalid p-values drop visibly; ties break by name") {
    val rows = Seq[(String, Option[Long])](("a", Some(10000L)),
      ("z", Some(10000L)), ("bad", Some(2000000L)), ("nil", None))
      .toDF("t", "p")
    val got = Classify.benjaminiHochberg(rows, col("t"), col("p"), 100000L)
      .collect()
    assert(got.length === 2)
    assert(got.map(_.getLong(4)).toSet === Set(2L)) // n_dropped
    assert(got.map(r => (r.getString(0), r.getLong(2))).toSeq ===
      Seq(("a", 1L), ("z", 2L)))
    val big = (0 until 300).map(i => (s"t$i", ((i * 37) % 1000001).toLong))
      .toDF("t", "p")
    def run(d: org.apache.spark.sql.DataFrame) =
      Classify.benjaminiHochberg(d, col("t"), col("p"), 80000L)
        .collect().map(_.toSeq).toSeq
    assert(run(big) === run(big.repartition(13)))
  }

  test("bestThreshold: hand ROC sweep picks the Youden point") {
    // scores 1..5, labels n,p,n,p,p: best cut at s>=4 (TP 2, FP 0)
    val rows = Seq((1L, false), (2L, true), (3L, false), (4L, true),
      (5L, true)).toDF("s", "y")
    val got = Classify.bestThreshold(rows, col("s"), col("y"))
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ===
      ((3L, 2L, 0L)))
    assert(got.getLong(3) === 4L)
    assert((got.getLong(4), got.getLong(5), got.getLong(6),
      got.getLong(7)) === ((2L, 0L, 1L, 2L)))
    assert(got.getLong(8) === 666666L) // (2/3 - 0) in truncating ppm
  }

  test("bestThreshold: J ties resolve to the smallest threshold; " +
      "single-class input yields NULLs") {
    // alternating labels: J = 0 at s=1 and s=3 -> pick s=1
    val tie = Seq((1L, true), (2L, false), (3L, true), (4L, false))
      .toDF("s", "y")
    val t = Classify.bestThreshold(tie, col("s"), col("y")).collect().head
    assert(t.getLong(3) === 1L && t.getLong(8) === 0L)
    val oneClass = Seq((1L, true), (2L, true)).toDF("s", "y")
    val o = Classify.bestThreshold(oneClass, col("s"), col("y"))
      .collect().head
    assert(o.isNullAt(3) && o.isNullAt(8))
    val big = (0 until 800).map(i => (((i * 37) % 101).toLong,
      (i * 7) % 3 == 0)).toDF("s", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Classify.bestThreshold(d, col("s"), col("y"))
        .collect().head.toSeq
    assert(run(big) === run(big.repartition(13)))
  }

  test("pinballLoss: asymmetric penalties, exact means, quarantine") {
    // d = +10 and d = -10 at q = 0.1 and q = 0.9
    val rows = Seq[(Option[Long], Long)]((Some(110L), 100L),
      (Some(90L), 100L), (None, 100L)).toDF("y", "p")
    val got = Classify.pinballLoss(rows, col("y"), col("p"),
      Seq(100000L, 900000L)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // q=0.1: over-prediction hurts 9x more than under
    assert(got(100000L) === ((2L, 1L, 10L, 5L)))  // 1 + 9
    assert(got(900000L) === ((2L, 1L, 10L, 5L)))  // 9 + 1 (mirrored)
    // perfect forecast scores exactly 0
    val perfect = Seq((5L, 5L), (7L, 7L)).toDF("y", "p")
    assert(Classify.pinballLoss(perfect, col("y"), col("p"), Seq(500000L))
      .collect().head.getLong(4) === 0L)
    intercept[IllegalArgumentException] {
      Classify.pinballLoss(perfect, col("y"), col("p"), Seq(0L))
    }
  }

  test("logLoss: pinned surprisals, clamp visibility, quarantine") {
    def nano(p: Double): Long =
      math.floor(-math.log(p) * 1e9 + 0.5).toLong
    val rows = Seq[(Option[Long], Boolean)]((Some(900000L), true),
      (Some(900000L), false), (Some(1000000L), true), (None, true))
      .toDF("p", "y")
    val got = Classify.logLoss(rows, col("p"), col("y")).collect().head
    assert(got.getLong(0) === 3L && got.getLong(1) === 1L)
    assert(got.getLong(2) === 1L) // the exact-1.0 claim clamps to 999999
    val expected = nano(0.9) + nano(100000.0 / 1000000.0) +
      nano(999999.0 / 1000000.0)
    assert(got.getLong(3) === expected)
    assert(got.getLong(4) === expected / 3L)
  }

  test("bleu: hand counts — clipping, precisions, zero brevity penalty") {
    import spark.implicits._
    // cand "the cat the cat" vs ref "the cat sat":
    // 1-grams: clip the->1, cat->1 => 2/4; 2-grams: "the cat" 2 clip 1,
    // "cat the" 0 => 1/3; c=4 > r=3 => BP term 0
    val df = Seq((1L, "the cat THE cat", "the cat sat"))
      .toDF("id", "cand", "ref")
    val r = Classify.bleu(df, col("id"), col("cand"), col("ref")).collect().head
    assert((r.getLong(1), r.getLong(2)) === ((4L, 3L)))
    assert((r.getLong(3), r.getLong(4)) === ((2L, 4L))) // match_1/total_1
    assert((r.getLong(6), r.getLong(7)) === ((1L, 3L))) // match_2/total_2
    val p1 = math.floor(-math.log(0.5) * 1e9 + 0.5).toLong
    val p2 = math.floor(-math.log(1.0 / 3) * 1e9 + 0.5).toLong
    assert(r.getLong(5) === p1 && r.getLong(8) === p2)
    assert(r.getLong(9) === 0L) // c > r: no brevity penalty
    assert(r.getLong(10) === (p1 + p2) / 2L)
  }

  test("bleu: brevity penalty on a perfect short prefix; zero-match NULLs the headline") {
    import spark.implicits._
    val short = Seq((1L, "a b", "a b c d")).toDF("id", "cand", "ref")
    val s = Classify.bleu(short, col("id"), col("cand"), col("ref"))
      .collect().head
    assert(s.getLong(5) === 0L && s.getLong(8) === 0L) // perfect p1, p2
    assert(s.getLong(9) === 1000000000L)               // -ln BP = r/c - 1
    assert(s.getLong(10) === 1000000000L)
    val miss = Seq((1L, "x y z", "a b c")).toDF("id", "cand", "ref")
    val m = Classify.bleu(miss, col("id"), col("cand"), col("ref"))
      .collect().head
    assert(m.getLong(3) === 0L)                  // match_1 says why
    assert(m.isNullAt(5) && m.isNullAt(10))      // p1, headline NULL
  }

  test("bleu: clipping is PER PAIR, not pooled; layout-proof") {
    import spark.implicits._
    // pooled clip would give match_1 = min(3,3) = 3; per-pair gives 2
    val df = Seq((1L, "z z", "z"), (2L, "z", "z z"))
      .toDF("id", "cand", "ref")
    val r = Classify.bleu(df, col("id"), col("cand"), col("ref"))
      .collect().head
    assert(r.getLong(3) === 2L && r.getLong(4) === 3L)
    assert(r.toSeq === Classify.bleu(df.repartition(5), col("id"),
      col("cand"), col("ref")).collect().head.toSeq)
  }
}
