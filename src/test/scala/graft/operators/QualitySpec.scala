package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit}

import graft.SharedSpark

class QualitySpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  import Quality._

  private def report(rows: Seq[(String, String, Double, Double, Boolean)]) =
    rows.map(r => (r._1, r._2) -> r).toMap

  test("single-pass suite: every constraint kind observes and verdicts correctly") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a@x.io"), 10.0, "OK"),
      (2L, Some("b@y.org"), 20.0, "OK"),
      (3L, None, 120.0, "BAD"), // null email, out-of-range, bad status
      (3L, Some("not-an-email"), 30.0, "OK") // dup id, regex miss
    ).toDF("id", "email", "score", "status")

    val out = Quality.check(df, Seq(
      Complete("email", minRatio = 0.7),
      Unique(Seq("id")),
      InRange("score", 0.0, 100.0),
      Matches("email", "^[^@]+@[^@]+$", minRatio = 0.5),
      IsIn("status", Seq("OK")),
      RowCountBetween(2L, 10L)
    )).collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
      r.getDouble(3), r.getBoolean(4)))

    val m = report(out.toIndexedSeq)
    assert(m(("complete", "email"))._3 === 0.75 && m(("complete", "email"))._5)
    assert(m(("unique", "id"))._3 === 0.75 && !m(("unique", "id"))._5)
    assert(m(("in_range", "score"))._3 === 0.75 && !m(("in_range", "score"))._5)
    // 2 of 3 non-null emails match
    assert(math.abs(m(("matches", "email"))._3 - 2.0 / 3) < 1e-12)
    assert(m(("matches", "email"))._5)
    assert(m(("is_in", "status"))._3 === 0.75 && !m(("is_in", "status"))._5)
    assert(m(("row_count", "*"))._3 === 4.0 && m(("row_count", "*"))._5)
    // report is sorted by (kind, target)
    assert(out.map(r => (r._1, r._2)).toSeq === out.map(r => (r._1, r._2)).toSeq.sorted)
  }

  test("suite compiles to one aggregate over one scan") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val plan = Quality.check(df, Seq(
      Complete("s"), InRange("id", 0, 10), RowCountBetween(1L)
    )).queryExecution.optimizedPlan
    // exactly one Aggregate node (no per-constraint jobs), no joins
    val aggs = plan.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggs.size === 1)
  }

  test("referential integrity: orphans counted, clean child passes") {
    import spark.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(1L, 1L, 2L, 9L).toDF("fk")
    val bad = Quality.checkReferential(child, "fk", parent, "pk").collect().head
    assert(bad.getString(0) === "ref_integrity")
    assert(bad.getDouble(2) === 0.75 && !bad.getBoolean(4))

    val clean = Quality.checkReferential(child.filter($"fk" < 3), "fk", parent, "pk")
      .collect().head
    assert(clean.getDouble(2) === 1.0 && clean.getBoolean(4))
  }

  test("unique over composite keys") {
    import spark.implicits._
    val df = Seq((1, 1), (1, 2), (2, 1), (1, 1)).toDF("a", "b")
    val r = Quality.check(df, Seq(Unique(Seq("a", "b")))).collect().head
    assert(r.getDouble(2) === 0.75 && !r.getBoolean(4))
  }

  test("zero-denominator constraints: observed NULL, passed vacuously true, never NULL") {
    import spark.implicits._
    // all-NULL column (InRange/Matches/IsIn denominators = 0) on a
    // non-empty table, plus a fully empty table: no ANSI divide-by-zero,
    // and `passed` is a real boolean everywhere so !passed gates work
    val allNull = Seq(Option.empty[Double], Option.empty[Double]).toDF("score")
      .withColumn("tag", lit(null).cast("string"))
    val rep = Quality.check(allNull, Seq(
      InRange("score", 0.0, 1.0),
      Matches("tag", "^x$"),
      IsIn("tag", Seq("x")),
      Complete("score"),          // 0/2 = 0.0 — a REAL failure, not vacuous
      RowCountBetween(1L))).collect()
    val byKind = rep.map(r => r.getString(0) -> r).toMap
    for (k <- Seq("in_range", "matches", "is_in")) {
      assert(byKind(k).isNullAt(2), s"$k observed should be NULL")
      assert(byKind(k).getBoolean(4), s"$k should pass vacuously")
    }
    assert(byKind("complete").getDouble(2) === 0.0 && !byKind("complete").getBoolean(4))
    assert(byKind("row_count").getBoolean(4))

    val empty = allNull.limit(0)
    val emptyRep = Quality.check(empty, Seq(
      Complete("score"), Unique(Seq("score")), InRange("score", 0.0, 1.0),
      RowCountBetween(1L))).collect()
    assert(emptyRep.forall(!_.isNullAt(4)), "passed must never be NULL")
    assert(emptyRep.find(_.getString(0) == "row_count").exists(!_.getBoolean(4)),
      "RowCountBetween is the explicit emptiness gate")
  }

  test("kAnonymity: class sizes, suppression threshold, null classes") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("US"), "a"), (2L, Some("US"), "a"), (3L, Some("US"), "a"),
      (4L, Some("DE"), "b"),
      (5L, Option.empty[String], "c"), (6L, Option.empty[String], "c")
    ).toDF("id", "country", "seg")
    val out = Quality.kAnonymity(df, Seq("country", "seg"), k = 3)
      .select("id", "class_size", "suppress")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((3L, false)) && out(3L) === ((3L, false)))
    assert(out(4L) === ((1L, true)))
    // the two null-country rows form ONE class of 2 (not stranded NULLs)
    assert(out(5L) === ((2L, true)) && out(6L) === ((2L, true)))
  }

  test("lDiversity: homogeneous classes flagged even when k-safe") {
    import spark.implicits._
    val df = Seq(
      // class US: 3 rows (k-safe) but ONE sensitive value → homogeneous
      (1L, "US", "cancer"), (2L, "US", "cancer"), (3L, "US", "cancer"),
      // class DE: 3 rows, 2 distinct sensitive values → l=2 diverse
      (4L, "DE", "flu"), (5L, "DE", "flu"), (6L, "DE", "cold"),
      // class FR: nulls don't count toward diversity
      (7L, "FR", "flu"), (8L, "FR", null)
    ).toDF("id", "country", "diagnosis")
    val out = Quality.lDiversity(df, Seq("country"), "diagnosis", l = 2)
      .select("id", "class_size", "l_distinct", "suppress")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out(1L) === ((3L, 1L, true)), "k-safe but homogeneous → suppress")
    assert(out(4L) === ((3L, 2L, false)))
    assert(out(7L) === ((2L, 1L, true)), "null sensitive value adds no diversity")
  }

  test("freshness: lag vs freshest key, threshold gates, null keys dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Some("live"), 1000L), (Some("live"), 900L),
      (Some("lagging"), 400L), (Some("dead"), 10L),
      (Option.empty[String], 99999L) // null key must not set the global max
    ).toDF("k", "t")
    val out = Quality.freshness(df, col("k"), col("t"), staleAfterUs = 500L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out("live") === ((1000L, 0L, 0)))
    assert(out("lagging") === ((400L, 600L, 1)))
    assert(out("dead") === ((10L, 990L, 1)))
    assert(out.size === 3)
  }

  test("benford: leading digits, zero-support spine rows, exclusions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // values: 1, 19, 123, 2000, 95 → digits 1,1,1,2,9; 0/null/negative excluded
    val df = Seq(Some(1L), Some(19L), Some(123L), Some(2000L), Some(95L),
      Some(0L), Some(-7L), None).toDF("v")
    val out = Quality.benford(df, col("v"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet === (1 to 9).toSet) // all digits present
    assert(out(1) === ((3L, 600000L, 301030L, 298970L)))
    assert(out(2) === ((1L, 200000L, 176091L, 23909L)))
    assert(out(9) === ((1L, 200000L, 45757L, 154243L)))
    assert(out(5)._1 === 0L) // no support → n 0, obs 0
    assert(out(5)._2 === 0L)
    // Benford constants partition one million exactly
    assert(out.values.map(_._3).sum === 1000000L)
  }

  test("benford: a geometric (multi-decade) series hugs the law; empty input yields the spine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 1.5^i spans decades — first-digit shares approach log10(1+1/d)
    val geo = (0 until 400).map(i => math.pow(1.5, i % 57).toLong)
      .filter(_ > 0).toDF("v")
    val out = Quality.benford(geo, col("v"))
      .collect().map(r => r.getInt(0) -> r.getLong(4)).toMap
    assert(out(1) < 120000L, s"digit-1 deviation ${out(1)} too large")
    val empty = Quality.benford(Seq.empty[Long].toDF("v"), col("v"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(empty.length === 9 && empty.forall(t => t._2 == 0L && t._3 == 0L))
  }

  test("functionalDependency: held FD, violated FD, null-as-value, g3 repair count") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "a", "x"), (1L, "a", "x"),       // group (1,a): rhs {x} — holds
      (2L, "b", "x"), (2L, "b", "y"), (2L, "b", "y"), // violated: repair 1
      (3L, null, "z"), (3L, null, "z")      // null lhs is a value — holds
    ).toDF("k1", "k2", "r")
    val held = Quality.functionalDependency(df.filter(col("k1") =!= 2L),
      Seq(col("k1"), col("k2")), col("r")).collect().head
    assert((held.getLong(0), held.getLong(1), held.getLong(2),
      held.getLong(3), held.getLong(4)) === ((4L, 2L, 0L, 0L, 0L)))
    val all = Quality.functionalDependency(df, Seq(col("k1"), col("k2")),
      col("r")).collect().head
    assert((all.getLong(0), all.getLong(1), all.getLong(2), all.getLong(3),
      all.getLong(4)) === ((7L, 3L, 1L, 3L, 1L)))
  }

  test("functionalDependency: null rhs values agree with each other; layout independence") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, null), (1L, null), (2L, null), (2L, "v"))
      .toDF("k", "r")
    val out = Quality.functionalDependency(df, Seq(col("k")), col("r"))
      .collect().head
    // group 1: {null,null} holds; group 2: {null,v} violated, repair 1
    assert((out.getLong(1), out.getLong(2), out.getLong(4)) ===
      ((2L, 1L, 1L)))
    val big = (0L until 4000L)
      .map(i => (i % 37, s"r${(i * 7) % (if (i % 37 < 20) 1 else 3)}"))
      .toDF("k", "r")
    def run(d: org.apache.spark.sql.DataFrame) =
      Quality.functionalDependency(d, Seq(col("k")), col("r"))
        .collect().head.toSeq
    assert(run(big) === run(big.repartition(17)))
  }

  test("compressionRatio: ppm columns, empty/null text → NULL ratio, separation") {
    import spark.implicits._
    val rep = "spam spam spam spam spam spam spam spam " * 40
    val eng = "each sentence here differs mildly from its neighbors " * 31
    val rows: Seq[(Long, Option[String])] = Seq(
      1L -> Some(rep), 2L -> Some(eng), 3L -> Some(""), 4L -> None)
    val out = Quality.compressionRatio(rows.toDF("id", "text"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(4)) None
          else Some(r.getLong(4))))).toMap
    assert(out(1)._2.get < out(2)._2.get, "template spam flags lower")
    assert(out(1)._2.get > 0L && out(2)._2.get < 1000000L)
    assert(out(3) === ((0L, None)))   // empty text: no ratio, not 0
    assert(out(4)._2 === None)        // null text propagates
  }

  test("tCloseness: hand EMD per class, breach threshold") {
    import spark.implicits._
    // global: v1:2 v2:2 v3:1 (N=5, k=3); g1 holds (1,1,2), g2 (2,3)
    // S(g1) = |10-6|+|15-12|+|15-15| = 7 -> t = 7/30 -> 233333 ppm
    // S(g2) = |0-4|+|5-8|+|10-10|  = 7 -> t = 7/20 -> 350000 ppm
    val df = Seq(("g1", 1L), ("g1", 1L), ("g1", 2L), ("g2", 2L),
      ("g2", 3L)).toDF("g", "v")
    val out = Quality.tCloseness(df, Seq("g"), col("v"),
        tMaxPpm = 300000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(out("g1") === ((3L, 7L, 233333L, false)))
    assert(out("g2") === ((2L, 7L, 350000L, true)))
  }

  test("tCloseness: identical distribution is 0; all-null class NULL; null quasi is a class") {
    import spark.implicits._
    val df = Seq(("a", Some(1L)), ("a", Some(2L)),
      (null.asInstanceOf[String], Some(1L)),
      (null.asInstanceOf[String], Some(2L)),
      ("dead", None), ("dead", None)).toDF("g", "v")
    val rows = Quality.tCloseness(df, Seq("g"), col("v"), tMaxPpm = 1L)
      .collect()
    val byG = rows.map(r => Option(r.getString(0)).getOrElse("<null>") ->
      r).toMap
    // "a" and the NULL class each mirror the global 50/50 -> t = 0
    assert(byG("a").getLong(4) === 0L && !byG("a").getBoolean(5))
    assert(byG("<null>").getLong(4) === 0L)
    assert(rows.head.isNullAt(0)) // NULLS FIRST total order
    val dead = byG("dead")
    assert(dead.getLong(1) === 0L && dead.getLong(2) === 2L)
    assert(dead.isNullAt(3) && dead.isNullAt(4) && !dead.getBoolean(5))
  }

  test("tCloseness: layout independence and skew detection direction") {
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      val g = s"g${i % 3}"
      // g2 is skewed high: its values sit in the top buckets
      val v = if (i % 3 == 2) 8L + (i % 2) else (i % 10).toLong
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val a = Quality.tCloseness(df, Seq("g"), col("v"), 100000L).collect()
    val b = Quality.tCloseness(df.repartition(13), Seq("g"), col("v"),
      100000L).collect()
    assert(a === b)
    val t = a.map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(t("g2") > t("g0") && t("g2") > t("g1"),
      "the skewed class must measure farther from the corpus")
  }

  test("coverageAudit: hand cold-start table, row/key divergence") {
    import spark.implicits._
    val train = Seq(1L, 1L, 2L).map(Tuple1(_)).toDF("k")
    // test: key1 hot (3 rows, seen), key9 cold (1 row), key8 cold (1)
    val test = Seq(1L, 1L, 1L, 9L, 8L).map(Tuple1(_)).toDF("k")
    val r = Quality.coverageAudit(train, test, col("k"), col("k"))
      .collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 5L)
    assert(r.getLong(2) === 3L)
    assert(r.getLong(3) === 2L && r.getLong(4) === 2L)
    assert(r.getLong(5) === 400000L)  // 2/5 rows cold
    assert(r.getLong(6) === 666666L)  // 2/3 keys cold
  }

  test("coverageAudit: NULL test keys are unseen; empty test NULL ppms; layout-proof") {
    import spark.implicits._
    val train = Seq(Some(1L)).toDF("k")
    val test = Seq(Some(1L), Option.empty[Long]).toDF("k")
    val r = Quality.coverageAudit(train, test, col("k"), col("k"))
      .collect().head
    assert(r.getLong(3) === 1L, "a NULL key cannot be looked up: unseen")
    val empty = test.filter(col("k") === 99L)
    val e = Quality.coverageAudit(train, empty, col("k"), col("k"))
      .collect().head
    assert(e.getLong(1) === 0L && e.isNullAt(5) && e.isNullAt(6))
    val big = (0 until 300).map(i => Tuple1((i % 37).toLong)).toDF("k")
    val x = Quality.coverageAudit(big, big, col("k"), col("k"))
      .collect().head
    val y = Quality.coverageAudit(big.repartition(7),
      big.repartition(5), col("k"), col("k")).collect().head
    assert(x.toSeq === y.toSeq && x.getLong(5) === 0L)
  }
}
