package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class MixtureSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  private def mix = {
    import spark.implicits._
    // 3 sources x 10 docs; weights: a=2.5, b=0.4, c=0 (dropped)
    (0L until 30L).map { i =>
      val src = Seq("a", "b", "c")((i % 3).toInt)
      (i, src)
    }.toDF("id", "src")
  }

  private val w = when(col("src") === "a", 2.5)
    .when(col("src") === "b", 0.4)
    .otherwise(0.0)

  test("epoch counts: floor(w) full epochs of n rows + exact ceil(frac*n) partial") {
    import spark.implicits._
    val out = Mixture.materialize(mix, Seq("src"), col("id"), w)
    val counts = out.groupBy("src", "epoch").count()
      .as[(String, Long, Long)].collect()
      .map { case (s, e, n) => (s, e) -> n }.toMap
    assert(counts(("a", 0L)) === 10L)
    assert(counts(("a", 1L)) === 10L)
    assert(counts(("a", 2L)) === 5L)  // ceil(0.5 * 10)
    assert(counts(("b", 0L)) === math.ceil(0.4 * 10).toLong) // frac-only source
    assert(!counts.keySet.exists(_._1 == "c")) // weight 0 -> out of the mix
    assert(counts.size === 4)
  }

  test("partial-epoch membership is key-stable across partitionings and nested in higher fractions") {
    import spark.implicits._
    val df = mix
    def partialIds(d: org.apache.spark.sql.DataFrame, weight: org.apache.spark.sql.Column) =
      Mixture.materialize(d, Seq("src"), col("id"), weight)
        .filter(col("src") === "a" && col("epoch") === 2L)
        .select("id").as[Long].collect().toSet
    val p1 = partialIds(df.repartition(1), w)
    val p2 = partialIds(df.repartition(7, col("id")), w)
    assert(p1 === p2)
    // the 0.5-fraction subset nests inside the 0.8-fraction subset
    val w8 = when(col("src") === "a", 2.8).otherwise(0.0)
    assert(p1.subsetOf(partialIds(df, w8)))
  }

  test("negative and NULL weights drop out entirely (no epoch -1 rows)") {
    import spark.implicits._
    val wBad = when(col("src") === "a", -0.5)
      .when(col("src") === "b", lit(null).cast("double"))
      .otherwise(1.0)
    val out = Mixture.materialize(mix, Seq("src"), col("id"), wBad)
    assert(out.filter(col("src") === "a").count() === 0, "negative weight must drop")
    assert(out.filter(col("src") === "b").count() === 0, "NULL weight must drop")
    assert(out.filter(col("epoch") < 0).count() === 0)
    assert(out.filter(col("src") === "c").count() === 10)
  }

  test("interleave: prefix proportionality, WFQ pattern, unknown sources drop") {
    import spark.implicits._
    // a:3, b:1 → every 4-slot cycle holds 3 a's and 1 b
    val df = ((0L until 30L).map(i => ("a", i)) ++
      (100L until 110L).map(i => ("b", i)) ++
      Seq(("ghost", 999L))).toDF("src", "id")
    val out = Mixture.interleave(df, col("src"), col("id"),
        Map("a" -> 3, "b" -> 1))
      .orderBy("pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.length === 40) // ghost dropped
    // every prefix of length 4k holds exactly 3k a's and k b's
    for (k <- 1 to 10) {
      val prefix = out.take(4 * k)
      assert(prefix.count(_._1 == "a") === 3 * k, s"prefix ${4 * k}")
      assert(prefix.count(_._1 == "b") === k)
    }
    // per-source order follows the key order
    val aIds = out.filter(_._1 == "a").map(_._2)
    assert(aIds.toSeq === aIds.sorted.toSeq)
    // deterministic across layouts
    val re = Mixture.interleave(df.repartition(7), col("src"), col("id"),
        Map("a" -> 3, "b" -> 1))
      .orderBy("pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(re.toSeq === out.toSeq)
  }

  // --- Hamilton apportionment ---

  private def apportion(ws: Seq[(String, Long)], budget: Long) = {
    import spark.implicits._
    Mixture.apportion(ws.toDF("s", "w"), col("s"), col("w"), budget)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(4), r.getLong(5))))
      .toMap
  }

  test("apportion: hand case — bases truncate, largest remainders get the extras") {
    // weights 5/3/2 over budget 7: quotas 3.5/2.1/1.4 → bases 3/2/1,
    // leftover 1 goes to the largest remainder (a: rem 5, b: rem 1, c: rem 4)
    val out = apportion(Seq(("a", 5L), ("b", 3L), ("c", 2L)), 7L)
    assert(out === Map("a" -> ((3L, 1L, 4L)), "b" -> ((2L, 0L, 2L)),
      "c" -> ((1L, 0L, 1L))))
    assert(out.values.map(_._3).sum === 7L)
  }

  test("apportion: remainder ties break by stratum name; sums always hit the budget") {
    // equal weights, budget not divisible: 3 strata × w=1, budget 4 →
    // bases 1, leftover 1 → stratum 'a' (name ASC) gets it
    val out = apportion(Seq(("c", 1L), ("a", 1L), ("b", 1L)), 4L)
    assert(out("a")._3 === 2L && out("b")._3 === 1L && out("c")._3 === 1L)
    // fuzz: random weights, several budgets — Σalloc == budget, every time
    val ws = (0 until 57).map(i => (f"s$i%02d", (i * 37 % 23 + 1).toLong))
    Seq(1L, 10L, 999L, 100000L).foreach { b =>
      val o = apportion(ws, b)
      assert(o.values.map(_._3).sum === b)
      assert(o.values.forall(v => v._2 == 0L || v._2 == 1L))
    }
  }

  test("apportion: zero/negative weights allocate 0; all-zero table allocates nothing") {
    val out = apportion(Seq(("a", 10L), ("z", 0L), ("n", -5L)), 9L)
    assert(out("z")._3 === 0L && out("n")._3 === 0L)
    assert(out("a")._3 === 9L)
    val zeros = apportion(Seq(("a", 0L), ("b", 0L)), 5L)
    assert(zeros.values.map(_._3).sum === 0L)
  }

  test("apportion is layout-independent") {
    import spark.implicits._
    val ws = (0 until 200).map(i => (s"s${i % 41}", (i % 7).toLong))
    def run(df: org.apache.spark.sql.DataFrame) =
      Mixture.apportion(df, col("s"), col("w"), 12345L)
        .collect().map(_.toSeq).toSeq
    val df = ws.toDF("s", "w")
    assert(run(df) === run(df.repartition(13)))
  }
}
