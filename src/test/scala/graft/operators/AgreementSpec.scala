package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Inter-annotator agreement: hand-computed κ tables, chance-degenerate
  * NULLs, quarantine visibility, layout independence. */
class AgreementSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("cohenKappa: hand-computed 2x2 table") {
    // 20 a/a, 5 a/b, 10 b/a, 15 b/b: p_o=.7, pe_num=25*30+25*20=1250,
    // kappa = (35*50-1250)/(2500-1250) = 0.4 exactly
    val rows = Seq.fill(20)(("a", "a")) ++ Seq.fill(5)(("a", "b")) ++
      Seq.fill(10)(("b", "a")) ++ Seq.fill(15)(("b", "b"))
    val got = Agreement.cohenKappa(rows.toDF("r1", "r2"),
      col("r1"), col("r2")).collect()(0)
    assert(got.getLong(0) === 50L && got.getLong(1) === 0L)
    assert(got.getLong(2) === 35L && got.getLong(3) === 1250L)
    assert(got.getDouble(4) === 0.4)
  }

  test("cohenKappa: perfect agreement is 1, worse-than-chance is negative") {
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a"))
    assert(Agreement.cohenKappa(perfect.toDF("r1", "r2"), col("r1"),
      col("r2")).collect()(0).getDouble(4) === 1.0)
    // 2 items, total disagreement with symmetric marginals: kappa = -1
    val inverted = Seq(("a", "b"), ("b", "a"))
    assert(Agreement.cohenKappa(inverted.toDF("r1", "r2"), col("r1"),
      col("r2")).collect()(0).getDouble(4) === -1.0)
  }

  test("cohenKappa: constant raters -> NULL (chance explains all), nulls quarantine") {
    val const = Seq(("a", "a"), ("a", "a"))
    assert(Agreement.cohenKappa(const.toDF("r1", "r2"), col("r1"),
      col("r2")).collect()(0).isNullAt(4))
    val withNulls = Seq(("a", "a"), (null, "b"), ("b", null))
    val got = Agreement.cohenKappa(withNulls.toDF("r1", "r2"),
      col("r1"), col("r2")).collect()(0)
    assert(got.getLong(0) === 1L && got.getLong(1) === 2L)
  }

  test("fleissKappa: hand table, R=2") {
    // i1 {a,a}, i2 {a,b}, i3 {b,b}: S1=4, S2=18, kappa = 6/18 = 1/3
    val votes = Seq((1, "a"), (1, "a"), (2, "a"), (2, "b"),
      (3, "b"), (3, "b"))
    val got = Agreement.fleissKappa(votes.toDF("item", "vote"),
      col("item"), col("vote"), raters = 2).collect()(0)
    assert(got.getLong(0) === 3L && got.getLong(1) === 0L)
    assert(got.getLong(3) === 4L && got.getLong(4) === 18L)
    assert(got.getDouble(5) === 6.0 / 18.0)
  }

  test("fleissKappa: nonconforming vote counts drop visibly; unanimity -> NULL") {
    val votes = Seq((1, "a"), (1, "a"), (2, "a")) // item 2 has 1 vote
    val got = Agreement.fleissKappa(votes.toDF("item", "vote"),
      col("item"), col("vote"), raters = 2).collect()(0)
    assert(got.getLong(0) === 1L && got.getLong(1) === 1L)
    // every kept vote in one category: NR^2*N = S2 -> denominator 0
    assert(got.isNullAt(5))
  }

  test("fleissKappa and cohenKappa: layout independence") {
    val votes = (1 to 40).flatMap(i => Seq((i, s"c${i % 3}"),
      (i, s"c${(i * 7) % 3}"), (i, s"c${(i * 11) % 4}")))
    val df = votes.toDF("item", "vote")
    val a = Agreement.fleissKappa(df, col("item"), col("vote"), 3)
      .collect()(0)
    val b = Agreement.fleissKappa(df.repartition(7, col("vote")),
      col("item"), col("vote"), 3).collect()(0)
    assert(a === b)
    val pairs = (1 to 40).map(i => (s"c${i % 3}", s"c${(i * 7) % 3}"))
      .toDF("r1", "r2")
    val c = Agreement.cohenKappa(pairs, col("r1"), col("r2")).collect()(0)
    val d = Agreement.cohenKappa(pairs.repartition(5, col("r1")),
      col("r1"), col("r2")).collect()(0)
    assert(c === d)
  }

  test("majorityVote: winner, lexical tiebreak, agreement share") {
    val votes = Seq((1, "b"), (1, "b"), (1, "a"), // b wins 2/3
      (2, "b"), (2, "a"), // tie -> lexically smallest "a"
      (3, "z")) // unanimous singleton
    val got = Agreement.majorityVote(votes.toDF("item", "vote"),
      col("item"), col("vote"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq(("1", "b", 3L, 2L, 666666L),
      ("2", "a", 2L, 1L, 500000L), ("3", "z", 1L, 1L, 1000000L)))
  }

  test("krippendorffAlpha: hand two-item table — alpha exactly 0") {
    // item1: A,A (agree); item2: A,B (disagree)
    // Do = (0 + 2)/(4·1) = .5; De = (16 − (9+1))/(4·3) = .5; alpha = 0
    val votes = Seq((1, "A"), (1, "A"), (2, "A"), (2, "B"))
      .toDF("item", "vote")
    val r = Agreement.krippendorffAlpha(votes, col("item"), col("vote"))
      .collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 0L) // items, dropped
    assert(r.getLong(3) === 4L)                        // n_ratings
    assert(r.getLong(6) === 6L)                        // de = 16 - 10
    assert(r.getDouble(7) === 0.0)
  }

  test("krippendorffAlpha: perfect agreement 1; constant category NULL") {
    val perfect = Seq((1, "A"), (1, "A"), (2, "B"), (2, "B"), (2, "B"))
      .toDF("item", "vote")
    val p = Agreement.krippendorffAlpha(perfect, col("item"), col("vote"))
      .collect().head
    assert(p.getDouble(7) === 1.0)
    val const = Seq((1, "A"), (1, "A"), (2, "A"), (2, "A"))
      .toDF("item", "vote")
    assert(Agreement.krippendorffAlpha(const, col("item"), col("vote"))
      .collect().head.isNullAt(7)) // de = 0: chance explains everything
  }

  test("krippendorffAlpha: variable raters, visible drops, null quarantine, layout-proof") {
    // item1: 3 votes, item2: 4 votes, item3: 1 vote (unpairable ->
    // dropped), item4: 6 votes so m-1 = 5 does not divide scaleL=6 ->
    // dropped visibly
    val votes = (Seq((1, "A"), (1, "A"), (1, "B"),
      (2, "A"), (2, "A"), (2, "A"), (2, "B"),
      (3, "A")) ++ (1 to 6).map(_ => (4, "A")))
      .toDF("item", "vote")
      .unionByName(Seq((null.asInstanceOf[java.lang.Integer], "A"))
        .toDF("item", "vote"))
    val r = Agreement.krippendorffAlpha(votes, col("item"), col("vote"),
      scaleL = 6L).collect().head
    assert(r.getLong(0) === 2L)  // items kept
    assert(r.getLong(1) === 2L)  // item3 (single) + item4 (5 ∤ 6)
    assert(r.getLong(2) === 1L)  // null quarantine
    assert(r.getLong(3) === 7L)  // 3 + 4 kept ratings
    // do_scaled: item1 d=6−2=4, L/(m−1)=3 -> 12; item2 d=12−6=6,
    // L/3 = 2 -> 12; total 24
    assert(r.getLong(4) === 24L)
    val again = Agreement.krippendorffAlpha(votes.repartition(7),
      col("item"), col("vote"), scaleL = 6L).collect().head
    assert(r === again)
  }
}
