package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** RRF fusion: hand-computed contributions, tie rules, topK, and
  * independence from input-list row order. */
class FusionSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def nano(rank: Long, k: Long = 60L): Long = 1000000000L / (k + rank)

  test("rrf: hand-computed two-list fusion with tie-breaks") {
    // query "q": list A ranks (1,2,3) = docs (10,20,30); list B reverses
    val a = Seq(("q", 10L, 3.0), ("q", 20L, 2.0), ("q", 30L, 1.0))
      .toDF("grp", "id", "score")
    val b = Seq(("q", 30L, 9.0), ("q", 20L, 8.0), ("q", 10L, 7.0))
      .toDF("grp", "id", "score")
    val out = Fusion.rrf(Seq(a, b), Seq("grp"), "id", "score")
      .orderBy("fused_rank")
      .select("id", "n_lists", "rrf_nano", "fused_rank")
      .as[(Long, Long, Long, Long)].collect()

    // doc10: ranks 1,3 → 1e9/61 + 1e9/63; doc20: 2,2; doc30: 3,1
    val s10 = nano(1) + nano(3)
    val s20 = nano(2) + nano(2)
    val s30 = nano(3) + nano(1)
    assert(s10 == s30 && s10 > s20) // symmetric lists tie at the edges
    // fused tie (10 vs 30) breaks to the lower id
    assert(out.toSeq == Seq((10L, 2L, s10, 1L), (30L, 2L, s30, 2L),
      (20L, 2L, s20, 3L)))
  }

  test("rrf: in-list score ties break by ascending id") {
    val a = Seq(("q", 5L, 1.0), ("q", 3L, 1.0)).toDF("grp", "id", "score")
    val out = Fusion.rrf(Seq(a), Seq("grp"), "id", "score")
      .orderBy("fused_rank").select("id").as[Long].collect()
    assert(out.toSeq == Seq(3L, 5L)) // id 3 gets rank 1 → higher contrib
  }

  test("rrf: docs missing from one list still fuse; topK truncates") {
    val a = Seq(("q", 1L, 9.0), ("q", 2L, 8.0), ("q", 3L, 7.0))
      .toDF("grp", "id", "score")
    val b = Seq(("q", 2L, 5.0)).toDF("grp", "id", "score")
    val full = Fusion.rrf(Seq(a, b), Seq("grp"), "id", "score")
    val m = full.select("id", "n_lists", "rrf_nano")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(m(1L) == (1L, nano(1)))
    assert(m(2L) == (2L, nano(2) + nano(1))) // present in both
    assert(m(3L) == (1L, nano(3)))
    assert(Fusion.rrf(Seq(a, b), Seq("grp"), "id", "score", topK = 1)
      .count() == 1L)
  }

  test("rrf: result independent of input row order and partitioning") {
    val rows = (1L to 40L).map(i => ("g" + (i % 3), i, (i * 37 % 11).toDouble))
    val l1 = rows.toDF("grp", "id", "score")
    val l2 = rows.reverse.toDF("grp", "id", "score").repartition(7)
    val r1 = Fusion.rrf(Seq(l1, l1), Seq("grp"), "id", "score")
      .orderBy("grp", "fused_rank").collect()
    val r2 = Fusion.rrf(Seq(l2, l2), Seq("grp"), "id", "score")
      .orderBy("grp", "fused_rank").collect()
    assert(r1.toSeq == r2.toSeq)
  }

  test("rankEval: hand MRR, hit@k, NDCG with literal discounts") {
    // q1: relevant {a, b}; retrieved a@1, x@2, b@3 → dcg = 1e6 + 5e5
    // q2: relevant {z}; retrieved y@1, z@2 → rr 5e5
    // q3: relevant {m}; never retrieved → hit 0, ndcg 0
    val ranked = Seq((1L, "a", 1), (1L, "x", 2), (1L, "b", 3),
      (2L, "y", 1), (2L, "z", 2), (3L, "p", 1)).toDF("query_id", "vec_id", "rank")
    val truth = Seq((1L, "a"), (1L, "b"), (2L, "z"), (3L, "m"))
      .toDF("query_id", "vec_id")
    val out = Fusion.rankEval(ranked, truth, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]), r.getInt(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // q1: idcg(2 rel, k 3) = 1e6 + 630930; dcg = 1e6 + 500000 (b at 3)
    //     ndcg = 1.5e6·1e6 DIV 1630930 = 919720
    assert(out(1L) === ((2L, Some(1L), Some(1000000L), 1, 1500000L,
      1630930L, 919720L)))
    assert(out(2L) === ((1L, Some(2L), Some(500000L), 1, 630930L,
      1000000L, 630930L)))
    assert(out(3L) === ((1L, None, None, 0, 0L, 1000000L, 0L)))
  }

  test("rankEval: perfect ranking scores ndcg 1e6; truth beyond k caps idcg") {
    val ranked = (1 to 3).map(r => (1L, s"i$r", r)).toDF("query_id", "vec_id", "rank")
    // 5 relevant items but k=3: idcg uses only the first 3 discounts
    val truth = (1 to 5).map(i => (1L, s"i$i")).toDF("query_id", "vec_id")
    val r = Fusion.rankEval(ranked, truth, k = 3).collect().head
    assert(r.getLong(6) === 2130930L) // 1e6+630930+5e5
    assert(r.getLong(7) === 1000000L)
  }

  test("rankEval is layout-independent") {
    val ranked = (0L until 500L).map(i =>
      (i / 10, s"i${(i * 13) % 40}", (i % 10 + 1).toInt))
      .toDF("query_id", "vec_id", "rank")
    val truth = (0L until 300L).map(i => (i % 50, s"i${(i * 7) % 40}"))
      .toDF("query_id", "vec_id")
    def run(a: org.apache.spark.sql.DataFrame) =
      Fusion.rankEval(a, truth, k = 10).collect().map(_.toSeq).toSeq
    assert(run(ranked) === run(ranked.repartition(17)))
  }

  private def tdList(q: Long, ids: Seq[Long]) =
    ids.zipWithIndex.map { case (id, i) => (q, id, (i + 1).toLong) }
      .toDF("query_id", "vec_id", "rank")

  test("team draft: disjoint lists stay balanced and preserve team order") {
    val a = tdList(1L, Seq(10L, 11L, 12L, 13L))
    val b = tdList(1L, Seq(20L, 21L, 22L, 23L))
    val out = Fusion.interleaveTeamDraft(a, b, "query_id", "vec_id",
        "rank", k = 8)
      .orderBy("pos")
      .select("pos", "vec_id", "team")
      .as[(Long, Long, String)].collect().toSeq
    assert(out.map(_._1) === (1L to 8L))
    assert(out.map(_._2).distinct.length === 8)
    // balance: after every even prefix, counts equal; never off by > 1
    (1 to 8).foreach { p =>
      val (na, nb) = (out.take(p).count(_._3 == "A"),
        out.take(p).count(_._3 == "B"))
      assert(math.abs(na - nb) <= 1, s"prefix $p unbalanced")
    }
    // each team's picks follow its own list order
    assert(out.filter(_._3 == "A").map(_._2) ===
      Seq(10L, 11L, 12L, 13L))
    assert(out.filter(_._3 == "B").map(_._2) ===
      Seq(20L, 21L, 22L, 23L))
  }

  test("team draft: identical lists dedup; exhausted side cedes the rest") {
    val a = tdList(1L, Seq(10L, 11L, 12L))
    val b = tdList(1L, Seq(10L, 11L, 12L))
    val same = Fusion.interleaveTeamDraft(a, b, "query_id", "vec_id",
        "rank", k = 6)
      .select("vec_id").as[Long].collect().toSeq
    assert(same.sorted === Seq(10L, 11L, 12L)) // each doc at most once
    // B only shares A's first doc: once 10 is gone B is exhausted and A
    // drafts the remainder alone
    val b2 = tdList(1L, Seq(10L))
    val out = Fusion.interleaveTeamDraft(a, b2, "query_id", "vec_id",
        "rank", k = 6)
      .orderBy("pos").select("vec_id", "team")
      .as[(Long, String)].collect().toSeq
    assert(out.map(_._1).sorted === Seq(10L, 11L, 12L))
    assert(out.count(_._2 == "B") <= 1)
  }

  test("team draft: deterministic across layouts and reruns; seed changes coins") {
    val a = (1L to 5L).flatMap(q => tdList(q, Seq(1L, 2L, 3L, 4L))
      .as[(Long, Long, Long)].collect()).toDF("query_id", "vec_id", "rank")
    val b = (1L to 5L).flatMap(q => tdList(q, Seq(9L, 8L, 7L, 6L))
      .as[(Long, Long, Long)].collect()).toDF("query_id", "vec_id", "rank")
    def run(x: org.apache.spark.sql.DataFrame,
            y: org.apache.spark.sql.DataFrame, seed: Long) =
      Fusion.interleaveTeamDraft(x, y, "query_id", "vec_id", "rank",
          k = 8, seed = seed)
        .collect().map(_.toSeq).toSeq
    val r = run(a, b, 42L)
    assert(r === run(a.repartition(7), b.repartition(3), 42L))
    // different seed flips at least one tie coin across 5 queries
    assert(r !== run(a, b, 43L))
  }

  test("interleavedWins: per-query click credit partitions queries") {
    val a = tdList(1L, Seq(10L, 11L)).unionByName(tdList(2L, Seq(30L, 31L)))
    val b = tdList(1L, Seq(20L, 21L)).unionByName(tdList(2L, Seq(40L, 41L)))
    val asg = Fusion.interleaveTeamDraft(a, b, "query_id", "vec_id",
      "rank", k = 4)
    // click everything → per-query counts tie (balanced draft)
    val allClicks = asg.select(col("query_id"), col("vec_id"))
    val r = Fusion.interleavedWins(asg, allClicks, "query_id", "vec_id")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 0L, 0L, 2L)))
  }

  test("errEval: hand-computed cascade; absent grades are 0; clamping") {
    // gMax=2 → R(g) = (2^g−1)/4 in ppm: g1→250000, g2→750000
    val ranked = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
      .toDF("query_id", "vec_id", "rank")
    val truth = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 99L, 2L),
      (2L, 10L, 2L)) // item 30 absent → grade 0; query 2 has no list
      .toDF("query_id", "vec_id", "grade")
    val r = Fusion.errEval(ranked, truth, k = 10, gMax = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).toSeq
    // r1: err += (1e6·250000)/(1000·1) → 250000000; prod → 750000
    // r2: err += (750000·750000)/(1000·2) → +281250000; prod → 187500
    // r3: R=0 — nothing changes
    assert(r === Seq((1L, 3L, 531250000L, 187500L)))
    // out-of-range grades clamp instead of exploding
    val wild = Seq((1L, 10L, 99L), (1L, 20L, -5L))
      .toDF("query_id", "vec_id", "grade")
    val rw = Fusion.errEval(ranked.filter(col("rank") <= 2), wild,
      k = 10, gMax = 2).collect().head
    // g=99 clamps to 2 (R=750000); g=−5 clamps to 0
    assert(rw.getLong(2) === 750000000L)
  }

  test("errEval: perfect top hit ≈ 1; layout-independent") {
    import spark.implicits._
    val ranked = (1L to 40L).flatMap(q =>
      (1L to 5L).map(r => (q, q * 100 + r, r)))
      .toDF("query_id", "vec_id", "rank")
    val truth = (1L to 40L).map(q => (q, q * 100 + 1, 4L))
      .toDF("query_id", "vec_id", "grade")
    def run(a: org.apache.spark.sql.DataFrame) =
      Fusion.errEval(a, truth, k = 5, gMax = 4)
        .collect().map(_.toSeq).toSeq
    val a = run(ranked)
    assert(a === run(ranked.repartition(9)))
    // R(4) with gMax 4 = 15/16 = 937500 ppm → err_nano = 937500000
    assert(a.forall(_(2) === 937500000L))
    assert(a.forall(_(3) === 62500L)) // rest mass = 1/16
  }

  test("bradleyTerry: hand MM iterations recover the 3:1 win ratio") {
    import spark.implicits._
    // A beats B 3x, B beats A once: MLE ratio w_A/w_B = 3
    val duels = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L))
      .toDF("w", "l")
    val got = Fusion.bradleyTerry(duels, col("w"), col("l"), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // iter1: raw=(1.5e6, 5e5) -> (1e6, 333333); iter2+ fixed point
    assert(got === Seq((1L, 1000000L, 3L, 4L), (2L, 333333L, 1L, 4L)))
  }

  test("bradleyTerry: symmetric record -> equal strengths; shutout floors at 1") {
    import spark.implicits._
    val even = Seq((1L, 2L), (2L, 1L)).toDF("w", "l")
    val e = Fusion.bradleyTerry(even, col("w"), col("l"), 3)
      .collect().map(r => r.getLong(1)).toSeq
    assert(e === Seq(1000000L, 1000000L))
    val shutout = Seq((1L, 2L), (1L, 2L)).toDF("w", "l")
    val s = Fusion.bradleyTerry(shutout, col("w"), col("l"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // the zero-win player bottoms out at the documented 1-micro floor
    assert(s === Seq((1L, 1000000L, 2L), (2L, 1L, 0L)))
  }

  test("bradleyTerry: transitive chain orders strengths; layout-independent") {
    import spark.implicits._
    // a dominates b dominates c (plus one upset to connect the graph)
    val duels = (Seq.fill(6)((1L, 2L)) ++ Seq.fill(6)((2L, 3L)) ++
      Seq((3L, 1L)) ++ Seq.fill(2)((1L, 3L))).toDF("w", "l")
    def run(d: org.apache.spark.sql.DataFrame) =
      Fusion.bradleyTerry(d, col("w"), col("l"), 4)
        .collect().map(_.toSeq).toSeq
    val a = run(duels)
    assert(a === run(duels.repartition(7)))
    val strengths = a.map(_(1).asInstanceOf[Long])
    assert(strengths(0) > strengths(1) && strengths(1) > strengths(2))
    // self-duels and null sides are dropped, not scored
    val noisy = duels.union(Seq((5L, 5L)).toDF("w", "l"))
    assert(run(noisy) === a)
  }
}
