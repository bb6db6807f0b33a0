package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Integer PageRank: hand-computed recurrence, symmetry, determinism. */
class GraphSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pagerankMicro(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("one iteration matches the hand-computed integer recurrence") {
    // directed triangle 1→2→3→1, all outdeg 1:
    // contrib = 1000000 DIV 1; rank' = 150000 + 85*1000000 DIV 100 = 1000000
    val tri = ranksOf(Seq((1L, 2L), (2L, 3L), (3L, 1L)), 1)
    assert(tri === Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))

    // star 1→2, 1→3 (outdeg 2), 2→1, 3→1 (outdeg 1):
    // hub 1 receives 1000000+1000000 → 150000 + 85*2000000 DIV 100 = 1850000
    // leaves receive 1000000 DIV 2 = 500000 → 150000 + 85*500000 DIV 100 = 575000
    val star = ranksOf(Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)), 1)
    assert(star === Map(1L -> 1850000L, 2L -> 575000L, 3L -> 575000L))
  }

  test("lineage-cut cadence is semantics-free: per-round cuts match the composed default") {
    // rounds compose lazily and the round sink writes one every
    // spark.graft.round.cutEvery rounds — the cadence must never change
    // a single output bit. 9 iterations on an asymmetric graph: cut
    // every round (1), mid-loop cuts (4: rounds 4 and 8), the default
    // (8: one mid-loop cut) and fully composed (9: only the final
    // write) must all agree, for every operator on the shared loop.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L), (2L, 4L))
    val edges = e.toDF("src", "dst")
    val weighted = e.zipWithIndex.map { case ((s, d), i) => (s, d, i + 1L) }
      .toDF("src", "dst", "weight")
    val seeds = Seq(2L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ops: Seq[(String, () => Map[Long, Long])] = Seq(
      "pagerankMicro" -> (() => rows(Graph.pagerankMicro(edges, 9))),
      "weightedPagerankMicro" ->
        (() => rows(Graph.weightedPagerankMicro(weighted, 9))),
      "personalizedPagerankMicro" ->
        (() => rows(Graph.personalizedPagerankMicro(edges, seeds, 9))),
      "labelPropagation" -> (() => rows(Graph.labelPropagation(edges, 9))))
    def withCut(k: String)(run: () => Map[Long, Long]): Map[Long, Long] = {
      spark.conf.set("spark.graft.round.cutEvery", k)
      try run()
      finally spark.conf.unset("spark.graft.round.cutEvery")
    }
    ops.foreach { case (name, run) =>
      val composed = withCut("9")(run)
      assert(composed.size === 4, s"$name lost vertices")
      Seq("1", "4").foreach { k =>
        assert(withCut(k)(run) === composed, s"$name: cutEvery=$k vs fully composed")
      }
      assert(run() === composed, s"$name: default cadence vs fully composed")
    }
  }

  test("symmetric vertices get identical ranks after several iterations") {
    val star = ranksOf(Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)), 5)
    assert(star(2L) === star(3L))
    assert(star(1L) > star(2L))
  }

  test("duplicate edges collapse; results are layout-independent") {
    val e = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    val a = ranksOf(e, 3)
    val b = Graph.pagerankMicro(e.toDF("src", "dst").repartition(7), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    val dedup = ranksOf(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)), 3)
    assert(a === dedup)
  }

  test("directed chain keeps source-only and sink-only vertices alive") {
    // 1→2→3: node 1 has no in-links (settles at base), node 3 no out-links
    val out = ranksOf(Seq((1L, 2L), (2L, 3L)), 3)
    assert(out.keySet === Set(1L, 2L, 3L))
    // r1: 1→150000, 2→1000000, 3→1000000
    // r2: 2→150000+85%·150000=277500, 3→150000+85%·1000000=1000000
    // r3: 2→277500, 3→150000+(85·277500)//100=385875
    assert(out === Map(1L -> 150000L, 2L -> 277500L, 3L -> 385875L))
  }

  test("truncating division only ever loses mass (total ≤ ideal)") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 2L), (2L, 1L))
    val total = ranksOf(e, 4).values.sum
    assert(total <= 3L * 1000000L)
    assert(total > 3L * 900000L) // leak is tiny, not structural
  }

  private def labelsOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    val und = edges ++ edges.map(e => (e._2, e._1)) // undirected
    Graph.labelPropagation(und.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("labelPropagation: two disjoint triangles collapse to their min ids") {
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
    val out = labelsOf(tri, 4)
    // each triangle's min label wins its component (votes are 1-1 each
    // round; smallest-label tie-break drives monotone convergence)
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: majority beats the smaller label; no-in-edge nodes keep theirs") {
    import spark.implicits._
    // DIRECTED: 1→2, 1→3, then 2→9, 3→9, 8→9.
    // r1: 2←{1}→1; 3←{1}→1; 9←{2,3,8} all tie → 2; 1,8 keep (no in-edges).
    // r2: 9←labels{1,1,8} → majority 1 (beats the tie rule). Stable by r3.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 9L), (3L, 9L), (8L, 9L))
    val out = Graph.labelPropagation(e.toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(9L) === 1L)
    assert(out(2L) === 1L && out(3L) === 1L)
    assert(out(1L) === 1L && out(8L) === 8L) // no in-edges → labels never change
  }

  test("labelPropagation is layout-independent") {
    import spark.implicits._
    val e = (0L until 300L).map(i => (i, (i * 7 + 3) % 300))
    val und = e ++ e.map(x => (x._2, x._1))
    val a = Graph.labelPropagation(und.toDF("src", "dst"), 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Graph.labelPropagation(und.toDF("src", "dst").repartition(11), 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a === b)
  }

  private def triOf(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] = {
    import spark.implicits._
    Graph.triangles(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
  }

  test("triangles: K4 — every node in 3 triangles, lcc 1.0") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val out = triOf(k4)
    assert(out.keySet === (1L to 4L).toSet)
    assert(out.values.forall(_ == ((3L, 3L, 1.0))))
  }

  test("triangles: triangle + pendant, exact counts and lcc") {
    // 1-2-3 triangle, 4 hangs off 1
    val out = triOf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)))
    assert(out(1L) === ((3L, 1L, 2.0 / 6.0)))
    assert(out(2L) === ((2L, 1L, 1.0)))
    assert(out(3L) === ((2L, 1L, 1.0)))
    assert(out(4L) === ((1L, 0L, 0.0)))
  }

  test("triangles: bipartite graph has none; self-loops and dup/reversed edges ignored") {
    // K2,3 plus noise: self-loop, duplicates, both directions
    val k23 = for (a <- Seq(1L, 2L); b <- Seq(10L, 11L, 12L)) yield (a, b)
    val noisy = k23 ++ k23.map(e => (e._2, e._1)) ++ Seq((1L, 1L), (1L, 10L))
    val out = triOf(noisy)
    assert(out.values.forall(_._2 == 0L))
    assert(out(1L)._1 === 3L) // degree unaffected by the noise
  }

  test("triangles: layout-independent") {
    import spark.implicits._
    val e = (for (a <- 1L to 9L; b <- 1L to 9L if a < b && (a + b) % 3 != 0)
      yield (a, b)).toSeq
    val a1 = triOf(e)
    val a2 = Graph.triangles(e.toDF("src", "dst").repartition(13)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(a1 === a2)
  }

  test("twoHopReach: hand path and star; hub neighbors see the whole star") {
    // path 1-2-3-4-5: reach2(1) = {2,3}; reach2(3) = {1,2,4,5}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val p = Graph.twoHopReach(path).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(p(1L) === ((1L, 2L)))
    assert(p(3L) === ((2L, 4L)))
    // star: center 0 with leaves 1..5 — every leaf reaches all 5 others
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val s = Graph.twoHopReach(star).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s(0L) === 5L)
    assert((1L to 5L).forall(i => s(i) === 5L)) // center + 4 siblings
  }

  test("twoHopReach matches a driver-side BFS-2 on a random graph; layout-proof") {
    val edges = (0L until 1500L)
      .map(i => ((i * 7) % 60, (i * 13 + 1) % 60)).filter(p => p._1 != p._2)
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val expect = adj.map { case (n, nbrs) =>
      n -> (nbrs ++ nbrs.flatMap(adj.getOrElse(_, Set.empty)) - n).size.toLong
    }
    val df = edges.toDF("src", "dst")
    Seq(1, 13).foreach { parts =>
      val got = Graph.twoHopReach(df.repartition(parts)).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === expect)
    }
  }

  test("twoHopReachKmv: exact (rounded) whenever the sketch holds the set; layout-proof") {
    val edges = (0L until 1500L)
      .map(i => ((i * 7) % 60, (i * 13 + 1) % 60)).filter(p => p._1 != p._2)
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val expect = adj.map { case (n, nbrs) =>
      n -> (nbrs ++ nbrs.flatMap(adj.getOrElse(_, Set.empty)) - n).size.toLong
    }
    val df = edges.toDF("src", "dst")
    // k = 64 ≥ any neighborhood on 60 nodes → every node sketch-resident
    Seq(1, 13).foreach { parts =>
      val got = Graph.twoHopReachKmv(df.repartition(parts), k = 64).collect()
        .map(r => (r.getLong(0), r.getInt(2), r.getDouble(3))).toSeq
      got.foreach { case (n, nSig, est) =>
        assert(nSig < 64 && math.round(est) === expect(n), s"node $n")
      }
      assert(got.map(_._1).toSet === expect.keySet)
    }
  }

  test("reachProfileKmv: exact BFS profile on a path graph when sketches fit") {
    // path 0-1-2-3-4-5: reach_t(v) = |{u: dist ≤ t}| computable by hand
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val bfs = {
      val adj = path.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      (node: Long, t: Int) => {
        var ball = Set(node)
        (1 to t).foreach(_ => ball = ball ++ ball.flatMap(adj(_)))
        (ball - node).size.toLong
      }
    }
    Seq(1, 7).foreach { parts =>
      val got = Graph.reachProfileKmv(path.toDF("src", "dst")
          .repartition(parts), k = 64, maxHops = 4)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getInt(2), math.round(r.getDouble(3)))).toMap
      for (n <- 0L to 5L; t <- 1 to 4) {
        val (nSig, est) = got((n, t))
        assert(nSig < 64 && est === bfs(n, t), s"node $n hop $t")
      }
    }
  }

  test("reachProfileKmv: hop 2 row agrees with twoHopReachKmv; curve is monotone") {
    val edges = (0L until 1500L)
      .map(i => ((i * 7) % 60, (i * 13 + 1) % 60)).filter(p => p._1 != p._2)
      .toDF("src", "dst")
    val profile = Graph.reachProfileKmv(edges, k = 16, maxHops = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val two = Graph.twoHopReachKmv(edges, k = 16).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // same sketch recurrence at t=2 → bit-identical estimates
    two.foreach { case (n, est) => assert(profile((n, 2)) === est, s"node $n") }
    // balls only grow: nondecreasing per node across hops
    profile.keys.map(_._1).toSeq.distinct.foreach { n =>
      assert(profile((n, 1)) <= profile((n, 2)) &&
        profile((n, 2)) <= profile((n, 3)), s"node $n not monotone")
    }
  }

  test("twoHopReachKmv: sketched hubs estimate within the KMV error contract") {
    // near-complete graph on 120 nodes: every 2-hop set has ~119 members,
    // far over k=16 — all nodes sketched; se ≈ 1/sqrt(14) ≈ 27%
    val edges = (for (a <- 0L until 120L; b <- a + 1 until 120L
                      if (a * 31 + b * 7) % 3 != 0) yield (a, b)).toSeq
    val exact = Graph.twoHopReach(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val est = Graph.twoHopReachKmv(edges.toDF("src", "dst"), k = 16).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getDouble(3)))
    assert(est.forall(_._2 === 16)) // every node truncated
    val errs = est.map { case (n, _, e) =>
      math.abs(e - exact(n)) / exact(n) }
    assert(errs.max <= 1.0, s"max rel err ${errs.max}")
    assert(errs.sum / errs.length <= 0.3,
      s"mean rel err ${errs.sum / errs.length}")
    // determinism: same data, any layout → bit-identical estimates
    val re = Graph.twoHopReachKmv(edges.toDF("src", "dst").repartition(7), 16)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3)))
    assert(re.sortBy(_._1).toSeq === est.sortBy(_._1).toSeq)
  }

  private def kcore(edges: Seq[(Long, Long)], k: Int, rounds: Int) =
    Graph.kCorePeel(edges.toDF("src", "dst"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCorePeel: triangle + tail — the tail peels off, the triangle is the 2-core") {
    // triangle 1-2-3 with a pendant path 3-4-5
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    assert(kcore(e, k = 2, rounds = 4) ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3: the triangle is only a 2-core — everything peels
    assert(kcore(e, k = 3, rounds = 4) === Map.empty)
  }

  test("kCorePeel: cascade needs multiple rounds; a bounded run reports the intermediate state") {
    // path 1-2-3-4-5: peeling endpoints cascades inward one round at a time
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // one round removes only nodes 1 and 5
    assert(kcore(path, k = 2, rounds = 1) === Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
    // enough rounds → empty (a path has no 2-core)
    assert(kcore(path, k = 2, rounds = 4) === Map.empty)
  }

  test("kCorePeel: canonicalization (dups, direction, self-loops) and layout independence") {
    val noisy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L), // dups + loop
      (2L, 3L), (1L, 3L))
    assert(kcore(noisy, k = 2, rounds = 3) ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val big = (0L until 2000L).flatMap(i =>
      Seq((i % 97, (i * 31) % 97), ((i * 7) % 89 + 100, (i * 13) % 89 + 100)))
    val a = kcore(big, k = 4, rounds = 3)
    val b = Graph.kCorePeel(big.toDF("src", "dst").repartition(17), 4, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  // --- weighted PageRank ---

  private def wranks(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] =
    Graph.weightedPagerankMicro(edges.toDF("src", "dst", "weight"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("weightedPagerankMicro: uniform weights reproduce the unweighted recurrence") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (2L, 3L))
    val un = Graph.pagerankMicro(e.toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wranks(e.map { case (s, d) => (s, d, 7L) }, 3) === un)
  }

  test("weightedPagerankMicro: mass follows the heavy edge; hand-computed split") {
    // 1 → 2 (w 3), 1 → 3 (w 1): contribs 750000 and 250000
    val out = wranks(Seq((1L, 2L, 3L), (1L, 3L, 1L)), 1)
    assert(out(2L) === 150000L + 85L * 750000L / 100L)
    assert(out(3L) === 150000L + 85L * 250000L / 100L)
  }

  test("weightedPagerankMicro: parallel edges sum weights; non-positive dropped; layout-proof") {
    val dup = Seq((1L, 2L, 2L), (1L, 2L, 1L), (1L, 3L, 1L), (2L, 1L, 5L))
    val merged = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 5L))
    assert(wranks(dup, 2) === wranks(merged, 2))
    val noisy = dup ++ Seq((1L, 3L, 0L), (1L, 3L, -4L))
    assert(wranks(noisy, 2) === wranks(merged, 2))
    val b = Graph.weightedPagerankMicro(
        dup.toDF("src", "dst", "weight").repartition(7), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wranks(dup, 2) === b)
  }

  // --- degree assortativity ---

  private def assort(edges: Seq[(Long, Long)]) = {
    val r = Graph.assortativity(edges.toDF("src", "dst")).collect().head
    (r.getLong(0), r.getLong(3),
      if (r.isNullAt(6)) None else Some(r.getDouble(6)))
  }

  test("assortativity: star is exactly -1 (hub links only to leaves)") {
    val star = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
    val (m, sxy, r) = assort(star)
    assert(m === 6L)
    assert(sxy === 18L) // 6 edges, each (3,1) or (1,3)
    assert(r === Some(-1.0)) // exact: all terms are perfect squares
  }

  test("assortativity: regular graph has zero degree variance → NULL r") {
    // 4-cycle: every degree 2
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    assert(assort(cyc)._3 === None)
  }

  test("assortativity: moments and r are layout-independent; dups collapse") {
    val e = (0L until 400L).flatMap { i =>
      val a = i % 23; val b = (i * 7) % 19 + 23
      Seq((a, b), (b, a), (a, b)) // dup included
    }
    val x = Graph.assortativity(e.toDF("src", "dst")).collect().head.toSeq
    val y = Graph.assortativity(e.toDF("src", "dst").repartition(13))
      .collect().head.toSeq
    assert(x === y)
  }

  // --- personalized PageRank (seed-conditioned teleport) ---

  private def ppr(edges: Seq[(Long, Long)], seeds: Seq[Long],
                  iters: Int): Map[Long, Long] =
    Graph.personalizedPagerankMicro(edges.toDF("src", "dst"),
        seeds.toDF("node"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("personalizedPagerankMicro: hand-computed chain, mass flows out of the seed") {
    // 1→2→3, seed {1}:
    //   r0 = (1e6, 0, 0)
    //   r1 = (150000, 850000, 0)
    //   r2 = (150000, 85%·150000 = 127500, 85%·850000 = 722500)
    val out = ppr(Seq((1L, 2L), (2L, 3L)), Seq(1L), 2)
    assert(out === Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L))
  }

  test("personalizedPagerankMicro: unreachable nodes settle at exactly 0, stay visible") {
    val out = ppr(Seq((1L, 2L), (3L, 4L)), Seq(1L), 3)
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(3L) === 0L && out(4L) === 0L)
    assert(out(2L) > 0L)
  }

  test("personalizedPagerankMicro: seeds outside the graph are ignored; layout-proof") {
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L))
    assert(ppr(e, Seq(1L), 3) === ppr(e, Seq(1L, 99L), 3))
    val b = Graph.personalizedPagerankMicro(
        e.toDF("src", "dst").repartition(7), Seq(1L).toDF("node"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr(e, Seq(1L), 3) === b)
  }

  // --- HITS (integer max-normalized hubs & authorities) ---

  private def hits(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] =
    Graph.hitsMicro(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("hitsMicro: one iteration matches the hand-computed rescaled recurrence") {
    // 1→3, 1→4, 2→4:
    //   a_raw(3)=1e6, a_raw(4)=2e6; max=2e6 → a(3)=500000, a(4)=1000000
    //   h_raw(1)=a3+a4=1500000, h_raw(2)=1000000; max=1.5e6
    //   → h(1)=1000000, h(2)=(1e6·1e6) DIV 1.5e6 = 666666
    val out = hits(Seq((1L, 3L), (1L, 4L), (2L, 4L)), 1)
    assert(out === Map(
      1L -> (1000000L, 0L), 2L -> (666666L, 0L),
      3L -> (0L, 500000L), 4L -> (0L, 1000000L)))
  }

  test("hitsMicro: leader pins at exactly 1e6 each round; sources/sinks stay visible") {
    val out = hits(Seq((1L, 2L), (2L, 3L)), 3)
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out.values.map(_._1).max === 1000000L)
    assert(out.values.map(_._2).max === 1000000L)
    assert(out(3L)._1 === 0L) // pure sink: hub 0
    assert(out(1L)._2 === 0L) // pure source: authority 0
  }

  test("hitsMicro: symmetric hubs tie; the better-connected hub wins") {
    // 1 and 2 both point at 3; 1 also points at 4 (which 5 endorses too)
    val out = hits(Seq((1L, 3L), (2L, 3L), (1L, 4L), (5L, 4L)), 3)
    assert(out(1L)._1 > out(2L)._1) // 1 covers both authorities
    val sym = hits(Seq((1L, 3L), (2L, 3L)), 3)
    assert(sym(1L)._1 === sym(2L)._1)
  }

  test("hitsMicro: duplicate edges collapse; results are layout-independent") {
    val e = Seq((1L, 3L), (1L, 3L), (1L, 4L), (2L, 4L), (4L, 1L))
    val a = hits(e, 2)
    val b = Graph.hitsMicro(e.toDF("src", "dst").repartition(7), 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a === b)
    assert(a === hits(Seq((1L, 3L), (1L, 4L), (2L, 4L), (4L, 1L)), 2))
  }
}
