package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark itself: seeded generators are reproducible,
  * every checker rejects a single corrupted row or pair, and span
  * self-time arithmetic is right. None of them start Spark. */
class BenchmarkSpec extends AnyFunSuite {

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  private def tempDir(): File = Files.createTempDirectory("perfbench-spec").toFile

  /** Digest of every file under `dir`, by relative path and content. */
  private def treeDigest(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    WeatherBench.dataFiles(dir).sortBy(_.getPath).foreach { f =>
      md.update(dir.toPath.relativize(f.toPath).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  // ---------------------------------------------------------------- generators

  test("weather generator writes byte-identical files for a seed, different for another") {
    def written(seed: Long): String = {
      val d = tempDir()
      try { WeatherGen.write(WeatherGen.generate(seed), d); treeDigest(d) }
      finally Harness.deleteRecursively(d)
    }
    assert(written(7) == written(7))
    assert(written(7) != written(8))
  }

  test("corpus generator is byte-identical for a seed, different for another") {
    def bytes(seed: Long) = sha(CorpusGen.serialize(CorpusGen.generate(seed, 600, 300)))
    assert(bytes(7) == bytes(7))
    assert(bytes(7) != bytes(8))
  }

  test("graph generator is byte-identical for a seed, different for another") {
    def bytes(seed: Long) = sha(GraphGen.serialize(GraphGen.generate(seed, 3000, 600, 150)))
    assert(bytes(7) == bytes(7))
    assert(bytes(7) != bytes(8))
  }

  test("generators plant what the checks rely on") {
    val w = WeatherGen.generate(3)
    val docs = w.batches.flatMap(_.docs)
    assert(docs.count(_.isEmpty) == WeatherGen.maxSteps / WeatherGen.notFoundEvery,
      "one cod:404 document in every 4th batch")
    assert(w.batches.forall(b => b.docs.flatten.count(_.hour < WeatherGen.historyHours) == 1),
      "one corrected re-send of a history hour in every batch")
    assert(WeatherGen.generate(4).batches.map(_.docs.count(_.isEmpty)) ==
      w.batches.map(_.docs.count(_.isEmpty)), "the batch shape does not depend on the seed")
    val c = CorpusGen.generate(3, 2000, 100)
    assert(CorpusCheck.survivors(c.docs).size < c.docs.size, "planted exact duplicates")
    assert(c.nearPairs.size == 19 * 7 && CorpusGen.generate(4, 2000, 100).nearPairs.size == 19 * 7,
      "7 near-duplicates in every 100 documents after the first 100, whatever the seed")
    val byId = c.docs.map(d => d.id -> d).toMap
    val js = c.nearPairs.map { case (a, b) =>
      CorpusCheck.jaccard(CorpusCheck.shingles(byId(a).text), CorpusCheck.shingles(byId(b).text)) }
    assert(js.nonEmpty && js.forall(j => j > 0.7 && j < 0.95), s"planted Jaccard ${js.take(5)}")
  }

  // ------------------------------------------------------------------ checkers

  test("weather checker rejects one corrupted widget row and one corrupted store row") {
    val in = WeatherGen.generate(5)
    val replay = new WeatherReplay(in.history)
    in.batches.take(3).foreach(replay.apply)
    val f = WeatherBench.filterFor(5, 0)
    val good = replay.widgets(f)
    assert(replay.widgetErrors(2, f, good).isEmpty)
    val rows = good("temperatureByHour")
    val bad = good.updated("temperatureByHour", rows.updated(1, rows(1).replaceAll("\\|.*", "|0.0")))
    assert(replay.widgetErrors(2, f, bad).size == 1)

    val fact = replay.factRows
    assert(replay.storeErrors(fact.reverse, replay.dimRows, replay.forecastRows).isEmpty)
    val corrupted = fact.updated(10, fact(10).replaceFirst("\\|stations\\|", "|station|"))
    assert(replay.storeErrors(corrupted, replay.dimRows, replay.forecastRows).size == 1)
    assert(replay.storeErrors(fact.tail, replay.dimRows, replay.forecastRows).size == 1)
  }

  test("corpus checkers reject one corrupted survivor, pair, representative and top-k row") {
    val in = CorpusGen.generate(5, 1500, 400)
    val byId = in.docs.map(d => d.id -> d).toMap
    val surv = CorpusCheck.survivors(in.docs)
    assert(CorpusCheck.survivorErrors(surv, surv).isEmpty)
    assert(CorpusCheck.survivorErrors(surv - surv.head, surv).nonEmpty)

    // a perfect near-dup answer: every planted pair between survivors
    val pairs = in.nearPairs.filter { case (a, b) => surv(a) && surv(b) }.map { case (a, b) =>
      (a, b, CorpusCheck.jaccard(CorpusCheck.shingles(byId(a).text), CorpusCheck.shingles(byId(b).text)))
    }
    assert(CorpusCheck.nearDupErrors(byId, surv, in.nearPairs, pairs, 0.7).isEmpty)
    val stranger = surv.find(id => !pairs.exists(p => p._1 == id || p._2 == id)).get
    val wrongPair = pairs.updated(0, pairs.head.copy(_2 = stranger))
    assert(CorpusCheck.nearDupErrors(byId, surv, in.nearPairs, wrongPair, 0.7).nonEmpty)
    val wrongJ = pairs.updated(0, pairs.head.copy(_3 = pairs.head._3 - 0.01))
    assert(CorpusCheck.nearDupErrors(byId, surv, in.nearPairs, wrongJ, 0.7).nonEmpty)
    // dropping most pairs breaks the derived recall bound
    assert(CorpusCheck.nearDupErrors(byId, surv, in.nearPairs, pairs.take(pairs.size / 2), 0.7).nonEmpty)

    val docs = in.docs.filter(d => surv(d.id))
    val ab = pairs.map(p => (p._1, p._2))
    val reps = CorpusCheck.representatives(docs, ab)
    assert(CorpusCheck.representativeErrors(reps, docs, ab).isEmpty)
    val clustered = reps.indexWhere(_.endsWith("|false"))
    assert(CorpusCheck.representativeErrors(reps.updated(clustered,
      reps(clustered).replace("|false", "|true")), docs, ab).size == 1)

    val k = 5
    val topk = in.queries.indices.flatMap { q =>
      val sims = in.vectors.map(CorpusCheck.cosine(in.queries(q)._1, _))
      sims.zipWithIndex.sortBy(x => (-x._1, x._2)).take(k).zipWithIndex.map { case ((s, i), r) =>
        (CorpusBench.queryId(q), i + 1L, s, r + 1) }
    }
    assert(CorpusCheck.topKErrors(in, k, topk).isEmpty)
    val (q0, _, s0, r0) = topk(2)
    val outsider = in.vectors.indices.map(i => i + 1L).find(id => !topk.exists(t => t._1 == q0 && t._2 == id)).get
    assert(CorpusCheck.topKErrors(in, k, topk.updated(2, (q0, outsider, s0, r0))).size == 1)
  }

  test("graph checker rejects one corrupted row of each operator") {
    val in = GraphGen.generate(5, 3000, 600, 150)
    val want = GraphReplay.expected(in, 3, 3, 2, 3, 3)
    assert(want("pagerankMicro").nonEmpty && want("kCorePeel").nonEmpty)
    assert(GraphReplay.errors(want.toSeq, want).isEmpty)
    want.keys.foreach { n =>
      val rows = want(n)
      val i = rows.size / 2
      val last = rows(i).split('|')
      val bumped = (last.init :+ (last.last.toLong + 1).toString).mkString("|")
      assert(GraphReplay.errors(Seq(n -> rows.updated(i, bumped)), want).size == 1, n)
    }
  }

  test("integer replays agree with hand-computed values on a tiny graph") {
    // 1 -> 2, 1 -> 3, 2 -> 3, 3 -> 1
    val g = GraphReplay.build(Array(1L, 1L, 2L, 3L), Array(2L, 3L, 3L, 1L))
    // round 1: in(2) = 85*(1e6/2)/100, in(3) = 85*(5e5 + 1e6)/100, in(1) = 85*1e6/100
    assert(GraphReplay.pagerank(g, 1) == Map(1L -> (150000L + 850000L),
      2L -> (150000L + 425000L), 3L -> (150000L + 1275000L)))
    assert(GraphReplay.labels(g, 1) == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    assert(GraphReplay.kCore(Array(1L, 1L, 2L, 3L), Array(2L, 3L, 3L, 1L), 2, 3) ==
      Seq(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("recall bound follows the banding formula") {
    assert(CorpusCheck.recallBound(Seq.fill(100)(1.0)) == 1.0)
    val p = 1 - math.pow(1 - math.pow(0.8, 4), 8)
    val b = CorpusCheck.recallBound(Seq.fill(400)(0.8))
    assert(math.abs(b - (p - 4 * math.sqrt(p * (1 - p) / 400))) < 1e-12)
  }

  // --------------------------------------------------------------------- spans

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      Span(0, "pass", -1, 0, 0, 100),
      Span(1, "a", 0, 0, 10, 40),
      Span(2, "b", 0, 0, 30, 60), // overlaps a: counted once
      Span(3, "c", 0, 0, 90, 120), // runs past the parent: clipped to 90..100
      Span(4, "a.child", 1, 0, 15, 20))
    val self = SpanMath.selfNs(spans)
    assert(self(0) == 100 - (50 + 10))
    assert(self(1) == 30 - 5)
    assert(self(2) == 30)
    assert(self(3) == 30)
    assert(self(4) == 5)
    assert(SpanMath.unionNs(Seq((5L, 8L), (0L, 2L), (1L, 3L), (8L, 9L))) == 3 + 4)
  }
}
