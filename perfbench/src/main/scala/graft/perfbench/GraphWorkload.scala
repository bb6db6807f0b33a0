package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.Graph

/** Seeded power-law bipartite co-purchase graph: purchases draw a
  * customer and an item from Zipf popularity laws; each distinct
  * purchase becomes two directed edges (customer↔item). Customers are
  * nodes 1..U, items U+1..U+I. */
object GraphGen {
  final case class Inputs(src: Array[Long], dst: Array[Long], seeds: Array[Long])

  private def cdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(r => math.pow(r.toDouble, -s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private def draw(c: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(c, r.nextDouble())
    math.min(c.length - 1, if (i >= 0) i else -i - 1)
  }

  def generate(seed: Long, purchases: Int, users: Int, items: Int): Inputs = {
    val r = new SplittableRandom(seed)
    val (cu, ci) = (cdf(users, 0.6), cdf(items, 0.9))
    // random relabelling so popularity is not ordered by id
    def perm(n: Int): Array[Int] = {
      val a = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val (pu, pi) = (perm(users), perm(items))
    val seen = new mutable.LinkedHashSet[(Long, Long)]
    var n = 0
    while (n < purchases) {
      seen += ((pu(draw(cu, r)) + 1L, users + pi(draw(ci, r)) + 1L))
      n += 1
    }
    val both = seen.toArray.flatMap { case (u, i) => Array((u, i), (i, u)) }
    val itemNodes = seen.iterator.map(_._2).toArray.distinct
    val seeds = Array.fill(16)(itemNodes(r.nextInt(itemNodes.length))).distinct.sorted
    Inputs(both.map(_._1), both.map(_._2), seeds)
  }

  def serialize(in: Inputs): Array[Byte] = {
    val sb = new StringBuilder
    in.src.indices.foreach(i => sb.append(in.src(i)).append(' ').append(in.dst(i)).append('\n'))
    sb.append(in.seeds.mkString(",")).toString.getBytes("UTF-8")
  }
}

/** Plain-Scala replays of the integer-deterministic graph operators. */
object GraphReplay {
  final case class G(edges: Array[(Long, Long)], vertices: Array[Long], outDeg: Map[Long, Long])

  def build(src: Array[Long], dst: Array[Long]): G = {
    val e = src.indices.map(i => (src(i), dst(i))).distinct.toArray
    G(e, (src ++ dst).distinct.sorted, e.groupBy(_._1).map { case (k, v) => k -> v.length.toLong })
  }

  private def rounds(g: G, iters: Int, num: Long, den: Long,
                     first: Long => Long, later: Long => Long): Map[Long, Long] = {
    var in: Map[Long, Long] = null
    (1 to iters).foreach { _ =>
      val sums = mutable.HashMap.empty[Long, Long]
      g.edges.foreach { case (s, d) =>
        val mass = if (in == null) first(s) else later(s) + in.getOrElse(s, 0L)
        sums(d) = sums.getOrElse(d, 0L) + mass / g.outDeg(s)
      }
      in = sums.map { case (k, v) => k -> (num * v) / den }.toMap
    }
    in
  }

  def pagerank(g: G, iters: Int, num: Long = 85, den: Long = 100, init: Long = 1000000): Map[Long, Long] = {
    val base = init * (den - num) / den
    val in = rounds(g, iters, num, den, _ => init, _ => base)
    g.vertices.map(v => v -> (base + in.getOrElse(v, 0L))).toMap
  }

  def personalized(g: G, seeds: Set[Long], iters: Int, num: Long = 85, den: Long = 100,
                   init: Long = 1000000): Map[Long, Long] = {
    val base = init * (den - num) / den
    val in = rounds(g, iters, num, den, s => if (seeds(s)) init else 0L, s => if (seeds(s)) base else 0L)
    g.vertices.map(v => v -> ((if (seeds(v)) base else 0L) + in.getOrElse(v, 0L))).toMap
  }

  def hits(g: G, iters: Int, init: Long = 1000000): Map[Long, (Long, Long)] = {
    def half(score: Map[Long, Long], from: ((Long, Long)) => Long, to: ((Long, Long)) => Long) = {
      val raw = mutable.HashMap.empty[Long, Long]
      g.edges.foreach { e => score.get(from(e)).foreach(s => raw(to(e)) = raw.getOrElse(to(e), 0L) + s) }
      val mx = if (raw.isEmpty) 1L else raw.values.max
      raw.map { case (k, v) => k -> (BigInt(v) * 1000000 / mx).toLong }.toMap
    }
    var hubs: Map[Long, Long] = g.vertices.map(_ -> init).toMap
    var auths: Map[Long, Long] = hubs
    (1 to iters).foreach { _ =>
      auths = half(hubs, _._1, _._2)
      hubs = half(auths, _._2, _._1)
    }
    g.vertices.map(v => v -> ((hubs.getOrElse(v, 0L), auths.getOrElse(v, 0L)))).toMap
  }

  def labels(g: G, iters: Int): Map[Long, Long] = {
    var win: Map[Long, Long] = Map.empty
    (1 to iters).foreach { _ =>
      val counts = mutable.HashMap.empty[(Long, Long), Long]
      g.edges.foreach { case (s, d) =>
        val key = (d, win.getOrElse(s, s))
        counts(key) = counts.getOrElse(key, 0L) + 1
      }
      win = counts.toSeq.groupBy(_._1._1).map { case (node, cs) =>
        node -> cs.minBy { case ((_, label), c) => (-c, label) }._1._2 }
    }
    g.vertices.map(v => v -> win.getOrElse(v, v)).toMap
  }

  /** Canonical rows, in node order, of every operator's replayed output. */
  def expected(in: GraphGen.Inputs, prIters: Int, lpIters: Int, hitsIters: Int,
               core: Int, coreRounds: Int): Map[String, Seq[String]] = {
    val g = build(in.src, in.dst)
    def canon[V](m: Map[Long, V])(f: V => Seq[Any]): Seq[String] =
      m.toSeq.sortBy(_._1).map { case (n, v) => Canon.row(n +: f(v)) }
    Map(
      "pagerankMicro" -> canon(pagerank(g, prIters))(Seq(_)),
      "personalizedPagerankMicro" -> canon(personalized(g, in.seeds.toSet, prIters))(Seq(_)),
      "labelPropagation" -> canon(labels(g, lpIters))(Seq(_)),
      "hitsMicro" -> canon(hits(g, hitsIters)) { case (h, a) => Seq(h, a) },
      "kCorePeel" -> kCore(in.src, in.dst, core, coreRounds).map(p => Canon.row(Seq(p._1, p._2))))
  }

  /** Outputs (canonical rows, node order) that differ from the replay. */
  def errors(got: Seq[(String, Seq[String])], expected: Map[String, Seq[String]]): Seq[String] =
    got.flatMap { case (n, rows) =>
      val want = expected(n)
      if (rows == want) Nil
      else Seq(s"$n differs from the integer replay: ${rows.size} rows vs ${want.size}; " +
        s"first difference ${rows.diff(want).take(2)} / ${want.diff(rows).take(2)}")
    }

  def kCore(src: Array[Long], dst: Array[Long], k: Int, maxRounds: Int): Seq[(Long, Long)] = {
    def degrees(e: Set[(Long, Long)]) =
      e.toSeq.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity).map { case (n, v) => n -> v.size.toLong }
    var e = src.indices.collect { case i if src(i) != dst(i) =>
      (math.min(src(i), dst(i)), math.max(src(i), dst(i))) }.toSet
    var i = 0
    var done = e.isEmpty
    while (i < maxRounds && !done) {
      val keep = degrees(e).filter(_._2 >= k).keySet
      val next = e.filter { case (a, b) => keep(a) && keep(b) }
      done = next.size == e.size
      e = next
      i += 1
    }
    degrees(e).toSeq.sortBy(_._1)
  }
}

/** `graph_iterative`: PageRank, personalized PageRank, label propagation,
  * HITS and k-core peeling over one co-purchase graph per pass. */
final class GraphBench(seed: Long, purchases: Int, users: Int, items: Int) extends Workload {
  val name = "graph_iterative"
  private val (prIters, lpIters, hitsIters, core, coreRounds) = (2, 2, 2, 3, 2)
  private var in: GraphGen.Inputs = _
  private var dir: File = _
  private lazy val expected = GraphReplay.expected(in, prIters, lpIters, hitsIters, core, coreRounds)

  def edges: Int = in.src.length

  def setup(spark: SparkSession, d: File): Unit = {
    in = GraphGen.generate(seed, purchases, users, items)
    dir = d
    val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    spark.createDataFrame(in.src.indices.map(i => Row(in.src(i), in.dst(i))).asJava, schema)
      .write.parquet(new File(d, "edges").getPath)
    spark.createDataFrame(in.seeds.toSeq.map(Row(_)).asJava,
      StructType(Seq(StructField("node", LongType)))).write.parquet(new File(d, "seeds").getPath)
  }

  def pass(spark: SparkSession, i: Int, t: Tracer): PassOut = {
    val calls = mutable.ArrayBuffer.empty[(String, Long)]
    val t0 = System.nanoTime()
    val (e, seeds) = t.span("sources.read.edges")((spark.read.parquet(new File(dir, "edges").getPath),
      spark.read.parquet(new File(dir, "seeds").getPath)))
    def run(n: String)(df: => org.apache.spark.sql.DataFrame): Seq[String] =
      Harness.timedCollect(t, s"operators.Graph.$n", calls)(df).toSeq.map(Canon.row)
    val raw = Seq(
      "pagerankMicro" -> run("pagerankMicro")(Graph.pagerankMicro(e, prIters).select("node", "rank")),
      "personalizedPagerankMicro" -> run("personalizedPagerankMicro")(
        Graph.personalizedPagerankMicro(e, seeds, prIters).select("node", "rank")),
      "labelPropagation" -> run("labelPropagation")(Graph.labelPropagation(e, lpIters).select("node", "label")),
      "hitsMicro" -> run("hitsMicro")(Graph.hitsMicro(e, hitsIters).select("node", "hub", "auth")),
      "kCorePeel" -> run("kCorePeel")(Graph.kCorePeel(e, core, coreRounds).select("node", "deg")))
    val wall = System.nanoTime() - t0
    val got = raw.map { case (n, rows) => n -> rows.sortBy(_.takeWhile(_ != '|').toLong) }
    PassOut(Seq(wall), calls.toSeq, edges, got.size, () => GraphReplay.errors(got, expected))
  }
}
