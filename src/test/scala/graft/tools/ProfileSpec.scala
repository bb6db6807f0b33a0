package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{BenchRunner, SharedSpark}
import graft.sources.Tables

class ProfileSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  private val base = SharedSpark.sf0001

  // one replica directory for the suite, outside the tool's fixed path
  private lazy val x2 = Profile.prep(spark, base,
    2, java.nio.file.Files.createTempDirectory("graft_profile_spec").toString)

  private def table(dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(spark, dir) else Tables.load(spark, dir, name)

  // each replica's key set is disjoint from every other replica's
  private val keys = Map(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"),
    "customer" -> Seq("c_custkey"),
    "events" -> Seq("event_id"),
    "embeddings" -> Seq("vec_id"),
    "documents" -> Seq("doc_id"))

  test("--scale 2 doubles every replicated table with disjoint keys; dimensions stay shared") {
    assert(Profile.replicatedTables.toSet === keys.keySet)
    keys.foreach { case (name, k) =>
      def distinctKeys(df: DataFrame) = df.select(k.map(col): _*).distinct().count()
      val one = table(base, name)
      val rep = table(x2, name)
      assert(rep.count() === 2 * one.count(), name)
      assert(distinctKeys(rep) === 2 * distinctKeys(one), name)
    }
    Profile.sharedTables.foreach { name =>
      assert(table(x2, name).count() === table(base, name).count(), name)
    }
  }

  test("--scale 2 doubles the matches of orders⋈lineitem and orders⋈customer") {
    def matches(dir: String): (Long, Long) = {
      val o = Tables.orders(spark, dir)
      (o.join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey")).count(),
        o.join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey")).count())
    }
    val (li1, c1) = matches(base)
    assert(li1 > 0 && c1 > 0)
    assert(matches(x2) === ((2 * li1, 2 * c1)))
  }

  test("replica-1 documents share no word with replica 0") {
    def words(docs: DataFrame): DataFrame =
      docs.select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0).distinct()
    val docs = Tables.documents(spark, x2)
    val r0 = words(docs.filter(col("doc_id") < 100000000L))
    val r1 = words(docs.filter(col("doc_id") >= 100000000L))
    assert(r1.count() > 0)
    assert(r0.join(r1, "w").count() === 0)
  }

  test("no replica-1 embedding equals its replica-0 source; norms and in-replica cosines stay") {
    def vecs(dir: String): Map[Long, Seq[Double]] = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val (r0, r1) = vecs(x2).partition(_._1 < 100000000L)
    assert(r0 === vecs(base) && r1.size === r0.size)
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    val ids = r0.keys.toSeq.sorted.take(20)
    ids.foreach { id =>
      val (src, copy) = (r0(id), r1(id + 100000000L))
      assert(math.abs(dot(copy, copy) - dot(src, src)) < 1e-9, s"vec_id $id")
      ids.foreach(o => assert(
        math.abs(dot(copy, r1(o + 100000000L)) - dot(src, r0(o))) < 1e-9, s"$id, $o"))
    }
    assert(r0.keys.forall(id => r1(id + 100000000L) != r0(id)))
  }

  test("graph and relational probes run through the shared bench runner") {
    val runner = new BenchRunner(spark)
    try Seq("q78_pagerank", "q01_pricing_summary").foreach { n =>
      val (warm, runs) = runner.block(n, base, 1)
      (warm +: runs).foreach { r =>
        assert(r.sec >= 0, n)
        assert(r.c.taskFail === 0 && r.c.stageRetry === 0, n)
        assert(r.c.jobs > 0 && r.c.taskRunMs >= 0 && r.c.shuffleBytes >= 0, n)
      }
    } finally runner.close()
  }

  test("arguments: six settable values; names resolve exactly or by substring") {
    val a = Profile.parse(List("--sf", "/d", "--scale", "1,4,16", "--cpus", "32,8",
      "--conf", "a.b=c=d", "--conf", "x=1", "--explain", "pagerank", "q01_pricing_summary"))
    assert(a === Profile.Args(Seq("pagerank", "q01_pricing_summary"), "/d",
      Seq(1, 4, 16), Seq(32, 8), Seq("a.b" -> "c=d", "x" -> "1"), explain = true))
    assert(intercept[IllegalArgumentException](Profile.parse(List("--work", "/w")))
      .getMessage.contains("--work"))
    val names = Profile.resolve(a.names)
    assert(names.contains("q78_pagerank") && names.contains("q212_weighted_pagerank"))
    assert(names.contains("q01_pricing_summary"))
    assert(Profile.resolve(Nil).size === graft.queries.Probes.all.size)
  }

  test("every probe SCALING.md's tables name resolves to a bench body") {
    val lines = scala.io.Source.fromFile("SCALING.md", "UTF-8").getLines().toSeq
    def cells(l: String) = l.split('|').map(_.trim).filter(_.nonEmpty).toSeq
    // rows of every table whose header's first column is `probe`
    val named = lines.zipWithIndex.collect {
      case (l, i) if l.startsWith("| probe |") =>
        lines.drop(i + 2).takeWhile(_.startsWith("|")).map(r => cells(r).head)
    }.flatten
    assert(named.nonEmpty)
    named.foreach(n => graft.queries.Probes.benchBody(n))
  }
}
