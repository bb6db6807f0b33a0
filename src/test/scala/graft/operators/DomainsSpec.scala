package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Host extraction and per-domain cap semantics. */
class DomainsSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("host extracts scheme://host and '' on non-URLs") {
    val out = Seq("https://a.example/x", "http://b.example", "not a url")
      .toDF("u").select(Domains.host(col("u"))).collect().map(_.getString(0))
    assert(out.toSeq === Seq("a.example", "b.example", ""))
  }

  test("capPerDomain keeps the lowest ids, exactly cap per over-cap host") {
    val docs = ((1L to 8L).map(i => ("big.example", i)) ++
      Seq(("small.example", 100L), ("small.example", 101L)))
      .toDF("host", "doc_id")
    for (pruned <- Seq(true, false)) {
      val kept = Domains.capPerDomain(docs, col("host"), col("doc_id"), cap = 3,
          prunedWindow = pruned)
        .filter(col("kept")).select("host", "doc_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(kept === Set(("big.example", 1L), ("big.example", 2L),
        ("big.example", 3L), ("small.example", 100L), ("small.example", 101L)),
        s"prunedWindow=$pruned")
    }
  }

  test("pruned and unpruned cap paths agree on every row") {
    val docs = (0L until 500L).map(i => (s"h${i % 7}", i)).toDF("host", "doc_id")
    def run(p: Boolean) =
      Domains.capPerDomain(docs, col("host"), col("doc_id"), cap = 10, prunedWindow = p)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getBoolean(r.fieldIndex("kept")))).toSeq
    assert(run(true) === run(false))
  }

  test("canonicalUrl normalizes case, ports, tracking params, fragments") {
    val cases = Seq(
      "HTTPS://Example.COM/Path?A=1"      -> "https://example.com/Path?A=1",
      "http://a.example:80/x"             -> "http://a.example/x",
      "https://a.example:443/x"           -> "https://a.example/x",
      "https://a.example:8443/x"          -> "https://a.example:8443/x",
      "http://a.example:443/x"            -> "http://a.example:443/x",
      "https://a.example/x#frag"          -> "https://a.example/x",
      "https://a.example"                 -> "https://a.example/",
      "https://a.example/p?utm_source=f"  -> "https://a.example/p",
      "https://a.example/p?a=1&utm_x=2&b=3" -> "https://a.example/p?a=1&b=3",
      "https://a.example/p?utm_a=1&b=2&utm_c=3" -> "https://a.example/p?b=2",
      "https://a.example/p?fbclid=zzz&gclid=q"  -> "https://a.example/p",
      "https://a.example/p?a=xutm_b=1"    -> "https://a.example/p?a=xutm_b=1",
      "  https://a.example/x  "           -> "https://a.example/x",
      "not a url"                         -> null,
      "/relative/only"                    -> null
    )
    val out = cases.map(_._1).toDF("u")
      .select(Domains.canonicalUrl(col("u"))).collect().map(_.getString(0))
    cases.zip(out).foreach { case ((in, want), got) =>
      assert(got === want, s"input: $in")
    }
  }

  test("dedupByUrl keeps the lowest id per canonical URL, all nulls kept") {
    val rows = Seq(
      (1L, "https://A.example/p?utm_source=x"),
      (2L, "https://a.example/p"),
      (3L, "https://a.example/p#frag"),
      (4L, "nonsense"),
      (5L, "also nonsense")
    ).toDF("doc_id", "url")
    val kept = Domains.dedupByUrl(rows, col("url"), col("doc_id"))
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 5L))
  }

  test("domainStats: exact counts and volumes") {
    val docs = Seq(("a", 10L), ("a", 5L), ("b", 7L)).toDF("host", "n_chars")
    val out = Domains.domainStats(docs, col("host"), col("n_chars"))
      .orderBy("host").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq(("a", 2L, 15L), ("b", 1L, 7L)))
  }
}
