package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Domain boilerplate mining/stripping: threshold algebra, presence (not
  * occurrence) counting, order-preserving reassembly, degenerate docs. */
class BoilerplateSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a.com", "NAV\nalpha body\nFOOTER"),
    (2L, "a.com", "NAV\nbeta body\nFOOTER"),
    (3L, "a.com", "NAV\ngamma body\nFOOTER"),
    (4L, "a.com", "NAV\ndelta body\nFOOTER"),
    (5L, "b.org", "NAV\nepsilon body") // NAV rare in b.org: 1 of 2 docs...
  ).toDF("doc_id", "domain", "text")
    .unionByName(Seq((6L, "b.org", "zeta body")).toDF("doc_id", "domain", "text"))

  test("lines frequent within a domain are mined; rare ones are not") {
    val bp = CorpusStats.boilerplateLines(docs, "domain", minDocs = 3)
      .select("domain", "line").as[(String, String)].collect().toSet
    assert(bp == Set(("a.com", "NAV"), ("a.com", "FOOTER")))
    // b.org's NAV hits 50% but fails minDocs = 3
  }

  test("strip keeps body lines in order and counts drops") {
    val out = CorpusStats.stripBoilerplate(docs, "domain", minDocs = 3)
      .orderBy("doc_id")
      .select("doc_id", "text_clean", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "alpha body", 1L, 2L)))
    assert(out(4) == ((5L, "NAV\nepsilon body", 2L, 0L)))
    assert(out(5) == ((6L, "zeta body", 1L, 0L)))
  }

  test("multi-line order survives reassembly on any partitioning") {
    val d = Seq((1L, "x", "h\n1\n2\n3\n4\nh"), (2L, "x", "h\nz\nh"),
      (3L, "x", "h\nq\nh")).toDF("doc_id", "domain", "text")
    val clean = CorpusStats.stripBoilerplate(d.repartition(7), "domain",
        minDocs = 3)
      .filter(col("doc_id") === 1L).select("text_clean").as[String].head()
    assert(clean == "1\n2\n3\n4")
  }

  test("a line repeated inside ONE doc counts once toward doc_freq") {
    val d = Seq((1L, "x", "dup\ndup\ndup"), (2L, "x", "solo"),
      (3L, "x", "other")).toDF("doc_id", "domain", "text")
    // dup appears in 1 of 3 docs (33%) — occurrence counting would see 3
    val bp = CorpusStats.boilerplateLines(d, "domain", minDocs = 1,
      minFracPpm = 600000)
    assert(bp.count() == 0)
  }

  test("fully-boilerplate doc becomes the empty string, not a dropped row") {
    val d = Seq((1L, "x", "h"), (2L, "x", "h"), (3L, "x", "h\nbody"))
      .toDF("doc_id", "domain", "text")
    val out = CorpusStats.stripBoilerplate(d, "domain", minDocs = 3)
      .orderBy("doc_id")
      .select("doc_id", "text_clean", "n_kept").as[(Long, String, Long)]
      .collect()
    assert(out.length == 3)
    assert(out(0) == ((1L, "", 0L)))
    assert(out(2) == ((3L, "body", 1L)))
  }
}
