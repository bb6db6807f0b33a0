package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sources.Tables

/** Degenerate-input robustness, part 2: every declared query must
  * execute over a ONE-ROW-PER-TABLE corpus — the regime where n−1
  * denominators, empty shingle sets, single-partition ranks, and
  * baseline-less windows all surface (EmptyCorpusSpec covers the
  * zero-row face; real pipelines hit both on fresh/filtered slices). */
class OneRowCorpusSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  lazy val oneRowDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_onerow_corpus").toString
    graft.sources.Catalog.corpusTables.foreach { t =>
      val full =
        if (t == "events") Tables.events(spark, SharedSpark.sf0001)
        else Tables.load(spark, SharedSpark.sf0001, t)
      full.limit(1).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("all declared queries run on a one-row corpus without throwing") {
    Probes.all.foreach { p =>
      val n =
        try p.run(spark, oneRowDir).count()
        catch {
          case e: Throwable =>
            fail(s"${p.name} threw on one-row corpus: ${e.getMessage}", e)
        } finally graft.GraftSession.resetQueryState(spark) // as Verify does
      assert(n >= 0, s"${p.name} returned negative count")
    }
  }
}
