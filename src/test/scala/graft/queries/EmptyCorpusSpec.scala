package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sources.Tables

/** Degenerate-input robustness: every declared query must execute (not
  * throw) over a zero-row corpus — guards against ANSI-mode edge errors
  * (element_at OOB, division by zero, empty-array aggregates) sneaking
  * into a probe. */
class EmptyCorpusSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_corpus").toString
    graft.sources.Catalog.corpusTables.foreach { t =>
      val schema =
        if (t == "events") Tables.events(spark, SharedSpark.sf0001)
        else Tables.load(spark, SharedSpark.sf0001, t)
      schema.limit(0).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("all declared queries run on an empty corpus without throwing") {
    Probes.all.foreach { p =>
      val n =
        try p.run(spark, emptyDir).count()
        catch {
          case e: Throwable =>
            fail(s"${p.name} threw on empty corpus: ${e.getMessage}", e)
        } finally graft.GraftSession.resetQueryState(spark) // as Verify does
      assert(n >= 0, s"${p.name} returned negative count")
    }
  }
}
