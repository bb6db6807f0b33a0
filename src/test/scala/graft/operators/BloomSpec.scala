package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

class BloomSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark

  test("no false negatives: pruned frame is a superset of the exact semi-join") {
    import spark.implicits._
    val build = spark.range(0, 1000).select(($"id" * 3).as("k")) // multiples of 3
    val probe = spark.range(0, 9000).select($"id".as("k"), ($"id" % 7).as("v"))
    val pruned = Bloom.semiPrune(probe, $"k", build, $"k", expectedItems = 1000)
    val exact = probe.join(build, Seq("k"), "left_semi")
    // every exact match survives pruning
    assert(exact.join(pruned, Seq("k", "v"), "left_anti").count() === 0)
    assert(pruned.count() >= exact.count())
  }

  test("false-positive rate stays near the configured fpp") {
    import spark.implicits._
    val build = spark.range(0, 10000).select($"id".as("k"))
    // disjoint probe domain: every hit is a false positive
    val probe = spark.range(100000, 200000).select($"id".as("k"))
    val sk = Bloom.sketch(build, $"k", expectedItems = 10000, fpp = 0.01)
    val fps = probe.filter(Bloom.mightContain(sk, $"k")).count()
    val fpr = fps.toDouble / 100000
    assert(fpr < 0.03, s"fpr $fpr should be ~0.01") // 3x slack on 100k trials
  }

  test("deterministic: same keys give the same sketch regardless of partitioning") {
    import spark.implicits._
    val a = spark.range(0, 5000).select($"id".as("k")).repartition(1)
    val b = spark.range(0, 5000).select($"id".as("k")).repartition(13, $"k")
    val probe = spark.range(0, 20000).select($"id".as("k"))
    val ra = probe.filter(Bloom.mightContain(Bloom.sketch(a, $"k", 5000), $"k"))
      .agg(count(lit(1)), sum($"k")).collect().head
    val rb = probe.filter(Bloom.mightContain(Bloom.sketch(b, $"k", 5000), $"k"))
      .agg(count(lit(1)), sum($"k")).collect().head
    assert(ra === rb)
  }

  test("sketch refuses sizes the engine would silently clamp") {
    import spark.implicits._
    val df = Seq(1L).toDF("k")
    // 30M items at 1% needs ~287M bits, over the 64M-bit default cap —
    // BloomFilterAggregate would clamp and blow the fpp silently
    val e = intercept[IllegalArgumentException](
      Bloom.sketch(df, $"k", expectedItems = 30000000L, fpp = 0.01))
    assert(e.getMessage.contains("maxNumItems"))
  }

  test("NULL keys: never inserted, never match — mirrors SQL join semantics") {
    import spark.implicits._
    val build = Seq(Option(1L), Option(2L), None).toDF("k")
    val probe = Seq(Option(1L), Option(99L), None).toDF("k")
    val sk = Bloom.sketch(build, $"k", expectedItems = 10)
    val kept = probe.filter(Bloom.mightContain(sk, $"k"))
      .select("k").as[Option[Long]].collect().toSet
    assert(kept.contains(Option(1L)))
    assert(!kept.contains(None), "NULL probe key must not match")
  }

  test("membership filter whole-stage-codegens (no UDF in the hot path)") {
    import spark.implicits._
    val build = spark.range(0, 100).select($"id".as("k"))
    val sk = Bloom.sketch(build, $"k", expectedItems = 100)
    val plan = spark.range(0, 100).select($"id".as("k"))
      .filter(Bloom.mightContain(sk, $"k"))
      .queryExecution.executedPlan
    val inCodegen = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.collectLeaves().nonEmpty &&
          w.toString.contains("might_contain")
    }
    assert(inCodegen.contains(true),
      s"expected might_contain inside a WholeStageCodegen span, got:\n$plan")
  }
}
