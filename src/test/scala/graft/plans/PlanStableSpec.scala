package graft.plans

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** ParamLiteral and its physical rule: comparison literals leave the
  * generated source text without changing any answer or plan string. */
class PlanStableSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SharedSpark.spark

  private def filters(p: SparkPlan): Seq[FilterExec] = collect(p) { case f: FilterExec => f }
  private def params(p: SparkPlan): Seq[ParamLiteral] =
    filters(p).flatMap(_.condition.collect { case l: ParamLiteral => l })

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val before = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body finally before.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  test("ParamLiteral comparisons give the same rows with whole-stage codegen, without it, and interpreted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_param").toFile
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      def ntz(s: String) = java.time.LocalDateTime.parse(s)
      Seq(
        (1L, 1, 0.0, java.sql.Date.valueOf("2025-01-01"), ts("2025-01-01 00:00:00"), ntz("2025-01-01T00:00")),
        (2L, 2, -0.0, java.sql.Date.valueOf("2025-01-02"), ts("2025-01-02 06:00:00"), ntz("2025-01-02T06:00")),
        (3L, 3, Double.NaN, java.sql.Date.valueOf("2025-01-03"), ts("2025-01-03 12:00:00"), ntz("2025-01-03T12:00")),
        (4L, 4, 1.5, java.sql.Date.valueOf("2025-01-04"), ts("2025-01-04 18:00:00"), ntz("2025-01-04T18:00")),
        (5L, 5, -2.5, java.sql.Date.valueOf("2025-01-05"), ts("2025-01-05 23:59:59"), ntz("2025-01-05T23:59:59")))
        .toDF("l", "i", "d", "dt", "ts", "ntz").write.mode("overwrite").parquet(dir.getPath)
      // each rewritten type, NaN (equal to itself and above every
      // number) and negative zero (equal to zero)
      val cases = Seq(
        (col("l") > lit(2L), Set(3L, 4L, 5L)),
        (col("i") <= lit(2), Set(1L, 2L)),
        (col("d") === lit(Double.NaN), Set(3L)),
        (col("d") > lit(1.0), Set(3L, 4L)),
        (col("d") === lit(-0.0), Set(1L, 2L)),
        (col("d") < lit(0.0), Set(5L)),
        (col("dt") >= lit(java.sql.Date.valueOf("2025-01-04")), Set(4L, 5L)),
        (col("ts") < lit(ts("2025-01-02 06:00:00")), Set(1L)),
        (lit(ts("2025-01-03 12:00:00")) === col("ts"), Set(3L)),
        (col("ntz") > lit(ntz("2025-01-04T00:00")), Set(4L, 5L)))
      def run(): Seq[Set[Long]] = cases.map { case (c, _) =>
        val df = spark.read.parquet(dir.getPath).where(c).select("l")
        val got = df.as[Long].collect().toSet
        assert(params(df.queryExecution.executedPlan).nonEmpty, s"no ParamLiteral for $c")
        got
      }
      val want = cases.map(_._2)
      assert(run() === want)
      assert(withConf("spark.sql.codegen.wholeStage" -> "false")(run()) === want)
      assert(withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run()) === want)
    } finally FileUtils.deleteDirectory(dir)
  }

  test("only non-null literals of inlined types that a comparison reads become ParamLiterals") {
    val child = spark.range(3).selectExpr("id", "cast(id as string) s").queryExecution.sparkPlan
    val Seq(id, s) = child.output
    val cond = Seq[Expression](
      GreaterThan(id, Literal(null, LongType)),
      EqualTo(s, Literal("1")),
      GreaterThan(Add(id, Literal(1L)), Literal(2L)),
      In(id, Seq(Literal(1L), Literal(2L)))).reduce(And)
    val out = ParamLiterals(FilterExec(cond, child)).asInstanceOf[FilterExec].condition
    assert(out.collect { case p: ParamLiteral => p } === Seq(ParamLiteral(2L, LongType)))
    val kept = out.collect { case l: Literal => l }
    assert(kept.contains(Literal(null, LongType)) && kept.contains(Literal("1")) &&
      kept.contains(Literal(1L)) && kept.count(_ == Literal(2L)) === 1)
  }

  test("the executed plan of a filtered query renders the same with and without the rule") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_param_plan").toFile
    try {
      Seq((1L, java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), 2.0))
        .toDF("k", "t", "v").write.mode("overwrite").parquet(dir.getPath)
      val df = spark.read.parquet(dir.getPath)
        .where(col("t") >= lit("2024-12-31 00:00:00").cast("timestamp") && col("v") < 3.5)
        .groupBy("k").agg(sum("v"))
      // non-adaptive, so the executed plan is the whole tree
      val plan = withConf("spark.sql.adaptive.enabled" -> "false") {
        df.collect()
        df.queryExecution.executedPlan
      }
      assert(params(plan).size === 2)
      val unparam = plan.transformAllExpressions {
        case l: ParamLiteral => Literal(l.value, l.dataType)
      }
      assert(params(unparam).isEmpty)
      // a rebuilt exchange takes a fresh plan_id; nothing else may differ
      def shown(p: SparkPlan) = p.toString.replaceAll("plan_id=\\d+", "plan_id")
      assert(shown(plan) === shown(unparam))
      // the scan's pushed filters keep real literals
      val scan = plan.toString.linesIterator.find(_.contains("PushedFilters")).get
      assert(scan.contains("GreaterThanOrEqual(t,2024-12-31 00:00:00.0)") &&
        scan.contains("LessThan(v,3.5)"), scan)
    } finally FileUtils.deleteDirectory(dir)
  }
}
