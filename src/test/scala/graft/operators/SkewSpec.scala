package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Skew diagnosis report: exact shares, null keys, salt suggestion.
  * (saltedJoin itself is covered in GraftExtensionsSpec.) */
class SkewSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("diagnose: hot key surfaces with exact ppm share and context") {
    // 100 rows: key 7 has 60, key 1 has 30, keys 100..109 one each
    val rows = Seq.fill(60)(Some(7L)) ++ Seq.fill(30)(Some(1L)) ++
      (100L to 109L).map(Some(_))
    val df = rows.toDF("k")
    val out = Skew.diagnose(df, col("k"), topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.length === 3)
    assert(out(0) === ((7L, 60L, 600000L, 100L, 12L, 8L))) // ceil(60·12/100)
    assert(out(1) === ((1L, 30L, 300000L, 100L, 12L, 4L)))
    assert(out(2)._2 === 1L) // ties among singletons break by key asc
    assert(out(2)._1 === 100L)
  }

  test("diagnose: null keys count as a key and can top the report") {
    val df = (Seq.fill(5)(None: Option[Long]) ++ Seq(Some(1L), Some(2L)))
      .toDF("k")
    val top = Skew.diagnose(df, col("k"), topK = 1).head()
    assert(top.isNullAt(0))
    assert(top.getLong(1) === 5L)
    assert(top.getLong(4) === 3L) // null is one of 3 keys
  }
}
