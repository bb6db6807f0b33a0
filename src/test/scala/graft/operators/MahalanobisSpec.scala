package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Diagonal-Mahalanobis outlier scores: hand moments, constant-dim
  * exclusion, drop contract, tie order, layout independence. */
class MahalanobisSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("hand 2D cloud: exact z2 sums, constant dim contributes 0") {
    // dim1 values 1,3,2 -> n=3, S=6e6, V = 3*14e12 - 36e12 = 6e12
    // dim2 constant 5 -> V = 0, counted once
    val df = Seq((1L, Seq(1f, 5f)), (2L, Seq(3f, 5f)), (3L, Seq(2f, 5f)))
      .toDF("id", "v")
    val out = Similarity.mahalanobisDiag(df, col("id"), col("v"),
      dim = 2, topK = 3).collect()
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2)))).toMap
    // v1: e = 1e6*3-6e6 = -3e6; e^2*1e6 DIV 6e12 = 1_500_000
    assert(byId(1L) === ((1500000L, 1L))) // tie with id2 -> id asc
    assert(byId(2L) === ((1500000L, 2L)))
    assert(byId(3L) === ((0L, 3L)))
    assert(out.forall(r => r.getLong(3) === 3L && r.getLong(4) === 1L))
  }

  test("constant corpus scores all-zero; null/wrong-length vectors drop") {
    val df = Seq((1L, Some(Seq(2f, 2f))), (2L, Some(Seq(2f, 2f))),
      (3L, Some(Seq(2f, 2f, 9f))), // wrong length: dropped
      (4L, Option.empty[Seq[Float]])).toDF("id", "v")
    val out = Similarity.mahalanobisDiag(df, col("id"), col("v"),
      dim = 2, topK = 10).collect()
    assert(out.length === 2)
    assert(out.forall(_.getLong(1) === 0L))
    assert(out.forall(_.getLong(3) === 2L)) // n counts kept rows only
    assert(out.forall(_.getLong(4) === 2L)) // both dims constant
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L)) // tie -> id asc
  }

  test("planted outlier ranks first; topK truncates; layout-proof") {
    val rows = (1 to 40).map(i => (i.toLong,
      Seq((i % 5).toFloat / 10, ((i * 3) % 7).toFloat / 10))) :+
      (99L, Seq(50f, -50f))
    val df = rows.toDF("id", "v")
    val out = Similarity.mahalanobisDiag(df, col("id"), col("v"),
      dim = 2, topK = 5).collect()
    assert(out.length === 5)
    assert(out.head.getLong(0) === 99L && out.head.getLong(2) === 1L)
    assert(out.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    val again = Similarity.mahalanobisDiag(df.repartition(7), col("id"),
      col("v"), dim = 2, topK = 5).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }
}
