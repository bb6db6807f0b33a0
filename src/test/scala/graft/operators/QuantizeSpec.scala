package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Int8 scalar quantization: code range, reconstruction-error bound,
  * cosine preservation, degenerate vectors, audit/codes consistency. */
class QuantizeSpec extends AnyFunSuite with graft.QueryBoundary {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
    (2L, Array(0.001f, 0.002f, -0.003f, 0.004f)),
    (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
    (4L, Array(-2.5f, 2.5f, 1.25f, -1.25f))
  ).toDF("vec_id", "embedding")

  test("codes are in [-127, 127] and extremes hit ±127") {
    val codes = Quantize.int8(vecs).select("vec_id", "codes")
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.values.flatten.forall(c => c >= -127 && c <= 127))
    assert(codes(1L).head == 127)      // max|x| element → 127
    assert(codes(4L) == Seq(-127, 127, 64, -63)) // 1.25/ (2.5/127) = 63.5 → half-up
  }

  test("reconstruction error is bounded by scale/2 everywhere") {
    val out = Quantize.int8Audit(vecs)
      .select("vec_id", "scale", "max_err")
      .as[(Long, Double, Double)].collect()
    out.foreach { case (id, scale, err) =>
      assert(err <= scale / 2 + 1e-15, s"vec $id: err $err > scale/2")
    }
  }

  test("all-zero vector → scale 0, zero codes, zero error") {
    val r = Quantize.int8Audit(vecs).filter(col("vec_id") === 3L)
      .select("scale", "code_l1", "max_err")
      .as[(Double, Long, Double)].head()
    assert(r == ((0.0d, 0L, 0.0d)))
  }

  test("dequantized vectors preserve cosine to ~1e-2") {
    val rnd = new scala.util.Random(7)
    val data = (1L to 50L).map(i =>
      (i, Array.fill(64)((rnd.nextGaussian() * 0.3).toFloat)))
      .toDF("vec_id", "embedding")
    val deq = Quantize.int8(data)
      .join(data, "vec_id")
      .select(col("vec_id"), col("embedding"),
        transform(col("codes"), c =>
          (c.cast("double") * col("scale")).cast("float")).as("deq"))
    val cos = deq.select(
      graft.functions.Vectors.cosine(col("embedding"), col("deq")).as("c"))
      .as[Double].collect()
    assert(cos.forall(c => c > 0.999), s"min cosine ${cos.min}")
  }

  test("audit summaries agree with the codes frame") {
    val codes = Quantize.int8(vecs).select("vec_id", "codes")
      .as[(Long, Seq[Int])].collect().toMap
    val audit = Quantize.int8Audit(vecs)
      .select("vec_id", "code_checksum", "code_sum", "code_l1", "code_l2sq")
      .as[(Long, Long, Long, Long, Long)].collect()
    audit.foreach { case (id, ck, s, l1, l2) =>
      val c = codes(id).map(_.toLong)
      assert(ck == c.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum)
      assert(s == c.sum && l1 == c.map(math.abs).sum &&
        l2 == c.map(x => x * x).sum)
    }
  }

  test("layout independence") {
    val a = Quantize.int8Audit(vecs).orderBy("vec_id").collect().toSeq
    val b = Quantize.int8Audit(vecs.repartition(5)).orderBy("vec_id")
      .collect().toSeq
    assert(a == b)
  }
}
