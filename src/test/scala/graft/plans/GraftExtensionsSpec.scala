package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Skew

class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions-injected functions resolve in a fresh session") {
    // withExtensions applies only when getOrCreate builds a NEW session —
    // clear default/active so it doesn't return the shared test session.
    // The shared session is built first so the JVM's one SparkContext
    // carries the factory's conf whichever suite runs first (including
    // the JVM-wide codegen cache size, fixed at the first compile); it
    // is reused here and never stopped.
    graft.SharedSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import spark.implicits._
      Seq(("a b c d", Array(1.0f, 0.0f)), ("a b c e", Array(0.0f, 1.0f)))
        .toDF("t", "v").createOrReplaceTempView("ext_t")
      val r = spark.sql(
        """SELECT graft_simhash62(t) AS sh,
          |       graft_lang_id(t) AS lg,
          |       graft_minhash_sig(graft_shingles(t, 2), 8) AS sig,
          |       graft_minhash_sig_hashed(graft_hashed_shingles(t, 2), 8) AS sigh,
          |       graft_srp_bucket(v, 4, 2, 42) AS bkt,
          |       graft_token_stats(t).n_words AS nw,
          |       graft_fingerprint(t) AS fp
          |FROM ext_t""".stripMargin).collect()
      assert(r.length === 2)
      assert(r.forall(_.getAs[Int]("nw") === 4))
      assert(r.forall(_.getAs[Seq[Long]]("sigh").length === 8))
      assert(r.map(_.getAs[Long]("fp")).distinct.length === 2) // content-sensitive
      val cos = spark.sql(
        """SELECT graft_cosine(a.v, b.v) AS c FROM ext_t a, ext_t b
          |WHERE a.t < b.t""".stripMargin).head().getDouble(0)
      assert(math.abs(cos) < 1e-9) // orthogonal unit vectors
    } finally {
      // do NOT stop (that would kill the JVM-shared SparkContext);
      // just unhook so other suites' sessions resolve normally
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(graft.SharedSpark.spark)
      SparkSession.setActiveSession(graft.SharedSpark.spark)
    }
  }

  test("salted join equals plain join on a skewed key distribution") {
    val spark = graft.SharedSpark.spark
    import spark.implicits._
    // 90% of rows share one key (the hot key)
    val skewed = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i)).toDF("k", "v")
    val small = Seq((1L, "hot"), (950L, "cold"), (2000L, "unmatched")).toDF("k", "tag")
    val plain  = skewed.join(small, Seq("k"), "left").orderBy("v")
      .collect().map(_.toString).toSeq
    val salted = Skew.saltedJoin(skewed, small, Seq("k"), buckets = 8, "left").orderBy("v")
      .collect().map(_.toString).toSeq
    assert(salted === plain)
  }
}
