package graft
import java.nio.file.{Files, Paths}

/** Provenance stamp for a verify dump: git SHA + query list, so a gate
  * run can never silently compare against a stale dump from an older
  * working tree (the /tmp/verify_* accumulation hazard). */
object VerifyMeta {
  def write(outDir: String, names: Seq[String]): Unit = {
    val sha =
      try {
        val p = new ProcessBuilder("git", "rev-parse", "HEAD")
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0) out else "unknown"
      } catch { case _: Throwable => "unknown" }
    val qs = names.sorted.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/meta.json"),
      s"""{"git_sha": "$sha", "queries": $qs}""")
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name filter for fast local iteration;
    // absent (the driver's invocation) → all queries, unchanged contract
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      // stderr marker BEFORE each query: engine warnings in the log
      // (WindowExec single-partition, codegen fallbacks…) become
      // attributable to the query that emitted them
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      GraftSession.resetQueryState(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(o => selected(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    VerifyMeta.write(outDir, SparkEntry.queries.keys.filter(selected).toSeq)
    spark.stop()
  }
}
