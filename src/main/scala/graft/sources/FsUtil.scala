package graft.sources

import org.apache.spark.sql.SparkSession

/** Filesystem checks through the Hadoop FS API — correct for ANY
  * configured filesystem (local, hdfs://, s3a://…). `java.io.File` would
  * silently report false for every non-local URI, which in an upsert
  * pipeline means treating an existing table as absent and dropping
  * history. */
object FsUtil {

  /** Resolve a path against its configured filesystem — the shared
    * entry the lakehouse modules ([[DeltaLake]], [[Iceberg]]) use, so
    * the resolution rule lives once. */
  private[sources] def fs(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  /** Read a whole (KB-scale metadata) file as UTF-8 through the Hadoop
    * FS API. */
  private[sources] def slurp(f: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** True when the path exists AND holds at least one data file that
    * Spark's readers would actually see. Files that are hidden by name
    * ('_', '.') or that live under a hidden directory (e.g. a crashed
    * write's `_temporary/...`) don't count — the reader ignores them, so
    * treating them as data would fail schema inference on read. */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val raw = new org.apache.hadoop.fs.Path(path)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    // listed files come back qualified (`file:/…`); the ancestor walk
    // below must stop at the SAME form of the root, or it climbs past
    // it and a '_'/'.'-prefixed directory above the table hides all data
    val root = fs.makeQualified(raw)

    // Spark's own hidden-path rule (HadoopFsUtils): '_'/'.' prefixes are
    // hidden EXCEPT names containing '=' — partition directories like
    // `__bucket=5` are data, not metadata
    def hidden(n: String): Boolean =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")

    def hiddenAncestor(p: org.apache.hadoop.fs.Path): Boolean = {
      var cur = p.getParent
      while (cur != null && cur != root) {
        if (hidden(cur.getName)) return true
        cur = cur.getParent
      }
      false
    }

    fs.exists(root) && {
      val it = fs.listFiles(root, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getLen > 0 && !hidden(f.getPath.getName) &&
            !hiddenAncestor(f.getPath)) found = true
      }
      found
    }
  }
}
