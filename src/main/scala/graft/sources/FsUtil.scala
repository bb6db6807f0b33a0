package graft.sources

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructField

/** Filesystem checks and parquet table reads through the Hadoop FS API
  * — correct for ANY configured filesystem (local, hdfs://, s3a://…).
  * `java.io.File` would silently report false for every non-local URI,
  * which in an upsert pipeline means treating an existing table as absent
  * and dropping history. */
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

  /** The first data file under `path` that Spark's readers would see,
    * from one recursive listing; None when the path is absent or holds
    * none. Files that are hidden by name ('_', '.') or that live under a
    * hidden directory (e.g. a crashed write's `_temporary/...`) don't
    * count — the reader ignores them, so treating them as data would
    * fail the schema read. A `path` that names a file is its own data
    * file. */
  private def firstDataFile(spark: SparkSession, path: String)
      : Option[org.apache.hadoop.fs.FileStatus] = {
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

    if (!fs.exists(root)) None
    else {
      val it = fs.listFiles(root, true)
      var found: Option[org.apache.hadoop.fs.FileStatus] = None
      while (found.isEmpty && it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getLen > 0 && (f.getPath == root ||
            !hidden(f.getPath.getName) && !hiddenAncestor(f.getPath))) found = Some(f)
      }
      found
    }
  }

  /** True when the path exists AND holds at least one data file that
    * Spark's readers would actually see (see [[firstDataFile]]). */
  def hasData(spark: SparkSession, path: String): Boolean =
    firstDataFile(spark, path).isDefined

  /** A parquet table as `spark.read.parquet(path)` would give it, or None
    * when `path` holds no data file — one listing answers both. The read
    * runs no Spark job: `spark.read.parquet` infers the schema with a
    * one-task job even for a single footer, while here ONE data file's
    * footer is read on the driver and converted by
    * `ParquetFileFormat.readSchemaFromFooter`, the per-footer conversion
    * Spark's inference runs in that job: the Spark row-metadata key wins
    * (JSON or legacy string form), and otherwise the parquet schema is
    * converted under the session's parquet confs. Like Spark's
    * non-merging inference, it assumes every file of the table carries
    * that schema. A footer holds no partition columns: a partitioned
    * table names them in `partitionColumns`, and they follow the data
    * columns, as in Spark's own order. `options` go to the reader;
    * parquet ignores keys it does not know, so a caller may use one to
    * mark the relation for a plan rule. */
  def parquetTable(spark: SparkSession, path: String,
                   partitionColumns: StructField*): Option[DataFrame] =
    parquetTable(spark, path, Map.empty[String, String], partitionColumns: _*)

  def parquetTable(spark: SparkSession, path: String, options: Map[String, String],
                   partitionColumns: StructField*): Option[DataFrame] =
    firstDataFile(spark, path).map { file =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val data = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(partitionColumns.foldLeft(data)(_ add _)).options(options).parquet(path)
    }

  /** [[parquetTable]] for a table that must exist: a path without data
    * fails with Spark's own error classes (PATH_NOT_FOUND,
    * UNABLE_TO_INFER_SCHEMA), as `spark.read.parquet` does. */
  def readParquet(spark: SparkSession, path: String,
                  partitionColumns: StructField*): DataFrame =
    readParquet(spark, path, Map.empty[String, String], partitionColumns: _*)

  def readParquet(spark: SparkSession, path: String, options: Map[String, String],
                  partitionColumns: StructField*): DataFrame =
    parquetTable(spark, path, options, partitionColumns: _*).getOrElse {
      val (f, root) = fs(spark, path)
      if (!f.exists(root))
        throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> f.makeQualified(root).toString))
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet"))
    }
}
