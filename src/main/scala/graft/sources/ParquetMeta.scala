package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Footer reads over parquet data — planner-weight metadata queries
  * (row counts, table schemas) that cost zero Spark jobs.
  *
  * Operators that need a corpus-size scalar at PLAN time (the LSH plane
  * derivation in [[graft.operators.VectorOps]], the IVF-PQ candidate
  * broadcast gate) must not run an eager `df.count()` inside the query
  * builder: that embeds a full Spark action in otherwise-declarative
  * plan construction, paid on every verify/bench call and invisible to
  * per-query plan accounting. Parquet footers already carry exact row
  * counts; reading them is the same class of work as Spark's own file
  * listing during planning. At warehouse scale the identical number
  * comes from catalog statistics (`ANALYZE TABLE` / Delta metadata) —
  * the dial stays a metadata read there too.
  *
  * Counts are cached per (path, file set, total mtime) so repeated
  * builder calls in one session (Verify/Bench loops) hit the map, while
  * a rewritten dataset (incremental-dedup chains land new corpora under
  * fresh tmp dirs) is never served stale.
  *
  * Every batch parquet read in the engine goes through [[read]]: a
  * schema-less `spark.read.parquet` infers the schema with a Spark job
  * per call, and the persisted-index verbs read five stored tables per
  * operation.
  */
object ParquetMeta {
  private val cache = new ConcurrentHashMap[String, Long]()

  /** Exact row count of a parquet file or directory of part-files. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files = dataFiles(fs.getFileStatus(p), fs)
    val key = files.map(f => s"${f.getPath}@${f.getModificationTime}:${f.getLen}")
      .mkString(path + "|", ",", "")
    cache.computeIfAbsent(key, _ =>
      files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum)
  }

  /** `spark.read.parquet(path)` with the schema read from a footer on
    * the driver instead of inferred by a Spark job. The footer is the
    * one Spark's own non-merging inference opens (the first data file
    * by path), converted under the session's parquet settings, so the
    * schema is the same; partition columns (`cell=N` directories) are
    * still inferred from the directory names. A missing path, or one
    * with no data file, falls through to the plain read and its error.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val first =
      if (fs.exists(p)) dataFiles(fs.getFileStatus(p), fs).headOption else None
    first.fold(spark.read.parquet(path))(f =>
      spark.read.schema(footerSchema(spark, f, conf)).parquet(path))
  }

  private def footerSchema(spark: SparkSession, f: FileStatus, conf: Configuration) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, r.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally r.close()
  }

  /** Data files under `st`, sorted by path: partition directories are
    * descended into, and hidden names (`_SUCCESS`, `.crc` shadows,
    * `_temporary`) skipped, as Spark's file index does.
    */
  private def dataFiles(st: FileStatus, fs: FileSystem): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(f => hidden(f.getPath.getName))
      .flatMap(dataFiles(_, fs))
      .sortBy(_.getPath.toString)

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}
