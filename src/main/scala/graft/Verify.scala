package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // naive parquet timestamps (isAdjustedToUTC=false) must read as
      // TIMESTAMP_LTZ raw-micros (the DuckDB oracle's epoch_us view), not NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // sort-based shuffle writer in the small-reduce-count regime —
      // same setting (and rationale) as Bench.scala: verify runs the
      // identical engine configuration the bench times
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS", "0"))
      // Raw local filesystem for file:// (SPARK_GRAFT_FILE_IMPL
      // overrides): without native Hadoop libs the default checksummed
      // LocalFileSystem shells out `ls -ld`/chmod PER FILE touched
      // (stack-sampled: Shell.runCommand dominating idle wall of every
      // write-heavy row) and writes a .crc shadow beside every file.
      // Local-environment fix, inert at scale: HDFS/S3 never route
      // through this path (q_corrupt_parquet_scan 4.8 -> 1.6 s).
      // Trade-off, accepted for this sandbox: the raw FS has no CRC
      // shadow, so the oracle gate runs without FS-level checksums and
      // leans on Parquet's own page-level checks for local-disk
      // corruption; SPARK_GRAFT_FILE_IMPL restores the checksummed FS.
      .config("spark.hadoop.fs.file.impl",
        sys.env.getOrElse("SPARK_GRAFT_FILE_IMPL",
          "org.apache.hadoop.fs.RawLocalFileSystem"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b limits the dump (targeted iteration)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        // builders may persist() internal frames; drop them between
        // queries so the 50+-query sweep doesn't accumulate cache state
        spark.catalog.clearCache()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        // A crashed query must surface as a red row, never as silent
        // absence: record it in _errors.json beside the parquet dirs.
        errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val errJson = errors
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
