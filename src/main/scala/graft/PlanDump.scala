package graft

import org.apache.spark.sql.SparkSession

/** Plan-capture tool for the optimization rounds: writes the
  * `.explain("formatted")` output of each named query to
  * `<outDir>/<query>_<tag>.txt` in one JVM (one Smoke invocation per
  * query would pay ~40 s of sbt/JVM startup each).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> q_a,q_b,...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  *
  * Note: building a query's DataFrame executes any eager stages inside
  * the builder (index builds, stream drains) — the captured plan is the
  * final read-back/search plan, exactly what Smoke prints.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // same shuffle-writer setting as Bench/Verify (see Bench.scala)
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS", "0"))
      // Raw local filesystem for file:// (SPARK_GRAFT_FILE_IMPL
      // overrides): without native Hadoop libs the default checksummed
      // LocalFileSystem shells out `ls -ld`/chmod PER FILE touched
      // (stack-sampled: Shell.runCommand dominating idle wall of every
      // write-heavy row) and writes a .crc shadow beside every file.
      // Local-environment fix, inert at scale: HDFS/S3 never route
      // through this path (q_corrupt_parquet_scan 4.8 -> 1.6 s).
      .config("spark.hadoop.fs.file.impl",
        sys.env.getOrElse("SPARK_GRAFT_FILE_IMPL",
          "org.apache.hadoop.fs.RawLocalFileSystem"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.sort.results", "false")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
        plan.getBytes("UTF-8"))
      System.err.println(s"[plandump] $n -> $outDir/${n}_$tag.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
