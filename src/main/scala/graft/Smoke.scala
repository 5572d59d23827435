package graft

import org.apache.spark.sql.SparkSession

/** Dev/smoke entrypoint: runs the flagship `SparkEntry.entry` slice the way
  * the driver's t1 smoke does, prints row count and (optionally, with
  * args(0) == a query name or "entry") the formatted physical plan — the
  * feedback loop for keeping plans broadcast/pushdown-shaped.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // naive parquet timestamps (isAdjustedToUTC=false) must read as
      // TIMESTAMP_LTZ raw-micros (the DuckDB oracle's epoch_us view), not NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args.headOption match {
      case Some(q) if q != "entry" =>
        val df = SparkEntry.queries(q)(spark, sfDir)
        df.explain("formatted")
        println(s"SMOKE $q rows=${df.count()}")
      case _ =>
        val df = SparkEntry.entry(spark)
        df.explain("formatted")
        println(s"SMOKE entry rows=${df.count()}")
        df.show(5, truncate = false)
    }
    spark.stop()
  }
}
