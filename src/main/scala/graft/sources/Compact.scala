package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Out, Scratch, Tables}

/** Small-file compaction — the landing-zone maintenance rewrite every
  * 100 TB pipeline runs continuously: streaming sinks and per-batch
  * jobs land thousands of KB-sized files, and scan cost is then
  * dominated by per-file open/seek overhead and scheduler pressure,
  * not bytes. Compaction rewrites a directory into ~target-size files.
  *
  * The Spark-native shape: DON'T bin-pack driver-side and run one job
  * per bin (that is N jobs and a driver loop). `FileSourceScanExec`
  * already bin-packs input splits into partitions by size —
  * first-fit over files sorted descending, bounded by
  * `spark.sql.files.maxPartitionBytes` with `openCostInBytes` as the
  * per-file padding. Pinning those knobs to the compaction target
  * makes the SCAN's partitioning the bin plan, and a plain
  * partition-per-file write does the rest: one narrow stage, zero
  * shuffle, one task per output file — the same bins-of-files
  * execution as a lakehouse OPTIMIZE, expressed entirely through the
  * reader. At warehouse scale the identical job runs per
  * partition-directory (compact only partitions whose small-file
  * count crossed a threshold), which is a directory filter on top of
  * this, not a different plan.
  */
object Compact {

  /** Compaction target per output file, as seen by the split packer
    * (on-disk compressed bytes). Test-scale value; a warehouse run
    * would use 128–1024 MiB.
    */
  val TargetBytes: Long = 256L * 1024

  /** Per-file padding for the packer. Must be SMALL relative to the
    * target or every tiny file "costs" a full bin and nothing
    * compacts (the 4 MiB default models seek cost for query scans,
    * not rewrite bins).
    */
  val OpenCostBytes: Long = 4L * 1024

  /** Number of deliberately-small input files the oracle row lands. */
  val SmallFiles = 64

  /** Rewrite `inPath` into ~[[TargetBytes]]-sized parquet files at
    * `outPath`. Returns (filesBefore, filesAfter). The scan-side knobs
    * are set for exactly this plan and restored after: `minPartitionNum
    * = 1` keeps Spark's `bytesPerCore` heuristic from shrinking bins
    * below the target on a big cluster reading a small directory.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = TargetBytes): (Int, Int) = {
    def setConf(kvs: (String, String)*): Seq[(String, Option[String])] =
      kvs.map { case (k, v) =>
        val prev = spark.conf.getOption(k)
        spark.conf.set(k, v)
        k -> prev
      }
    val saved = setConf(
      "spark.sql.files.maxPartitionBytes" -> targetBytes.toString,
      "spark.sql.files.openCostInBytes" -> OpenCostBytes.toString,
      "spark.sql.files.minPartitionNum" -> "1")
    try
      ParquetMeta.read(spark, inPath)
        .write.mode("overwrite").parquet(outPath)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    (dataFileCount(spark, inPath), dataFileCount(spark, outPath))
  }

  def dataFileCount(spark: SparkSession, path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** Oracle roundtrip: land lineitem as [[SmallFiles]] deliberately
    * tiny files, compact, aggregate the compacted read-back. The
    * oracle recomputes the aggregate from the flat source, so any row
    * lost or duplicated by the rewrite fails the value gate;
    * CompactSpec separately pins the mechanics (file count shrinks to
    * the bin plan, zero shuffle, per-file size bound).
    */
  def compactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val many = Scratch.dir(dir, "compact_many")
    val out = Scratch.dir(dir, "compact_out")
    Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_returnflag", "l_extendedprice")
      .repartition(SmallFiles)
      .write.mode("overwrite").parquet(many)
    compact(spark, many, out)
    val back = ParquetMeta.read(spark, out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.F.sumDecAsDouble(col("l_extendedprice"), 4).as("revenue"))
    Out.sorted(back)(col("l_returnflag"))
  }
}
