package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Out, Scratch, Tables}

/** Z-ORDER (Morton-curve) clustered layout + row-group skipping — the
  * multi-dimensional data-layout decision at 100 TB. A fact table
  * clustered on the interleaved bits of two filter dimensions gives
  * every row group a TIGHT min/max envelope on BOTH columns at once, so
  * parquet statistics pruning skips most of the table for box queries
  * (`a BETWEEN .. AND b BETWEEN ..`) — and, unlike a single-column
  * sort, for single-dimension queries on EITHER column. Linear layouts
  * prune one dimension and read everything for the other; a random
  * (arrival-order) layout prunes nothing.
  *
  * The writer is pure DataFrame mechanics: derive the Morton key,
  * `repartitionByRange` on it (range exchange = contiguous curve
  * segments per file), sort within partitions, drop the key before the
  * parquet write. Nothing here is local-mode-specific — at cluster
  * scale the same plan lays out one curve segment per task.
  */
object ZOrder {

  /** Bits interleaved per dimension — 20 covers keys to ~1M per dim
    * (the sf10 part key space) in a 40-bit long.
    */
  val MortonBits = 20

  /** Morton (z-curve) key of two non-negative integral columns: bit i
    * of `x` lands at position 2i, bit i of `y` at 2i+1. Built as a
    * FLAT sum of the 2·bits shift terms — a plain expression tree that
    * whole-stage codegen compiles — rather than an `aggregate`
    * higher-order function, which Spark evaluates interpreted per row
    * (the HOF was the layout rewrite's hottest per-row cost; same
    * arithmetic, same key, same clustering).
    */
  def mortonKey(x: Column, y: Column, bits: Int = MortonBits): Column = {
    val xs = x.cast(LongType)
    val ys = y.cast(LongType)
    val bitAt = (v: Column, i: Int) =>
      call_function("shiftright", v, lit(i)).bitwiseAND(lit(1L))
    (0 until bits).map { i =>
      call_function("shiftleft", bitAt(xs, i), lit(i * 2)) +
        call_function("shiftleft", bitAt(ys, i), lit(i * 2 + 1))
    }.reduce(_ + _)
  }

  /** Write `df` z-order-clustered on (cx, cy) into `files` parquet
    * files: one contiguous Morton-curve segment per file, rows sorted
    * by the key inside each, key column dropped from the output schema.
    */
  def zorderWrite(df: DataFrame, cx: String, cy: String,
      path: String, files: Int): Unit =
    df.withColumn("__zk", mortonKey(col(cx), col(cy)))
      .repartitionByRange(files, col("__zk"))
      .sortWithinPartitions("__zk")
      .drop("__zk")
      .write.mode("overwrite").parquet(path)

  /** Per row group: column name → (min, max) from the parquet footer
    * statistics, for int64 columns. The spec uses this to PROVE the
    * skipping claim from on-disk metadata instead of inferring it from
    * scan timings.
    */
  def rowGroupRanges(spark: SparkSession, path: String,
      cols: Seq[String]): Seq[Map[String, (Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(path)
    val fs = base.getFileSystem(conf)
    fs.listStatus(base).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(st.getPath, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          reader.getFooter.getBlocks.asScala.toSeq.map { block =>
            cols.map { c =>
              val chunk = block.getColumns.asScala
                .find(_.getPath.toDotString == c)
                .getOrElse(sys.error(s"column $c not in footer"))
              val stats = chunk.getStatistics
              c -> (stats.genericGetMin.asInstanceOf[Number].longValue(),
                stats.genericGetMax.asInstanceOf[Number].longValue())
            }.toMap
          }
        } finally reader.close()
      }
  }

  /** Count of row groups whose [min,max] envelope intersects the box —
    * exactly the set a statistics-pruning reader must open.
    */
  def overlapping(ranges: Seq[Map[String, (Long, Long)]],
      box: Map[String, (Long, Long)]): Int =
    ranges.count { rg =>
      box.forall { case (c, (lo, hi)) =>
        val (mn, mx) = rg(c)
        mx >= lo && mn <= hi
      }
    }

  // Box bounds shared by the builder, the oracle and the spec — valid
  // at every sf (sf0.001 has part keys to ~200 and supp keys to 10).
  val PartLo = 40L
  val PartHi = 90L
  val SuppLo = 2L
  val SuppHi = 6L

  /** Number of clustered output files — enough row groups that the
    * skipped/read distinction is meaningful at every test sf.
    */
  val ZFiles = 32

  /** Z-ordered LAYOUT round trip: rewrite lineitem clustered on
    * (l_partkey, l_suppkey), read it back through the statistics-pruned
    * scan with the box filter, aggregate. The oracle recomputes the
    * same box aggregate from the flat source, so a row lost (or
    * duplicated) by the clustering rewrite fails the value gate;
    * ZOrderSpec separately proves the skipping (most row groups'
    * envelopes miss the box) and that both range predicates reach the
    * scan as PushedFilters.
    */
  def zorderRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir(dir, "zorder")
    zorderWrite(
      Tables.load(spark, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_returnflag", "l_extendedprice"),
      "l_partkey", "l_suppkey", path, ZFiles)
    val back = ParquetMeta.read(spark, path)
      .filter(col("l_partkey").between(PartLo, PartHi) &&
        col("l_suppkey").between(SuppLo, SuppHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.F.sumDecAsDouble(col("l_extendedprice"), 4).as("revenue"))
    Out.sorted(back)(col("l_returnflag"))
  }
}
