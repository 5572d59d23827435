package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.ParquetMeta

/** Canonical table registry over the driver-provided parquet testdata.
  *
  * The engine's relational surface mirrors the reference's SQLite tables
  * (reference: scripts/etl_sales.py:76-79, scripts/dashboard.py:16-21) but is
  * backed by columnar Parquet — at 100 TB the scan layer must be columnar,
  * splittable and predicate-pushdown-friendly, which Parquet + the Spark
  * vectorized reader gives us for free.
  *
  * Every table is also registered as a temp view so the whole engine is
  * dual-surface: DataFrame API and Spark SQL (the reference has no SQL
  * surface at all; we add one because it is free on Spark).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = ParquetMeta.read(spark, s"$dir/$name.parquet")
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark reads as a nanos
    // LongType only under spark.sql.legacy.parquet.nanosAsLong (set by our
    // entrypoints). Normalize to Spark's native microsecond timestamp and
    // keep the raw nanos for exact event ordering.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts_ns", col("ts"))
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Register all canonical tables of `dir` as temp views. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
