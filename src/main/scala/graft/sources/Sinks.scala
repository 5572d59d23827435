package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink layer (SURVEY.md §2.1 K1–K6). Parquet-backed equivalents of the
  * reference's SQLite/file sinks, designed for idempotent re-runs — the
  * reference's own contract ("rerunning must not duplicate data",
  * .cursor/rules/one.mdc:12, delete-then-insert at etl_purchases.py:55-64).
  *
  * Scale notes: the keyed upsert is a distributed anti-join + union and
  * a staged directory swap — no driver-side row handling, no in-place
  * mutation. At warehouse scale the same shape maps onto a table format's
  * MERGE; the logic here is the format-free equivalent.
  */
object Sinks {

  /** K1 — full-replace sink (reference `to_sql(if_exists='replace')`,
    * etl_sales.py:76-79).
    */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** K3 — append sink (reference size_recommendation_engine.py:330-345). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** K2 — idempotent keyed upsert: incoming rows replace existing rows
    * with the same key; all other existing rows survive (reference
    * delete-then-append, etl_purchases.py:55-64).
    *
    * Implemented as a deterministic rewrite: stage
    * `incoming ∪ (existing ⟕anti incoming.keys)` into a sibling
    * directory, then swap directories. The swap makes the rewrite safe
    * against "cannot overwrite a path being read" and leaves the old
    * data intact until the new data is fully written.
    */
  def upsertByKey(incoming: DataFrame, path: String, keys: Seq[String]): Unit = {
    val spark = incoming.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    val staging = new Path(path + "__staging")
    val merged =
      if (fs.exists(target)) {
        val existing = ParquetMeta.read(spark, path)
        val kept = existing.join(
          broadcast(incoming.select(keys.map(col): _*).distinct()),
          keys, "left_anti")
        incoming.unionByName(kept)
      } else incoming
    merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    Publish.table(fs, staging, target)
  }

  /** K4 — append sink partitioned by key, NDJSON files (reference
    * price_watch.ts:22-26: one NDJSON stream per watched product).
    * Spark's json sink IS newline-delimited JSON; partitionBy gives the
    * per-key directory layout, which at scale is also the partition
    * pruning key for readers.
    */
  def appendNdjsonPartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCol).json(path)

  /** K5 — fixed-column CSV export (reference export/route.ts:77-125:
    * the pricebot CSV must have exactly these columns in this order).
    * Missing columns fail fast — the round-trip import depends on the
    * exact schema (PRICEBOT_SPEC_V2.md:84-90).
    */
  def exportCsv(df: DataFrame, path: String, columns: Seq[String]): Unit = {
    val missing = columns.filterNot(df.columns.contains)
    require(missing.isEmpty, s"export missing required columns: $missing")
    df.select(columns.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)
  }

  /** K6 — JSON document sink (reference pricebot.json settings store). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Bucketed table sink: pre-shuffles on the join key at WRITE time so
    * every later join/aggregation on that key reads exchange-free (the
    * co-location contract BucketedJoinSpec pins). The sortBy makes the
    * buckets merge-join-ready without a sort at read.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .mode(SaveMode.Overwrite).saveAsTable(table)

  /** Bucketed-layout join roundtrip: lineitem and orders are persisted
    * bucketed on the order key, then joined EXCHANGE-FREE — the write
    * pays the shuffle once and every subsequent join on the bucket key
    * reads both sides pre-partitioned and pre-sorted (BucketedJoinSpec
    * pins the no-exchange sort-merge plan; this row pins the values).
    * The `merge` hint keeps the demonstration on the SMJ path
    * declaratively — at real scale neither side fits a broadcast
    * anyway, and the hint beats mutating the session's broadcast
    * threshold inside a query builder.
    */
  def bucketedJoinRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.{Out, Scratch, Tables}
    val digest = Scratch.digest(dir)
    val liT = s"li_bkt_$digest"
    val ordT = s"ord_bkt_$digest"
    // The catalog is per-session while the managed-table LOCATION
    // persists on disk: a fresh JVM sees tableExists = false with last
    // run's spark-warehouse/<name>/ still present, and saveAsTable
    // (acting as CREATE) throws LOCATION_ALREADY_EXISTS — drop any
    // stale catalog entry AND delete the stale location first (the
    // same protocol as TextOps.signatureTable).
    def freshTable(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new Path(spark.conf.get("spark.sql.warehouse.dir"), name)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }
    freshTable(liT)
    freshTable(ordT)
    writeBucketed(Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice"), liT, "l_orderkey", 8)
    writeBucketed(Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority"), ordT, "o_orderkey", 8)
    val r = spark.table(liT).hint("merge")
      .join(spark.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        graft.functions.F.sumDecAsDouble(col("l_extendedprice"), 4).as("revenue"))
    Out.sorted(r)(col("o_orderpriority"))
  }
}
