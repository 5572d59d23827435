package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion layer (SURVEY.md §2.1 S4/S5 + §2.2 P1/P2/F13): raw
  * semicolon-CSV readers with header normalization and rename maps.
  *
  * The reference starts every ETL run here (`etl_sales.py:12-13,45-54`,
  * `etl_purchases.py:32-43`, `enhanced_catalog_parser.py:151-157`):
  * supplier files arrive with Russian/supplier-specific headers,
  * comma-decimal numbers and junk rows, and are normalized into the
  * canonical schema before anything else runs.
  *
  * Scale notes: Spark's CSV reader is splittable for uncompressed files,
  * so a 100 TB landing directory parallelizes by 128 MB splits for free;
  * all-string ingest + explicit typed cleaning keeps bad records as
  * nulls (never task failures), which is the only workable contract when
  * one bad row in a billion must not kill the job.
  */
object Ingest {

  /** S4 — semicolon-CSV, all columns as raw strings, malformed rows
    * dropped (reference `pd.read_csv(sep=';', dtype=str,
    * on_bad_lines='skip')`, etl_sales.py:12-13).
    */
  def readSemicolonCsv(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .option("sep", ";")
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .csv(paths: _*)

  /** P1 — header normalization: trim, lowercase, whitespace→underscore
    * (reference etl_sales.py:45).
    */
  def normalizeHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(c =>
      c.trim.toLowerCase.replaceAll("\\s+", "_")): _*)

  /** P2/F13 — rename-map projection with duplicate-target fallback:
    * each canonical column is the first non-null/non-empty of its
    * candidate source columns (reference etl_purchases.py:32-43, where
    * both `Qty` and `Total_model_order_qty` feed `qty`;
    * offers/route.ts:72-95 key-flexible resolution).
    *
    * Missing candidate columns are skipped, so one mapping serves
    * several supplier layouts.
    */
  def renameWithFallback(df: DataFrame, mapping: Seq[(String, Seq[String])]): DataFrame = {
    val present = df.columns.toSet
    val cols = mapping.map { case (target, candidates) =>
      val cands = candidates.filter(present)
      require(cands.nonEmpty, s"no candidate of $candidates present for $target")
      coalesce(cands.map(c => nullIfEmpty(col(c))): _*).as(target)
    }
    df.select(cols: _*)
  }

  /** Empty-string → null, so CSV empties behave like missing values in
    * fallback chains (F4 semantics).
    */
  def nullIfEmpty(c: Column): Column = when(trim(c) === "", null).otherwise(c)

  /** S3 — newest-file selection by modification time (reference
    * etl_stock.py:10-13 `max(glob, key=mtime)`): a driver-side Hadoop FS
    * listing — file metadata, not data, so it stays O(files) on the
    * driver at any data scale.
    */
  def newestFile(spark: SparkSession, globPath: String): Option[String] =
    globStatus(spark, globPath).filter(_.isFile)
      .sortBy(s => (s.getModificationTime, s.getPath.toString))
      .lastOption.map(_.getPath.toString)

  /** Every path matching `glob`, listed on the driver (file metadata,
    * not data) and sorted by path; empty when nothing matches. Glob
    * readers hand Spark these paths ([[globPaths]]) instead of the
    * pattern: given a pattern, Spark's `FileStreamSink.hasMetadata`
    * stats it as a literal path first, which fails and logs a
    * FileNotFoundException stack on every read.
    */
  def globStatus(spark: SparkSession, glob: String): Seq[FileStatus] = {
    val path = new Path(glob)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    Option(fs.globStatus(path)).toSeq.flatten.sortBy(_.getPath.toString)
  }

  /** The Spark read paths of `glob`: its [[globStatus]] matches, or the
    * pattern itself when nothing matches, so an empty match fails the
    * read with Spark's usual path-not-found error.
    */
  def globPaths(spark: SparkSession, glob: String): Seq[String] =
    globStatus(spark, glob).map(_.getPath.toString) match {
      case Seq() => Seq(glob)
      case paths => paths
    }

  /** S5 — typed CSV reader (reference etl_stock.py:16): explicit schema,
    * no inference pass (an inference pass is a full extra scan at scale).
    */
  def readTypedCsv(spark: SparkSession, path: String, ddl: String,
                   sep: String = ","): DataFrame =
    spark.read
      .option("sep", sep)
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .schema(ddl)
      .csv(path)

  /** S8 (engine half) — landed paged-API responses, one JSON document
    * per page file (the reference's client pages the orders API with
    * `page[size]`≤100 and tenacity retries, etl_catalog_api.py:39-51 +
    * kaspi api docs:96-99; fetching/retry is the client boundary — the
    * engine ingests whatever landed). Explicit schema: no inference
    * pass over the landing directory.
    */
  def readApiPages(spark: SparkSession, glob: String): DataFrame =
    spark.read
      .schema("page_number INT, total_pages INT, total_count INT, " +
        "data ARRAY<STRUCT<order_id: BIGINT, state: STRING, total_price: DOUBLE>>")
      .option("multiLine", "true")
      .json(globPaths(spark, glob): _*)

  /** S8 — page-chain reassembly with integrity flags: explode every
    * landed page's items and stamp each row with whether the page chain
    * is COMPLETE (all of 0..total_pages-1 present exactly once, one
    * consistent total_pages) and whether the item count matches the
    * advertised total — the F3-style warning side-channel for a source
    * that can silently lose a page between retry windows. A missing
    * shard at 100 TB must be a queryable fact, not an exception.
    *
    * Shape: two tiny aggregates (page stats, item count) broadcast
    * against the exploded items — the fact side is never shuffled.
    */
  def assembleApiPages(pages: DataFrame): DataFrame = {
    val integ = pages.agg(
      count(lit(1)).cast("int").as("n_pages"),
      countDistinct(col("page_number")).cast("int").as("d_pages"),
      min(col("page_number")).as("mn"), max(col("page_number")).as("mx"),
      max(col("total_pages")).as("tp"),
      countDistinct(col("total_pages")).cast("int").as("dtp"),
      max(col("total_count")).as("tc"))
    val items = pages
      .select(col("page_number"), explode(col("data")).as("it"))
      .select(col("it.order_id").as("order_id"), col("it.state").as("state"),
        col("it.total_price").as("total_price"), col("page_number"))
    val itemCount = items.agg(count(lit(1)).as("n_items"))
    items.crossJoin(broadcast(integ)).crossJoin(broadcast(itemCount))
      .select(col("order_id"), col("state"), col("total_price"), col("page_number"),
        (col("n_pages") === col("tp") && col("d_pages") === col("n_pages") &&
          col("mn") === 0 && col("mx") === col("tp") - 1 && col("dtp") === 1)
          .as("chain_ok"),
        (col("n_items") === col("tc")).as("count_ok"))
  }
}
