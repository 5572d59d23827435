package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Out, Scratch, Tables}
import graft.operators.Ingestion

/** Failure-surface contracts: what the engine does with STRUCTURALLY
  * corrupt input — the skip/coerce conventions of the reference's
  * ingest layer (`pd.read_csv(on_bad_lines='skip')` etl_sales.py:12-13;
  * scrape.ts:797-801 tolerating empty variants after retries) carried
  * to the formats a 100-TB landing zone actually rots in: a parquet
  * shard with a torn footer, NDJSON with garbage lines mid-stream, a
  * workbook missing its shared-string table. Each builder is an
  * oracle-checked row: the corrupt artifact is REAL (committed fixture
  * or deterministically planted), and the oracle restates the surviving
  * rows — so a behavior change in the tolerance path fails the gate,
  * not just a spec.
  */
object Resilience {

  /** A directory scan where one shard is a TORN PARQUET (valid magic,
    * truncated body, no footer): with `ignoreCorruptFiles` the scan
    * surfaces every intact shard's rows and skips the torn one — the
    * deployable posture for a landing zone where an upstream writer
    * died mid-upload (the skip convention at file grain). The option is
    * per-reader, not session-wide: queries over CURATED tables keep
    * fail-fast semantics, only the landing-zone scan opts into
    * tolerance. Oracle = the two intact slices recomputed from the
    * source table.
    */
  def corruptParquetScan(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir(dir, "corrupt_scan")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    val orders = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    def slice(k: Int) = orders.filter(pmod(col("o_orderkey"), lit(3)) === k)
    slice(0).coalesce(1).write.parquet(s"$base/shard_0")
    slice(1).coalesce(1).write.parquet(s"$base/shard_1")
    // torn shard: parquet magic + deterministic junk, no footer
    val out = fs.create(new Path(s"$base/shard_2/part-torn.parquet"), true)
    try {
      out.write("PAR1".getBytes("UTF-8"))
      out.write(Array.tabulate(4096)(i => (i * 31 + 7).toByte))
    } finally out.close()
    val scanned = spark.read
      .option("ignoreCorruptFiles", "true")
      .parquet(Ingest.globPaths(spark, s"$base/shard_*/part-*.parquet"): _*)
    val r = scanned.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.F.sumDecAsDouble(col("o_totalprice"), 4).as("total"))
    Out.sorted(r)(col("o_orderstatus"))
  }

  /** NDJSON ingest over a landing file with garbage lines mid-stream
    * (truncated JSON, non-JSON text, wrong-shape rows — the committed
    * fixture is a realistic crashed-scraper dump): DROPMALFORMED plus
    * the key-presence rule (`sku` parsed) keeps exactly the recoverable
    * records — the row-grain skip convention
    * (`on_bad_lines='skip'` for JSON). The oracle reads the SAME
    * fixture with DuckDB's ignore_errors (which nulls unparseable
    * lines) under the same key rule, so both engines state the
    * surviving set independently.
    */
  def malformedNdjson(spark: SparkSession, dir: String): DataFrame = {
    val r = spark.read
      .schema("sku BIGINT, seller STRING, price BIGINT, stock BIGINT")
      .option("mode", "DROPMALFORMED")
      .json(s"${Ingestion.FixturesDir}/corrupt/offers_bad_lines.ndjson")
      .filter(col("sku").isNotNull)
      .select("sku", "seller", "price", "stock")
    Out.sorted(r)(col("sku"))
  }

  /** Workbook with `t="s"` cells but NO xl/sharedStrings.xml (committed
    * fixture, tools/make_corrupt_xlsx.py): unresolvable string refs
    * coerce to null, numeric and inline-string cells are untouched —
    * the cell-grain coerce convention. The oracle states the expected
    * rows as literals (DuckDB cannot read xlsx; the fixture is
    * byte-pinned in git, so literals are exact).
    */
  def xlsxMissingSharedStrings(spark: SparkSession, dir: String): DataFrame = {
    val back = Excel.readXlsx(
      spark, s"${Ingestion.FixturesDir}/xlsx/missing_shared_strings.xlsx")
    val r = back.select(
      col("sku").cast("bigint").as("sku"),
      col("name"),
      col("qty").cast("bigint").as("qty"))
    Out.sorted(r)(col("sku"))
  }
}
