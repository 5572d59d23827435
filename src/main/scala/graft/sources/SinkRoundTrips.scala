package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Out, Scratch, Tables}

/** Oracle-checked ROUND TRIPS of the sink layer (SURVEY §2.1 K2/K5, plus
  * the S6 workbook writer): each builder drives a real write → read-back
  * cycle and returns the read-back frame, so the driver's DuckDB compare
  * hashes the ON-DISK contract of the sink — encoding, column order,
  * rerun idempotency — not just an in-memory frame.
  *
  * Output locations are fixed per input dir (digest-keyed under the JVM
  * tmpdir) and overwritten per call: repeated bench/verify runs reuse the
  * same paths instead of leaking copies.
  */
object SinkRoundTrips {

  /** The export frame shared by the CSV and XLSX round trips: per-SKU
    * minimum offer price, price pre-rendered with a fixed two-decimal
    * format so the all-string read-back is deterministic in both engines
    * (reference export/route.ts:77-125 renders prices the same way).
    */
  private def exportFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("sku"))
      .agg(min(col("l_extendedprice")).as("mn"))
      .filter(col("sku") <= 200)
      .select(col("sku"), format_string("%.2f", col("mn")).as("min_price"))

  /** K2 upsert contract end to end (reference delete-then-insert rerun
    * safety, etl_purchases.py:55-64): a v1 slice, then an overlapping v2
    * slice applied TWICE — the rerun. The read-back state must hold
    * exactly one row per key: v2 where the slices overlap, v1 elsewhere,
    * which is what the plain-SQL oracle states.
    */
  def upsertRerun(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir(dir, "upsert")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true) // deterministic start state
    val orders = Tables.load(spark, dir, "orders")
    def slice(lo: Int, hi: Int, tag: String) =
      orders.filter(pmod(col("o_orderkey"), lit(7)).between(lo, hi))
        .select(col("o_orderkey"), col("o_orderstatus"), lit(tag).as("src"))
    Sinks.upsertByKey(slice(0, 3, "v1"), path, Seq("o_orderkey"))
    Sinks.upsertByKey(slice(2, 5, "v2"), path, Seq("o_orderkey"))
    Sinks.upsertByKey(slice(2, 5, "v2"), path, Seq("o_orderkey"))
    Out.sorted(ParquetMeta.read(spark, path))(col("o_orderkey"))
  }

  /** K5 fixed-column CSV export, read back through Spark's CSV reader:
    * hashes the header row, column order and value rendering of the
    * export file (PRICEBOT_SPEC_V2.md:84-90 — the import depends on the
    * exact schema).
    */
  def exportRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir(dir, "export_csv")
    Sinks.exportCsv(exportFrame(spark, dir), path, Seq("sku", "min_price"))
    val back = spark.read.option("header", "true").csv(path)
    Out.sorted(back.select(col("sku").cast("bigint").as("sku"), col("min_price")))(
      col("sku"))
  }

  /** Columnar-format round trip beyond parquet: the same typed export
    * aggregate written as ORC (Spark's second built-in columnar format)
    * and read back — hashes type fidelity (bigint keys, IEEE doubles,
    * exact counts) through the ORC writer/reader pair. The oracle
    * recomputes the aggregate from the parquet source directly, so a
    * lossy round trip (or a type coercion in either direction) fails
    * the gate.
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir(dir, "export_orc")
    val frame = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("sku"))
      .agg(min(col("l_extendedprice")).as("min_price"),
        count(lit(1)).as("n_rows"))
      .filter(col("sku") <= 200)
    frame.write.mode("overwrite").orc(path)
    Out.sorted(spark.read.orc(path))(col("sku"))
  }

  /** Month [[partitionedRoundtrip]] filters after the partitioned
    * write — pinned so the oracle, the plan contract and the layout
    * agree on the same directory.
    */
  val PartitionMonth = "1995-03"

  /** Date-partitioned LAYOUT round trip + partition pruning — the
    * 100-TB data-layout decision: a fact table written
    * `partitionBy(ship_month)` turns every time-bounded query into a
    * scan of only its matching directories, pruned at planning time
    * before any file is opened. The builder rewrites lineitem into the
    * monthly layout, reads it back with a one-month filter and
    * aggregates; PlanContractSpec asserts the executed scan touched
    * ONLY `ship_month=[[PartitionMonth]]` files (pruning proven on
    * inputFiles, not inferred), while the oracle value-checks the
    * filtered aggregate against the flat source.
    */
  def partitionedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir(dir, "part_month")
    Tables.load(spark, dir, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(path)
    val back = ParquetMeta.read(spark, path)
      .filter(col("ship_month") === PartitionMonth)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.F.sumDecAsDouble(col("l_quantity"), 4).as("sum_qty"))
    Out.sorted(back)(col("l_returnflag"))
  }

  /** K1 overwrite contract end to end (reference
    * `to_sql(if_exists='replace')`, etl_sales.py:76-79): write a PARTIAL
    * v1 summary, then overwrite with the full v2 summary. The read-back
    * must hold ONLY v2 rows — a sink that appended instead of replacing
    * (or left v1 part-files behind) surfaces as extra rows / the v1 tag
    * in the hash.
    */
  def overwriteRerun(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir(dir, "overwrite")
    val orders = Tables.load(spark, dir, "orders")
    def summary(f: DataFrame, tag: String) =
      f.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.F.sumDecAsDouble(col("o_totalprice"), 4).as("total"))
        .withColumn("ver", lit(tag))
    Sinks.overwrite(summary(orders.filter(col("o_orderkey") % 2 === 0), "v1"), path)
    Sinks.overwrite(summary(orders, "v2"), path)
    Out.sorted(ParquetMeta.read(spark, path))(col("o_orderstatus"))
  }

  /** K3 append contract end to end (reference
    * size_recommendation_engine.py:330-345): two disjoint batches
    * appended to a fresh location; the read-back must hold their exact
    * union — an overwrite-behaving sink loses batch0, a duplicating one
    * doubles rows.
    */
  def appendRerun(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir(dir, "append")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true) // deterministic start state
    val orders = Tables.load(spark, dir, "orders")
    def slice(k: Int) =
      orders.filter(pmod(col("o_orderkey"), lit(3)) === k)
        .select(col("o_orderkey"), col("o_orderstatus"),
          lit(s"batch$k").as("src"))
    Sinks.append(slice(0), path)
    Sinks.append(slice(1), path)
    Out.sorted(ParquetMeta.read(spark, path))(col("o_orderkey"))
  }

  /** K6 JSON document sink round trip (reference pricebot.json settings
    * store): a per-brand settings document written through
    * [[Sinks.writeJson]] and read back with an explicit schema — hashes
    * the NDJSON encoding of the settings frame (field names, bigint
    * fidelity, pre-rendered price strings).
    */
  def jsonSinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir(dir, "json_sink")
    val settings = Tables.load(spark, dir, "part")
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_parts"),
        format_string("%.2f", min(col("p_retailprice"))).as("min_retail"))
    Sinks.writeJson(settings, path)
    val back = spark.read
      .schema("brand STRING, n_parts LONG, min_retail STRING")
      .json(path)
      .select("brand", "n_parts", "min_retail")
    Out.sorted(back)(col("brand"))
  }

  /** S3 newest-file selection end to end (reference etl_stock.py:10-13
    * `max(glob, key=mtime)`): two single-file snapshot dirs with
    * explicitly staged modification times — the STALE one written last
    * but stamped older — then [[Ingest.newestFile]] picks the glob's
    * newest file and the read-back must hold only the FRESH snapshot's
    * rows. Stamping mtimes (not relying on write order) pins the
    * contract to modification time, the thing S3 actually selects on.
    */
  def newestSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir(dir, "snaps")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    val orders = Tables.load(spark, dir, "orders")
    def snap(k: Int, tag: String) =
      orders.filter(pmod(col("o_orderkey"), lit(3)) === k)
        .select(col("o_orderkey"), col("o_orderstatus"),
          lit(tag).as("snapshot"))
    snap(1, "fresh").coalesce(1).write.parquet(s"$base/snap_b")
    snap(0, "stale").coalesce(1).write.parquet(s"$base/snap_a")
    def dataFile(d: String) = fs.listStatus(new Path(d))
      .map(_.getPath).filter(_.getName.startsWith("part-")).head
    fs.setTimes(dataFile(s"$base/snap_a"), 1000000L, -1L)
    fs.setTimes(dataFile(s"$base/snap_b"), 2000000L, -1L)
    val newest = Ingest.newestFile(spark, s"$base/snap_*/part-*.parquet")
      .getOrElse(throw new IllegalStateException("no snapshot file found"))
    Out.sorted(ParquetMeta.read(spark, newest))(col("o_orderkey"))
  }

  /** The S6 writer under the S6 reader: the workbook import/export round
    * trip of the reference's pricebot sheet (PRICEBOT_SPEC_V2.md:114-121,
    * app/page.tsx:56-80) — export a priced frame as ONE workbook, read it
    * back with the distributed reader, surface the same rows.
    */
  def xlsxRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir(dir, "export_xlsx") + ".xlsx"
    Excel.writeXlsx(exportFrame(spark, dir), path)
    val back = Excel.readXlsx(spark, path)
    Out.sorted(back.select(col("sku").cast("bigint").as("sku"), col("min_price")))(
      col("sku"))
  }

  /** The DISTRIBUTED form of the workbook export (K5 at 100×): the same
    * priced frame hash-partitioned into 4 shards, one workbook per
    * partition written task-side ([[Excel.writeXlsxSharded]]), read back
    * through the distributed reader's glob — the exact inverse grain.
    * The builder cross-checks the shard manifest against the read-back
    * (total rows AND per-file counts must agree) before returning, so a
    * lost shard, a torn rename or a manifest drift fails loudly rather
    * than hashing short.
    */
  def xlsxSharded(spark: SparkSession, dir: String): DataFrame = {
    val base = Scratch.dir(dir, "export_xlsx_sharded")
    val manifest =
      Excel.writeXlsxSharded(exportFrame(spark, dir).repartition(4, col("sku")), base)
    val back = Excel.readXlsx(spark, s"$base/part-*.xlsx")
    val perFile = back.groupBy(col("_file").as("file"))
      .agg(count(lit(1)).as("read_rows"))
    val drift = manifest.join(perFile, Seq("file"), "full_outer")
      .filter(col("n_rows").isNull || col("read_rows").isNull ||
        col("n_rows") =!= col("read_rows"))
    require(drift.isEmpty,
      s"xlsx shard manifest disagrees with read-back under $base")
    Out.sorted(back.select(col("sku").cast("bigint").as("sku"), col("min_price")))(
      col("sku"))
  }

  /** Token budget per training shard — the fixed shard grain a trainer
    * streams (a few thousand tokens here; hundreds of millions in a
    * real run — the RULE is scale-free, only the constant moves). */
  val ShardTokenBudget = 4096L

  /** The training-data LAST MILE: deterministic global shuffle + fixed
    * -token-budget sharding + partitioned write + manifest, as one
    * oracle-checked round trip. Documents are ordered by md5(doc_id)
    * (the seeded epoch shuffle every trainer wants — reproducible, no
    * RNG), assigned to the shard their global token offset lands in,
    * written one parquet directory per shard, and read BACK to build
    * the manifest — so the driver hashes the on-disk contract: shard
    * membership, per-shard token mass, and the exact document order a
    * trainer would replay (docs_hash chains doc_ids in shuffle order).
    *
    * Scale shape: the global token offsets are the [[graft.operators
    * .TextOps.docPacking]] two-phase prefix sum — per-group local
    * cumsums (groups = first shuffle-key hex char, so group order
    * IS global md5 order) plus one broadcast 16-row offset frame —
    * never a corpus-sized single-task window. The write shuffles once
    * on shard_id (the standard dynamic-partition exchange: one task,
    * one file per shard); the manifest is a map-side-combinable
    * groupBy of the read-back.
    */
  def trainShardsRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val path = Scratch.dir(dir, "train_shards")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true)
    val d = Tables.load(spark, dir, "documents").select(
        col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        md5(col("doc_id").cast("string")).as("shuffle_key"))
      .withColumn("g", substring(col("shuffle_key"), 1, 1))
    val wLocal = Window.partitionBy("g").orderBy("shuffle_key")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Group offsets (exclusive prefix sum over the 16 per-group sums)
    // as a strictly-less self-join aggregate, not an unpartitioned
    // window: the frame is bounded at 16 rows either way, but a
    // Window.orderBy with no partitionBy moves rows to one partition
    // and warns on every run — a pattern that must not look blessed.
    val sums = d.groupBy("g").agg(sum(col("n_tokens")).as("st"))
    val offsets = sums.as("a")
      .join(sums.as("b"), col("b.g") < col("a.g"), "left")
      .groupBy(col("a.g").as("g"))
      .agg(coalesce(sum(col("b.st")), lit(0L)).as("g_offset"))
    val sharded = d
      .withColumn("local_end", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq("g"))
      .withColumn("gend", col("g_offset") + col("local_end"))
      .withColumn("shard_id",
        expr(s"(gend - n_tokens) DIV $ShardTokenBudget"))
      .select("doc_id", "text", "n_tokens", "shuffle_key", "shard_id")
    sharded.repartition(col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(path)
    val back = ParquetMeta.read(spark, path)
    val ordered = sort_array(collect_list(
      struct(col("shuffle_key"), col("doc_id"))))
    val r = back.groupBy("shard_id").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("shuffle_key")).as("first_key"),
        md5(concat_ws(",",
          transform(ordered, s => s.getField("doc_id").cast("string"))))
          .as("docs_hash"))
      .select(col("shard_id").cast(LongType).as("shard_id"),
        col("n_docs"), col("n_tokens"), col("first_key"), col("docs_hash"))
    Out.sorted(r)(col("shard_id"))
  }
}
