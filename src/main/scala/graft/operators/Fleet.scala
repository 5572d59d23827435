package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Out, Tables}
import graft.functions.F
import graft.sources.Ingest

/** Remaining reference surface: glob-union ingestion (S1–S3/F1/U1),
  * pricebot settings join + fleet stats (J6/J7/A11), color+size client
  * sort (W7/X13), attribute set-union (U2/D4), schema-flexible event
  * props (X17/X24), and template message rendering (X25).
  */
object Fleet {

  /** S1/S2/F1/U1 — glob scan with file-name predicate + union-all: every
    * `*orders*.csv` shard in one read (reference etl_sales.py:36-43 glob
    * + pd.concat). The glob IS the file-name predicate — the driver
    * lists the matching shards ([[Ingest.globPaths]], file metadata
    * only), Spark unions them in one job, and at 100 TB the read
    * parallelizes per 128 MB split.
    */
  def globOrders(spark: SparkSession, dir: String): DataFrame = {
    val raw = Ingest.readSemicolonCsv(spark, Ingest.globPaths(spark,
      s"${Ingestion.FixturesDir}/shards/*orders*.csv"): _*)
    val r = raw
      .withColumn("source_file",
        regexp_extract(input_file_name(), "([^/]+)\\.csv", 1))
      .select(col("source_file"),
        col("id").try_cast("long").as("id"),
        F.cleanStock(col("qty")).as("qty"),
        F.cleanPrice(col("amount")).as("amount_kzt"))
      .groupBy("source_file")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("qty").cast("long")).as("sum_qty"),
        sum(F.dec(coalesce(col("amount_kzt"), lit(0L)))).cast("double").as("sum_amount"))
    Out.sorted(r)(col("source_file"))
  }

  /** Small pricebot settings dimension (PRICEBOT_SPEC_V2.md:12-41):
    * per-SKU min/max/step/active. Synthesized deterministically from the
    * SKU id the way the reference's pricebot.json would store it.
    */
  private def settings(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part").select(
      col("p_partkey").as("sku"),
      (col("p_partkey") % 5 =!= 0).as("active"),
      F.roundHalfUp(col("p_retailprice") * 0.8, 2).as("min_price"),
      F.roundHalfUp(col("p_retailprice") * 1.2, 2).as("max_price"),
      lit(50.0).as("step"))

  /** J6/J7/A11 — settings lookup join + self-identification + fleet
    * stats: one row of pricebot KPIs (reference stats/route.ts:14-42).
    * The settings dim joins broadcast; competitor counts come from the
    * deduped offers aggregate; "our" seller is flagged in-join (J7).
    */
  def fleetStats(spark: SparkSession, dir: String): DataFrame = {
    val ourSeller = 7L
    val offers = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("sku"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_sellers"),
        min(col("l_extendedprice")).as("lowest_comp"),
        max(when(col("l_suppkey") === ourSeller, 1L).otherwise(0L)).as("has_us"))
    val stock = Tables.load(spark, dir, "part").select(
      col("p_partkey").as("sku"),
      when(col("p_partkey") % 7 === 0, 0L)
        .otherwise((col("p_size") * 10).cast("long")).as("stock"))
    offers
      .join(broadcast(settings(spark, dir)), Seq("sku"))
      .join(broadcast(stock), Seq("sku"))
      .agg(
        count(lit(1)).as("total_skus"),
        sum(when(col("active"), 1L).otherwise(0L)).as("active_skus"),
        sum(when(col("stock") === 0, 1L).otherwise(0L)).as("zero_stock"),
        sum(when(col("n_sellers") > 1, 1L).otherwise(0L)).as("competing_skus"),
        sum(col("has_us")).as("skus_with_us"),
        sum(F.dec(col("lowest_comp"))).cast("double").as("sum_lowest"))
  }

  /** W7/X13 — client sort: color word then numeric size (reference
    * app/page.tsx:130-135 localeCompare color + numeric size extract).
    * Colors live in the part names ("red widget"); the numeric key is
    * extracted, not lexicographic.
    */
  def colorSizeSort(spark: SparkSession, dir: String): DataFrame = {
    val first = regexp_extract(col("p_name"), "^([a-z]+) ", 1)
    val colors = Seq("red", "blue", "green", "yellow", "black", "white")
    val r = Tables.load(spark, dir, "part")
      .select(
        col("p_partkey"), col("p_name"),
        when(first.isin(colors: _*), first).otherwise(lit("")).as("color"),
        col("p_size").as("size_num"))
    Out.sorted(r)(col("color"), desc("size_num"), col("p_partkey"))
  }

  /** U2/D4 — set-union of attribute lists per brand (reference
    * scrape.ts:774-776 Set-merge of sizes/colors across pages):
    * collect_set + sort → deterministic attribute strings.
    */
  def brandAttributes(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.load(spark, dir, "part")
      .groupBy("p_brand")
      .agg(
        concat_ws(",", array_sort(collect_set(col("p_type")))).as("types_all"),
        concat_ws(",", array_sort(collect_set(col("p_size").cast("string"))))
          .as("sizes_all"),
        countDistinct(col("p_type")).as("n_types"))
    Out.sorted(r)(col("p_brand"))
  }

  /** X17/X24/A12 — schema-flexible JSON props + map-literal lookup over
    * the event stream: probe `props.k`, classify event types through a
    * literal map (reference scrape.ts:9-13 city map; offers/route.ts
    * key probing), aggregate per class.
    */
  def eventProps(spark: SparkSession, dir: String): DataFrame = {
    val classMap = map(
      lit("click"), lit("engagement"), lit("view"), lit("engagement"),
      lit("signup"), lit("conversion"), lit("purchase"), lit("revenue"),
      lit("error"), lit("ops"))
    val r = Tables.load(spark, dir, "events")
      .select(
        coalesce(element_at(classMap, col("event_type")), lit("other")).as("event_class"),
        get_json_object(col("props"), "$.k").try_cast("long").as("k"),
        col("value"))
      .groupBy("event_class")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        F.avgFromSums(sum(F.dec(col("value"))), count(lit(1))).as("avg_value"))
    Out.sorted(r)(col("event_class"))
  }

  /** Event-time tumbling windows, batch form (the streaming twin with a
    * watermark lives in [[graft.streaming.EventWindows]]): hourly counts
    * and exact value sums per event type.
    */
  def eventWindows(spark: SparkSession, dir: String): DataFrame = {
    val r = graft.streaming.EventWindows.batchWithSums(
      Tables.load(spark, dir, "events"))
    Out.sorted(r)(col("window_start"), col("event_type"))
  }

  /** Sessionization (beyond-reference; batch twin of the streaming
    * session_window form — see streaming/Sessions).
    */
  def eventSessions(spark: SparkSession, dir: String): DataFrame = {
    val r = graft.streaming.Sessions.batchSessions(
      Tables.load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type")))
    Out.sorted(r)(col("event_type"), col("session_seq"))
  }

  /** Ordered-funnel attribution over the event stream: per user, the
    * first view, the first click AFTER that view, and the first
    * purchase AFTER that qualified click — the classic conversion
    * funnel (match_recognize's PATTERN (V ... C ... P) shape) built
    * Spark-first as running conditional minima over ONE user-ordered
    * window pass. "After" is (ts, event_id)-lexicographic, so ties are
    * deterministic and the oracle replays the identical ordering.
    *
    * Scale shape: one shuffle on user_id, one sort per partition; the
    * three running windows and the final per-user aggregate all reuse
    * that partitioning (single Exchange in the plan). No self-joins —
    * the naive funnel (events ⋈ events ⋈ events on user) is quadratic
    * per hot user; running windows are O(n log n) per partition and
    * O(1) state per step.
    */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame =
    eventFunnelFrom(Tables.load(spark, dir, "events"))

  /** Same over any (user_id, event_id, ts, event_type) frame — lets
    * specs plant out-of-order patterns and watch the rejection
    * branches (click before any view, purchase before a qualified
    * click) fire. */
  private[graft] def eventFunnelFrom(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val staged = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("us", unix_micros(col("ts")))
      // earliest view at-or-before this row
      .withColumn("v_us",
        min(when(col("event_type") === "view", col("us"))).over(w))
      // earliest view-qualified click at-or-before this row
      .withColumn("c_us",
        min(when(col("event_type") === "click" && col("v_us").isNotNull,
          col("us"))).over(w))
    val per = staged.groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("us"))).as("view_us"),
      min(when(col("event_type") === "click" && col("v_us").isNotNull,
        col("us"))).as("click_us"),
      min(when(col("event_type") === "purchase" && col("c_us").isNotNull,
        col("us"))).as("purchase_us"))
    val r = per.select(
      col("user_id"),
      when(col("purchase_us").isNotNull, 3L)
        .when(col("click_us").isNotNull, 2L)
        .when(col("view_us").isNotNull, 1L).otherwise(0L).as("stage"),
      date_format(timestamp_micros(col("view_us")), "yyyy-MM-dd HH:mm:ss")
        .as("view_time"),
      date_format(timestamp_micros(col("click_us")), "yyyy-MM-dd HH:mm:ss")
        .as("click_time"),
      date_format(timestamp_micros(col("purchase_us")), "yyyy-MM-dd HH:mm:ss")
        .as("purchase_time"),
      expr("(click_us - view_us) div 1000000").as("view_to_click_secs"),
      expr("(purchase_us - click_us) div 1000000").as("click_to_purchase_secs"))
    Out.sorted(r)(col("user_id"))
  }

  /** X25 — template message rendering over the size recommendations
    * (reference size_recommendation_engine.py:279-301 WhatsApp text).
    */
  def sizeMessages(spark: SparkSession, dir: String): DataFrame = {
    val rec = Relational.sizeRecommend(spark, dir)
    val r = rec.select(
      col("c_custkey"),
      format_string("Customer %d: recommended size %s (alternatives: %s)",
        col("c_custkey"), col("best_size"),
        when(col("alt_sizes") === "", lit("none")).otherwise(col("alt_sizes")))
        .as("message"))
    Out.sorted(r)(col("c_custkey"))
  }
}
