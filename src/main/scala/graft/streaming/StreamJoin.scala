package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Stream-stream interval join: competitor price observations joined to
  * our reprice actions on the same product within a bounded event-time
  * window — "which observation did this reprice respond to", computed
  * continuously (the reference answers it offline by eyeballing the
  * watch NDJSON against the pricebot action log;
  * price_watch.ts:53-63 + pricebot run logging).
  *
  * Scale contract: BOTH sides carry watermarks and the join condition
  * bounds event-time distance ([0, [[ResponseWindow]]]), so Spark can
  * compute exactly how long an observation must be buffered and drops
  * join state past it — without the interval bound, stream-stream join
  * state grows forever. Per-product state is O(events in the window),
  * the minimum any correct implementation needs.
  *
  * Scaling note: sf1 packs 10× the events into the SAME 30-day span,
  * so the MATCH COUNT grows ~rate² — that part is the query's
  * semantics. What must NOT grow ~rate² is the work per match:
  * [[joined]] refines the equi-key with an interval-width time bucket
  * so the symmetric join's per-row state scan touches only candidate
  * rows (measured at sf1: 699 → 18 cpu-s, wall 68 → 10 s, flat vs
  * sf0.1 — the residual wall is fixed micro-batch machinery). For
  * deployments where even the match volume is the cost,
  * [[binnedJoined]] pre-aggregates observations to per-(product, bin)
  * minima first, making state AND output grow ~rate·bins
  * (q_interval_join_binned_stream pins it end-to-end).
  *
  * StreamJoinSpec pins the streamed result equal to the identical batch
  * interval join over the same landed input.
  */
object StreamJoin {

  val Watermark = "1 hour"
  val ResponseWindow = "10 minutes"

  /** The NARROW setting of the response-window dial
    * (q_interval_join_stream_narrow). Match volume — and with it the
    * rate² growth term — scales ~linearly with the window width, so
    * the dial a deployment turns when the interval join's output is
    * the cost is the window itself: 10 → 2 minutes divides emitted
    * matches and the per-bucket state scan by ~5 while answering the
    * operational question ("which observation did this reprice answer
    * within its cadence") with the tighter attribution production
    * actually wants. Both settings are oracle-checked end-to-end and
    * measured at sf0.1/sf1/sf10 (docs/SCALE.md carries the pair), the
    * same two-point treatment as the LSH plane-count and IVF nprobe
    * dials.
    */
  val ResponseWindowNarrow = "2 minutes"

  val obsSchema: StructType = StructType(Seq(
    StructField("obs_id", LongType),
    StructField("ts", TimestampType),
    StructField("product_id", LongType),
    StructField("seller", StringType),
    StructField("price", LongType)))

  val actionSchema: StructType = StructType(Seq(
    StructField("action_id", LongType),
    StructField("ts", TimestampType),
    StructField("product_id", LongType),
    StructField("new_price", LongType)))

  /** Micros per [[ResponseWindow]] — the bucket width of the join's
    * refined equi-key. */
  private val WindowUs = 10L * 60L * 1000000L

  /** The shared join: action within [obs.ts, obs.ts + window].
    *
    * The equi-key is REFINED with a [[ResponseWindow]]-wide time bucket:
    * observations carry their own bucket, each action explodes into its
    * own and the preceding bucket (an in-window observation lies in
    * exactly one of the two, since the bucket width equals the interval
    * length — so no match is lost and none duplicates). Spark's
    * symmetric stream-stream join scans, for every input row, ALL
    * buffered rows of its equi-key: keyed on product alone that is
    * O(rows·obs-per-product) predicate evaluations — the measured
    * ~rate² CPU at sf1 — while the bucketed key prunes the scan to the
    * two candidate buckets, O(rows + matches), leaving the time
    * predicate only boundary work. State cleanup still derives from the
    * interval condition on the watermarked `ts` columns; the output is
    * byte-identical (StreamJoinSpec / the q_interval_join_stream
    * oracle, unchanged).
    */
  def joined(obs: DataFrame, actions: DataFrame,
             window: String = ResponseWindow): DataFrame = {
    val windowUs = {
      val Array(n, unit) = window.split(" ")
      n.toLong * (unit match {
        case "minutes" | "minute" => 60L * 1000000L
        case "hours" | "hour" => 3600L * 1000000L
        case u => throw new IllegalArgumentException(s"window unit $u")
      })
    }
    val ob = obs.withColumn("bkt", expr(s"unix_micros(ts) div $windowUs"))
    val ab = actions.withColumn("bkt",
      explode(array(expr(s"unix_micros(ts) div $windowUs"),
        expr(s"unix_micros(ts) div $windowUs - 1"))))
    ob.alias("o").join(ab.alias("a"),
        expr(s"""o.product_id = a.product_id AND o.bkt = a.bkt AND
                 a.ts >= o.ts AND a.ts <= o.ts + INTERVAL $window"""))
      .select(col("o.obs_id"), col("a.action_id"), col("o.product_id"),
        col("o.seller"), col("o.price"), col("a.new_price"),
        (unix_timestamp(col("a.ts")) - unix_timestamp(col("o.ts")))
          .as("response_secs"))
  }

  /** Streaming job over two NDJSON landing dirs → append sink. */
  def start(spark: SparkSession, obsDir: String, actionsDir: String,
            outDir: String, checkpointDir: String,
            window: String = ResponseWindow): StreamingQuery =
    StateStores.start(spark,
      joined(src(spark, obsDir, obsSchema), src(spark, actionsDir, actionSchema),
          window)
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir),
      checkpointDir, StateStores.CpuBound)

  /** One landing side: whole-side triggers under the join watermark. */
  private def src(spark: SparkSession, dir: String, schema: StructType) =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", LandingFilesPerSide).json(dir)
      .withWatermark("ts", Watermark)

  /** Landing files per join side: written in parallel, ingested whole
    * per trigger — each side still lands in ONE micro-batch (a join is
    * order-free within a batch), without serializing a whole side
    * through one write task. */
  val LandingFilesPerSide = 8

  /** Bin width of the pre-aggregated twin — equal to [[ResponseWindow]]
    * so an action's candidate observations always sit in its own bin or
    * the one before. */
  val BinWidth = "10 minutes"

  /** The PRE-AGGREGATED twin of [[joined]] — the standard mitigation
    * for interval-join cost under rate growth: the repricer only needs
    * the LOWEST competitor observation per product and window
    * (PRICEBOT_SPEC_V2.md:96-98 — target price chases the minimum), so
    * observations collapse to per-(product, [[BinWidth]]-bin) minima in
    * a windowed streaming aggregation BEFORE the stream-stream join.
    * Join state and output then grow ~rate·bins instead of ~rate²:
    * at 10× the event rate the bin count per product is UNCHANGED —
    * only the per-bin min computation (a partial-aggregated shuffle)
    * sees more rows.
    *
    * Chained stateful operators: the windowed min releases a bin once
    * the watermark passes its end; the join consumes the finalized bin
    * rows, whose event time is `window_time(window)` (window end − 1
    * μs), against the raw action stream. An action matches its own bin
    * and the preceding one: with s = bin start, the rule is
    * s ≤ action.ts < s + 2·bin, expressed on bin_time as
    * (bt − bin, bt + bin] so Spark derives both state-cleanup bounds
    * from event-time columns.
    */
  def binnedJoined(obs: DataFrame, actions: DataFrame): DataFrame = {
    val binned = obs
      .groupBy(window(col("ts"), BinWidth), col("product_id"))
      .agg(min(col("price")).as("min_price"))
      .select(col("window"), window_time(col("window")).as("bin_time"),
        col("product_id"), col("min_price"))
      // bin_time = start + bin − 1 μs, so this is the bin's own index —
      // the same equi-key refinement as [[joined]]
      .withColumn("bkt", expr(s"unix_micros(bin_time) div $WindowUs"))
    val ab = actions.withColumn("bkt",
      explode(array(expr(s"unix_micros(ts) div $WindowUs"),
        expr(s"unix_micros(ts) div $WindowUs - 1"))))
    binned.alias("b").join(ab.alias("a"),
        expr(s"""b.product_id = a.product_id AND b.bkt = a.bkt AND
                 a.ts > b.bin_time - INTERVAL $BinWidth AND
                 a.ts <= b.bin_time + INTERVAL $BinWidth"""))
      .select(col("b.product_id"),
        date_format(col("b.window.start"), "yyyy-MM-dd HH:mm:ss").as("bin_start"),
        col("b.min_price"), col("a.action_id"), col("a.new_price"),
        (unix_timestamp(col("a.ts")) - unix_timestamp(col("b.window.start")))
          .as("response_secs"))
  }

  /** Streaming job for the binned twin: same landings → append sink. */
  def startBinned(spark: SparkSession, obsDir: String, actionsDir: String,
                  outDir: String, checkpointDir: String): StreamingQuery =
    StateStores.start(spark,
      binnedJoined(src(spark, obsDir, obsSchema),
          src(spark, actionsDir, actionSchema))
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir),
      checkpointDir, StateStores.CpuBound)
}
