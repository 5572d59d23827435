package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Event-time tumbling-window aggregation with a watermark.
  *
  * The reference is processing-time only (SURVEY §2.8: `ts` is stamped
  * at scrape time, no late-data handling) — but at 100 TB of events the
  * engine must bound state, so the streaming form declares
  * `withWatermark`: windows finalize once event time passes
  * window_end + watermark, state for finalized windows is dropped, and
  * later-than-watermark events are discarded instead of growing state
  * forever.
  *
  * Append-mode consequence the equivalence test pins down: windows not
  * yet past the watermark at end-of-input are NOT emitted — the
  * streamed output equals the batch aggregation restricted to
  * finalized windows.
  */
object EventWindows {

  val WindowDuration = "1 hour"
  val Watermark = "2 hours"

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The shared aggregation: tumbling event-time window × event_type. */
  def windowed(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), WindowDuration), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))

  /** Batch twin over any (ts, event_type) frame. */
  def batch(events: DataFrame): DataFrame = windowed(events)

  /** Batch form with exact value sums (the oracle-checked query). */
  def batchWithSums(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), WindowDuration), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.functions.F.dec(col("value"))).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming job: NDJSON landing → watermark → windowed counts →
    * append sink (only finalized windows are written).
    */
  def start(spark: SparkSession, landingDir: String, outDir: String,
            checkpointDir: String): StreamingQuery =
    StateStores.start(spark,
      windowed(
        spark.readStream
          .schema(eventSchema)
          .option("maxFilesPerTrigger", 1)
          .json(landingDir)
          .withWatermark("ts", Watermark))
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir),
      checkpointDir, StateStores.LandedBytes(landingDir))
}
