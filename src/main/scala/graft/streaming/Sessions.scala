package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Sessionization: group each event_type's events into activity
  * sessions separated by ≥ [[GapMinutes]] of silence.
  *
  * Batch form: the classic gap-islands derivation — lag over
  * (event_type ORDER BY ts, event_id), flag gap starts, running-sum the
  * flags into session sequence numbers, aggregate. Two window passes
  * over one partitioning + one groupBy that reuses it; no self-joins.
  *
  * Streaming form: `session_window(ts, gap)` with a watermark — Spark
  * merges events closer than the gap into one growing window and
  * finalizes a session once the watermark passes its end (end = last
  * event + gap, so a session closes only when silence is PROVEN by
  * event time, not wall clock). State per key is the open session —
  * bounded by live key cardinality. SessionsSpec pins streamed output
  * equal to the batch derivation restricted to finalized sessions.
  *
  * The boundary rule matches on both forms: Spark's `session_window`
  * represents each event as the half-open range [ts, ts+gap) and
  * merges ranges that overlap OR TOUCH, so an event EXACTLY `gap`
  * after its predecessor joins the SAME session — the batch twin and
  * every oracle flag `diff > gap` to state the identical rule
  * (SessionBoundarySpec pins both sides; the sf0.001 sweep caught the
  * `>=` form diverging on an exact-30-min adjacency).
  */
object Sessions {

  val GapMinutes = 30
  val Gap = s"$GapMinutes minutes"
  val GapMicros: Long = GapMinutes * 60L * 1000000L
  val Watermark = "2 hours"

  /** Batch twin over any (event_id, ts, event_type) frame. */
  def batchSessions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > GapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_s")).over(run))
      .groupBy(col("event_type"), col("session_seq"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        expr("(max(us) - min(us)) div 1000000").as("duration_secs"))
  }

  /** The oracle-checked form of the STREAM (q_event_sessions_stream):
    * land the events table as NDJSON (microsecond timestamps preserved —
    * the testdata carries sub-second components on every row), run the
    * session_window job to completion with AvailableNow, and return the
    * finalized sessions it emitted. Complements the batch twin's oracle
    * row: the driver gate now sees the streaming path itself, with the
    * oracle restricted to sessions whose end the final watermark passed
    * (watermark = ms-floored max event time − delay, mirroring Spark's
    * millisecond watermark tracking).
    */
  def eventSessionsStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.fresh(spark, dir, "sessions_q")
    val (landing, out, ckpt) =
      (s"$tmp/landing", s"$tmp/out", s"$tmp/ckpt")
    // one landing file = one data batch: the watermark is still at its
    // floor while data is aggregated, so no event can be dropped as
    // late by a discovery-order artifact; the trailing no-data batch
    // then finalizes against max(ts) − delay
    graft.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .coalesce(1)
      .write
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(landing)
    StreamOracle.drain(start(spark, landing, out, ckpt), "sessions")
    val r = spark.read
      .schema("session_start STRING, event_type STRING, n_events LONG")
      .json(out)
      .select("event_type", "session_start", "n_events")
    graft.Out.sorted(r)(col("event_type"), col("session_start"))
  }

  /** Streaming job: NDJSON landing → session_window agg → append sink
    * (only watermark-finalized sessions are written).
    */
  def start(spark: SparkSession, landingDir: String, outDir: String,
            checkpointDir: String): StreamingQuery =
    StateStores.start(spark,
      spark.readStream
        .schema(EventWindows.eventSchema)
        .option("maxFilesPerTrigger", 1)
        .json(landingDir)
        .withWatermark("ts", Watermark)
        .groupBy(session_window(col("ts"), Gap), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("event_type"), col("n_events"))
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir),
      checkpointDir, StateStores.LandedBytes(landingDir))
}
