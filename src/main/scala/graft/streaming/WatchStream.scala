package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Streaming price-watch pipeline (SURVEY.md §2.8 T1–T4, T6): the Spark
  * re-expression of the reference's only long-running program
  * (price_watch.ts:22-86 — poll loop → per-seller sliding undercut
  * window → NDJSON append per product).
  *
  *   - T1: file-source `readStream` over an NDJSON landing directory —
  *     each captured poll drops one file; Structured Streaming's file
  *     source is the durable, replayable equivalent of the poll loop.
  *   - T2: nested capture records are exploded to one row per
  *     observation.
  *   - T3: per-user sliding window of the last 5 undercut flags held in
  *     `flatMapGroupsWithState` — the streaming form of the batch window
  *     in `Relational.slidingUndercutOver` (running-min semantics: the
  *     reference compares each observation to the lowest price seen so
  *     far, price_watch.ts:40-46).
  *   - T4: partitioned NDJSON append sink (one directory per user key).
  *   - T6: state TTL via processing-time timeout — an idle key's ring
  *     buffer is dropped instead of accumulating forever (the
  *     unbounded-state failure mode at 100 TB key cardinality).
  *
  * State per key is O(1) (a double + ≤5 ints), so state store size is
  * bounded by live key cardinality, not event volume.
  */
object WatchStream {

  /** One observation inside a captured poll record. */
  case class WatchEvent(event_id: Long, user_id: Long, value: Double)

  /** Ring-buffer state per user: lowest value seen + last ≤5 flags. */
  case class BotState(runningMin: Double, lastFlags: List[Int])

  /** Emitted per observation (mirrors the NDJSON record of
    * price_watch.ts:53-63).
    */
  case class BotOutput(event_id: Long, user_id: Long, undercut: Long,
                       sliding_hits: Long, is_bot: Boolean)

  /** Landing-file schema: one JSON record per captured poll, holding the
    * exploded-later observation array (T2's input shape).
    */
  val landingSchema: StructType = StructType(Seq(
    StructField("capture_id", LongType),
    StructField("observations", ArrayType(StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))))))

  /** T1 — the landing-dir stream source. maxFilesPerTrigger=1 keeps
    * capture files in arrival order, which the sliding state depends on.
    */
  def readLanding(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(landingSchema)
      .option("maxFilesPerTrigger", 1)
      .json(dir)

  /** T2 — explode captures to observations. */
  def flatten(captures: DataFrame): Dataset[WatchEvent] = {
    val spark = captures.sparkSession
    import spark.implicits._
    captures
      .select(explode(col("observations")).as("o"))
      .select(col("o.event_id"), col("o.user_id"), col("o.value"))
      .as[WatchEvent]
  }

  /** T3 + T6 — the stateful core. Works identically over a streaming or
    * batch Dataset (batch = one big group per key, empty initial state),
    * which is what the batch-equivalence test exercises.
    */
  def detectBots(events: Dataset[WatchEvent],
                 stateTtl: Option[String] = None): Dataset[BotOutput] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    def fn(uid: Long, it: Iterator[WatchEvent],
           state: GroupState[BotState]): Iterator[BotOutput] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        // within-trigger ordering: event_id is the arrival sequence
        val evs = it.toIndexedSeq.sortBy(_.event_id)
        var st = state.getOption.getOrElse(BotState(Double.MaxValue, Nil))
        val out = evs.map { e =>
          val mn = math.min(st.runningMin, e.value)
          val uc = if (e.value <= mn + 50.0) 1 else 0
          val flags = (uc :: st.lastFlags).take(5)
          st = BotState(mn, flags)
          BotOutput(e.event_id, uid, uc.toLong, flags.sum.toLong, flags.sum >= 3)
        }
        state.update(st)
        stateTtl.foreach(state.setTimeoutDuration)
        out.iterator
      }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(fn)
  }

  /** TYPED batch twin of the T3 bot window — the watch stream's output
    * as a compile-time-safe `Dataset[BotOutput]` over the events table
    * (the [[graft.operators.Parsing.typedAnalyze]] pattern applied to
    * the streaming side's surface): same [[detectBots]] core, same
    * single groupByKey shuffle, no DataFrame detour. Because the core
    * is shared, this is definitionally the stream's semantics — the
    * same per-user running-min ring buffer the micro-batch path holds
    * in state (TypedBotFlagSpec pins the rows hash-equal to
    * q_running_undercut, which StreamOracleSpec in turn pins equal to
    * the drained q_watch_stream). Same tradeoff as the typed analyze
    * surface: the lambda inside flatMapGroupsWithState is opaque to
    * Catalyst (no pushdown through it), which is why the relational
    * catalog row keeps the window-function form.
    */
  def typedBotFlags(spark: SparkSession, dir: String): Dataset[BotOutput] = {
    import spark.implicits._
    detectBots(graft.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .as[WatchEvent])
  }

  /** Full T1→T4 wiring: landing dir → explode → stateful bot window →
    * NDJSON append partitioned by user key.
    *
    * `stateTtl` defaults to the production 10-minute expiry (T6). A
    * caller draining a FINITE landing with AvailableNow and reading the
    * result (StreamOracle.watchStream) passes None: with
    * ProcessingTimeTimeout armed, the micro-batch engine keeps
    * scheduling timeout-check batches until the TTL fires, so an
    * AvailableNow run cannot terminate before the full TTL elapses —
    * the expiry path is pinned separately by WatchStreamSpec's
    * short-TTL test.
    */
  def start(spark: SparkSession, landingDir: String, outDir: String,
            checkpointDir: String,
            stateTtl: Option[String] = Some("10 minutes")): StreamingQuery =
    StateStores.start(spark,
      detectBots(flatten(readLanding(spark, landingDir)), stateTtl)
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir)
        .partitionBy("user_id"),
      checkpointDir, StateStores.CpuBound)
}
