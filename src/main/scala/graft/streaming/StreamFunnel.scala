package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Streaming funnel attribution — the continuous face of the batch
  * [[graft.operators.Fleet.eventFunnel]]: a per-user three-step
  * pattern state machine (first view → first click after it → first
  * purchase after that), advanced incrementally as events land. This
  * is the CEP shape (match_recognize online): unlike the window/
  * sketch/dedup streaming operators, the state here is a tiny MONOTONE
  * machine — three optional timestamps and a counter per user, O(1)
  * forever, no cap, no shedding, nothing to expire for correctness.
  *
  * Ordering contract: the machine folds each micro-batch's events in
  * (event-time, event_id) order and batches are applied in arrival
  * order, so the streamed result equals the batch funnel whenever the
  * per-user feed is event-time ordered ACROSS batches (the landing
  * convention of this engine's NDJSON ingest — files land in time
  * order). An out-of-order late view cannot retroactively qualify an
  * already-rejected click; deployments with late data front the funnel
  * with a watermarked sort (the standard online-CEP tradeoff,
  * StreamFunnelSpec pins the in-order equivalence).
  *
  * Each batch emits the user's CURRENT funnel row stamped with
  * `n_seen` (events folded so far) — an append-only progress log; the
  * reader takes the max-`n_seen` row per user for the latest state,
  * and a one-batch drain emits exactly one row per user.
  */
object StreamFunnel {

  /** Non-private: Catalyst's generated encoder projections cannot
    * access private classes. */
  case class Ev(user_id: Long, event_id: Long, event_type: String, us: Long)
  case class FunnelState(
      v: Option[Long], c: Option[Long], p: Option[Long], n: Long)
  case class FunnelRow(
      user_id: Long, stage: Long, view_us: Option[Long],
      click_us: Option[Long], purchase_us: Option[Long], n_seen: Long)

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", TimestampType)))

  private def userFn(
      uid: Long, rows: Iterator[Ev],
      state: GroupState[FunnelState]): Iterator[FunnelRow] = {
    var s = state.getOption.getOrElse(FunnelState(None, None, None, 0L))
    // deterministic in-batch order (the iterator's order is partition
    // internals, not data semantics)
    for (e <- rows.toSeq.sortBy(e => (e.us, e.event_id))) {
      e.event_type match {
        case "view" => if (s.v.isEmpty) s = s.copy(v = Some(e.us))
        case "click" =>
          if (s.v.isDefined && s.c.isEmpty) s = s.copy(c = Some(e.us))
        case "purchase" =>
          if (s.c.isDefined && s.p.isEmpty) s = s.copy(p = Some(e.us))
        case _ =>
      }
      s = s.copy(n = s.n + 1L)
    }
    state.update(s)
    val stage =
      if (s.p.isDefined) 3L else if (s.c.isDefined) 2L
      else if (s.v.isDefined) 1L else 0L
    Iterator(FunnelRow(uid, stage, s.v, s.c, s.p, s.n))
  }

  /** The shared transform: per-user monotone funnel fold. */
  def funnel(events: DataFrame): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(userFn)
  }

  /** Streaming job: NDJSON landing → funnel progress rows → append sink. */
  def start(spark: SparkSession, landingDir: String, outDir: String,
            checkpointDir: String): StreamingQuery =
    StateStores.start(spark,
      funnel(
        spark.readStream
          .schema(eventSchema)
          .option("maxFilesPerTrigger", 1)
          .json(landingDir))
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir),
      checkpointDir, StateStores.LandedBytes(landingDir))
}
