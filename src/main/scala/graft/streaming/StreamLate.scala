package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Out, Scratch, Tables}
import graft.operators.TextOps
import graft.sources.Publish

/** Late-data driver-oracle rows for the streaming suite.
  *
  * Every other streaming oracle row lands its input either with a
  * constant event time or as ONE file (= one data batch), so the
  * watermark can never drop a row mid-stream — the late/out-of-order
  * arrival path was pinned only by ScalaTest specs. These rows land
  * DELIBERATELY out-of-order, cross-batch, past-watermark event files
  * and pin the dropped-vs-kept set against a DuckDB oracle that applies
  * the watermark rule explicitly (per-batch watermark progression
  * computed in SQL). Real captures arrive late — the reference's only
  * long-running program is the price watch loop
  * (price_watch.ts:75-86) and its NDJSON landings carry no ordering
  * guarantee at all.
  *
  * Landing recipe shared by all rows here: synthetic second-granular
  * event times derived arithmetically from the row id (so the DuckDB
  * oracle reconstructs them exactly), [[StreamOracle.LandingFiles]]
  * batch files written one per micro-batch with strictly increasing
  * mtimes (the file source with maxFilesPerTrigger=1 schedules files in
  * mtime order — the same contract StreamCdcSpec already relies on).
  * Batch b's time slot starts at T0 + b·[[SlotUs]]; engineered classes:
  *
  *   - NORMAL rows sit in their batch's slot — never late.
  *   - OUT-OF-ORDER-KEPT rows in batch b ≥ 1 are shifted back 150 min:
  *     behind the previous batch's data but hours AHEAD of the
  *     watermark for ANY id distribution — they must be kept, and they
  *     extend windows/sessions that earlier batches opened (the
  *     cross-batch merge the single-file landings can never exercise).
  *   - TOO-LATE rows in batch b ≥ 1 are shifted back 12 h. The
  *     watermark in effect during batch b derives from the stats of
  *     batches ≤ b−2 (WatermarkLagSpec pins this measured propagation:
  *     batch b's offsets/metadata are planned before batch b−1's stats
  *     commit, so batches 0 and 1 both run under the INITIAL
  *     watermark). Hence batch 1's 12-h-late rows are KEPT — the
  *     propagation lag made visible — while batches ≥ 2's are hours
  *     past the watermark and must be DROPPED; kept-late rows surface
  *     as extra finalized windows/sessions in slots disjoint from all
  *     on-time data, so the row hash gates both sides of the rule.
  *
  * All drop/keep margins are ≥ 84 min by construction (worst case
  * over any id distribution), so the kept set is insensitive to the
  * exact boundary comparator; the finalization comparator
  * (window/session end ≤ watermark, Spark's millisecond-floored rule)
  * is the one the always-green q_windows_stream /
  * q_event_sessions_stream rows already pin. A sentinel heartbeat row
  * 24 h after T0 lands in the last batch so every real window/session
  * finalizes with hours of margin and only the sentinel's own window
  * stays open — finalization never depends on which residue class
  * happens to hold the per-batch maximum.
  */
object StreamLate {

  /** T0: epoch micros of 2024-03-01 00:00:00 UTC. */
  val BaseUs: Long =
    java.time.Instant.parse("2024-03-01T00:00:00Z").getEpochSecond * 1000000L

  val MinuteUs = 60L * 1000000L
  val HourUs = 3600L * 1000000L

  /** Batch time slots are 3 h apart — wider than any watermark delay in
    * the suite (2 h), so consecutive slots straddle the watermark the
    * way real capture sessions do. */
  val SlotUs: Long = 3L * HourUs

  /** Out-of-order-kept shift: 150 min — lands batch-b rows inside batch
    * b−1's slot while staying ≥ 54 min above the watermark. */
  val OooShiftUs: Long = 150L * MinuteUs

  /** Too-late shift: 12 h — hours past any watermark in the run. */
  val LateShiftUs: Long = 12L * HourUs

  /** Sentinel heartbeat lands 24 h after T0: finalizes all real
    * windows/sessions; its own window/session stays open (2 h delay). */
  val SentinelUs: Long = BaseUs + 24L * HourUs

  private val JsonTsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Write a `batch`-column frame as ONE landing file `batch_0i.json`
    * per batch with strictly increasing mtimes, so the file source's
    * mtime order IS the batch order.
    *
    * ONE distributed job (r14): the batch-keyed repartition puts every
    * batch value's rows in exactly one task, so `partitionBy` emits
    * exactly one part file per batch dir — the source frame computes
    * ONCE instead of once per batch-filter, and the per-batch JSON
    * encodes run as parallel tasks instead of sequential coalesce(1)
    * jobs (the r13 repricer landing lesson applied to the watermark
    * rows WITHOUT touching their batch-boundary contract: same files,
    * same mtime protocol, only the job that writes them changed).
    * Within-file row order shifts with the shuffle — irrelevant to
    * every consumer here (micro-batch semantics are set-based; the
    * watermark folds a per-batch max).
    */
  private def landBatches(spark: SparkSession, all: DataFrame,
      nBatches: Int, landing: String): Unit = {
    val lp = new Path(landing)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lp)
    val stage = new Path(landing, "_stage")
    all.withColumn("batch", col("batch").cast("int"))
      .repartition(nBatches, col("batch"))
      .write.option("timestampFormat", JsonTsFmt)
      .partitionBy("batch").json(stage.toString)
    (0 until nBatches).foreach { i =>
      val parts = fs.globStatus(new Path(stage, s"batch=$i/part-*"))
      // an empty batch would silently DROP a trigger and renumber the
      // watermark progression every downstream oracle replays — fail
      // loudly instead
      require(parts.length == 1,
        s"batch $i landed ${parts.length} part files — every batch " +
          "must be non-empty and single-file for the one-trigger-per-" +
          "batch mtime contract")
      val dst = new Path(lp, f"batch_$i%02d.json")
      Publish.move(fs, parts.head.getPath, dst)
      fs.setTimes(dst, 1700000000000L + i * 60000L, -1L)
    }
    fs.delete(stage, true)
  }

  /** The events-table landing shared by the windows and sessions rows:
    * batch = event_id % 4, offset = (event_id % 97) minutes into the
    * slot, out-of-order-kept class event_id % 13 == 7, too-late class
    * event_id % 13 == 5 (both only for b ≥ 1), sentinel appended to the
    * last batch. One frame with the `batch` column [[landBatches]]
    * splits on. */
  private def eventFrame(spark: SparkSession, dir: String): DataFrame = {
    val b = col("event_id") % 4
    val us = lit(BaseUs) + b * SlotUs + (col("event_id") % 97) * MinuteUs +
      when(col("event_id") % 13 === 5 && b >= 1, -LateShiftUs)
        .when(col("event_id") % 13 === 7 && b >= 1, -OooShiftUs)
        .otherwise(0L)
    val src = Tables.load(spark, dir, "events")
      .select(col("event_id"), timestamp_micros(us).as("ts"),
        col("event_type"), col("value"), b.as("batch"))
    val sentinel = spark.range(1).select(
      lit(-1L).as("event_id"), timestamp_micros(lit(SentinelUs)).as("ts"),
      lit("heartbeat").as("event_type"), lit(null).cast("double").as("value"),
      lit(StreamOracle.LandingFiles - 1L).as("batch"))
    src.unionByName(sentinel)
  }

  /** q_windows_stream_late: the tumbling-window job over the
    * out-of-order landing — too-late rows must vanish from the counts,
    * out-of-order-kept rows must merge into windows opened by earlier
    * batches. */
  def windowsStreamLate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Scratch.fresh(spark, dir, "winlate_q")
    landBatches(spark, eventFrame(spark, dir),
      StreamOracle.LandingFiles, s"$tmp/landing")
    StreamOracle.drain(
      EventWindows.start(spark, s"$tmp/landing", s"$tmp/out", s"$tmp/ckpt"),
      "late windows")
    val r = spark.read
      .schema("window_start STRING, event_type STRING, n_events LONG")
      .json(s"$tmp/out")
      .select("window_start", "event_type", "n_events")
    Out.sorted(r)(col("window_start"), col("event_type"))
  }

  /** q_event_sessions_stream_late: the session_window job over the same
    * landing — sessions opened by batch b's slot are EXTENDED by batch
    * b+1's out-of-order-kept rows (cross-batch merge), too-late rows
    * must not found sessions of their own. */
  def sessionsStreamLate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Scratch.fresh(spark, dir, "seslate_q")
    landBatches(spark, eventFrame(spark, dir),
      StreamOracle.LandingFiles, s"$tmp/landing")
    StreamOracle.drain(
      Sessions.start(spark, s"$tmp/landing", s"$tmp/out", s"$tmp/ckpt"),
      "late sessions")
    val r = spark.read
      .schema("session_start STRING, event_type STRING, n_events LONG")
      .json(s"$tmp/out")
      .select("event_type", "session_start", "n_events")
    Out.sorted(r)(col("event_type"), col("session_start"))
  }

  /** Dedup landing uses one extra batch beyond the canonical four, so
    * expired duplicates re-arrive ≥ 2 full batches after their
    * original's state crossed expiry — immune to whether eviction
    * happens at row lookup or at batch end. */
  val DedupBatches = 5

  /** q_dedup_stream_late: the bounded-state dedup over an out-of-order
    * document landing. Input = the canonical document per bow_hash
    * (min doc_id), batch = doc_id % 4, offset = (doc_id % 45) minutes
    * (≤ 44 min, so expiry margins hold for any id distribution under
    * the 1 h dedup watermark). Engineered classes (wm during batch b =
    * stats of batches ≤ b−2 − delay, per WatermarkLagSpec):
    *
    *   - TOO-LATE (doc_id % 10 == 7, b ≥ 1): shifted back 12 h. Batch
    *     1's land under the initial watermark and are KEPT (emitted at
    *     their 12-h-old event time — the propagation lag made
    *     visible); batches 2–3's are hours past the watermark and must
    *     be ABSENT from the emitted stream entirely.
    *   - EXPIRED-DUP (doc_id % 20 == 0, so b == 0): the same text
    *     lands again in batch 4 (doc_id + 10,000,000). The original's
    *     expiry (first ts + 1 h) is crossed by the watermark in effect
    *     during batch 3 with ≥ 16 min margin, a full batch before the
    *     duplicate arrives — so the duplicate RE-EMITS whichever
    *     moment eviction runs: the documented at-least-once contract
    *     of bounded-state streaming dedup, visible to the driver gate.
    *   - SUPPRESSED-DUP (doc_id % 10 == 3, b ∈ {1, 3}): the same text
    *     lands one slot later (doc_id + 20,000,000) while the
    *     original's state is still hours from expiry under the lagged
    *     watermark — it must NOT re-emit.
    */
  def dedupStreamLate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Scratch.fresh(spark, dir, "dedlate_q")
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("bow_hash", TextOps.bowHash)
    val canon = docs.groupBy(col("bow_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
    val b = col("doc_id") % 4
    val off = (col("doc_id") % 45) * MinuteUs
    val base = canon.select(col("doc_id"),
      timestamp_micros(lit(BaseUs) + b * SlotUs + off +
        when(col("doc_id") % 10 === 7 && b >= 1, -LateShiftUs)
          .otherwise(0L)).as("ts"),
      col("text"), b.as("batch"))
    val dup = canon.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        timestamp_micros(lit(BaseUs) + 4L * SlotUs + off).as("ts"),
        col("text"), lit(4L).as("batch"))
    val supp = canon.filter(col("doc_id") % 10 === 3 && (b === 1 || b === 3))
      .select((col("doc_id") + 20000000L).as("doc_id"),
        timestamp_micros(lit(BaseUs) + (b + 1) * SlotUs + off).as("ts"),
        col("text"), (b + 1).as("batch"))
    val all = base.unionByName(dup).unionByName(supp)
    landBatches(spark,
      all.select(col("doc_id"), col("ts"), col("text"), col("batch")),
      DedupBatches, s"$tmp/landing")
    StreamOracle.drain(
      StreamDedup.start(spark, s"$tmp/landing", s"$tmp/out", s"$tmp/ckpt"),
      "late dedup")
    val r = spark.read
      .schema("bow_hash STRING, doc_id LONG, ts TIMESTAMP")
      .json(s"$tmp/out")
      .select(col("bow_hash"), col("doc_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
    Out.sorted(r)(col("bow_hash"), col("doc_id"))
  }

  /** q_cdc_stream_late: the CDC compaction fed NEWEST-FIRST — the ops
    * log lands in four event_id-DESCENDING quartile batches, so every
    * key's newest op arrives before its older ones and most arrivals
    * are "late" relative to the op sequence. The oracle is the batch
    * compaction SQL verbatim: the newest-sequence-wins fold must
    * produce the identical hash under the adversarial arrival order
    * (the op-count must still count EVERY op, and late old ops must
    * never win a key).
    *
    * Landing shape (the r13 repricer fix, applied here in r14): the
    * quartile assignment is a MAP-SIDE value-range bucket over the op
    * sequence (one min/max scan), never a global ntile window — ranking
    * a corpus-sized log on one partition is exactly the
    * collect-to-one-core shape this suite bans — and each quartile
    * lands SHARDED so the JSON encode runs on [[Repricer.LandingShards]]
    * cores. Batch identity moves from file mtimes to the CHECKPOINT:
    * one AvailableNow drain per quartile admits exactly the unseen
    * shards (arrival order across drains is the adversarial order; the
    * fold is split-invariant within a drain). No watermark is involved
    * — [[landBatches]]' single-file mtime protocol stays with the rows
    * whose watermark progression depends on batch boundaries. */
  def cdcStreamLate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Scratch.fresh(spark, dir, "cdclate_q")
    val landing = new Path(s"$tmp/landing")
    val fs = landing.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(landing)
    val ops = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val ext = ops.agg(min(col("event_id")), max(col("event_id"))).head()
    require(!ext.isNullAt(0),
      "cdcStreamLate: events table is empty — no ops log to land")
    val (mn, mx) = (ext.getLong(0), ext.getLong(1))
    val g = StreamOracle.LandingFiles
    val span = (mx - mn + 1L).toDouble
    // newest ops → quartile 1: (mx - id) ∈ [0, span) scaled to [0, g)
    val grp = floor((lit(mx) - col("event_id")) * g / span) + 1L
    for (k <- 1 to g) {
      val staging = new Path(s"$tmp/stage$k")
      val bucket = ops.filter(grp === k)
      // Value-range buckets (unlike ntile) can come up empty under a
      // skewed event_id distribution — an empty quartile silently
      // weakens the newest-first arrival adversary to fewer effective
      // batches. Mirror landBatches' stance: fail loudly instead.
      require(!bucket.isEmpty,
        s"cdcStreamLate: value-range quartile $k/$g of event_id " +
          s"[$mn,$mx] is empty — skewed distribution defeats the " +
          "newest-first arrival pattern; re-bucket by rank for this corpus")
      bucket.repartition(Repricer.LandingShards).write.json(staging.toString)
      Publish.parts(fs, staging, landing, s"b$k")
      StreamOracle.drain(
        StreamCdc.start(spark, s"$tmp/landing", s"$tmp/out", s"$tmp/ckpt",
          maxFilesPerTrigger = None),
        s"late cdc drain $k")
    }
    val r = StreamCdc.materialize(spark, s"$tmp/out")
    Out.sorted(r)(col("user_id"))
  }

  /** The per-batch watermark progression + kept-set CTEs of the
    * events-landing oracle, shared by the windows and sessions rows:
    * ends in `kept` (rows that pass the late filter, with their batch
    * and micros) and `fw` (the final watermark). Mirrors Spark's
    * millisecond watermark arithmetic under the measured propagation
    * (WatermarkLagSpec): wm in effect DURING batch b is the max event
    * time over batches ≤ b−2, ms-floored, minus the 2 h delay (NULL —
    * i.e. initial — for batches 0 and 1); the final watermark folds in
    * every batch. The per-batch max is computed by a θ-self-join on
    * batch number, not a window frame, so an empty batch cannot shift
    * the progression. */
  private[graft] def eventsKeptCtes: String = {
    val delayMs = 2L * 3600L * 1000L
    s"""src AS (
          SELECT event_id, event_type, event_id % 4 AS b,
                 $BaseUs + (event_id % 4) * $SlotUs
                   + (event_id % 97) * $MinuteUs
                   + CASE WHEN event_id % 13 = 5 AND event_id % 4 >= 1
                            THEN -$LateShiftUs
                          WHEN event_id % 13 = 7 AND event_id % 4 >= 1
                            THEN -$OooShiftUs
                          ELSE 0 END AS us
          FROM events
          UNION ALL
          SELECT -1, 'heartbeat', 3, $SentinelUs),
        pw AS (SELECT g.b, (max(s.us) // 1000 - $delayMs) * 1000 AS wm
               FROM (SELECT DISTINCT b FROM src) g
               LEFT JOIN src s ON s.b <= g.b - 2
               GROUP BY g.b),
        kept AS (SELECT s.* FROM src s JOIN pw USING (b)
                 WHERE wm IS NULL OR s.us >= wm),
        fw AS (SELECT (max(us) // 1000 - $delayMs) * 1000 AS w FROM src)"""
  }
}
