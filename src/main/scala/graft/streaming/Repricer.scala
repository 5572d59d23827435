package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.functions.F
import graft.sources.Publish

/** T5 — the periodic repricing engine (reference PRICEBOT_SPEC_V2.md:
  * 92-100 + run/route.ts:25-41): each observed batch of competitor
  * offers is reduced to the lowest competitor per SKU, joined with the
  * per-SKU pricebot settings, run through the target-price formula
  * (clamp + hysteresis, X18) after dropping ignored merchants (F6), and
  * every *changed* price becomes an action record appended to a JSONL
  * decision log (K6).
  *
  * `foreachBatch` is the right primitive: repricing is a per-trigger
  * decision over the batch's aggregate (lowest competitor), not
  * per-event state — so the batch body is ordinary DataFrame code and
  * the settings dimension broadcasts per trigger.
  */
object Repricer {

  /** One observed competitor offer in the landing stream. */
  val offerSchema: StructType = StructType(Seq(
    StructField("sku", LongType),
    StructField("merchant", StringType),
    StructField("price", DoubleType)))

  /** Settings dimension: sku, current_price, min_price, max_price, step,
    * and optionally `interval_min` — the per-SKU reprice cadence
    * (PRICEBOT_SPEC_V2.md:36, offers/route.ts:114): a SKU acted on at
    * time T is not re-priced before T + interval_min minutes. A missing
    * column means no cadence (every batch is eligible).
    *
    * `lastActions` is the prior decision log (needs `sku`, `action_ts`
    * millis); None skips the gate entirely. The gate's lookup side is a
    * per-SKU max — dimension-sized, so it broadcasts like the settings.
    */
  def computeActions(offers: DataFrame, settings: DataFrame,
                     ignoredMerchants: Seq[String],
                     lastActions: Option[DataFrame] = None,
                     batchTimeMs: Long = 0L): DataFrame = {
    val lowest = offers
      .filter(col("price") > 0)
      .filter(!col("merchant").isin(ignoredMerchants: _*))
      .groupBy("sku")
      .agg(min(col("price")).as("lowest_comp"))
    val intervalMs: org.apache.spark.sql.Column =
      if (settings.columns.contains("interval_min"))
        col("interval_min").cast("long") * 60000L
      else lit(0L)
    val joined = lowest.join(broadcast(settings), Seq("sku"))
    val gated = lastActions.fold(joined) { la =>
      val last = la.groupBy("sku").agg(max(col("action_ts")).as("last_action_ts"))
      joined.join(broadcast(last), Seq("sku"), "left")
        .filter(col("last_action_ts").isNull ||
          lit(batchTimeMs) - col("last_action_ts") >= intervalMs)
    }
    gated
      .select(col("sku"), col("current_price"), col("lowest_comp"),
        F.targetPrice(col("current_price"), col("lowest_comp"),
          col("min_price"), col("max_price"), col("step")).as("target_price"))
      .filter(col("target_price") =!= col("current_price"))
  }

  /** Per-SKU last action time from the JSONL decision log; None when the
    * log does not exist yet (first ever batch). Re-read per trigger: the
    * log is action-sized (decisions, not offers), so this is a small
    * scan — at warehouse scale the same lookup reads the K4-partitioned
    * log's latest partition or a state store. The existence check is
    * one metadata call, so a first batch never resolves a missing path.
    */
  private def lastActionTs(spark: SparkSession, actionsDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(actionsDir)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else Some(spark.read.schema(StructType(Seq(
        StructField("sku", LongType),
        StructField("action_ts", LongType))))
      .json(actionsDir))
  }

  /** The oracle-checked form of the repricer (q_repricer_actions): land
    * lineitem-derived offers as NDJSON, run the streaming repricer to
    * completion (AvailableNow) against a part-derived settings
    * dimension, and return the decision log — the driver gate hashes
    * the END-TO-END streaming path (landing ingest → ignored-merchant
    * drop → lowest-comp → clamp+hysteresis target → JSONL action log),
    * not just the batch helper. The tmp location is
    * [[graft.Scratch.fresh]]: digest-keyed and wiped per call.
    */
  /** Landing-shard count for the oracle rows: the NDJSON landing write
    * is corpus-sized, and a single-file landing serializes the whole
    * corpus through one JSON encoder core (measured at sf10: the write,
    * not the stream, dominated the wall). Batch identity is defined by
    * the CHECKPOINT (one drain per logical batch), never by file count,
    * so sharding the landing is free parallelism.
    */
  val LandingShards = 16

  def repricerActions(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.fresh(spark, dir, "repricer_q")
    val (landing, actions, ckpt) = (s"$tmp/landing", s"$tmp/actions", s"$tmp/ckpt")
    graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey").as("sku"),
        col("l_suppkey").cast("string").as("merchant"),
        col("l_extendedprice").as("price"))
      .coalesce(LandingShards).write.json(landing)
    val settings = graft.Tables.load(spark, dir, "part").select(
      col("p_partkey").as("sku"),
      col("p_retailprice").as("current_price"),
      F.roundHalfUp(col("p_retailprice") * 0.8, 2).as("min_price"),
      F.roundHalfUp(col("p_retailprice") * 1.2, 2).as("max_price"),
      lit(50.0).as("step"))
    // no per-trigger file cap: the whole landing is ONE logical batch
    StreamOracle.drain(start(spark, landing, settings, Seq("7"), actions, ckpt,
      maxFilesPerTrigger = None), "repricer")
    val r = spark.read
      .schema("sku LONG, current_price DOUBLE, lowest_comp DOUBLE, target_price DOUBLE")
      .json(actions)
      .select("sku", "current_price", "lowest_comp", "target_price")
    graft.Out.sorted(r)(col("sku"))
  }

  /** Millisecond batch times of [[repricerStream]]'s three triggers and
    * the per-SKU cadence: batch 1 fires 30 s after batch 0 (INSIDE the
    * 1-minute interval — its repeat actions are gated), batch 2 fires
    * EXACTLY interval_min after batch 0 — the `elapsed >= interval`
    * EQUALITY (PRICEBOT_SPEC_V2.md:93's cadence rule): a SKU acted on
    * at t0 is eligible again at precisely t0 + 60 000 ms, while a SKU
    * whose last action was batch 1 (30 s ago) is still gated. Both
    * sides of the boundary are inside the driver hash, and the
    * adversarial corpus plants a family on each side.
    */
  val StreamT0 = 1700000000000L
  val StreamTimes: Seq[Long] = Seq(StreamT0, StreamT0 + 30000L, StreamT0 + 60000L)
  val StreamIntervalMin = 1

  /** The oracle-checked MULTI-BATCH streaming repricer
    * (q_repricer_stream) — [[repricerActions]] plus the two pieces that
    * need more than one trigger to exist at all: the per-batch progress
    * stamps (`batch_id`, `action_ts` — A12) and the `interval_min`
    * cadence gate (T5), both inside the driver hash. Three offer
    * batches land sharded and drain one trigger each (the checkpoint
    * defines batch identity — a restarted AvailableNow stream admits
    * exactly the files prior drains have not seen), the injected clock
    * stamps each trigger with [[StreamTimes]], and the oracle replays
    * the batch-by-batch fold: batch 0 acts on every changed price, batch 1
    * (30 s later) only on SKUs batch 0 did NOT act on, batch 2 (2 min
    * later) on every changed price again — the JSONL decision log is
    * hashed with its stamps, so the cadence rule itself is inside the
    * gate, not just spec'd.
    */
  def repricerStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.fresh(spark, dir, "repricer_s")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (landing, actions, ckpt) = (s"$tmp/landing", s"$tmp/actions", s"$tmp/ckpt")
    val offers = graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").as("sku"),
        col("l_suppkey").cast("string").as("merchant"),
        col("l_extendedprice").as("price"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
    val settings = graft.Tables.load(spark, dir, "part").select(
      col("p_partkey").as("sku"),
      col("p_retailprice").as("current_price"),
      F.roundHalfUp(col("p_retailprice") * 0.8, 2).as("min_price"),
      F.roundHalfUp(col("p_retailprice") * 1.2, 2).as("max_price"),
      lit(50.0).as("step"),
      lit(StreamIntervalMin).as("interval_min"))
    // land each offer batch SHARDED (the corpus-sized JSON encode runs
    // on LandingShards cores, not one) and drain one trigger per batch:
    // the CHECKPOINT defines batch identity — a restarted AvailableNow
    // stream admits exactly the files the previous drains have not
    // seen, so each drain is one logical batch whatever its file count
    // (this also retires the staged-mtime trick: trigger order is drain
    // order, not file-listing order)
    for (k <- 0 until 3) {
      // the clock is keyed to THIS drain's index, captured per start()
      // call — an extra trigger inside a drain (e.g. a no-data batch on
      // the AvailableNow tail) re-reads the same stamp instead of
      // consuming the next drain's, so the cadence gate (T5) always
      // tests the interval between the drains it names
      val clock = () => StreamTimes(k)
      val staging = s"$tmp/stage$k"
      offers.filter(pmod(col("l_orderkey"), lit(3)) === k)
        .drop("l_orderkey")
        .coalesce(LandingShards).write.json(staging)
      Publish.parts(fs, new org.apache.hadoop.fs.Path(staging),
        new org.apache.hadoop.fs.Path(landing), s"b$k")
      StreamOracle.drain(start(spark, landing, settings, Seq("7"), actions, ckpt,
        clock, maxFilesPerTrigger = None), s"repricer batch $k")
    }
    val r = spark.read
      .schema("sku LONG, current_price DOUBLE, lowest_comp DOUBLE, " +
        "target_price DOUBLE, batch_id LONG, action_ts LONG")
      .json(actions)
      .select("sku", "batch_id", "action_ts", "current_price",
        "lowest_comp", "target_price")
    graft.Out.sorted(r)(col("sku"), col("batch_id"))
  }

  /** Start the streaming repricer over an NDJSON offers landing dir.
    * `clock` stamps each batch's decision time (injectable so cadence
    * tests are deterministic); actions carry it as `action_ts`.
    */
  def start(spark: SparkSession, landingDir: String, settings: DataFrame,
            ignoredMerchants: Seq[String], actionsDir: String,
            checkpointDir: String,
            clock: () => Long = () => System.currentTimeMillis(),
            maxFilesPerTrigger: Option[Int] = Some(1)): StreamingQuery = {
    val reader = spark.readStream.schema(offerSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    StateStores.start(spark,
      reader.json(landingDir)
        .writeStream
        .outputMode(OutputMode.Update)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val now = clock()
          computeActions(batch, settings, ignoredMerchants,
              lastActionTs(batch.sparkSession, actionsDir), now)
            .withColumn("batch_id", lit(batchId))
            .withColumn("action_ts", lit(now))
            .write.mode(SaveMode.Append).json(actionsDir)
        },
      checkpointDir, StateStores.SessionDefault)
  }
}
