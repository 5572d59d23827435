package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.VectorOps
import graft.sources.Publish

/** Streaming maintenance of the persisted IVF-PQ index — the scheduled
  * 100-TB ingest job expressed as one Structured Streaming program.
  * Arriving vector batches land in a parquet directory; each
  * micro-batch is admitted through [[VectorOps.ivfPqAddBatch]] (one
  * broadcast assign + one broadcast encode against the STORED
  * quantizers — zero Lloyd iterations, AnnIngestStreamSpec meters it)
  * into its own batch-addressed delta table, and whenever the number
  * of committed deltas reaches `compactEvery` the job folds them back
  * into the base lists with [[VectorOps.ivfPqCompact]] (pure partition
  * rewrite, crash-safe manifest swap).
  *
  * This is what BOUNDS the serving plan under continuous ingest: at
  * any instant a search reads at most `compactEvery` delta scans
  * beside the base scan, however long the stream has been running —
  * the IVF-PQ twin of the LSM compaction discipline. Every verb the
  * job composes is already individually crash-safe (checkpointed
  * exactly-once admission per batch; idempotent per-batch overwrite;
  * heal-before-read compaction manifest), so the stream can die and
  * restart at ANY point: re-running admits only batches the
  * checkpoint has not seen, an interrupted compaction is finished
  * or rolled back by the next verb that touches the index, and a
  * batch that a completed compaction already FOLDED before the
  * checkpoint recorded its offset is skipped via the folded-batch
  * watermark ([[VectorOps.foldedWatermark]], written at the compaction
  * commit — so "folded" and "skippable" can never disagree).
  * AnnIngestStreamSpec drives a mid-stream restart and the
  * fold-then-replay crash window end-to-end.
  *
  * Single-writer like every mutation verb here (VectorOps.indexBase's
  * contract): one ingest stream per index location.
  */
object AnnIngest {

  /** Landed vector batches carry the embeddings-table schema. */
  val VecSchema = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"

  /** Batch-addressed delta tables: `lists_delta_s<micro-batch id>`.
    * The checkpoint makes micro-batch ids stable across restarts, so a
    * replayed batch OVERWRITES its own table instead of duplicating
    * rows — [[VectorOps.ivfPqAddBatch]]'s idempotent-admission
    * contract keyed by the stream's own progress tracking.
    */
  val DeltaPrefix: String = VectorOps.StreamDeltaPrefix

  /** Fold committed deltas back into the base lists once this many
    * have accumulated — the search-scan-count bound. Deploy config,
    * exactly like an LSM level size.
    */
  val CompactEvery = 2

  /** Start the ingest stream: parquet landing dir → per-batch delta
    * admission → threshold-triggered compaction. `foreachBatch` is the
    * right primitive for the same reason as the repricer: admission is
    * a per-trigger BATCH job against the stored quantizers (broadcast
    * assign + encode + one partitioned write), not a row-at-a-time
    * fold — the stream contributes exactly-once batch tracking and
    * restart recovery, the index verbs contribute their own
    * idempotence.
    */
  def start(spark: SparkSession, landingDir: String, base: String,
            checkpointDir: String,
            compactEvery: Int = CompactEvery): StreamingQuery =
    StateStores.start(spark,
      spark.readStream
        .schema(VecSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landingDir)
        .writeStream
        .outputMode(OutputMode.Update)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          admit(batch.sparkSession, landingDir, base, batch, batchId,
            compactEvery,
            streamIdentity(batch.sparkSession, checkpointDir))
        },
      checkpointDir, StateStores.SessionDefault)

  /** One micro-batch admission — the foreachBatch body, named so the
    * crash-window spec can replay it with a chosen batch id. The
    * exactly-once contract across the compaction swap: heal FIRST (a
    * compaction that reached its commit point before a crash finishes
    * here, which re-establishes the folded-batch watermark), then skip
    * any batch the watermark says a completed compaction already
    * folded. Without the skip, the window "compaction committed, stream
    * checkpoint offset not yet" would re-admit the folded batch on
    * restart — [[VectorOps.ivfPqAddBatch]]'s idempotent overwrite
    * re-commits the delta table, and every (vec_id, sub) code row of
    * the batch would be served (and later merged) TWICE.
    */
  private[graft] def admit(s: SparkSession, landingDir: String,
      base: String, batch: DataFrame, batchId: Long,
      compactEvery: Int, streamId: Option[String] = None): Unit = {
    VectorOps.healCompaction(s, base)
    val wm = VectorOps.foldedWatermark(s, base)
    streamId.foreach(id => assertStreamIdentity(s, base, id, wm))
    if (batchId <= wm) return
    VectorOps.ivfPqAddBatch(s, landingDir, base, batch,
      s"$DeltaPrefix$batchId")
    val pending = VectorOps.committedDeltas(s, base, DeltaPrefix)
    if (pending.size >= compactEvery)
      VectorOps.ivfPqCompact(s, base, pending)
  }

  private def identityPath(base: String) =
    new org.apache.hadoop.fs.Path(base, "_stream_identity.json")

  /** The checkpoint's immutable query id (Spark writes it to
    * `<checkpoint>/metadata` at the query's FIRST start and re-reads it
    * on every restart — a wiped or replaced checkpoint gets a fresh
    * one). None before the first trigger has materialized it.
    */
  private[graft] def streamIdentity(
      s: SparkSession, checkpointDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    idIn(p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  /** The `"id"` of the small JSON file at `p`; None when it is absent
    * or unreadable.
    */
  private def idIn(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    try Publish.read(fs, p).flatMap(
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(_).map(_.group(1)))
    catch { case _: java.io.IOException => None }

  /** Closes the WRONG-CHECKPOINT data-loss window of the folded-batch
    * watermark: the watermark skip keys on raw micro-batch ids, which
    * are only meaningful relative to the checkpoint that issued them.
    * If the checkpoint is wiped or replaced while the index (and its
    * positive watermark) is retained, the fresh stream restarts at
    * batch 0 and every batch with id ≤ watermark would be SILENTLY
    * dropped. The index therefore stamps the query id of the
    * checkpoint that feeds it: a mismatching id against a positive
    * watermark fails LOUDLY instead of losing data; with nothing
    * folded yet (watermark −1, the skip can drop nothing) a new
    * identity simply takes over the stamp.
    */
  private[graft] def assertStreamIdentity(
      s: SparkSession, base: String, id: String, watermark: Long): Unit = {
    val p = identityPath(base)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stamped = idIn(fs, p)
    if (stamped.contains(id)) return
    // Takeover is legal ONLY while nothing has been folded. A missing
    // stamp does NOT soften that: a pre-stamp legacy index, a manually
    // cleaned marker, or a crash inside the stamp replacement all look
    // identical to a wiped checkpoint from here, and admitting the new
    // identity against a positive watermark reopens the exact
    // silent-drop window this guard exists to close. Operators of
    // legacy indexes must explicitly clear _folded_watermark (wiping
    // the fold history they can no longer attribute) to hand the index
    // to a new stream.
    require(watermark < 0L,
      s"index at $base carries a folded-batch watermark of $watermark " +
        stamped.fold("but no identity stamp (pre-stamp index, or the " +
          "marker was removed)")(o => s"stamped by stream $o") +
        s", and the current checkpoint identifies as $id: its " +
        "restarted batch ids <= the watermark would be silently " +
        "dropped. Re-point the stream at the original checkpoint, or " +
        "wipe the index (including _folded_watermark) to re-ingest " +
        "from scratch.")
    // never absent while replaced: an absent stamp is the state the
    // require above refuses to adopt against a positive watermark
    Publish.file(fs, p, s"""{"id":"$id"}\n""")
  }

  /** Driver-oracle row q_ann_ingest_stream — the continuous-ingest
    * lifecycle run THROUGH the stream: build the index over the
    * two-batch-held-out base corpus, land the two held-out 10% batches
    * as separate parquet files (one micro-batch each), drain the
    * ingest stream — batch 1 admits as a delta, batch 2 admits and
    * trips the [[CompactEvery]] threshold, folding both — then search
    * the resulting layout. The final rows are identical to the chain
    * row's (same quantizer training set, same arrivals; the stream
    * only changes WHO schedules the verbs), so the row rides the chain
    * oracle verbatim: stream-ingest-then-search ≡ add-add-then-search
    * ≡ encode-all-then-search, the batch law extended to the streaming
    * scheduler. The search discovers committed deltas itself, so the
    * row hashes green whether or not compaction fired — WHERE the
    * rows live is pinned by AnnIngestStreamSpec (zero deltas after the
    * threshold trips), WHAT they are is pinned here.
    *
    * Fresh working root per call (landing, checkpoint, index): this
    * row prices the WHOLE lifecycle — train + two streamed admissions
    * + compaction + search — like the compact row it extends; the
    * steady-state costs are priced by q_ann_index_search (serve) and
    * q_ann_index_add_batch (admit).
    */
  def annIngestStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.fresh(spark, dir, "annin_q")
    val base = s"$tmp/index"
    val corpus = VectorOps.embDistributed(spark, dir)
    val held = Seq(VectorOps.AddResidue, VectorOps.AddResidue2)
    val baseCorpus = corpus
      .filter(!col("vec_id").%(VectorOps.AddModulus).isin(held: _*))
    VectorOps.ivfPqPersistFrames(spark, baseCorpus, baseCorpus, base)
    held.foreach { residue =>
      corpus.filter(col("vec_id") % VectorOps.AddModulus === residue)
        .coalesce(1)
        .write.mode("append").parquet(s"$tmp/landing")
    }
    StreamOracle.drain(
      start(spark, s"$tmp/landing", base, s"$tmp/ckpt"), "ann ingest")
    VectorOps.served(VectorOps.searchStored(spark, dir, base,
        VectorOps.committedDeltas(spark, base, DeltaPrefix)),
      VectorOps.fromBatch)
  }
}
