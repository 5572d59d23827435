package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.VectorOps
import graft.sources.Publish

/** Streaming embedding near-duplicate admission — the continuous-ingest
  * face of the batch multi-probe LSH pipeline
  * (VectorOps.embedNearDupCandidates): as vectors land, each is
  * sign-bucketed by the SAME [[VectorOps.NPlanes]] md5-derived
  * hyperplanes, compared (exact dot product) against ONLY the vectors
  * already resident in its Hamming≤1 probe buckets, and a pair is
  * emitted when the rounded cosine clears [[VectorOps.NearDupCosine]] —
  * never all-pairs, the batch candidate-generation contract evaluated
  * incrementally.
  *
  * Probe/residency split: an arrival produces one HOME row (its own
  * bucket — compares against residents, then becomes resident) and one
  * PROBE row per single-plane flip (compares only). Because the
  * Hamming≤1 relation is symmetric, the later vector of any qualifying
  * pair always reaches the earlier one's home bucket — through its
  * home row when the patterns are equal, through a probe row when they
  * differ in one plane — so every batch pair is found EXACTLY once,
  * independent of arrival order (StreamEmbedSpec pins this; the driver
  * oracle row q_embed_stream hashes the streamed pair set against the
  * batch pair SQL).
  *
  * State per bucket = resident (vec_id, vector) list, capped at
  * [[MaxBucketResidents]]: past the cap the bucket flips to suppressed
  * and clears — the online form of the batch plane-derivation defense
  * against over-occupied buckets (a batch recomputes its plane count
  * per query; a stream fixes it at START time, so the cap bounds both
  * state and per-arrival work between resizings; the plane count and
  * cap are DEPLOY CONFIG — parameters of [[pairs]]/[[start]] — sized
  * to the expected corpus exactly like an IVF nlist, with three
  * oracle-checked settings: q_embed_stream derives the count from the
  * corpus footer at start, q_embed_stream_wide pins the widened dial,
  * q_embed_stream_capped pins a deliberately binding cap). The
  * cap never binds at the oracle SFs (max bucket occupancy ~30 at
  * sf0.01, ~400 at sf0.1, cap 1024), so the streamed set stays
  * arrival-order independent there; the suppression path is pinned by
  * StreamEmbedSpec instead. Event-time timeout drops buckets idle past
  * the watermark horizon, bounding live state by active-bucket
  * cardinality × cap regardless of stream length.
  */
object StreamEmbed {

  val Watermark = "1 hour"

  /** Resident-list cap per bucket (see class doc). */
  val MaxBucketResidents = 1024

  /** The deliberately BINDING cap setting of the q_embed_stream_capped
    * oracle row: small enough that several buckets overflow at the
    * driver SFs, so the suppression path itself sits inside the hash
    * gate (the oracle replays the online rule exactly — a pair is
    * emitted iff fewer than this many home arrivals preceded the later
    * vector in the earlier vector's home bucket). 30 splits the sf0.01
    * pair set non-vacuously: prior-arrival counts there are
    * {12, 28, 28, 39}, so three pairs survive and one is cut.
    */
  val CappedResidents = 30

  /** One emitted admission signal: a probe-confirmed near-dup pair. */
  case class EmbHit(vec_a: Long, vec_b: Long, cos_sim: Double)

  /** Non-private: Catalyst's generated encoder projections cannot
    * access private classes. */
  case class BucketKey(bucket: Long)
  // embeddings as PRIMITIVE arrays end-to-end: the encoder decodes
  // array<double> into double[] with O(1) unboxed access — a Seq field
  // here decodes into a cons list whose apply(i) is O(i) pointer
  // chasing, turning the 64-dim dot into ~64²/2 dereferences per pair.
  // Together with the one-update-per-batch rule below this took
  // q_embed_stream at sf1 from 161 s to 7.3 s.
  case class ProbedVec(
      bucket: Long, is_home: Boolean, vec_id: Long,
      ts: java.sql.Timestamp, embedding: Array[Double])
  case class BucketState(
      vecs: List[(Long, Array[Double])], suppressed: Boolean)

  val docSchema = "vec_id LONG, ts TIMESTAMP, embedding ARRAY<DOUBLE>"

  /** Per-row probing: sign bucket via the shared hyperplane family,
    * then one home row + one probe row per single-plane flip.
    */
  private[streaming] def probed(
      vecs: DataFrame, n: Int = VectorOps.NPlanes): DataFrame = {
    val b = vecs.select(col("vec_id"), col("ts"), col("embedding"),
      VectorOps.bucketOfN(col("embedding"), n).as("home"))
    b.select(col("vec_id"), col("ts"), col("embedding"),
        col("home"), explode(VectorOps.hamming1Probes(col("home"), n)).as("bucket"))
      .select(col("bucket"), (col("bucket") === col("home")).as("is_home"),
        col("vec_id"), col("ts"), col("embedding"))
  }

  private def rnd6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private def bucketFn(maxResidents: Int)(
      key: BucketKey, rows: Iterator[ProbedVec],
      state: GroupState[BucketState]): Iterator[EmbHit] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var st = state.getOption.getOrElse(BucketState(Nil, suppressed = false))
    val out = Seq.newBuilder[EmbHit]
    // deterministic in-batch order (the iterator's order is partition
    // internals, not data semantics)
    val batch = rows.toSeq.sortBy(r => (r.ts.getTime, r.vec_id))
    for (v <- batch) {
      if (!st.suppressed) {
        if (st.vecs.length >= maxResidents) {
          st = BucketState(Nil, suppressed = true)
        } else {
          for ((pid, pemb) <- st.vecs if pid != v.vec_id) {
            var d = 0.0
            var i = 0
            val a = v.embedding
            while (i < a.length) { d += a(i) * pemb(i); i += 1 }
            val cos = rnd6(d)
            if (cos >= VectorOps.NearDupCosine)
              out += EmbHit(math.min(pid, v.vec_id),
                math.max(pid, v.vec_id), cos)
          }
          if (v.is_home) st = st.copy(vecs = (v.vec_id, v.embedding) :: st.vecs)
        }
      }
    }
    // ONE state write per (bucket, batch), not per row: the resident
    // list is O(cap) and the store serializes the whole value on every
    // update — a per-row update makes a hot bucket's batch O(rows·cap)
    // state bytes. The batch is sorted by ts, so the last row's event
    // time is the max — the same timeout the per-row form ended on.
    if (batch.nonEmpty) {
      state.update(st)
      state.setTimeoutTimestamp(batch.last.ts.getTime, Watermark)
    }
    out.result().iterator
  }

  /** The shared transform: watermark → probe rows → per-bucket
    * incremental candidate + confirm. `nPlanes` and `maxResidents` are
    * the DEPLOY KNOBS of the admission stream — a production deployment
    * sizes the plane count to the expected corpus exactly like an IVF
    * nlist (wider planes → more, smaller buckets) and the resident cap
    * to the per-bucket memory budget. Both default to the historical
    * settings; q_embed_stream pins the default, q_embed_stream_wide the
    * widened planes, q_embed_stream_capped a deliberately binding cap.
    */
  def pairs(vecs: DataFrame, nPlanes: Int = VectorOps.NPlanes,
            maxResidents: Int = MaxBucketResidents): Dataset[EmbHit] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    probed(vecs.withWatermark("ts", Watermark), nPlanes)
      .as[ProbedVec]
      .groupByKey(v => BucketKey(v.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(bucketFn(maxResidents))
  }

  /** Knob manifest persisted beside the checkpoint state. The plane
    * count and resident cap are fixed at START time, and the bucket
    * state in the checkpoint is keyed by the plane family that wrote
    * it — a restore under a DIFFERENT derived count would silently mix
    * bucketings (old-bucket residents never probed by new-bucket
    * arrivals: missing pairs, not an error). First start records the
    * knobs; every restart fails fast on mismatch with the rebuild
    * procedure (docs/SCALE.md "Resizing the embedding admission
    * stream") instead of producing wrong pairs.
    */
  private def guardKnobs(spark: SparkSession,
      checkpointDir: String, nPlanes: Int, maxResidents: Int): Unit = {
    // Resolved through Hadoop's FileSystem so the manifest lands BESIDE
    // the checkpoint on whatever filesystem hosts it — a production
    // restart points at hdfs:// or s3a://, where a java.nio path would
    // either throw at start() or silently guard a bogus local file.
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "graft_knobs.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val cur = s"""{"n_planes":$nPlanes,"max_residents":$maxResidents}"""
    Publish.read(fs, p).map(_.trim) match {
      case Some(stored) if stored != cur =>
        throw new IllegalStateException(
          s"StreamEmbed checkpoint at $checkpointDir was built with " +
            s"knobs $stored but this start asked for $cur. Restoring " +
            "under different LSH knobs would silently mix bucketings " +
            "(checkpointed residents keyed by the old buckets are never " +
            "probed by new-bucket arrivals — missing pairs, not a " +
            "crash). Rebuild instead: stop the query, delete the " +
            "checkpoint dir and the emitted pairs, restart with the new " +
            "knobs, and re-admit the landing history (docs/SCALE.md, " +
            "\"Resizing the embedding admission stream\").")
      case Some(_) => ()
      case None => Publish.file(fs, p, cur + "\n")
    }
  }

  /** Streaming job: NDJSON landing → near-dup pairs → append sink. */
  def start(spark: SparkSession, landingDir: String, outDir: String,
            checkpointDir: String, nPlanes: Int = VectorOps.NPlanes,
            maxResidents: Int = MaxBucketResidents): StreamingQuery = {
    guardKnobs(spark, checkpointDir, nPlanes, maxResidents)
    StateStores.start(spark,
      pairs(
        spark.readStream
          .schema(docSchema)
          .option("maxFilesPerTrigger", 1)
          .json(landingDir),
        nPlanes, maxResidents)
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir),
      checkpointDir, StateStores.LandedBytes(landingDir))
  }
}
