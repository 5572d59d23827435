package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.LongType

import graft.operators.TextOps

/** Streaming near-duplicate detection — the continuous-ingest face of
  * the batch MinHash pipeline (TextOps.minhashNearDup): as documents
  * land, each is banded into its LSH buckets and compared (exact
  * Jaccard on shingle sets) against ONLY the documents already resident
  * in those buckets — never all-pairs, the same candidate-generation
  * contract as the batch plan, evaluated incrementally.
  *
  * Map side is the IDENTICAL arithmetic as the batch index (one md5
  * per shingle, k linear permutations mod 2^31-1, md5 band hashes), so
  * stream and batch agree on banding byte-for-byte. The stateful side
  * is a `flatMapGroupsWithState` keyed by (band_idx, band_hash):
  *
  *   - State per bucket = the (doc_id, shingle-set) list of residents,
  *     capped at [[TextOps.MaxBandFrequency]]: when a bucket exceeds
  *     the cap it flips to suppressed and CLEARS its resident list —
  *     the online form of the batch hot-band cap (the batch drops hot
  *     buckets retroactively; a stream cannot un-emit, so pairs found
  *     before the bucket went hot stand — the standard online/offline
  *     difference, pinned by StreamNearDupSpec). Suppressed buckets
  *     hold O(1) state, so boilerplate storms cannot grow memory.
  *   - Event-time timeout: a bucket idle past the watermark horizon is
  *     dropped entirely. Live state is therefore bounded by ACTIVE
  *     bucket cardinality × cap, regardless of stream length.
  *   - A pair sharing several bands emits once per shared band
  *     (at-least-once, like every ingest-side dedup signal here); the
  *     reader — or the end-of-day batch compactor — collapses them by
  *     (doc_a, doc_b). Within one bucket a pair emits exactly once.
  */
object StreamNearDup {

  val Watermark = "1 hour"

  /** One emitted candidate: a bucket-confirmed near-dup pair. */
  case class PairHit(doc_a: Long, doc_b: Long, jaccard: Double, band_idx: Int)

  /** Non-private: Catalyst's generated encoder projections cannot
    * access private classes. */
  case class BandKey(band_idx: Int, band_hash: String)
  case class BandedDoc(
      band_idx: Int, band_hash: String, doc_id: Long,
      ts: java.sql.Timestamp, shingles: Seq[String])

  /** Residents with an IDENTICAL shingle set, stored once: exact text
    * clones land in the same bucket at every band, so a clone-heavy
    * corpus (web data is ~30% exact-dup) makes flat per-doc residency
    * pay the full Jaccard confirm per (arrival, clone) even though
    * every member of the group yields the same value. Grouping is the
    * stream-side analog of the batch banders' exact-clone pre-collapse
    * (TextOps.cloneGroupKey): one set-intersection per (arrival,
    * GROUP), then pair emission fans out to members — the emitted pair
    * set is unchanged while confirm compute drops by the clone
    * multiplicity. Arrays, not Seq: the state encoder decodes Seq into
    * a cons list whose apply(i) is O(i) (the q_embed_stream lesson).
    */
  case class CloneGroup(shingles: Array[String], members: Array[Long])
  case class BucketState(groups: Array[CloneGroup], suppressed: Boolean)

  /** Per-row banding: shingles → numeric minhash signature → band rows.
    * Projection boundaries between the steps keep each lambda's input a
    * materialized attribute (see TextOps.shinglesOf's caveat).
    */
  private[streaming] def banded(docs: DataFrame): DataFrame = {
    val prime = TextOps.MinhashPrime
    val hs = transform(col("shingles"),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast(LongType) % prime)
    val mhCols = TextOps.minhashPerms.zipWithIndex.map { case ((a, b), p) =>
      array_min(transform(col("hs"), h => (lit(a) * h + lit(b)) % prime)).as(s"mh$p")
    }
    val r = TextOps.RowsPerBand
    val bandCols = (0 until TextOps.Bands).map { b =>
      md5(concat_ws("_",
        (0 until r).map(i => col(s"mh${b * r + i}").cast("string")): _*))
    }
    docs
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("ts"), TextOps.shinglesOf(col("ws")).as("shingles"))
      .select(col("doc_id"), col("ts"), col("shingles"), hs.as("hs"))
      .select(Seq(col("doc_id"), col("ts"), col("shingles")) ++ mhCols: _*)
      .select(col("doc_id"), col("ts"), col("shingles"),
        posexplode_outer(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
  }

  private def rnd6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Batch-working form of one clone group: the membership plus its
    * shingle set BUILT ONCE — the per-arrival confirm then probes the
    * arrival's set against stored arrays with zero allocation. (The
    * earlier flat form rebuilt a resident's Set per (arrival, resident)
    * pair: O(arrivals · residents · |shingles|) hash inserts per
    * bucket-batch, the dominant cost of the sf10 drain.)
    */
  private final class WorkGroup(
      val shingles: Array[String], val set: Set[String],
      var members: List[Long])

  private def bucketFn(
      key: BandKey, rows: Iterator[BandedDoc],
      state: GroupState[BucketState]): Iterator[PairHit] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val st0 = state.getOption.getOrElse(
      BucketState(Array.empty[CloneGroup], suppressed = false))
    var suppressed = st0.suppressed
    var groups: List[WorkGroup] = st0.groups.toList.map { g =>
      new WorkGroup(g.shingles, g.shingles.toSet, g.members.toList)
    }
    var total = groups.iterator.map(_.members.size).sum
    val out = Seq.newBuilder[PairHit]
    // deterministic in-batch order (the iterator's order is partition
    // internals, not data semantics)
    val batch = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
    for (d <- batch) {
      if (!suppressed) {
        if (total >= TextOps.MaxBandFrequency) {
          suppressed = true
          groups = Nil
          total = 0
        } else {
          val dArr = d.shingles.toArray
          val dSet = dArr.toSet
          var own: WorkGroup = null
          for (g <- groups) {
            // allocation-free intersection count against the stored array
            var inter = 0
            val arr = g.shingles
            var i = 0
            while (i < arr.length) {
              if (dSet.contains(arr(i))) inter += 1
              i += 1
            }
            val union = dSet.size + arr.length - inter
            val jac = rnd6(inter.toDouble / union)
            if (jac >= TextOps.JaccardThreshold)
              for (pid <- g.members if pid != d.doc_id)
                out += PairHit(math.min(pid, d.doc_id), math.max(pid, d.doc_id),
                  jac, key.band_idx)
            if (own == null && inter == arr.length && dSet.size == arr.length)
              own = g
          }
          if (own != null) own.members ::= d.doc_id
          else groups ::= new WorkGroup(dArr, dSet, List(d.doc_id))
          total += 1
        }
      }
    }
    // ONE state write per (bucket, batch), not per row: the resident
    // groups are O(distinct-sets·|shingles|) and the store serializes
    // the whole value on every update — a per-row update makes a busy
    // bucket's batch O(rows·state) bytes. The batch is sorted by ts, so
    // the last row's event time is the max — the same timeout the
    // per-row form ended on.
    if (batch.nonEmpty) {
      state.update(BucketState(
        groups.map(g => CloneGroup(g.shingles, g.members.toArray)).toArray,
        suppressed))
      state.setTimeoutTimestamp(batch.last.ts.getTime, Watermark)
    }
    out.result().iterator
  }

  /** The shared transform: watermark → band → per-bucket incremental
    * candidate + confirm.
    */
  def pairs(docs: DataFrame): Dataset[PairHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    banded(docs.withWatermark("ts", Watermark))
      .as[BandedDoc]
      .groupByKey(d => BandKey(d.band_idx, d.band_hash))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(bucketFn)
  }

  /** Streaming job: NDJSON landing → near-dup pairs → append sink. */
  def start(spark: SparkSession, landingDir: String, outDir: String,
            checkpointDir: String): StreamingQuery =
    StateStores.start(spark,
      pairs(
        spark.readStream
          .schema(StreamDedup.docSchema)
          .option("maxFilesPerTrigger", 1)
          .json(landingDir))
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir),
      checkpointDir, StateStores.CpuBound)
}
