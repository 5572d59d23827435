package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Sketches
import graft.sources.{ParquetMeta, Publish}

/** Streaming count-min sketch maintenance — the merge law in motion:
  * each micro-batch builds its own Depth×Width cell frame
  * ([[Sketches.cmsCells]]) and cell-wise ADDS it into the running
  * sketch table. State outside the stream is the sketch itself —
  * fixed-size no matter how many keys ever streamed.
  *
  * Consistency contract: the running cells table is rewritten via
  * staged-directory swap (always either the old or the new complete
  * sketch on disk, same pattern as Sinks.upsertByKey), and a tiny
  * batch-id registry makes foreachBatch replays idempotent — a
  * re-delivered batch id is skipped instead of double-counted. The
  * registry lands after the swap, so the one non-atomic window
  * (crash between swap and registry append) degrades to a re-merge on
  * replay — the standard two-phase tradeoff short of a transactional
  * table format, and the scaladoc'd reason a production deployment
  * swaps this sink for MERGE INTO on one.
  */
object StreamSketch {

  val keySchema: StructType = StructType(Seq(StructField("key", LongType)))

  private def cellsPath(dir: String) = s"$dir/cells"
  private def batchesPath(dir: String) = s"$dir/batches"

  /** Generic staged-swap merge of a per-batch sketch frame into the
    * running table at `table`, with the batch-id registry at `registry`
    * — the shared two-phase skeleton of every mergeable-sketch sink.
    *
    * Registry format note: the marker-file registry replaced an earlier
    * parquet batch_id table and is NOT backward compatible with it — a
    * checkpoint whose registry was written in the parquet format finds
    * no markers and re-merges already-merged batches (double-counting
    * CMS/histogram cells, whose adds are not idempotent). Every drain
    * here lands into a fresh per-run tmp, so no cross-version resume
    * exists; a deployment that resumes long-lived checkpoints across
    * engine versions must migrate old registry rows to markers first.
    */
  private def mergeSketch(incoming: DataFrame, batchId: Long,
      table: String, registry: String)(
      combine: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = incoming.sparkSession
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Marker-FILE registry (one empty `batch_<id>` per merged batch):
    // the replay check is a metadata exists(), zero Spark jobs. The
    // previous parquet registry paid a distributed read of batchId
    // accumulated tiny files plus an append-write job on EVERY trigger
    // — two full jobs of fixed machinery per micro-batch to answer a
    // set-membership question about a handful of longs.
    val marker = new Path(registry, s"batch_$batchId")
    if (fs.exists(marker)) return

    val target = new Path(table)
    val merged =
      if (fs.exists(target)) combine(ParquetMeta.read(spark, table), incoming)
      else incoming
    val staging = new Path(table + "__staging")
    // the running sketch is bounded-tiny forever (Depth×Width cells /
    // HllBuckets registers / KmvK hashes): land it as ONE file so the
    // next trigger's read-merge opens one footer instead of a part
    // file per shuffle partition
    merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    Publish.table(fs, staging, target)

    // marker lands AFTER the swap, preserving the two-phase contract:
    // a crash in between degrades to a re-merge on replay, never a skip
    // of an unmerged batch
    fs.mkdirs(new Path(registry))
    fs.create(marker, true).close()
  }

  /** Cell-wise add `cells` into the sketch at `dir`, keyed by batchId
    * for replay idempotency.
    */
  def mergeInto(cells: DataFrame, batchId: Long, dir: String): Unit =
    mergeSketch(
      cells.select(col("d"), col("bucket"), col("cnt").cast("long").as("cnt")),
      batchId, cellsPath(dir), batchesPath(dir)) { (old, nw) =>
      old.unionByName(nw).groupBy("d", "bucket").agg(sum(col("cnt")).as("cnt"))
    }

  /** Bucket-wise MAX-merge HLL registers into `dir` — the same staged
    * swap + registry, but the combine is max, which is idempotent:
    * even a double-merged batch cannot corrupt a register table (the
    * registry is still kept so the replay contract matches the CMS
    * path, and so a re-merge is skipped, not just harmless).
    */
  def mergeRegistersInto(regs: DataFrame, batchId: Long, dir: String): Unit =
    mergeSketch(regs.select(col("bucket"), col("m")),
      batchId, s"$dir/regs", s"$dir/regs_batches") { (old, nw) =>
      old.unionByName(nw).groupBy("bucket").agg(max(col("m")).as("m"))
    }

  val centsSchema: StructType = StructType(Seq(StructField("c", LongType)))

  /** Cell-wise add histogram cells into `dir` — quantile maintenance as
    * the third instance of the staged-swap merge (combine = addition,
    * exactly the CMS law on a 1-D key).
    */
  def mergeHistogramInto(cells: DataFrame, batchId: Long, dir: String): Unit =
    mergeSketch(cells.select(col("bin"), col("cnt").cast("long").as("cnt")),
      batchId, s"$dir/hist", s"$dir/hist_batches") { (old, nw) =>
      old.unionByName(nw).groupBy("bin").agg(sum(col("cnt")).as("cnt"))
    }

  /** Streaming quantile-histogram maintenance over a long `c` landing:
    * per-batch fixed-bounds binning ([[Sketches.centsHistogram]] —
    * bounds are configuration, since a stream cannot two-pass) →
    * cell-wise merge. Running state is ≤ [[Sketches.QuantileBins]] rows
    * forever; percentile read-off is the batch query's interpolation
    * over the merged cells.
    */
  def startHistogram(spark: SparkSession, landingDir: String, sketchDir: String,
                     checkpointDir: String, lo: Long, hi: Long): StreamingQuery =
    startMerge(spark, landingDir, checkpointDir, centsSchema) { (batch, batchId) =>
      mergeHistogramInto(
        Sketches.centsHistogram(batch.select(col("c")), lo, hi),
        batchId, sketchDir)
    }

  /** Union∘sort∘take-k-merge KMV order statistics into `dir` — fourth
    * instance of the staged-swap merge; with it every mergeable sketch
    * family (CMS add, HLL max, histogram add, KMV take-k) has a
    * streaming maintenance path.
    */
  def mergeKmvInto(sketch: DataFrame, batchId: Long, dir: String): Unit =
    mergeSketch(sketch.select(col("u")),
      batchId, s"$dir/kmv", s"$dir/kmv_batches") { (old, nw) =>
      old.unionByName(nw).distinct()
        .orderBy(col("u")).limit(Sketches.KmvK)
    }

  /** Streaming KMV distinct-count maintenance: per-batch k-minimum
    * normalized hashes, merged by union∘sort∘take-k — running state is
    * ≤ [[Sketches.KmvK]] doubles forever.
    */
  def startKmv(spark: SparkSession, landingDir: String, sketchDir: String,
               checkpointDir: String): StreamingQuery =
    startMerge(spark, landingDir, checkpointDir, keySchema) { (batch, batchId) =>
      mergeKmvInto(Sketches.kmvSketch(batch.select(col("key"))),
        batchId, sketchDir)
    }

  /** Streaming HLL distinct-count maintenance: NDJSON key landing →
    * per-batch [[Sketches.hllRegisters]] → max-merge. The running state
    * is ≤ [[Sketches.HllBuckets]] rows forever, no matter how many
    * distinct keys stream through — the streaming form of the
    * fixed-memory distinct-count contract.
    */
  def startHll(spark: SparkSession, landingDir: String, sketchDir: String,
               checkpointDir: String): StreamingQuery =
    startMerge(spark, landingDir, checkpointDir, keySchema) { (batch, batchId) =>
      mergeRegistersInto(Sketches.hllRegisters(batch.select(col("key"))),
        batchId, sketchDir)
    }

  /** The shared stream scaffold of every sketch-maintenance job: NDJSON
    * landing → one file per micro-batch → the per-batch merge callback,
    * drained with AvailableNow.
    */
  private def startMerge(spark: SparkSession, landingDir: String,
      checkpointDir: String, schema: StructType)(
      merge: (DataFrame, Long) => Unit): StreamingQuery =
    StateStores.start(spark,
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landingDir)
        .writeStream
        .foreachBatch(merge),
      checkpointDir, StateStores.SessionDefault)

  /** Streaming job: NDJSON key landing → per-batch sketch → merge. */
  def start(spark: SparkSession, landingDir: String, sketchDir: String,
            checkpointDir: String): StreamingQuery =
    startMerge(spark, landingDir, checkpointDir, keySchema) { (batch, batchId) =>
      mergeInto(Sketches.cmsCells(batch.select(col("key"))), batchId, sketchDir)
    }
}
