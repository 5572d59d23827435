package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.operators.TextOps

/** Streaming exact deduplication — the continuous-ingest face of the
  * batch dedup suite (TextOps.exactDedup): as documents land, emit each
  * first-seen normalized content exactly once.
  *
  * Scale contract: `dropDuplicatesWithinWatermark` keeps ONE state row
  * per distinct key seen within the watermark horizon and drops key
  * state once event time passes it — bounded state, unlike plain
  * `dropDuplicates` on a stream, whose key state grows forever (the
  * state-store version of an unbounded hash set; at 100 TB/day of
  * documents that is guaranteed OOM). The tradeoff is explicit: a
  * duplicate arriving later than the watermark re-emits, which is the
  * standard at-least-once dedup contract for pipeline ingest — the
  * batch [[TextOps.exactDedup]] pass downstream remains the exact
  * end-of-day compactor.
  *
  * The dedup key is [[TextOps.bowHash]] — the SAME normalized
  * bag-of-words md5 the batch query groups on, so stream and batch
  * agree on what "duplicate" means byte-for-byte (StreamDedupSpec pins
  * streamed output == batch canonical set on identical input).
  */
object StreamDedup {

  val Watermark = "1 hour"

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("text", StringType)))

  /** The shared transform: watermark → key → keep first per key. */
  def deduped(docs: DataFrame): DataFrame =
    docs
      .withWatermark("ts", Watermark)
      .withColumn("bow_hash", TextOps.bowHash)
      .dropDuplicatesWithinWatermark("bow_hash")
      .select(col("bow_hash"), col("doc_id"), col("ts"))

  /** Streaming job: NDJSON landing → dedup → append sink. */
  def start(spark: SparkSession, landingDir: String, outDir: String,
            checkpointDir: String): StreamingQuery =
    StateStores.start(spark,
      deduped(
        spark.readStream
          .schema(docSchema)
          .option("maxFilesPerTrigger", 1)
          .json(landingDir))
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir),
      checkpointDir, StateStores.LandedBytes(landingDir))
}
