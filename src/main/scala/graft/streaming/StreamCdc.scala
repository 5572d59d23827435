package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Streaming CDC log compaction — the continuous face of
  * [[graft.operators.Relational.cdcCompact]]: as insert/update/delete
  * ops land, each key's CURRENT state row is (re)emitted; a downstream
  * reader keeps the newest emission per key and has the compacted
  * table at every moment. This is the changelog→table materialization
  * every lakehouse streaming sink performs.
  *
  * Scale contract: state is ONE fixed-size row per live key
  * (seq, op, value, op-count) — bounded by key cardinality, not by log
  * length, and independent of batch boundaries: the update rule
  * (newest sequence wins, counts always accumulate) is associative
  * over any arrival split, so the FINAL per-key emission is identical
  * however the log is batched (StreamCdcSpec pins split-invariance;
  * q_cdc_stream hashes against the batch twin's oracle SQL verbatim —
  * same hash, not just same spec).
  */
object StreamCdc {

  val opSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** `value` is Option: the events parquet schema marks it nullable and
    * the batch twin (Relational.cdcCompact) passes nulls through — the
    * streaming encoder must accept them too, not crash on the first
    * null op value. */
  final case class Op(
      event_id: Long, user_id: Long, event_type: String, value: Option[Double])

  /** Per-key compaction state: newest-op triple + ops-seen count. */
  final case class St(seq: Long, op: String, value: Option[Double], nOps: Long)

  /** One emission = the key's current compacted row (seq carried so the
    * reader can keep the newest; n_ops monotone breaks same-seq ties
    * from late-arriving older ops). */
  final case class Emit(
      user_id: Long, seq: Long, last_op: String, current_value: Option[Double],
      n_ops: Long)

  private def opCode(t: String): String = t match {
    case "signup" => "I"
    case "click" => "U"
    case _ => "D"
  }

  /** The shared transform: newest-sequence-wins fold per key. */
  def compacted(ops: Dataset[Op]): Dataset[Emit] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Emit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, it, state) =>
          var st = state.getOption.getOrElse(St(Long.MinValue, "", None, 0L))
          it.foreach { o =>
            val n = st.nOps + 1
            st =
              if (o.event_id > st.seq) St(o.event_id, opCode(o.event_type), o.value, n)
              else st.copy(nOps = n)
          }
          state.update(st)
          Iterator.single(Emit(key, st.seq, st.op, st.value, st.nOps))
      }
  }

  /** Streaming job: NDJSON op landing → compaction → append sink.
    * `maxFilesPerTrigger = None` turns batch identity over to the
    * CHECKPOINT (each AvailableNow drain admits every file prior
    * drains have not seen, whatever its shard count) — the sharded-
    * landing mode the late-arrival row drains batch-by-batch.
    */
  def start(spark: SparkSession, landingDir: String, outDir: String,
            checkpointDir: String,
            maxFilesPerTrigger: Option[Int] = Some(1)): StreamingQuery = {
    import spark.implicits._
    val reader = spark.readStream.schema(opSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    StateStores.start(spark,
      compacted(
        reader
          .json(landingDir)
          .filter(col("event_type").isin("signup", "click", "error"))
          .as[Op])
        .writeStream
        .outputMode(OutputMode.Append)
        .format("json")
        .option("path", outDir),
      checkpointDir, StateStores.LandedBytes(landingDir))
  }

  /** Read-back materialization: newest emission per key, deletes drop
    * the key — what a downstream table sink does with the changelog. */
  def materialize(spark: SparkSession, outDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = spark.read
      .schema("user_id LONG, seq LONG, last_op STRING, current_value DOUBLE, n_ops LONG")
      .json(outDir)
    val w = Window.partitionBy("user_id")
      .orderBy(col("seq").desc, col("n_ops").desc)
    raw.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("last_op") =!= "D")
      .select(col("user_id"), col("current_value"), col("last_op"), col("n_ops"))
  }
}
