package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The engine's stream policy, in one place: every stream job hands its
  * configured writer to [[start]], which runs it as an AvailableNow
  * drain on the RocksDB state store at the job's state-partition
  * regime.
  *
  * RocksDB rather than the default HDFS-backed in-memory map: at the
  * key cardinalities a 100-TB deployment carries (one entry per SKU /
  * dedup key / band bucket), per-key state must spill to executor-local
  * disk instead of competing with execution memory on-heap — RocksDB is
  * Spark's deployable answer (native LSM store, bounded heap via block
  * cache, incremental checkpointing). Changelog checkpointing is on:
  * per-batch checkpoint cost becomes O(delta), not O(snapshot) — the
  * difference between a streaming job that keeps up and one that falls
  * behind as state grows.
  *
  * No drain mutates the shared session. [[start]] sets its keys only
  * while `start()` runs and restores them as soon as it returns. That
  * is enough because Spark's `StreamExecution` clones the session in
  * its constructor (`sparkSessionForStream`, built inside `start()`):
  * every micro-batch plans on the clone, and `offsets/0` records the
  * clone's conf, so the stream keeps the narrowed partition count and
  * the RocksDB provider for its whole life while batch work on the
  * shared session — during the drain or after it — sees the session's
  * own values. A separate `spark.newSession()` per drain would isolate
  * too, but its streaming listeners and runtime-registered functions
  * are its own, so Bench's `batches` / `sec_per_batch` would read 0.
  *
  * Correctness is provider- and partition-count-independent — the
  * stream==batch oracle rows (q_watch_stream, q_dedup_stream,
  * q_cdc_stream, …) and every streaming spec start through here, so the
  * whole streaming gate re-proves the contracts under RocksDB on every
  * run.
  */
object StateStores {

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The state-store keys every stream starts with. */
  private[graft] val RocksDbConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // Observability-only row counting: every put/remove pays a point
    // lookup just to keep the numRowsTotal METRIC exact. Spark's own
    // tuning guide lists turning it off as the first RocksDB knob for
    // update-heavy workloads; no query result depends on the metric.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** A stream job's state-partition regime: the
    * `spark.sql.shuffle.partitions` its start freezes into the
    * checkpoint as the state-store count. Each job runs in exactly one.
    */
  sealed trait Regime

  /** The session's own count. For foreachBatch jobs (sketch
    * maintenance, repricer, ANN ingest): no state stores at all, and
    * narrowing only cuts the per-batch merge jobs' reduce parallelism
    * (kmv regressed 1.5×).
    */
  case object SessionDefault extends Regime

  /** [[statePartitionsFor]] the bytes landed under `landingDir`: drains
    * whose per-batch work is state-store machinery, i.e. whose per-row
    * state work is a hash-aggregate update. They regress at ANY
    * widening past the byte rule (q_cdc_stream_late 4.50 → 9.22 s at
    * 8, r16).
    */
  final case class LandedBytes(landingDir: String) extends Regime

  /** [[cpuBoundStateParts]]: per-key CPU folds (stream-stream join
    * bucket scans, the watch/near-dup state machines), which the byte
    * rule serializes (watch measured 9.5 → 26.5 s at 1 partition;
    * neardup sf1 37.1 s derived vs ~22 s at 8-32; the interval joins
    * 6.3-8.0 s derived vs 4.1-6.5 s at 8, r16).
    */
  case object CpuBound extends Regime

  /** Start `writer` as an AvailableNow drain checkpointed at
    * `checkpointDir`, with [[RocksDbConf]] and the regime's partition
    * count set on the session for the duration of `start()` only —
    * every key it touched is back to its prior value (or unset again)
    * when this returns; see the object doc for why that is enough.
    */
  def start(spark: SparkSession, writer: DataStreamWriter[_],
      checkpointDir: String, regime: Regime): StreamingQuery = {
    val parts = regime match {
      case SessionDefault => None
      case LandedBytes(dir) => Some(statePartitionsFor(landedBytes(spark, dir)))
      case CpuBound => Some(cpuBoundStateParts(spark))
    }
    withKeys(spark,
        RocksDbConf ++ parts.map(n => ShufflePartitions -> n.toString)) {
      writer
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }

  /** Run `f` with `keys` set on the session, then put every key back to
    * its prior value (or unset it again).
    */
  private[graft] def withKeys[T](spark: SparkSession,
      keys: Seq[(String, String)])(f: => T): T = {
    val before = spark.conf.getAll
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally keys.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Landed-input bytes per state partition the sizing rule assumes.
    * 32 MB of NDJSON landing keeps a partition's per-batch state work
    * comfortably under a task's memory budget while the partition
    * count stays proportional to volume.
    */
  val BytesPerStatePartition: Long = 32L * 1024 * 1024

  /** Hard ceiling on derived state partitions: state partitions are
    * frozen into a checkpoint for its lifetime, so production
    * deployments over-provision but not unboundedly — 4096 partitions
    * at 32 MB/partition sizes a ~128 GB-per-cycle landing.
    */
  val MaxDerivedStatePartitions = 4096

  /** Total bytes under a landing path (driver-side metadata listing,
    * zero Spark jobs — the ParquetMeta discipline).
    */
  def landedBytes(spark: SparkSession, path: String): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
  }

  /** SCALE-ADAPTIVE state partition count for a streaming drain —
    * guide §2: derive partitioning from input size instead of pinning
    * a constant tuned for either local mode or one cluster.
    *
    * A stateful streaming query freezes `spark.sql.shuffle.partitions`
    * into its checkpoint as the state-store count, and every
    * micro-batch then pays per-partition fixed machinery (a state
    * store open/commit/changelog per operator per partition per
    * trigger) regardless of how many rows flow. Sizing that count to
    * the CORES (the batch default) makes a small topic pay ~cores ×
    * stores × trigger fixed costs for no parallelism gain, while any
    * fixed count chokes at warehouse volume. The rule here is the one
    * production uses for topic sizing: partitions ∝ landed volume
    * ([[BytesPerStatePartition]]), floor 1, ceiling
    * [[MaxDerivedStatePartitions]].
    */
  def statePartitionsFor(inputBytes: Long): Int = {
    val derived =
      (inputBytes + BytesPerStatePartition - 1) / BytesPerStatePartition
    derived.max(1L).min(MaxDerivedStatePartitions.toLong).toInt
  }

  /** State partitions for CPU-BOUND per-key folds — the second measured
    * regime of the partitioning law (r15 found it, r16 classified it).
    * A drain whose per-trigger cost is per-row COMPUTE inside the state
    * operator (stream-stream join bucket scans, per-key state machines)
    * wants core-count parallelism regardless of landed bytes: the byte
    * rule derives 1 partition from a KB landing and serializes the
    * fold. Measured at sf0.1 (isolated min-of-3, r16):
    * q_interval_join_stream 6.34 s at derived(1) vs 4.77 s at 8,
    * _narrow 6.73 vs 4.10, _binned 7.96 vs 6.54 (sec_per_batch −30-45%)
    * — while the hash-agg-state drains go the OTHER way at 8
    * (q_cdc_stream_late 4.50 → 9.22 s: per-partition store machinery
    * dominates their trivial per-row work). Bounded by
    * [[CpuBoundStateParts]] because state partitions freeze into the
    * checkpoint; the r15 sf1 cross-check showed the bound flat 8→32
    * (neardup 21.7 vs 21.8 s).
    */
  def cpuBoundStateParts(spark: SparkSession): Int =
    math.min(spark.sparkContext.defaultParallelism, CpuBoundStateParts)

  /** Cores cap of the CPU-bound regime: past this the per-partition
    * store machinery costs more than the extra parallelism buys at any
    * measured SF (sf0.1 and sf1 both flat-to-worse 8 → 32).
    */
  val CpuBoundStateParts = 8
}
