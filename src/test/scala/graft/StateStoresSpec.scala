package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StateStores, StreamDedup, StreamNearDup}

/** The streaming jobs must actually RUN on the RocksDB state store —
  * not merely set a conf that something downstream overrides. A real
  * stateful stream is drained, its checkpoint's frozen conf names the
  * provider, and its progress metrics are checked for RocksDB-specific
  * state-store counters (the provider's custom metrics, absent under
  * the default HDFS-backed provider).
  */
class StateStoresSpec extends AnyFunSuite {
  private lazy val spark = SparkT.spark

  /** A three-document landing (two share their content) plus empty
    * out and checkpoint dirs.
    */
  private def docsLanding(tag: String): (String, String, String) = {
    val landing = Files.createTempDirectory(s"graft-$tag-landing").toString
    Files.writeString(new java.io.File(landing, "d0.json").toPath,
      """{"doc_id":1,"ts":"2025-08-01T10:00:00.000Z","text":"a b c"}
        |{"doc_id":2,"ts":"2025-08-01T10:00:01.000Z","text":"a b c"}
        |{"doc_id":3,"ts":"2025-08-01T10:00:02.000Z","text":"x y z"}""".stripMargin)
    (landing, Files.createTempDirectory(s"graft-$tag-out").toString,
      Files.createTempDirectory(s"graft-$tag-ckpt").toString)
  }

  test("stateful streams execute on the RocksDB provider (custom metrics present)") {
    val (landing, outDir, ckpt) = docsLanding("ss")
    val q = StreamDedup.start(spark, landing, outDir, ckpt)
    q.awaitTermination(120000L)
    assert(DrainIsolationSpec.offsetsConf(ckpt)
      .get("spark.sql.streaming.stateStore.providerClass") ===
      Some(StateStores.RocksDbProvider))
    val ops = q.recentProgress.flatMap(_.stateOperators)
    assert(ops.nonEmpty, "stream reported no stateful operators")
    val metricKeys = ops.flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
    assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb state-store metrics in progress (got: ${metricKeys.take(10).mkString(", ")})")
    // dedup semantics intact under the provider swap
    val streamed = spark.read
      .schema("bow_hash STRING, doc_id LONG, ts TIMESTAMP")
      .json(outDir).select("bow_hash").collect()
    assert(streamed.map(_.getString(0)).distinct.length === 2)
  }

  /** The two measured state-partition regimes (r15/r16 — see
    * StateStores scaladocs): hash-agg-state drains derive from landed
    * bytes (floor 1, ceiling MaxDerivedStatePartitions); CPU-bound
    * per-key folds take min(defaultParallelism, CpuBoundStateParts)
    * regardless of bytes. This test pins the LAW so
    * a future edit cannot silently re-serialize a join drain or
    * re-widen a KB-landing dedup drain.
    */
  test("state-partition law: byte-derived regime") {
    val mb = 1024L * 1024
    assert(StateStores.statePartitionsFor(0L) === 1)
    assert(StateStores.statePartitionsFor(31 * mb) === 1)
    assert(StateStores.statePartitionsFor(33 * mb) === 2)
    assert(StateStores.statePartitionsFor(10L * 1024 * 1024 * mb) ===
      StateStores.MaxDerivedStatePartitions)
  }

  test("state-partition law: CPU-bound regime is cores-capped, byte-free") {
    val expected = math.min(spark.sparkContext.defaultParallelism,
      StateStores.CpuBoundStateParts)
    assert(StateStores.cpuBoundStateParts(spark) === expected)
    // a CPU-bound job's start freezes exactly that count into its
    // checkpoint and leaves the session value as it was
    val key = DrainIsolationSpec.ShufflePartitions
    val before = spark.conf.get(key)
    val (landing, outDir, ckpt) = docsLanding("cpu")
    val q = StreamNearDup.start(spark, landing, outDir, ckpt)
    assert(spark.conf.get(key) === before)
    assert(q.awaitTermination(120000L), "near-dup stream did not drain")
    assert(DrainIsolationSpec.offsetsConf(ckpt).get(key) === Some(expected.toString))
  }
}
