package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StateStores, StreamDedup}

/** No drain mutates the shared session: `StateStores.start` sets the
  * RocksDB keys and the job's state-partition count only while
  * `start()` runs. The stream still runs on them, because Spark clones
  * the session when it builds the query, so the checkpoint's `offsets/0`
  * metadata (written from the clone) carries them and the progress
  * reports RocksDB state-store metrics.
  */
class DrainIsolationSpec extends AnyFunSuite {
  import DrainIsolationSpec._

  private lazy val spark = SparkT.spark
  private val StoreKeys = StateStores.RocksDbConf.map(_._1)

  /** The shared session as one that has never started a stream. */
  private def pristine(): Unit = StoreKeys.foreach(spark.conf.unset)

  /** The explicitly set value of every key a start touches. */
  private def touched(): Map[String, Option[String]] = {
    val all = spark.conf.getAll
    (ShufflePartitions +: StoreKeys).map(k => k -> all.get(k)).toMap
  }

  test("start restores the shared session's keys; offsets/0 carries the stream's own") {
    pristine()
    val landing = Files.createTempDirectory("graft-di-landing").toString
    val outDir = Files.createTempDirectory("graft-di-out").toString
    val ckpt = Files.createTempDirectory("graft-di-ckpt").toString
    Files.writeString(new java.io.File(landing, "d0.json").toPath,
      """{"doc_id":1,"ts":"2025-08-01T10:00:00.000Z","text":"a b c"}
        |{"doc_id":2,"ts":"2025-08-01T10:00:01.000Z","text":"a b c"}
        |{"doc_id":3,"ts":"2025-08-01T10:00:02.000Z","text":"x y z"}""".stripMargin)
    val landed = StateStores.statePartitionsFor(
      StateStores.landedBytes(spark, landing)).toString
    assert(landed !== spark.conf.get(ShufflePartitions),
      "the landed-bytes count must differ from the session's for this test to see it")

    val before = touched()
    val q = StreamDedup.start(spark, landing, outDir, ckpt)
    assert(touched() === before, "start left its keys on the shared session")
    assert(q.awaitTermination(120000L), "dedup stream did not drain")

    val frozen = offsetsConf(ckpt)
    assert(frozen.get(ShufflePartitions) === Some(landed))
    assert(frozen.get("spark.sql.streaming.stateStore.providerClass") ===
      Some(StateStores.RocksDbProvider))
    val metricKeys = q.recentProgress.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
    assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb state-store metrics in progress (got: ${metricKeys.take(10).mkString(", ")})")
    assert(touched() === before)
  }

  /** Entries set or changed since `before`, and entries gone or changed. */
  private def confDiff(before: Map[String, String]) = {
    val after = spark.conf.getAll.toSet
    (after.diff(before.toSet), before.toSet.diff(after))
  }

  /** q_dedup_stream is StreamOracle.dedupStream; the rows cover every
    * stream job and every regime.
    */
  test("every streaming catalog row leaves spark.conf.getAll unchanged") {
    val rows = QueryCatalog.queries.keys.toSeq.sorted
      .filter(n => n.contains("stream") || n.startsWith("q_repricer"))
    assert(rows.size === 24)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try rows.foreach { n =>
      pristine()
      val before = spark.conf.getAll
      val n0 = started.get
      QueryCatalog.queries(n)(spark, SparkT.Sf0001)
      assert(started.get > n0, s"$n started no stream")
      assert(confDiff(before) === ((Set.empty, Set.empty)), n)
    } finally spark.streams.removeListener(listener)
  }
}

object DrainIsolationSpec extends org.scalatest.Assertions {
  val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The conf a stream froze into its checkpoint at its first batch:
    * the `conf` map of the metadata line of `offsets/0`.
    */
  def offsetsConf(checkpointDir: String): Map[String, String] = {
    val meta = Files.readAllLines(
        java.nio.file.Paths.get(checkpointDir, "offsets", "0")).asScala
      .find(_.startsWith("{\"batchWatermarkMs\""))
      .getOrElse(fail(s"no metadata line in $checkpointDir/offsets/0"))
    parse(meta) \ "conf" match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case other => fail(s"offsets/0 metadata has no conf map: $other")
    }
  }
}
