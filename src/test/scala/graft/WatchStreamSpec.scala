package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.streaming.{StateStores, WatchStream}

/** Streaming slice (T1–T4): the VERDICT's batch-equivalence bar — the
  * stateful stream over replayed micro-batches must hash-equal the batch
  * window query over the same events.
  */
class WatchStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkT.spark

  private def batchExpected(): Map[Long, (Long, Long, Boolean)] =
    Relational.runningUndercut(spark, SparkT.Sf0001).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("undercut"), r.getAs[Long]("sliding_hits"),
          r.getAs[Boolean]("is_bot")))).toMap

  test("batch detectBots == runningUndercut window query") {
    import spark.implicits._
    val events = Tables.load(spark, SparkT.Sf0001, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .as[WatchStream.WatchEvent]
    val got = WatchStream.detectBots(events).collect()
      .map(o => o.event_id -> ((o.undercut, o.sliding_hits, o.is_bot))).toMap
    assert(got === batchExpected())
  }

  test("idle state expires after the TTL and the window restarts (T6)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val landing = Files.createTempDirectory("graft-ttl-landing").toString
    val ckpt = Files.createTempDirectory("graft-ttl-ckpt").toString

    def capture(id: Int, events: Seq[(Long, Long, Double)]): Unit = {
      val obs = events.map { case (e, u, v) =>
        s"""{"event_id":$e,"user_id":$u,"value":$v}"""
      }.mkString("[", ",", "]")
      Files.writeString(new java.io.File(landing, s"cap_$id.json").toPath,
        s"""{"capture_id":$id,"observations":$obs}""")
    }

    // batch 1: three undercuts -> sliding_hits reaches 3 (bot)
    capture(0, Seq((1L, 99L, 10.0), (2L, 99L, 10.0), (3L, 99L, 10.0)))
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)]()
    // a ProcessingTime stream cannot start through StateStores.start
    // (AvailableNow only), so it sets the same state-store keys around
    // its own start(): the TTL-expiry path runs on the RocksDB provider
    // every production stream uses, and the shared session gets its
    // own keys back as soon as start() returns
    val q = StateStores.withKeys(spark, StateStores.RocksDbConf) {
      WatchStream
        .detectBots(WatchStream.flatten(WatchStream.readLanding(spark, landing)),
          stateTtl = Some("3 seconds"))
        .writeStream
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[WatchStream.BotOutput], _: Long) =>
          batch.collect().foreach(o => out.synchronized {
            out += ((o.event_id, o.sliding_hits, o.is_bot)) })
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("500 milliseconds"))
        .start()
    }
    try {
      eventually(20000L) { out.synchronized(out.size) == 3 }
      assert(DrainIsolationSpec.offsetsConf(ckpt)
        .get("spark.sql.streaming.stateStore.providerClass") ===
        Some(StateStores.RocksDbProvider))
      assert(out.synchronized(out.toSet) ===
        Set((1L, 1L, false), (2L, 2L, false), (3L, 3L, true)))
      Thread.sleep(5000L) // idle past the 3s TTL -> state removed
      capture(1, Seq((10L, 99L, 10.0)))
      eventually(20000L) { out.synchronized(out.size) == 4 }
      // ring buffer restarted: hits = 1, not 4
      assert(out.synchronized(out.last) === ((10L, 1L, false)))
    } finally q.stop()
  }

  private def eventually(timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200L)
    assert(cond, "condition not met within timeout")
  }

  test("streamed micro-batches reproduce the batch result exactly (T1-T4)") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-landing").toString
    val outDir = Files.createTempDirectory("graft-watch-out").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    // replay the events table as 3 capture files in event_id order
    // (T2's nested shape: one JSON record per capture with an
    // observations array); mtimes force the file-source ordering
    val evs = Tables.load(spark, SparkT.Sf0001, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val chunks = evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val obs = chunk.map { case (e, u, v) =>
        s"""{"event_id":$e,"user_id":$u,"value":$v}"""
      }.mkString("[", ",", "]")
      val f = new java.io.File(landing, s"capture_$i.json")
      Files.writeString(f.toPath, s"""{"capture_id":$i,"observations":$obs}""")
      assert(f.setLastModified(1700000000000L + i * 60000L))
    }

    // TTL off: with ProcessingTimeTimeout armed an AvailableNow drain
    // cannot terminate before the whole TTL elapses (this line used to
    // silently eat its entire 120 s timeout); expiry has its own test.
    val q = WatchStream.start(spark, landing, outDir, ckpt, stateTtl = None)
    assert(q.awaitTermination(120000L), "watch stream did not drain")

    val got = spark.read
      .schema("event_id LONG, undercut LONG, sliding_hits LONG, is_bot BOOLEAN, user_id LONG")
      .json(outDir)
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("undercut"), r.getAs[Long]("sliding_hits"),
          r.getAs[Boolean]("is_bot")))).toMap
    val expected = batchExpected()
    assert(got.size === expected.size)
    assert(got === expected)
  }
}
