package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...,
  *  "errors":{...}}.
  *
  * Measurement rules (round-1 verdict fixes):
  *   - Action = write to the `noop` sink: full materialization of every
  *     output column, so Catalyst cannot prune away the work being
  *     measured (a bare .count() lets ColumnPruning/EliminateSorts skip
  *     projected expressions and windows).
  *   - One untimed warmup pass first: JIT, codegen compilation and
  *     parquet footer caching otherwise land on whichever queries run
  *     first and skew per-query attribution by >10x.
  *   - Each query is timed SPARK_GRAFT_REPEATS times (default 3) and
  *     the minimum reported: the host shows multi-second scheduling
  *     jitter (identical full runs vary 58-203 s), and min-of-N is the
  *     standard way to measure query cost under external noise.
  *   - Failures are NOT timings: a failed query reports -1 and lands in
  *     "errors" with its message, so the driver can tell fast from broken.
  *   - Terminal ORDER BYs are verify-only (graft.sort.results=false):
  *     globally sorting a fact-sized result is a scale anti-pattern the
  *     engine does not pay outside the correctness harness.
  *
  * Root cause of the round-2 "~8 s fixed floor" on trivial queries
  * (q_conditional_counts 8.4 s, q_customers_without_orders 7.9 s,
  * q_price_floor 14.0 s — all while <1.5 s in isolation): sweep decay,
  * not the plans. Library builders persisted working frames without
  * unpersisting (pre-withCached), so ~150 executions in, the block
  * manager carried hundreds of stale cached partitions; eviction and
  * block-manager bookkeeping then landed as multi-second scheduling
  * stalls on whichever queries followed the heavy LSH/cluster group in
  * sorted order — exactly the three flagged names. After the round-3
  * try/finally unpersist hygiene the same sweep measures them at
  * 0.29 s / 0.36 s / 0.78 s and the full 58-query total dropped
  * 192.7 s -> ~64 s. Regression guard: CacheHygieneSpec asserts the
  * cache is empty after each affected query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("graft.sort.results", "false")
    // captured BEFORE the sweep: what the box looked like when timing
    // began, not after the run's own load
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    // Per-query executor CPU time alongside wall time: the host's
    // scheduling jitter makes wall-clock vary up to 3x run-to-run on
    // identical plans, while summed task CPU is noise-immune — the
    // driver artifact carries both. Listener posts are async, so reads
    // go through a bus drain for exactness.
    val cpuTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) { cpuTotal.addAndGet(m.executorCpuTime); () }
        }
      })
    def cpuNow(): Long = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      cpuTotal.get()
    }

    // Per-batch streaming latency: drain wall for a streaming query is
    // ~90% fixed startup/checkpoint overhead at test SFs, so a per-batch
    // regression (the thing that actually scales with data volume) hides
    // inside the wall number. Count micro-batches and summed
    // triggerExecution time per query via the streaming listener; the
    // artifact carries batches + sec_per_batch beside wall, and
    // tools/bench_gate.py gates on sec_per_batch for streaming rows.
    val batchCount = new java.util.concurrent.atomic.AtomicLong(0L)
    val batchMsTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          batchCount.incrementAndGet()
          val d = e.progress.durationMs
          if (d != null) {
            val t = d.get("triggerExecution")
            if (t != null) { batchMsTotal.addAndGet(t); () }
          }
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
    def batchesNow(): (Long, Long) = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      (batchCount.get(), batchMsTotal.get())
    }

    // SPARK_GRAFT_ONLY=q_a,q_b limits the run (targeted perf iteration)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    def run(name: String): Option[String] =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }

    // Untimed per-run hygiene: several builders persist() working
    // frames they cannot safely unpersist themselves (lazy consumers),
    // and ~150 query executions of accumulated cached blocks degraded
    // late queries up to 12x. Clear the cache between runs — but do NOT
    // force GC: a full GC unloads JIT-compiled generated classes, which
    // re-interprets every heavy codegen stage on the next run.
    def hygiene(): Unit = spark.catalog.clearCache()

    // Warmup failures are NOT silent (r2 bench tail carried a stray
    // stack trace with an empty errors map): anything thrown here is
    // recorded with a "warmup:" prefix so the JSON names the culprit.
    // Per-query progress on stderr: a multi-hour sf10 sweep is
    // otherwise a black box (the JSON only lands at the very end), and
    // a hang is indistinguishable from slow work without knowing WHICH
    // query the JVM is inside.
    def progress(tag: String, name: String, sec: Double): Unit =
      System.err.println(f"[bench] $tag $name ${sec}%.1fs")

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Warmup doubles as stream detection: per-query micro-batch deltas
    // tell us which rows are streaming drains before the timed phase.
    val warmupBatches = scala.collection.mutable.Map[String, Long]()
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0")
      names.foreach { n =>
        hygiene()
        val (b0, _) = batchesNow()
        val t0 = System.nanoTime()
        run(n).foreach(e => errors(n) = s"warmup: $e")
        val (b1, _) = batchesNow()
        warmupBatches(n) = b1 - b0
        progress("warmup", n, (System.nanoTime() - t0) / 1e9)
      }

    // Stream rows run FIRST in the timed phase: their walls are
    // dominated by fixed RocksDB/checkpoint overhead that degrades with
    // accumulated JVM/tmp/page-cache state, and three rounds of sweeps
    // flagged stream rows that isolated re-measures then retired
    // (r9/r10/r11 adjudications). Timing them on the freshest state
    // removes the drag at the source instead of waiving it per round.
    // (With warmup disabled there is no detection signal — plain sorted
    // order applies, as before.)
    val timedOrder = names.sortBy(n =>
      (if (warmupBatches.getOrElse(n, 0L) > 0L) 0 else 1, n))

    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt.max(1)
    // Truncation/kill hardening (r15 lost its round-over-round
    // comparison to a bench run whose output died before the result
    // line): BENCH.json is rewritten incrementally after EVERY timed
    // query — outside the timed region — carrying "partial":true until
    // the final write replaces it, so a killed or truncated run still
    // leaves a parseable per-query artifact on disk.
    val partialDone =
      scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def writePartial(): Unit = {
      val qs = partialDone
        .map { case (k, v) => Json.quote(k) + ":" + v }
        .mkString("{", ",", "}")
      val errJ = errors
        .map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }
        .mkString("{", ",", "}")
      val total = partialDone.collect { case (_, v) if v >= 0 => v }.sum
      val j = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":${Json.quote(sfDir)},"errors":$errJ,"partial":true,"n_done":${partialDone.size},"n_queries":${names.size}}"""
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH.json"),
        (j + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }
    // Per-QUERY host load at the moment its timed repeats began: sweep
    // drag shows up as load ramping across the run, and a flagged row's
    // own load-at-start is the provenance a per-sweep number can't give.
    val loadAt = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per run: (wall sec, cpu sec, micro-batches, summed batch sec)
    case class Run(sec: Double, cpu: Double, batches: Long, batchSec: Double)
    val timed = timedOrder.map { name =>
      loadAt(name) = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      val runs = (1 to repeats).map { _ =>
        hygiene()
        val (b0, bm0) = batchesNow()
        val c0 = cpuNow()
        val t0 = System.nanoTime()
        val err = run(name)
        val sec = (System.nanoTime() - t0) / 1e9
        val cpuSec = (cpuNow() - c0) / 1e9
        val (b1, bm1) = batchesNow()
        err.foreach(errors(name) = _)
        progress("timed", name, sec)
        if (err.isEmpty) Run(sec, cpuSec, b1 - b0, (bm1 - bm0) / 1e3)
        else Run(-1.0, -1.0, 0L, 0.0)
      }
      val failed = runs.exists(_.sec == -1.0)
      // batches/batchSec come from the min-WALL run (batch counts are
      // deterministic per drain; the min run is the least-contended one)
      val best = if (failed) Run(-1.0, -1.0, 0L, 0.0) else runs.minBy(_.sec)
      partialDone += (name -> (if (failed) -1.0 else runs.map(_.sec).min))
      writePartial()
      name -> (
        if (failed) -1.0 else runs.map(_.sec).min,
        if (failed) -1.0 else runs.map(_.cpu).min,
        best.batches, best.batchSec)
    }
    val qs = timed.map { case (k, (v, _, _, _)) => Json.quote(k) + ":" + v }
      .mkString("{", ",", "}")
    val cpuQs = timed.map { case (k, (_, c, _, _)) => Json.quote(k) + ":" + c }
      .mkString("{", ",", "}")
    val streamRows = timed.filter(_._2._3 > 0L)
    val batchesJson = streamRows
      .map { case (k, (_, _, b, _)) => Json.quote(k) + ":" + b }
      .mkString("{", ",", "}")
    val secPerBatchJson = streamRows
      .map { case (k, (_, _, b, bs)) =>
        Json.quote(k) + ":" + (math.round(bs / b * 1e4) / 1e4) }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }
      .mkString("{", ",", "}")
    val total = timed.collect { case (_, (v, _, _, _)) if v >= 0 => v }.sum

    val loadJson = loadAt
      .map { case (k, v) => Json.quote(k) + ":" + (math.round(v * 100) / 100.0) }
      .mkString("{", ",", "}")
    // Audit fields: engine version + the configs that shape every plan,
    // so a bench JSON is self-describing without the harness script —
    // plus a HOST FINGERPRINT (cpu model, core count, anonymized host
    // id, load at start). Each round's sessions land on different
    // boxes and committed walls do not reproduce cross-host (2-9×
    // observed); the fingerprint lets tools/bench_gate.py ANNOTATE a
    // cross-host comparison instead of a human having to adjudicate
    // drift by memory (docs/SCALE.md isolated-re-measure rule).
    val hostCpu =
      try scala.io.Source.fromFile("/proc/cpuinfo").getLines()
        .collectFirst { case l if l.startsWith("model name") =>
          l.split(":", 2)(1).trim }
        .getOrElse("unknown")
      catch { case _: Throwable => "unknown" }
    val hostId = // digest, not the raw name: fingerprint without leaking it
      try {
        val hn = java.net.InetAddress.getLocalHost.getHostName
        java.security.MessageDigest.getInstance("MD5")
          .digest(hn.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      } catch { case _: Throwable => "unknown" }
    val audit = Seq(
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "codegen_cache" -> spark.conf.get("spark.sql.codegen.cache.maxEntries"),
      "bypass_merge_threshold" ->
        spark.conf.get("spark.shuffle.sort.bypassMergeThreshold"),
      "coalesce_parallelism_first" -> spark.conf
        .get("spark.sql.adaptive.coalescePartitions.parallelismFirst"),
      "advisory_partition_bytes" -> spark.conf
        .get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "file_impl" -> spark.conf
        .get("spark.hadoop.fs.file.impl", "default").split("\\.").last,
      "repeats" -> repeats.toString,
      "host_cpu" -> hostCpu,
      "host_cores" -> Runtime.getRuntime.availableProcessors.toString,
      "host_id" -> hostId,
      "host_load_start" -> f"$loadStart%.2f"
    ).map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cpu":$cpuQs,"batches":$batchesJson,"sec_per_batch":$secPerBatchJson,"load_at_start":$loadJson,"sf":${Json.quote(sfDir)},"errors":$errJson,"env":$audit}"""
    // The driver captures only the log TAIL; a verbose shutdown once
    // truncated the r3 totals. The file in cwd is the truncation-proof
    // artifact (now also written incrementally per query, see
    // writePartial — this final write replaces the partial one); the
    // printed lines stay for the log-scraping path.
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // Compact one-liner FIRST (r15 verdict: the result must precede any
    // long/verbose output so a cut log still carries it), then the full
    // line, then the compact echo again as the final line — the driver's
    // tail parser takes the LAST complete JSON object line, and the full
    // line outgrew the tail window around 200 queries (BENCH_r11/r12
    // "parsed": null). Explicit flushes so a killed JVM can't hold the
    // result in a buffer.
    val compact = s"""{"metric":"total_compact","value":$total,"unit":"sec","n_queries":${timed.size},"n_errors":${errors.size},"sf":${Json.quote(sfDir)},"full":"BENCH.json"}"""
    println(compact)
    System.out.flush()
    println(json)
    println(compact)
    System.out.flush()
    // A hung/failed shutdown must not turn a completed sweep into a
    // non-zero exit or stderr noise after the JSON line.
    try spark.stop() catch { case _: Throwable => () }
  }
}

/** The one Spark session configuration: every main and the test session build from it. */
object GraftSession {
  val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(cpus: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // naive parquet timestamps (isAdjustedToUTC=false) must read as
      // TIMESTAMP_LTZ raw-micros (the DuckDB oracle's epoch_us view), not NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // default 100-entry codegen class cache thrashes across a
      // 50+-query sweep: the heavy generated stages (16-column minhash
      // aggregate) get evicted between warmup and measurement and pay
      // janino + JIT again on every run — observed 5x on the LSH
      // queries. Size it to hold the whole catalog.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Sort-based shuffle writer for the small-reduce-count regime
      // (Spark's default threshold is 200; the sf0.1 and sf1 A/B of 200
      // vs 0 is OPTIMIZATION_r16.md task 7). The bypass-merge writer
      // opens one stream PER REDUCE PARTITION per map task — M x R
      // file creates/merges per exchange — which a
      // stack-sampled profile showed as the dominant CPU of every
      // many-exchange query at test scale (DiskBlockObjectWriter.
      // initialize + copyFileStreamNIO; q_ann_index_roundtrip wall
      // 10.2 -> 5.9 s with the sort writer). Scale-safe by
      // construction: at warehouse reduce counts (R > 200) the bypass
      // path never fires, so 0 only changes the small-R regime, where
      // one spill file + index per map task beats R open files.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // Raw local filesystem for file:// (SPARK_GRAFT_FILE_IMPL
      // overrides): without native Hadoop libs the default checksummed
      // LocalFileSystem shells out `ls -ld`/chmod PER FILE touched
      // (stack-sampled: Shell.runCommand dominating idle wall of every
      // write-heavy row) and writes a .crc shadow beside every file.
      // Local-environment fix, inert at scale: HDFS/S3 never route
      // through this path (q_corrupt_parquet_scan 4.8 -> 1.6 s).
      // Trade-off, accepted for this sandbox: the raw FS has no CRC
      // shadow, so the oracle gate runs without FS-level checksums and
      // leans on Parquet's own page-level checks for local-disk
      // corruption; SPARK_GRAFT_FILE_IMPL restores the checksummed FS.
      .config("spark.hadoop.fs.file.impl",
        sys.env.getOrElse("SPARK_GRAFT_FILE_IMPL",
          "org.apache.hadoop.fs.RawLocalFileSystem"))
      // NOT set: fs.AbstractFileSystem.file.impl (the FileContext twin
      // of the fs.file.impl fix, which streaming's CheckpointFileManager
      // routes through). Stack samples show residual Shell.runCommand
      // forks under the checkpoint paths, but swapping LocalFs →
      // RawLocalFs was measured WORSE on an 8-drain subset (44.3 vs
      // 32.3 s, r16 A/B with the raw arm at LOWER ambient load) — the
      // checksummed FileContext stays.
      // AQE partition-coalescing dials, pinned EXPLICITLY at the Spark
      // defaults after a measured three-arm A/B (r16; both echoed in the
      // env audit). parallelismFirst=true IS already
      // the byte-derived rule of guide §2.2 — the coalescer targets
      // max(shuffled-bytes/parallelism, 1 MB), so the catalog's tiny
      // exchanges land at 1-5 reduce tasks today. Respecting the 64 MB
      // advisory instead (false, the warehouse recommendation) was
      // measured WORSE here: reduce stages whose bytes are tiny but
      // whose per-row compute is dense (pagerank loop, basket lift,
      // boxplot percentiles) collapse to one task and serialize —
      // 27-query subset 82.6 s (true) vs 92.3 s (false, 64m) vs 84.7 s
      // (false, 4m), while only the many-exchange ANN composites
      // improved. The small-bytes/dense-CPU regime is exactly where the
      // advisory misleads; at warehouse bytes the two settings converge.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
}
