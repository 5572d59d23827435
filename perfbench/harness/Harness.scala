package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{DataType, MapType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop client for one benchmark workload.
  *
  * One client thread runs the workload's operations one after another:
  * `SparkEntry.queries(name)(spark, dataDir)` (the "build" span) and a
  * `noop` write of the result (the "execute" span), the action
  * `graft.Bench` times. Pass 0 is the cold pass; its end marks the end
  * of set-up. Warm passes follow, each running every operation once in
  * an order drawn from the seed, while the next pass fits in the time
  * budget. A last, untimed check pass runs every operation once more and
  * attaches an order-independent digest to each write, so the results
  * are checked after the repeated runs and the check costs no measured
  * time.
  *
  * Everything is observed from outside the program: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, read exactly by
  * draining the listener bus after every operation. With `--trace 1`
  * job, stage, query-execution and trigger records are kept in memory
  * and written with the operation records when the run ends; with
  * `--trace 0` only the per-operation task CPU is counted.
  *
  * Usage: Harness --ops q_a,q_b --seed N --seconds S --trace 0|1
  *          --data DIR --fixtures DIR --out FILE [--conf key=value]...
  */
object Harness {
  private val Group = "perfbench:"

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val ops = opts("ops").head.split(',').toSeq
    val seed = opts("seed").head.toLong
    val seconds = opts("seconds").head.toDouble
    val traced = opts("trace").head == "1"
    val dataDir = opts("data").head
    val out = opts("out").head
    val conf = opts.getOrElse("conf", Nil).map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }

    val clock = new Clock
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val sparkConf = conf.filterNot(_._1.startsWith("graft."))
    val builder = sparkConf.foldLeft(SparkSession.builder()) {
      case (b, ("master", v)) => b.master(v)
      case (b, (k, v)) => b.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    opts.get("fixtures").foreach(d => useFixtures(d.head))
    conf.filter(_._1.startsWith("graft.")).foreach { case (k, v) => spark.conf.set(k, v) }
    val sessionReady = clock.now()

    val records = mutable.ArrayBuffer[String]()
    val rec = new Recorder(traced)
    spark.sparkContext.addSparkListener(rec.sparkListener)
    spark.listenerManager.register(rec.qeListener)
    spark.streams.addListener(rec.streamListener)
    def drain(): Unit =
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)

    val effective = conf.map {
      case ("master", _) => "master" -> spark.sparkContext.master
      case (k, _) => k -> spark.conf.get(k, "<unset>")
    }
    records += Json.obj(
      "t" -> "session", "jvm_start" -> jvmStart, "ready" -> sessionReady,
      "conf" -> Json.obj(effective: _*),
      "host" -> Json.obj(
        "cpu" -> hostCpu, "cores" -> Runtime.getRuntime.availableProcessors,
        "load_start" -> loadStart, "spark" -> spark.version,
        "java" -> sys.props("java.version"))).json

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMillis(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == MemoryType.HEAP)

    val rng = new scala.util.Random(seed)
    var runId = 0
    def error(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    def runOp(pass: Int, name: String): Unit = {
      spark.catalog.clearCache() // hygiene, outside the timed region
      runId += 1
      val id = s"$Group$runId"
      rec.current = id
      spark.sparkContext.setJobGroup(id, s"$name pass $pass")
      val cpu0 = rec.cpuNanos.get
      val gc0 = gcMillis()
      var err: String = null
      val t0 = clock.now()
      var tBuild = t0
      try {
        val df = graft.SparkEntry.queries(name)(spark, dataDir)
        tBuild = clock.now()
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => err = error(e) }
      val t1 = clock.now()
      spark.sparkContext.clearJobGroup()
      drain()
      records += Json.obj(
        "t" -> "op", "run" -> id, "pass" -> pass, "op" -> name,
        "start" -> t0, "build_end" -> tBuild, "end" -> t1,
        "cpu_s" -> (rec.cpuNanos.get - cpu0) / 1e9,
        "gc_s" -> (gcMillis() - gc0) / 1e3, "error" -> err).json
    }
    def checkOp(name: String): Unit = {
      spark.catalog.clearCache()
      var digest: String = null
      var err: String = null
      try {
        val df = graft.SparkEntry.queries(name)(spark, dataDir)
        digest = Digest.of(df)
      } catch { case e: Throwable => err = error(e) }
      drain()
      records += Json.obj("t" -> "check", "op" -> name, "digest" -> digest,
        "error" -> err).json
    }

    ops.foreach(runOp(0, _))
    val coldEnd = clock.now()
    heapPools.foreach(_.resetPeakUsage())
    // at least one warm pass; no pass is started that would, at the
    // length of the previous one, end after the time budget
    var pass = 0
    var last = 0.0
    while (pass == 0 || clock.now() - coldEnd + last <= seconds) {
      val t = clock.now()
      pass += 1
      rng.shuffle(ops).foreach(runOp(pass, _))
      last = clock.now() - t
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    rec.current = null
    ops.foreach(checkOp)

    records += Json.obj("t" -> "selfcheck", "digest" -> Digest.selfCheck(spark)).json
    records += Json.obj("t" -> "end", "cold_end" -> coldEnd,
      "passes" -> pass, "heap_peak_mb" -> heapPeakMb).json
    records ++= rec.records
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      records.mkString("", "\n", "\n").getBytes("UTF-8"))
    try spark.stop() catch { case _: Throwable => () }
  }

  private def parseArgs(args: Array[String]): Map[String, List[String]] =
    args.grouped(2).foldLeft(Map.empty[String, List[String]]) {
      case (m, Array(k, v)) if k.startsWith("--") =>
        val key = k.drop(2); m.updated(key, m.getOrElse(key, Nil) :+ v)
      case (_, bad) =>
        throw new IllegalArgumentException(s"bad arguments: ${bad.mkString(" ")}")
    }

  /** Points the program's fixture reads at `dir`, the fixtures of the
    * tree being measured. `Ingestion.FixturesDir` is a fixed absolute
    * path into the source tree, which a checkout elsewhere does not have.
    * It compiles to a static final field, which reflection may not set,
    * so it is written with Unsafe before any operation runs (and before
    * any code reading it is compiled); every reader, and every path
    * derived from it, then sees `dir`. The files read are the same
    * committed fixtures, so outputs and digests do not change. */
  private def useFixtures(dir: String): Unit = {
    val m = graft.operators.Ingestion
    if (m.FixturesDir != dir) {
      val f = m.getClass.getDeclaredField("FixturesDir")
      val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      uf.setAccessible(true)
      val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
      u.putObjectVolatile(u.staticFieldBase(f), u.staticFieldOffset(f), dir)
      require(m.FixturesDir == dir, s"could not point the fixtures at $dir")
    }
  }

  private def hostCpu: String =
    try scala.io.Source.fromFile("/proc/cpuinfo").getLines()
      .collectFirst { case l if l.startsWith("model name") => l.split(":", 2)(1).trim }
      .getOrElse("unknown")
    catch { case _: Throwable => "unknown" }

  /** Exchange nodes in the AQE-final physical plan, subqueries included. */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case p =>
      (if (p.isInstanceOf[Exchange]) 1 else 0) +
        (p.children ++ p.subqueries).map(exchanges).sum
  }
}

/** Wall clock in epoch seconds with nanoTime resolution, so harness spans
  * line up with the millisecond timestamps on listener events. */
final class Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs / 1e3 + (System.nanoTime() - baseNs) / 1e9
}

/** Listener side of the harness. Events are attributed to the operation
  * run that is current while the bus delivers them: the harness drains
  * the bus before it moves on, so no event crosses into the next run. */
final class Recorder(traced: Boolean) {
  @volatile var current: String = _
  val cpuNanos = new AtomicLong(0L)
  val records = mutable.ArrayBuffer[String]()

  private final class StageAgg {
    var tasks, failed, runMs, cpuNs, gcMs, swBytes, srBytes, fetchMs,
      spill, inBytes, outBytes, outRecords = 0L
  }
  private val stages = mutable.Map[(Int, Int), StageAgg]()
  private val stageJob = mutable.Map[Int, Int]()

  /** Keeps a record for the current operation run; events outside the
    * measured passes (the check pass) are not kept. */
  private def emit(fields: (String, Any)*): Unit = {
    val run = current
    if (run != null)
      records.synchronized { records += Json.obj(("run" -> run) +: fields: _*).json }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) cpuNanos.addAndGet(m.executorCpuTime)
      if (traced) stages.synchronized {
        val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
        a.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) a.failed += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.swBytes += m.shuffleWriteMetrics.bytesWritten
          a.srBytes += m.shuffleReadMetrics.totalBytesRead
          a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
      stages.synchronized(e.stageIds.foreach(stageJob(_) = e.jobId))
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      emit("t" -> "job_start", "job" -> e.jobId, "start" -> e.time / 1e3,
        "group" -> group)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced)
      emit("t" -> "job_end", "job" -> e.jobId, "end" -> e.time / 1e3,
        "ok" -> (e.jobResult == JobSucceeded))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (traced) {
        val i = e.stageInfo
        val (a, job) = stages.synchronized {
          (stages.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAgg),
            stageJob.getOrElse(i.stageId, -1))
        }
        emit("t" -> "stage", "stage" -> i.stageId, "job" -> job,
          "start" -> i.submissionTime.map(_ / 1e3).orNull,
          "end" -> i.completionTime.map(_ / 1e3).orNull,
          "tasks" -> a.tasks, "failed_tasks" -> a.failed,
          "run_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9,
          "gc_s" -> a.gcMs / 1e3, "shuffle_write" -> a.swBytes,
          "shuffle_read" -> a.srBytes, "fetch_wait_s" -> a.fetchMs / 1e3,
          "spill" -> a.spill, "read_bytes" -> a.inBytes,
          "write_bytes" -> a.outBytes, "write_records" -> a.outRecords)
      }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution, ok: Boolean, func: String): Unit =
      if (traced) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
        val ex = try Harness.exchanges(qe.executedPlan) catch { case _: Throwable => 0 }
        emit("t" -> "qe", "func" -> func, "ok" -> ok,
          "analysis_s" -> ms("analysis"), "optimization_s" -> ms("optimization"),
          "planning_s" -> ms("planning"), "exchanges" -> ex)
      }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe, ok = true, func)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe, ok = false, func)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = if (traced)
      emit("t" -> "stream_start", "stream" -> e.runId.toString)
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (traced) {
      val p = e.progress
      val d = Option(p.durationMs).map(_.asScala.toSeq).getOrElse(Nil)
        .map { case (k, v) => k -> (v.longValue / 1e3) }
      val st = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      emit("t" -> "trigger", "stream" -> p.runId.toString, "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3,
        "input_rows" -> p.numInputRows, "duration" -> Json.obj(d: _*),
        "state_commit_s" -> st.map(_.commitTimeMs).sum / 1e3,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> st.map(_.memoryUsedBytes).sum)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
}

/** Order-independent digest of a result: the row count plus the sums of
  * the low and high 32-bit halves of each row's xxhash64, over the
  * columns in name order, with the schema folded in. Row order and
  * partitioning cannot change it; a changed, missing or duplicated row
  * does. */
object Digest {
  private def canon(c: Column, t: DataType): Column =
    t match {
      case _: MapType => array_sort(map_entries(c))
      case _ => c
    }

  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name).map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  def render(schema: StructType, m: Map[String, Any]): String = {
    val shape = schema.fields.sortBy(_.name).map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    val s = java.security.MessageDigest.getInstance("MD5").digest(shape.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    s"${m("n")}:${m("lo")}:${m("hi")}:$s"
  }

  def of(df: DataFrame): String = {
    val o = Observation()
    observe(df, o).write.format("noop").mode("overwrite").save()
    render(df.schema, o.get)
  }

  /** The digest must ignore order and partitioning and must see a
    * changed or duplicated row. */
  def selfCheck(spark: SparkSession): Boolean = {
    val base = spark.range(0, 500).selectExpr("id", "cast(id * 7 % 13 as double) AS v",
      "map('k', id) AS m", "array(id, id + 1) AS a")
    val d = of(base)
    val same = Seq(of(base.repartition(3).orderBy(rand(7))),
      of(base.select("a", "m", "v", "id")))
    val differ = Seq(of(base.where("id <> 17")),
      of(base.union(base.where("id = 17"))),
      of(base.selectExpr("id", "v + 1e-9 AS v", "m", "a")))
    same.forall(_ == d) && differ.forall(_ != d)
  }
}

/** JSON objects for the harness records (strings quoted by graft.Json). */
object Json {
  import graft.Json.quote
  final case class Raw(json: String)
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case _: Boolean | _: Int | _: Long => v.toString
    case raw: Raw => raw.json
    case other => quote(other.toString)
  }
  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))
}

/** Digests of result directories written by `graft.Verify`, one line per
  * directory: `<name> <digest>`. Ties reference.json to the output that
  * tools/oracle_check.py compared with DuckDB.
  *
  * Usage: DigestDirs DIR NAME [NAME...] [--conf key=value]...
  */
object DigestDirs {
  def main(args: Array[String]): Unit = {
    val dir +: names = args.takeWhile(_ != "--conf").toSeq
    val conf = args.dropWhile(_ != "--conf").grouped(2).map(_(1)).map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toSeq
    val spark = conf.filterNot(_._1.startsWith("graft.")).foldLeft(SparkSession.builder()) {
      case (b, ("master", v)) => b.master(v)
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach(n => println(s"$n ${Digest.of(spark.read.parquet(s"$dir/$n"))}"))
    spark.stop()
  }
}
