package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-STAGE attribution tool for the optimization rounds (the guide's
  * §1 empirical loop without the UI, which is disabled in this
  * environment): runs one named query into the noop sink and prints
  * every completed stage's wall, summed task CPU, task count and
  * callsite, sorted by CPU — the "which operator is actually burning
  * the time" answer that per-query totals can't give.
  *
  * Usage: runMain graft.StageProfile q_name [repeat]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val repeats = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.sort.results", "false")
    case class Row(id: Int, name: String, wallMs: Long, cpuMs: Long,
                   tasks: Int, rows: Long)
    val stages = scala.collection.mutable.ArrayBuffer[Row]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {s <- i.submissionTime; c <- i.completionTime}
          yield c - s).getOrElse(-1L)
        // the short name is almost always an internal thread-pool frame;
        // the first graft.* line of the long-form callsite is the
        // operator that actually submitted the stage
        val site = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("StageProfile"))
          .getOrElse(i.name.takeWhile(_ != '\n')).trim
        stages += Row(i.stageId, site, wall,
          i.taskMetrics.executorCpuTime / 1000000,
          i.numTasks, i.taskMetrics.outputMetrics.recordsWritten)
      }
    })
    // Poor-man's sampling profiler over the executor worker threads
    // (async tools are unavailable in this sandbox): 20 Hz stack
    // samples, aggregated by the top-most frame of interest.
    val samples = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          Thread.getAllStackTraces.forEach { (t, st) =>
            val n = t.getName
            val exec = n.startsWith("Executor task launch")
            // the micro-batch driver loop and the main driver thread:
            // where streaming-row wall hides when executors are parked
            val drv = n.contains("stream execution thread") || n == "main" ||
              n.startsWith("QueryStageCreator")
            if ((exec || drv) && st.nonEmpty &&
                t.getState == Thread.State.RUNNABLE) {
              val frame = st.find { f =>
                val c = f.getClassName
                !c.startsWith("java.") && !c.startsWith("jdk.") &&
                  !c.startsWith("scala.") && !c.startsWith("sun.")
              }.getOrElse(st.head)
              val key = (if (exec) "exec " else "drv  ") +
                s"${frame.getClassName}.${frame.getMethodName}"
              samples.computeIfAbsent(key,
                _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
            }
          }
        }
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    (1 to repeats).foreach { r =>
      spark.catalog.clearCache()
      if (r == repeats) { stages.clear(); samples.clear() } // warmest pass only
      sampling = true
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      sampling = false
      System.err.println(f"[profile] pass $r wall ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    locally {
      import scala.jdk.CollectionConverters._
      val top = samples.asScala.toSeq.sortBy(-_._2.get).take(25)
      top.foreach { case (k, v) => println(f"[sample] ${v.get}%6d $k") }
    }
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    val total = stages.map(_.cpuMs).sum
    println(f"[profile] $name stages=${stages.size} totalCpu=${total / 1000.0}%.2fs")
    stages.sortBy(-_.cpuMs).take(40).foreach { s =>
      println(f"[profile] cpu=${s.cpuMs / 1000.0}%7.2fs wall=${s.wallMs / 1000.0}%6.2fs tasks=${s.tasks}%4d stage=${s.id}%4d ${s.name.take(110)}")
    }
    spark.stop()
  }
}
