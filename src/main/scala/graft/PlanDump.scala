package graft

/** Plan-capture tool for the optimization rounds: writes the
  * `.explain("formatted")` output of each named query to
  * `<outDir>/<query>_<tag>.txt` in one JVM (one Smoke invocation per
  * query would pay ~40 s of sbt/JVM startup each).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> q_a,q_b,...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  *
  * Note: building a query's DataFrame executes any eager stages inside
  * the builder (index builds, stream drains) — the captured plan is the
  * final read-back/search plan, exactly what Smoke prints.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.sort.results", "false")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
        plan.getBytes("UTF-8"))
      System.err.println(s"[plandump] $n -> $outDir/${n}_$tag.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
