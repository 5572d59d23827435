package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b limits the dump (targeted iteration)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        // builders may persist() internal frames; drop them between
        // queries so the 50+-query sweep doesn't accumulate cache state
        spark.catalog.clearCache()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        // A crashed query must surface as a red row, never as silent
        // absence: record it in _errors.json beside the parquet dirs.
        errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val errJson = errors
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
