package graft

/** Dev/smoke entrypoint: runs the flagship `SparkEntry.entry` slice the way
  * the driver's t1 smoke does, prints row count and (optionally, with
  * args(0) == a query name or "entry") the formatted physical plan — the
  * feedback loop for keeping plans broadcast/pushdown-shaped.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args.headOption match {
      case Some(q) if q != "entry" =>
        val df = SparkEntry.queries(q)(spark, sfDir)
        df.explain("formatted")
        println(s"SMOKE $q rows=${df.count()}")
      case _ =>
        val df = SparkEntry.entry(spark)
        df.explain("formatted")
        println(s"SMOKE entry rows=${df.count()}")
        df.show(5, truncate = false)
    }
    spark.stop()
  }
}
