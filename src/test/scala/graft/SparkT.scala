package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (sbt forks a
  * single JVM; spinning a session per suite would dominate test time),
  * built from the same conf as the mains.
  */
object SparkT {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
