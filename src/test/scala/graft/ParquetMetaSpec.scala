package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorOps
import graft.sources.ParquetMeta

/** `ParquetMeta.read` is `spark.read.parquet` with the schema taken
  * from a footer on the driver: the same schema (partition columns
  * still inferred from the directory names), the same errors, and no
  * schema-inference job.
  */
class ParquetMetaSpec extends AnyFunSuite {
  private lazy val spark = SparkT.spark
  private val dir = SparkT.Sf0001

  private def sameSchema(path: String) =
    assert(ParquetMeta.read(spark, path).schema === spark.read.parquet(path).schema)

  test("schema equals inference: embeddings and events (ts under the session's timestamp settings)") {
    sameSchema(s"$dir/embeddings.parquet")
    sameSchema(s"$dir/events.parquet")
    // the session reads TIMESTAMP(NANOS) as nanos longs; Tables.load
    // turns them into a timestamp plus ts_ns
    assert(ParquetMeta.read(spark, s"$dir/events.parquet").schema("ts").dataType ===
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType)
  }

  test("a stored cell-partitioned lists table keeps `cell` inferred from the directory names") {
    VectorOps.ivfPqIndexSearch(spark, dir).collect()
    val lists = s"${VectorOps.indexBase(dir, "search")}/lists"
    sameSchema(lists)
    assert(ParquetMeta.read(spark, lists).schema.fieldNames.last === "cell")
  }

  test("a missing path and a committed-but-empty directory fail as spark.read.parquet does") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-parquetmeta")
    val missing = tmp.resolve("absent").toString
    val empty = tmp.resolve("empty")
    java.nio.file.Files.createDirectories(empty)
    java.nio.file.Files.createFile(empty.resolve("_SUCCESS"))
    for (p <- Seq(missing, empty.toString)) {
      val plain = intercept[AnalysisException](spark.read.parquet(p))
      val viaMeta = intercept[AnalysisException](ParquetMeta.read(spark, p))
      assert(viaMeta.getCondition === plain.getCondition, p)
    }
  }

  test("a warm stored search submits no job from DataFrameReader.parquet") {
    VectorOps.ivfPqIndexSearch(spark, dir).collect() // build at most once
    val details = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(s => details.add(s.details))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      VectorOps.ivfPqIndexSearch(spark, dir).collect()
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!details.isEmpty)
    val inference = details.asScala.filter(_.contains("DataFrameReader.parquet"))
    assert(inference.isEmpty, inference.mkString("\n---\n"))
  }
}
