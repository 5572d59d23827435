package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.F
import graft.operators.VectorOps
import graft.sources.ParquetMeta

/** The stored search builds its ADC lookup table from the query frame,
  * not from the probed frame: one LUT row per (q_id, sub, code) at any
  * probe depth, and the same rows as a search whose LUT is the probed
  * frame deduplicated on q_id (the form that computed the probe twice).
  */
class StoredSearchLutSpec extends AnyFunSuite {
  private lazy val spark = SparkT.spark
  private val dir = SparkT.Sf0001

  test("LUT: one row per (q_id, sub, code); searchStored at IvfNProbe matches the probed-frame LUT") {
    VectorOps.ivfPqIndexSearch(spark, dir).collect() // build at most once
    val base = VectorOps.indexBase(dir, "search")
    val nprobe = VectorOps.IvfNProbe
    val codebooks = ParquetMeta.read(spark, s"$base/codebooks")
    val q = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < VectorOps.NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = VectorOps.probeCells(q,
        ParquetMeta.read(spark, s"$base/centroids"), "cluster", nprobe)
      .withColumnRenamed("cluster", "cell")

    val lut = VectorOps.pqLut(q, codebooks)
    val keys = lut.groupBy("q_id", "sub", "code").count()
    assert(keys.filter(col("count") =!= 1).isEmpty)
    assert(lut.count() === q.count() * codebooks.count())
    val probedLut = VectorOps.pqLut(
      probed.select(col("q_id"), col("q_emb")).dropDuplicates("q_id"), codebooks)
    assert(lut.collect().toSet === probedLut.collect().toSet)

    val cand = ParquetMeta.read(spark, s"$base/lists")
      .select(col("vec_id"), col("sub"), col("code"), col("cell").cast("int").as("cell"))
      .join(broadcast(probed.select(col("q_id"), col("cell"), col("cell_sim"))), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
    val expected = VectorOps.ranked(
      cand.join(broadcast(probedLut), Seq("q_id", "sub", "code"))
        .groupBy(col("q_id"), col("cell"), col("cell_sim"), col("vec_id").as("neighbor_id"))
        .agg(F.sumDecAsDouble(col("part"), 10).as("approx_sim")),
      "approx_sim")
    val got = VectorOps.searchStored(spark, dir, base, Nil, nprobe)
    assert(got.columns.toSeq === expected.columns.toSeq)
    val rows = got.collect().map(_.toSeq).toSet
    assert(rows.nonEmpty)
    assert(rows === expected.collect().map(_.toSeq).toSet)
  }
}
