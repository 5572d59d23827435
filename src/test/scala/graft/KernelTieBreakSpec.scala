package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorOps

/** Tie-breaks of the ANN probe-and-rank kernel, on hand-made frames
  * with exact ties (the catalog corpus ties only where it happens to):
  * a cell_sim tie probes the smaller cell id, a similarity tie ranks
  * the smaller neighbor_id first, and both restart for every q_id.
  * Rows are listed larger-id first, so input order cannot pass for the
  * tie-break.
  */
class KernelTieBreakSpec extends AnyFunSuite {
  private lazy val spark = SparkT.spark

  private def queries = {
    import spark.implicits._
    Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("q_id", "q_emb")
  }

  // q0 = (1, 0) ties cells 7 and 3 at 0.5; q1 = (0, 1) ties 7 and 5
  private def cents = {
    import spark.implicits._
    Seq((7, Array(0.5, 0.5)), (5, Array(-0.5, 0.5)), (3, Array(0.5, -0.5)))
      .toDF("cell", "centroid")
  }

  test("nprobe=1 probes the smaller cell id of a cell_sim tie, per query") {
    val probed = VectorOps.probeCells(queries, cents, "cell", 1).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("cell_sim")))
      .toSet
    assert(probed == Set((0L, 3, 0.5), (1L, 5, 0.5)))
  }

  private def candidates = {
    import spark.implicits._
    Seq((0L, 9L, 0.8), (0L, 4L, 0.8), (0L, 6L, 0.9), (0L, 2L, 0.1),
      (1L, 8L, 0.5), (1L, 3L, 0.5))
      .toDF("q_id", "neighbor_id", "cos_sim")
  }

  private def ranks(k: Option[Int]): Set[(Long, Int, Long)] =
    VectorOps.ranked(candidates, "cos_sim", k).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id")))
      .toSet

  test("a similarity tie ranks the smaller neighbor_id first; ranks restart per q_id") {
    assert(ranks(Some(2)) == Set(
      (0L, 1, 6L), (0L, 2, 4L),
      (1L, 1, 3L), (1L, 2, 8L)))
  }

  test("the unbounded rank keeps every candidate in the same order") {
    assert(ranks(None) == Set(
      (0L, 1, 6L), (0L, 2, 4L), (0L, 3, 9L), (0L, 4, 2L),
      (1L, 1, 3L), (1L, 2, 8L)))
  }
}
