package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The test session runs the engine conf the benchmark declares in
  * `perfbench/session_conf.json` (graft.Bench's conf, kept in step by
  * `perfbench/selftest.py`), so Tier-1 checks the engine the oracle
  * gate and the bench run. `master` and the runtime `graft.*` keys are
  * left out: the test session pins 4 cores and sorts its results.
  */
class SessionConfSpec extends AnyFunSuite {
  private val declared: Map[String, String] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File("perfbench/session_conf.json"),
        classOf[java.util.Map[String, String]])
      .asScala.toMap
      .filter { case (k, _) => k != "master" && !k.startsWith("graft.") }

  test("the test session carries every declared session conf value") {
    assert(declared.contains("spark.shuffle.sort.bypassMergeThreshold"))
    val spark = SparkT.spark
    val drift = declared.collect {
      case (k, v) if spark.conf.getOption(k) != Some(v) =>
        s"$k: declared $v, session ${spark.conf.getOption(k)}"
    }
    assert(drift.isEmpty, drift.mkString("; "))
  }
}
