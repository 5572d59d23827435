package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every in-place publish under `src/main/scala` goes through
  * `sources.Publish`: renames, temp-file writes and sidecar reads live
  * in one place. The index's two convergence-checked renames in
  * `VectorOps.completeCompaction` (retire `lists`, swap the merged table
  * in) are its commit protocol, not a publish, and stay where they are.
  */
class OnePublishPathSpec extends AnyFunSuite {
  private val Home = "Publish.scala"

  private def hits(needle: String): Seq[(String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == Home))
    for {
      f: Path <- files if f.getFileName.toString != Home
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(needle)
    } yield (f.getFileName.toString, s"$f:${i + 1}: ${line.trim}")
  }

  test("no .rename( outside Publish.scala but the index's two commit renames") {
    val (commit, others) = hits(".rename(").partition(_._1 == "VectorOps.scala")
    assert(others.isEmpty, others.map(_._2).mkString("\n"))
    assert(commit.size === 2, commit.map(_._2).mkString("\n"))
  }

  test("no fromInputStream outside Publish.scala") {
    val offenders = hits("fromInputStream")
    assert(offenders.isEmpty, offenders.map(_._2).mkString("\n"))
  }
}
