package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Both trained quantizers (coarse IVF cells and PQ codebooks) are built
  * by the one quantizer kernel at the top of `VectorOps`: the argmax
  * assign is written once, in `assign`, and the Lloyd meter ticks once,
  * in `lloyd`. A second copy of either under `src/main/scala` fails
  * here. Comment lines are not code and are skipped.
  */
class QuantizerKernelGuardSpec extends AnyFunSuite {
  /** A member def of a top-level object (two-space indent), so a
    * nested helper def counts toward the member that holds it. */
  private val Def = """^  (private(\[\w+\])?\s+)?def\s+(\w+).*""".r

  /** (file, enclosing def, line) of every code line holding `needle`. */
  private def hits(needle: String): Seq[(String, String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    for {
      f <- files
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if line.contains(needle)
    } yield {
      val owner = lines.take(i + 1).reverseIterator
        .collectFirst { case Def(_, _, name) => name }.getOrElse("")
      (f.getFileName.toString, owner, s"$f:${i + 1}: $code")
    }
  }

  private def onlyIn(needle: String, owner: String): Unit = {
    val found = hits(needle)
    assert(found.map(h => (h._1, h._2)) == Seq(("VectorOps.scala", owner)),
      found.map(_._3).mkString("\n"))
  }

  test("max(struct( appears once under src/main/scala, in VectorOps.assign") {
    onlyIn("max(struct(", "assign")
  }

  test("the Lloyd meter ticks once under src/main/scala, in VectorOps.lloyd") {
    onlyIn("LloydMeter.iterations.incrementAndGet", "lloyd")
  }
}
