package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every batch parquet read under `src/main/scala` goes through
  * `ParquetMeta.read`: a schema-less `spark.read.parquet` runs a
  * schema-inference job per call.
  */
class OneReadPathSpec extends AnyFunSuite {
  test("no .read.parquet( outside ParquetMeta.scala") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "ParquetMeta.scala"))
    val offenders = for {
      f: Path <- files if f.getFileName.toString != "ParquetMeta.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(".read.parquet(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
