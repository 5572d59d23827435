package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ingestion
import graft.sources.{Excel, Resilience}

/** Failure-surface contracts (sources.Resilience): the corrupt artifacts
  * must be GENUINELY corrupt — each tolerance row is paired with the
  * fail-fast proof that the default path rejects the same input, so the
  * oracle rows can never go vacuous via an accidentally-valid fixture.
  */
class ResilienceSpec extends AnyFunSuite {
  private lazy val spark = SparkT.spark

  test("torn parquet shard: tolerant scan skips it, default scan fails") {
    val tolerant = Resilience.corruptParquetScan(spark, SparkT.Sf0001)
    val nTolerant = tolerant.agg(sum("n_orders")).head().getLong(0)
    val full = Tables.load(spark, SparkT.Sf0001, "orders").count()
    assert(nTolerant > 0 && nTolerant < full,
      "tolerant scan must surface the intact slices only")
    // the same files WITHOUT ignoreCorruptFiles must fail on the torn shard
    val base = java.nio.file.Files.list(
        java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
      .toArray.map(_.toString).filter(_.contains("graft_corrupt_scan_")).head
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(
        graft.sources.Ingest.globPaths(spark, s"$base/shard_*/part-*.parquet"): _*).count()
    }
  }

  test("malformed NDJSON: DROPMALFORMED keeps exactly the recoverable rows") {
    val rows = Resilience.malformedNdjson(spark, SparkT.Sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L))
    // the null-price row survives (valid JSON, null value ≠ malformed)
    assert(rows.find(_.getLong(0) == 5L).exists(_.isNullAt(2)))
    // FAILFAST on the same fixture rejects it — the garbage is real
    intercept[org.apache.spark.SparkException] {
      spark.read
        .schema("sku BIGINT, seller STRING, price BIGINT, stock BIGINT")
        .option("mode", "FAILFAST")
        .json(s"${Ingestion.FixturesDir}/corrupt/offers_bad_lines.ndjson")
        .count()
    }
  }

  test("xlsx with missing sharedStrings: refs coerce to null, rest intact") {
    val back = Resilience.xlsxMissingSharedStrings(spark, SparkT.Sf0001).collect()
    assert(back.map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSeq ===
      Seq((101L, None, 5L), (102L, None, 7L), (103L, Some("inline ok"), 9L)))
    // the fixture really references shared strings: t="s" cells present
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"${Ingestion.FixturesDir}/xlsx/missing_shared_strings.xlsx"))
    val sheetXml = {
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      var found = ""
      var e = zin.getNextEntry
      while (e != null) {
        if (e.getName == "xl/worksheets/sheet1.xml")
          found = new String(zin.readAllBytes(), "UTF-8")
        assert(e.getName != "xl/sharedStrings.xml",
          "fixture must NOT contain a shared-string table")
        e = zin.getNextEntry
      }
      zin.close(); found
    }
    assert(sheetXml.contains("t=\"s\""))
    // an INTACT workbook still resolves its shared strings (no behavior
    // drift from the coerce change)
    val intact = Excel.readXlsx(spark,
      s"${Ingestion.FixturesDir}/xlsx/ActiveOrders 31.7.25.xlsx")
    assert(intact.count() > 0)
  }
}
