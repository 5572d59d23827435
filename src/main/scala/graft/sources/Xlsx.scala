package graft.sources

import java.io.ByteArrayInputStream
import java.time.LocalDate
import java.util.zip.ZipInputStream

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** SURVEY.md §2.1 S6 — Excel (`.xlsx`) reader on core JVM only, no
  * external dependency (the reference reads its order exports and the
  * supplier purchase workbook with `pd.read_excel`: etl_sales.py:43,
  * etl_purchases.py:29).
  *
  * An `.xlsx` is a zip of OOXML parts; this reader resolves the FIRST
  * worksheet (pd.read_excel's default) through
  * `workbook.xml` → `_rels/workbook.xml.rels` indirection (never
  * assumes a `sheet1.xml` name), then streams the sheet XML with StAX —
  * no DOM, memory stays O(row) past the initial per-file byte buffer.
  *
  * Value contract (all cells surface as raw strings; typed cleaning is
  * the downstream ingest layer's job, same S4 all-string contract as the
  * CSV readers):
  *   - `t="s"` shared strings and `t="inlineStr"` inline strings
  *     (rich-text runs concatenated) → their text;
  *   - formula cells → the cached `<v>` value, never the formula;
  *   - `t="b"` booleans → `"true"` / `"false"`;
  *   - `t="e"` error cells (`#N/A`, …) and absent cells → null;
  *   - numeric cells → the stored `<v>` text verbatim, EXCEPT cells
  *     whose style resolves to a date/time number format (builtin ids
  *     14–22/27–36/45–47/50–58 or a custom code with y/m/d/h/s tokens),
  *     which convert from the Excel serial (epoch 1899-12-30, or
  *     1904-01-01 when the workbook sets `workbookPr date1904`) to
  *     `yyyy-MM-dd` (fractional serials → `yyyy-MM-dd HH:mm:ss`).
  *     Serials < 61 fall in Excel's 1900-leap-bug region and are not
  *     adjusted; modern exports start at ~45000.
  *
  * Distribution: [[Excel.readXlsx]] lists the glob on the driver once
  * ([[Ingest.globStatus]]) to read ONE header row, then hands the listed
  * files to Spark's `binaryFile` source — each workbook parses on an
  * executor. A zip is not splittable, so the parallel grain is one task
  * per file: exactly right
  * for the many-small-workbooks landing directory the reference globs
  * (`*orders*.xlsx`), and at cluster scale thousands of files fan out
  * across executors with zero shuffle.
  */
object Xlsx {

  /** Hardened StAX factory: no DTDs, no external entities (workbooks are
    * untrusted input).
    */
  private def xmlFactory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  private def xml(bytes: Array[Byte]): XMLStreamReader =
    xmlFactory.createXMLStreamReader(new ByteArrayInputStream(bytes), "UTF-8")

  /** Parts needed to decode the first sheet; everything else (themes,
    * calc chains, print settings) is skipped while scanning the zip.
    */
  private def wanted(name: String): Boolean =
    name == "xl/workbook.xml" || name == "xl/_rels/workbook.xml.rels" ||
      name == "xl/sharedStrings.xml" || name == "xl/styles.xml" ||
      name.startsWith("xl/worksheets/")

  private def zipParts(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Map.empty[String, Array[Byte]]
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory && wanted(e.getName)) out(e.getName) = zin.readAllBytes()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toMap
  }

  /** First `<sheet>`'s worksheet part path, resolved via its `r:id`
    * relationship (targets are relative to `xl/`).
    */
  private def firstSheetPart(parts: Map[String, Array[Byte]]): String = {
    val wb = parts.getOrElse("xl/workbook.xml", sys.error("xlsx: missing xl/workbook.xml"))
    var rid: String = null
    val r = xml(wb)
    try {
      while (rid == null && r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet")
          rid = attr(r, "id") // r:id — matched by local name
      }
    } finally r.close()
    require(rid != null, "xlsx: workbook has no sheets")

    val rels = parts.getOrElse("xl/_rels/workbook.xml.rels", sys.error("xlsx: missing workbook rels"))
    var target: String = null
    val rr = xml(rels)
    try {
      while (rr.hasNext) {
        if (rr.next() == XMLStreamConstants.START_ELEMENT && rr.getLocalName == "Relationship" &&
          attr(rr, "Id") == rid) target = attr(rr, "Target")
      }
    } finally rr.close()
    require(target != null, s"xlsx: no relationship for sheet $rid")
    if (target.startsWith("/")) target.drop(1)
    else s"xl/$target"
  }

  /** First attribute with the given LOCAL name (namespace-agnostic, so
    * `r:id` and plain `id` both resolve).
    */
  private def attr(r: XMLStreamReader, local: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  private def sharedStrings(parts: Map[String, Array[Byte]]): IndexedSeq[String] =
    parts.get("xl/sharedStrings.xml").fold(IndexedSeq.empty[String]) { bytes =>
      val out = ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var inT = false
      val r = xml(bytes)
      try {
        while (r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => sb.clear()
              case "t"  => inT = true
              case _    => ()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inT) sb.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t"  => inT = false
              case "si" => out += sb.toString
              case _    => ()
            }
          case _ => ()
        }
      } finally r.close()
      out.toIndexedSeq
    }

  /** Builtin date/time number-format ids (ECMA-376 §18.8.30). */
  private val BuiltinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet

  /** A custom format code denotes a date/time iff it contains y/m/d/h/s
    * tokens outside bracketed sections and quoted literals.
    */
  private[graft] def isDateFormatCode(code: String): Boolean = {
    val stripped = code
      .replaceAll("\\[[^\\]]*\\]", "") // [Red], [$-409], elapsed [h]
      .replaceAll("\"[^\"]*\"", "")    // quoted literals
      .replaceAll("\\\\.", "")         // escaped chars
    stripped.exists(c => "ymdhsYMDHS".indexOf(c) >= 0)
  }

  /** Style index (`s` attribute) → is-date-format, from styles.xml:
    * custom `<numFmt>` codes, then `<cellXfs>` order = style index.
    */
  private def dateStyles(parts: Map[String, Array[Byte]]): Set[Int] =
    parts.get("xl/styles.xml").fold(Set.empty[Int]) { bytes =>
      val custom = mutable.Map.empty[Int, String]
      val xfFmts = ArrayBuffer.empty[Int]
      var inCellXfs = false
      val r = xml(bytes)
      try {
        while (r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "numFmt" =>
                custom(attr(r, "numFmtId").toInt) = Option(attr(r, "formatCode")).getOrElse("")
              case "cellXfs" => inCellXfs = true
              case "xf" if inCellXfs =>
                xfFmts += Option(attr(r, "numFmtId")).fold(0)(_.toInt)
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
            inCellXfs = false
          case _ => ()
        }
      } finally r.close()
      xfFmts.zipWithIndex.collect {
        case (fmt, style) if BuiltinDateFmts(fmt) ||
          custom.get(fmt).exists(isDateFormatCode) => style
      }.toSet
    }

  private val Epoch1900 = LocalDate.of(1899, 12, 30)
  private val Epoch1904 = LocalDate.of(1904, 1, 1)

  /** The workbook-level 1904 date system flag (`workbookPr date1904` —
    * Mac-origin workbooks): serials count from 1904-01-01 instead.
    * Silently ignoring it would shift every date by four years.
    */
  private def isDate1904(parts: Map[String, Array[Byte]]): Boolean =
    parts.get("xl/workbook.xml").exists { wb =>
      var found = false
      val r = xml(wb)
      try {
        while (!found && r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "workbookPr") {
            val v = attr(r, "date1904")
            found = v == "1" || v == "true"
          }
        }
      } finally r.close()
      found
    }

  /** Excel serial → ISO string; date-only serials stay `yyyy-MM-dd`. */
  private[graft] def serialToIso(v: String, date1904: Boolean = false): String = {
    val d = v.toDouble
    val days = math.floor(d).toLong
    val date = (if (date1904) Epoch1904 else Epoch1900).plusDays(days)
    val secs = math.round((d - days) * 86400d)
    if (secs == 0L) date.toString
    else {
      val t = java.time.LocalTime.ofSecondOfDay(math.min(secs, 86399L))
      s"$date $t:00".substring(0, 19) // LocalTime "HH:mm" when secs%60==0
    }
  }

  /** 0-based column index → `"BC"` letters (inverse of [[colIndex]]). */
  private[graft] def colLetters(idx: Int): String = {
    var i = idx + 1
    val sb = new StringBuilder
    while (i > 0) {
      sb.insert(0, ('A' + (i - 1) % 26).toChar)
      i = (i - 1) / 26
    }
    sb.toString
  }

  /** `"BC"` column letters → 0-based index. */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** One sheet row: 1-based sheet row number + ragged cell values
    * (null = absent / error cell).
    */
  final case class SheetRow(rowNum: Long, cells: Array[String])

  /** Parse a whole workbook's first sheet. Small-file contract: the byte
    * buffer is the file (Excel inputs are MBs); rows stream off it.
    */
  def parse(bytes: Array[Byte]): Vector[SheetRow] = {
    val parts = zipParts(bytes)
    val sst = sharedStrings(parts)
    val dateStyleIdx = dateStyles(parts)
    val date1904 = isDate1904(parts)
    val sheetName = firstSheetPart(parts)
    val sheet = parts.getOrElse(sheetName, sys.error(s"xlsx: missing part $sheetName"))

    val rows = Vector.newBuilder[SheetRow]
    val cells = ArrayBuffer.empty[String]
    var rowNum = 0L
    var cellCol = 0
    var cellType = ""
    var cellStyle = 0
    var inV = false
    var inT = false
    val text = new StringBuilder

    def endCell(): Unit = {
      val raw = text.toString
      val value: String = cellType match {
        // shared-string refs COERCE to null when the table is missing or
        // short (a workbook whose sharedStrings.xml write was interrupted
        // is still structurally valid; the reference family's convention
        // is skip/coerce, not crash — etl_sales.py:12-13) — pinned by
        // q_xlsx_missing_sst on the committed corrupt fixture
        case "s" =>
          if (raw.isEmpty) null
          else {
            val i = raw.trim.toInt
            if (i >= 0 && i < sst.length) sst(i) else null
          }
        case "inlineStr" => raw
        case "b"         => if (raw.trim == "1") "true" else "false"
        case "e"         => null
        case "str"       => raw
        case _ => // plain number (or formula-cached number)
          if (raw.isEmpty) null
          else if (dateStyleIdx(cellStyle)) serialToIso(raw, date1904)
          else raw
      }
      while (cells.length < cellCol) cells += null
      if (cells.length == cellCol) cells += value else cells(cellCol) = value
    }

    val r = xml(sheet)
    try {
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              cells.clear()
              rowNum = Option(attr(r, "r")).fold(rowNum + 1)(_.toLong)
            case "c" =>
              val ref = attr(r, "r")
              cellCol = if (ref == null) cells.length else colIndex(ref)
              cellType = Option(attr(r, "t")).getOrElse("")
              cellStyle = Option(attr(r, "s")).fold(0)(_.toInt)
              text.clear()
            case "v"             => inV = true
            case "t"             => inT = true
            case _               => ()
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (inV || inT) text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v"   => inV = false
            case "t"   => inT = false
            case "c"   => endCell()
            case "row" => rows += SheetRow(rowNum, cells.toArray)
            case _     => ()
          }
        case _ => ()
      }
    } finally r.close()
    rows.result()
  }

  // ── writer (inverse of [[parse]]) ────────────────────────────────────

  /** XML 1.0 text escaping; control characters (illegal even escaped)
    * degrade to spaces rather than corrupting the part.
    */
  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '&'  => sb.append("&amp;")
      case '<'  => sb.append("&lt;")
      case '>'  => sb.append("&gt;")
      case '"'  => sb.append("&quot;")
      case c if c < 0x20 && c != '\t' && c != '\n' && c != '\r' => sb.append(' ')
      case c    => sb.append(c)
    }
    sb.toString
  }

  /** Fixed zip-entry mtime so identical content produces identical bytes
    * (workbook exports are diffed and fingerprinted downstream).
    */
  private val ZipEpoch: Long =
    java.time.LocalDateTime.of(2020, 1, 1, 0, 0)
      .atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli

  private val XmlDecl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
  private val NsMain = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val NsRel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val NsPkgRel = "http://schemas.openxmlformats.org/package/2006/relationships"

  /** Stream a single-sheet workbook: one header row of the column names,
    * then one sheet row per data row (the exact shape [[parse]] and
    * `Excel.readXlsx` consume — the S6↔K-export round trip the
    * reference's import/export acceptance pins,
    * PRICEBOT_SPEC_V2.md:114-121, app/page.tsx:56-80).
    *
    * Cell encoding mirrors the reader's value contract:
    *   - null → cell omitted (reads back as null);
    *   - numbers (any `java.lang.Number`) → plain numeric `<v>` cells,
    *     rendered with `toString` so the reader's verbatim-text rule
    *     returns the same string;
    *   - booleans → `t="b"` (read back as `"true"`/`"false"`);
    *   - everything else → `t="inlineStr"` with `xml:space="preserve"`
    *     (no shared-string table: inline strings keep the writer
    *     single-pass / O(row) so a large export never builds a
    *     driver-side dictionary).
    *
    * The zip container is not splittable, so one workbook is inherently
    * one stream — `rows` is consumed lazily and never buffered.
    */
  def write(header: Seq[String], rows: Iterator[Seq[Any]],
            out: java.io.OutputStream, sheetName: String = "Sheet1"): Unit = {
    val z = new java.util.zip.ZipOutputStream(out)
    def part(name: String)(body: java.io.Writer => Unit): Unit = {
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(ZipEpoch)
      z.putNextEntry(e)
      val w = new java.io.OutputStreamWriter(z, "UTF-8")
      body(w)
      w.flush()
      z.closeEntry()
    }
    try {
      part("[Content_Types].xml") { w =>
        w.write(XmlDecl +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          "</Types>")
      }
      part("_rels/.rels") { w =>
        w.write(XmlDecl + s"""<Relationships xmlns="$NsPkgRel">""" +
          s"""<Relationship Id="rId1" Type="$NsRel/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>")
      }
      part("xl/workbook.xml") { w =>
        w.write(XmlDecl + s"""<workbook xmlns="$NsMain" xmlns:r="$NsRel"><sheets>""" +
          s"""<sheet name="${esc(sheetName)}" sheetId="1" r:id="rId1"/>""" +
          "</sheets></workbook>")
      }
      part("xl/_rels/workbook.xml.rels") { w =>
        w.write(XmlDecl + s"""<Relationships xmlns="$NsPkgRel">""" +
          s"""<Relationship Id="rId1" Type="$NsRel/worksheet" Target="worksheets/sheet1.xml"/>""" +
          "</Relationships>")
      }
      part("xl/worksheets/sheet1.xml") { w =>
        def cell(ref: String, v: Any): Unit = v match {
          case null => ()
          case b: java.lang.Boolean =>
            w.write(s"""<c r="$ref" t="b"><v>${if (b) "1" else "0"}</v></c>""")
          case n: java.lang.Number =>
            w.write(s"""<c r="$ref"><v>${n.toString}</v></c>""")
          case other =>
            w.write(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(other.toString)}</t></is></c>""")
        }
        def row(rowNum: Long, vals: Seq[Any]): Unit = {
          w.write(s"""<row r="$rowNum">""")
          vals.zipWithIndex.foreach { case (v, c) => cell(s"${colLetters(c)}$rowNum", v) }
          w.write("</row>")
        }
        w.write(XmlDecl + s"""<worksheet xmlns="$NsMain"><sheetData>""")
        row(1L, header)
        var r = 2L
        rows.foreach { vals => row(r, vals); r += 1 }
        w.write("</sheetData></worksheet>")
      }
    } finally z.close()
  }
}

/** The Spark-facing Excel source (S6 + the S1/S2 glob scans over
  * `*orders*.xlsx`, reference etl_sales.py:36-43).
  */
object Excel {

  /** Read every workbook matching `glob` into one all-string DataFrame:
    * row 1 of the first file (path-sorted) is the header, every file
    * must present the same header (fail fast otherwise — silently
    * misaligned columns at 100 TB are unrecoverable), and two
    * provenance columns are appended:
    * `_file` (workbook basename) and `_row` (1-based sheet row) — the
    * deterministic tiebreak for first-wins dedup, replacing the
    * pandas-concat implicit row order (etl_purchases.py:56).
    *
    * Driver work is ONE header-row read; the per-file parse runs
    * distributed on the `binaryFile` source.
    */
  def readXlsx(spark: SparkSession, glob: String): DataFrame = {
    val matches = Ingest.globStatus(spark, glob).map(_.getPath)
    require(matches.nonEmpty, s"no .xlsx matches $glob")
    val firstPath = matches.minBy(_.getName)
    val fs = firstPath.getFileSystem(spark.sessionState.newHadoopConf())

    val headerBytes = {
      val in = fs.open(firstPath)
      try in.readAllBytes() finally in.close()
    }
    val firstRows = Xlsx.parse(headerBytes)
    require(firstRows.nonEmpty, s"empty workbook $firstPath")
    val header = normalizeHeaderCells(firstRows.head.cells)
    val n = header.length

    val schema = StructType(
      header.map(StructField(_, StringType, nullable = true)) ++
        Seq(StructField("_file", StringType, nullable = false),
          StructField("_row", LongType, nullable = false)))

    spark.read.format("binaryFile").load(matches.map(_.toString): _*)
      .select("path", "content")
      .flatMap { fileRow =>
        val path = fileRow.getString(0)
        val base = path.substring(path.lastIndexOf('/') + 1)
        val rows = Xlsx.parse(fileRow.getAs[Array[Byte]](1))
        require(rows.nonEmpty, s"empty workbook $base")
        val thisHeader = normalizeHeaderCells(rows.head.cells)
        require(thisHeader.sameElements(header),
          s"header mismatch in $base: ${thisHeader.mkString("|")} vs ${header.mkString("|")}")
        rows.iterator.drop(1).map { sr =>
          val padded = java.util.Arrays.copyOf(sr.cells.asInstanceOf[Array[AnyRef]], n)
          Row.fromSeq(padded.toIndexedSeq :+ base :+ sr.rowNum)
        }
      }(Encoders.row(schema))
  }

  /** Header cells → column names: null/blank header cells become
    * positional `_cN` names (pandas gives `Unnamed: N`).
    */
  private def normalizeHeaderCells(cells: Array[String]): Array[String] =
    cells.zipWithIndex.map { case (c, i) =>
      if (c == null || c.trim.isEmpty) s"_c$i" else c
    }

  /** Export `df` as ONE workbook at `path` — the K-side of the
    * reference's XLSX import/export round trip
    * (PRICEBOT_SPEC_V2.md:114-121: the priced sheet downloads back in
    * the uploaded shape). Column order is `df.columns` order, pinned as
    * the header row.
    *
    * A zip is one non-splittable stream, so a single export artifact is
    * inherently sequential: rows pull through `toLocalIterator` —
    * driver memory stays O(one partition), nothing is collected — and
    * [[Xlsx.write]] streams them straight into the zip. Scale path for
    * bulk data is many workbooks (one per partition via the parallel
    * reader's inverse), but the reference's export is a single
    * user-facing file; this sink matches that contract.
    */
  def writeXlsx(df: DataFrame, path: String, sheetName: String = "Sheet1"): Unit =
    writeXlsxCapped(df, path, sheetName, MaxXlsxDataRows)

  /** Distributed MULTI-workbook export — K5 at 100× scale. One workbook
    * per non-empty partition, written TASK-side (`foreachPartition`, so
    * N partitions export as N parallel zip streams with zero driver
    * involvement), each published through [[Publish.file]], so a task
    * retry can never leave a torn shard.
    *
    * Alongside each `part-NNNNN.xlsx` the task lands a one-line manifest
    * row under `dir/_manifest/` (`{"shard":N,"file":"…","n_rows":N}`),
    * also through [[Publish.file]]; the returned frame is the manifest
    * read back, so a caller can audit shard completeness without
    * opening workbooks.
    * This is the exact inverse of [[readXlsx]]'s one-task-per-file
    * grain: `readXlsx(spark, s"$dir/part-*.xlsx")` round-trips the
    * frame, and at cluster scale thousands of shards fan out across
    * executors with zero shuffle in either direction.
    *
    * Each shard keeps the single-workbook row cap (the OOXML sheet
    * limit): bulk data must arrive pre-partitioned below the cap —
    * `df.repartition(ceil(n / cap), key)` — which is the caller's
    * layout decision, not something a sink should silently re-shuffle.
    */
  def writeXlsxSharded(df: DataFrame, dir: String,
      sheetName: String = "Sheet1",
      capPerShard: Long = MaxXlsxDataRows): DataFrame = {
    val spark = df.sparkSession
    val header = df.columns.toSeq
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val base = new Path(dir)
    val fs0 = base.getFileSystem(hadoopConf.value)
    fs0.delete(base, true) // deterministic start state (rerun = overwrite)
    fs0.mkdirs(new Path(base, "_manifest"))
    val cap = capPerShard
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val fs = new Path(dir).getFileSystem(hadoopConf.value)
        val name = f"part-$pid%05d.xlsx"
        var n = 0L
        Publish.file(fs, new Path(dir, name)) { out =>
          Xlsx.write(header, it.map { r =>
            n += 1
            require(n <= cap,
              s"xlsx shard $name exceeds the per-workbook cap of $cap rows: " +
                "repartition the frame into more shards")
            r.toSeq
          }, out, sheetName)
        }
        Publish.file(fs, new Path(s"$dir/_manifest", f"part-$pid%05d.json"),
          s"""{"shard":$pid,"file":"$name","n_rows":$n}""" + "\n")
      }
    }
    spark.read
      .schema("shard INT, file STRING, n_rows LONG")
      .json(s"$dir/_manifest")
  }

  /** Row cap of the single-workbook export: the OOXML sheet limit
    * (2^20 rows) minus the header. The cap is the sink's CONTRACT
    * guard — this is a driver-streamed, user-facing export (the
    * reference's priced-sheet download), and handing it a fact table is
    * a misuse that must fail loudly, not grind one core for an
    * unopenable file. Bulk data exports as many workbooks (partition
    * the frame, one writeXlsx per slice) or a distributed format.
    */
  val MaxXlsxDataRows: Long = (1L << 20) - 1

  /** [[writeXlsx]] with an explicit cap (SinksSpec exercises the guard
    * without constructing 2^20 rows). Enforced DURING the row stream —
    * no extra counting job; the write aborts on the first over-cap row.
    *
    * The write goes through [[Publish.file]]: an over-cap abort (or
    * any mid-zip failure) leaves an existing export untouched.
    */
  private[graft] def writeXlsxCapped(df: DataFrame, path: String,
      sheetName: String, cap: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    var n = 0L
    Publish.file(fs, p) { out =>
      Xlsx.write(df.columns.toSeq,
        df.toLocalIterator().asScala.map { r =>
          n += 1
          require(n <= cap,
            s"writeXlsx is a single-workbook export sink capped at $cap data " +
              s"rows ($path): partition the frame and export multiple " +
              "workbooks for bulk data")
          r.toSeq
        }, out, sheetName)
    }
  }
}
