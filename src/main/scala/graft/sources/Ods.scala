package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.ZipInputStream

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REAL OpenDocument Spreadsheet ingestion — the reference's actual input
  * format (`pd.read_excel(..., engine="odf")` over Anatel's ODS exports,
  * /root/reference/etl/etl_ida.py:171-257). An ODS file is a zip container
  * of named XML parts; the sheet grid lives in `content.xml` as
  * `table:table > table:table-row > table:table-cell` with run-length
  * encodings. This is a pure-JVM reader (java.util.zip + the JDK's StAX
  * pull parser — zero external deps) honoring the ODF encodings that
  * actually occur in exported workbooks:
  *
  *  - `table:number-columns-repeated` / `table:number-rows-repeated`
  *    run-length compression — including LibreOffice's trailing padding
  *    (an empty row repeated to row 1,048,576 each spanning 16,384
  *    repeated empty cells). Repeats of EMPTY cells/rows are accumulated
  *    lazily and only flushed when real content follows, so the ~17G-cell
  *    padding costs O(1) and trailing blanks vanish — exactly pandas'
  *    trailing-NaN trim. INTERIOR empty cells/rows are preserved (they
  *    carry row-index/lineage meaning);
  *  - merged cells: the anchor carries `table:number-rows-spanned`; the
  *    shadowed positions are `table:covered-table-cell`s, which parse as
  *    blanks — feeding the same W3 forward-fill the reference applies to
  *    `pd.read_excel`'s NaN-filled merge continuations (etl_ida.py:249);
  *  - cell text from nested `text:p` paragraphs (joined with newline),
  *    `text:s`/`text:tab` whitespace elements expanded; a value-typed cell
  *    with no display text falls back to its `office:value` attribute;
  *  - only the REQUESTED sheet is parsed, and parsing stops at its closing
  *    tag — the reference's SHEET_MAPPING semantics (each service reads
  *    one named sheet; decoy sheets in the container are never scanned
  *    past their start tags).
  *
  * Spark-first shape: a zip is not splittable, so the unit of parallelism
  * is the FILE — `binaryFile` distributes one task per workbook, which is
  * the honest 100-TB layout for spreadsheet ingest (a workbook is
  * metadata-to-megabytes; a crawl of them is wide). Within one file the
  * StAX parse is a single streaming pass that never materializes the XML
  * tree. The header probe reuses [[Probe.findHeaderRow]] on the first
  * [[Probe.MaxScan]] parsed rows, mirroring [[RawIngest]]'s two-phase
  * read; the DuckDB oracle reads a committed CSV mirror of the same grid
  * (DuckDB has no ODS reader) generated from the same source of truth
  * (tools/make_ods_fixture.py), with grid equality additionally pinned in
  * OdsSpec. Untrusted-input hygiene: DTDs and external entities are
  * disabled on the parser. */
object Ods {

  private val TableNs = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  private val TextNs = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
  private val OfficeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"

  /** Fail-fast bounds on MATERIALIZED grid size (after lazy-empty
    * trimming): a malformed container cannot OOM an executor. Real
    * spreadsheet bounds are 16,384 cols x 1,048,576 rows; actual content
    * at these bounds is not a spreadsheet export. */
  val MaxCells = 1 << 24
  val MaxCols = 16384

  /** Parse ONE sheet of an ODS container into its cell grid (trailing
    * empty cells/rows trimmed, interior ones preserved; covered/merged
    * continuation cells are empty strings). Throws if the container has no
    * `content.xml` or no table named `sheet`. */
  def sheetRows(content: Array[Byte], sheet: String): Seq[Seq[String]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(content))
    try {
      var entry = zin.getNextEntry
      while (entry != null && entry.getName != "content.xml")
        entry = zin.getNextEntry
      require(entry != null, "ODS container has no content.xml part")
      parseContent(zin, sheet)
    } finally zin.close()
  }

  private def parseContent(in: InputStream, sheet: String): Seq[Seq[String]] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
      java.lang.Boolean.FALSE)
    val r = f.createXMLStreamReader(in, "UTF-8")
    try parseSheet(r, sheet)
    finally r.close()
  }

  private def parseSheet(r: XMLStreamReader, sheet: String): Seq[Seq[String]] = {
    val rows = Seq.newBuilder[Seq[String]]
    var nRows = 0L
    var pendingEmptyRows = 0L
    var inTable = false
    var found = false
    var done = false

    // current-row state (rows never nest, so single slots suffice)
    var cells: scala.collection.mutable.ArrayBuffer[String] = null
    var pendingEmptyCells = 0L
    var rowRepeat = 1L

    // current-cell state
    var inCell = false
    var covered = false
    var cellRepeat = 1L
    var officeValue: String = null
    val text = new StringBuilder
    var sawText = false
    var paraDepth = 0
    var paras = 0

    def longAttr(ns: String, name: String, default: Long): Long = {
      val v = r.getAttributeValue(ns, name)
      if (v == null) default else v.toLong
    }

    def emitRow(rowRepeat: Long): Unit = {
      val row = cells.toSeq
      if (row.isEmpty) pendingEmptyRows += rowRepeat // lazy: trailing drop
      else {
        val total = pendingEmptyRows + rowRepeat + nRows
        require(total <= MaxCells,
          s"ODS sheet exceeds $MaxCells materialized rows")
        while (pendingEmptyRows > 0) { rows += Seq.empty; pendingEmptyRows -= 1 }
        var k = rowRepeat
        while (k > 0) { rows += row; k -= 1 }
        nRows = total
      }
    }

    while (!done && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          val ns = r.getNamespaceURI
          val ln = r.getLocalName
          if (ns == TableNs && ln == "table") {
            if (r.getAttributeValue(TableNs, "name") == sheet) {
              inTable = true; found = true
            }
          } else if (inTable && ns == TableNs && ln == "table-row") {
            cells = scala.collection.mutable.ArrayBuffer.empty[String]
            pendingEmptyCells = 0L
            rowRepeat = longAttr(TableNs, "number-rows-repeated", 1L)
          } else if (inTable && ns == TableNs &&
              (ln == "table-cell" || ln == "covered-table-cell")) {
            inCell = true
            covered = ln == "covered-table-cell"
            cellRepeat = longAttr(TableNs, "number-columns-repeated", 1L)
            officeValue = r.getAttributeValue(OfficeNs, "value")
            text.clear(); sawText = false; paras = 0; paraDepth = 0
          } else if (inCell && ns == TextNs && ln == "p") {
            if (paras > 0) text.append('\n')
            paras += 1; paraDepth += 1; sawText = true
          } else if (inCell && paraDepth > 0 && ns == TextNs && ln == "s") {
            var k = longAttr(TextNs, "c", 1L)
            while (k > 0) { text.append(' '); k -= 1 }
          } else if (inCell && paraDepth > 0 && ns == TextNs && ln == "tab") {
            text.append('\t')
          }

        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (inCell && paraDepth > 0) text.append(r.getText)

        case XMLStreamConstants.END_ELEMENT =>
          val ns = r.getNamespaceURI
          val ln = r.getLocalName
          if (inCell && ns == TextNs && ln == "p") paraDepth -= 1
          else if (inTable && ns == TableNs &&
              (ln == "table-cell" || ln == "covered-table-cell")) {
            val v =
              if (covered) ""
              else if (sawText) text.result()
              else if (officeValue != null) officeValue
              else ""
            if (v.isEmpty) pendingEmptyCells += cellRepeat // lazy trailing
            else {
              val width = pendingEmptyCells + cellRepeat + cells.length
              require(width <= MaxCols,
                s"ODS row exceeds $MaxCols materialized cells")
              while (pendingEmptyCells > 0) { cells += ""; pendingEmptyCells -= 1 }
              var k = cellRepeat
              while (k > 0) { cells += v; k -= 1 }
            }
            inCell = false
          } else if (inTable && ns == TableNs && ln == "table-row") {
            emitRow(rowRepeat)
          } else if (inTable && ns == TableNs && ln == "table") {
            done = true // requested sheet fully parsed; skip the rest
          }

        case _ => ()
      }
    }
    require(found, s"ODS container has no sheet named '$sheet'")
    rows.result()
  }

  /** Distributed raw read: `(row_idx, cells)` per grid row of the named
    * sheet, one parse task per workbook file via `binaryFile`. */
  def readSheet(spark: SparkSession, path: String, sheet: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("content")).as[Array[Byte]]
      .flatMap(bytes => sheetRows(bytes, sheet).zipWithIndex.map {
        case (cs, i) => (i.toLong, cs)
      })
      .toDF("row_idx", "cells")
  }

  /** S4-S6 over a REAL ODS container: probe the header row on the first
    * [[Probe.MaxScan]] parsed grid rows ([[Probe.findHeaderRow]] — the
    * same probe the delimited path uses), then project the data rows under the
    * detected column names. Output matches
    * [[RawIngest.readWithDetectedHeader]]: `row_idx` (0-based data row),
    * the detected columns as nullable strings (blank cells -> NULL, like
    * `from_csv`'s empty-cell default — what the W3 forward-fill expects),
    * and `ARQUIVO_ORIGEM`. Single-workbook, like the delimited reader
    * ([[RawIngest.requireSingleFile]]); [[readSheet]] itself stays
    * glob-capable for schema-free raw parsing. */
  def readSheetWithDetectedHeader(spark: SparkSession, path: String,
                                  sheet: String): DataFrame = {
    RawIngest.requireSingleFile(spark, path, "readSheetWithDetectedHeader")
    val parsed = readSheet(spark, path, sheet)
    val head: Seq[Seq[String]] = parsed.orderBy(col("row_idx"))
      .limit(Probe.MaxScan).collect().map(r => r.getSeq[String](1).toSeq).toSeq
    val idx = Probe.findHeaderRow(head)
    require(idx < head.length, s"header probe found no header in $path!$sheet")
    val names = RawIngest.dedupeNames(head(idx).map(_.trim))
    val fileName = new java.io.File(path).getName
    val dataCols: Seq[Column] = names.zipWithIndex.map { case (n, i) =>
      val c = try_element_at(col("cells"), lit(i + 1)) // null past row end
      when(c === "", lit(null)).otherwise(c).as(n)
    }
    parsed.filter(col("row_idx") > idx)
      .select((col("row_idx") - lit(idx + 1)).as("row_idx") +: dataCols: _*)
      .withColumn("ARQUIVO_ORIGEM", lit(fileName))
  }

  /** ODS analog of [[RawIngest.readIdaExport]]: detected-header sheet read
    * + canonical id-header renames, feeding
    * [[graft.plans.IdaTransform.rawWideToRecords]] unchanged. */
  def readIdaExport(spark: SparkSession, path: String, sheet: String): DataFrame =
    RawIngest.renameIdaHeaders(readSheetWithDetectedHeader(spark, path, sheet))
}
