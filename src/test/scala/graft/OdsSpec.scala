package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.model.EngineConfig
import graft.sources.{Catalog, Ods, RawIngest}

/** The REAL ODS container reader: zip + content.xml StAX parse, ODF
  * run-length/merged-cell semantics, sheet selection, and equality of the
  * committed fixture's parsed grid with its committed CSV oracle mirror
  * (the invariant the e2_lifecycle_ods DuckDB gate rests on). */
class OdsSpec extends SparkSpec {

  private val odsPath = SparkEntry.odsFixturePath
  private val odsBytes =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(odsPath))
  private val mirrorCsv = SparkEntry.odsOracleFixture._1

  /** Build a minimal ODS container in memory around the given sheet XML. */
  private def odsOf(tablesXml: String): Array[Byte] = {
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        "<office:document-content" +
        """ xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"""" +
        """ xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"""" +
        """ xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">""" +
        s"<office:body><office:spreadsheet>$tablesXml" +
        "</office:spreadsheet></office:body></office:document-content>"
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry("mimetype"))
    z.write("application/vnd.oasis.opendocument.spreadsheet".getBytes("UTF-8"))
    z.closeEntry()
    z.putNextEntry(new ZipEntry("content.xml"))
    z.write(content.getBytes("UTF-8"))
    z.closeEntry()
    z.close()
    bos.toByteArray
  }

  test("ODF semantics: columns-repeated expansion, covered cells as " +
    "blanks, interior empty rows preserved, trailing padding dropped lazily") {
    val bytes = odsOf(
      """<table:table table:name="S">""" +
        // a;; b  (interior repeated empties)
        """<table:table-row><table:table-cell office:value-type="string">""" +
        """<text:p>a</text:p></table:table-cell>""" +
        """<table:table-cell table:number-columns-repeated="2"/>""" +
        """<table:table-cell><text:p>b</text:p></table:table-cell>""" +
        "</table:table-row>" +
        // merged anchor + covered continuation
        """<table:table-row><table:table-cell """ +
        """table:number-rows-spanned="2"><text:p>m</text:p>""" +
        """</table:table-cell><table:table-cell><text:p>x</text:p>""" +
        "</table:table-cell></table:table-row>" +
        """<table:table-row><table:covered-table-cell/>""" +
        """<table:table-cell><text:p>y</text:p></table:table-cell>""" +
        "</table:table-row>" +
        // fully empty interior row, then one more data row
        "<table:table-row/>" +
        """<table:table-row><table:table-cell><text:p>z</text:p>""" +
        "</table:table-cell></table:table-row>" +
        // LibreOffice trailing padding: ~17G virtual cells, O(1) to skip
        """<table:table-row table:number-rows-repeated="1048570">""" +
        """<table:table-cell table:number-columns-repeated="16384"/>""" +
        "</table:table-row></table:table>")
    assert(Ods.sheetRows(bytes, "S") == Seq(
      Seq("a", "", "", "b"),
      Seq("m", "x"),
      Seq("", "y"),
      Seq(),
      Seq("z")))
  }

  test("repeated NON-empty cells and rows expand; text:s/text:tab and " +
    "multi-paragraph cells concatenate; office:value fallback applies") {
    val bytes = odsOf(
      """<table:table table:name="S">""" +
        """<table:table-row table:number-rows-repeated="2">""" +
        """<table:table-cell table:number-columns-repeated="3">""" +
        """<text:p>k</text:p></table:table-cell></table:table-row>""" +
        """<table:table-row><table:table-cell>""" +
        """<text:p>a<text:s text:c="2"/>b<text:tab/>c</text:p>""" +
        """<text:p>d</text:p></table:table-cell>""" +
        """<table:table-cell office:value-type="float" office:value="81.2"/>""" +
        "</table:table-row></table:table>")
    assert(Ods.sheetRows(bytes, "S") == Seq(
      Seq("k", "k", "k"),
      Seq("k", "k", "k"),
      Seq("a  b\tc\nd", "81.2")))
  }

  test("sheet selection: only the named sheet parses; a missing sheet " +
    "or missing content.xml fails loudly") {
    val bytes = odsOf(
      """<table:table table:name="A"><table:table-row><table:table-cell>""" +
        """<text:p>a</text:p></table:table-cell></table:table-row>""" +
        "</table:table>" +
        """<table:table table:name="B"><table:table-row><table:table-cell>""" +
        """<text:p>b</text:p></table:table-cell></table:table-row>""" +
        "</table:table>")
    assert(Ods.sheetRows(bytes, "A") == Seq(Seq("a")))
    assert(Ods.sheetRows(bytes, "B") == Seq(Seq("b")))
    assertThrows[IllegalArgumentException](Ods.sheetRows(bytes, "C"))
    val noContent = {
      val bos = new ByteArrayOutputStream()
      val z = new ZipOutputStream(bos)
      z.putNextEntry(new ZipEntry("mimetype")); z.closeEntry(); z.close()
      bos.toByteArray
    }
    assertThrows[IllegalArgumentException](Ods.sheetRows(noContent, "A"))
  }

  test("committed fixture: parsed Telefonia_Fixa grid EQUALS the committed " +
    "CSV oracle mirror's grid — the invariant the DuckDB gate rests on") {
    val parsed = Ods.sheetRows(odsBytes, "Telefonia_Fixa")
    val csvRows = scala.io.Source.fromFile(mirrorCsv, "UTF-8")
      .getLines().map(_.split(";", -1).toSeq).toSeq
    // normalize both sides by dropping trailing empty cells (the parser
    // trims them; the rectangular CSV keeps them)
    def trim(r: Seq[String]) = r.reverse.dropWhile(_.isEmpty).reverse
    assert(parsed.map(trim) == csvRows.map(trim))
    assert(parsed.length == 14)
    // merged continuation rows surface as blank group cells
    assert(parsed(5).head == "")
    // decoy sheet exists and parses to its own content, not the data grid
    assert(Ods.sheetRows(odsBytes, "Notas").length == 3)
  }

  test("one projection: the ODS sheet and its CSV mirror read to equal " +
    "wide frames") {
    val ods = Ods.readIdaExport(spark, odsPath, "Telefonia_Fixa")
      .drop("ARQUIVO_ORIGEM")
    val csv = RawIngest.readIdaExport(spark, mirrorCsv).drop("ARQUIVO_ORIGEM")
    assert(ods.schema == csv.schema)
    assert(ods.orderBy("row_idx").collect().toSeq ==
      csv.orderBy("row_idx").collect().toSeq)
  }

  test("detected-header read matches the delimited path's contract: " +
    "0-based row_idx, blanks as NULL, ARQUIVO_ORIGEM lineage") {
    val wide = Ods.readIdaExport(spark, odsPath, "Telefonia_Fixa")
    assert(wide.columns.take(4).toSeq ==
      Seq("row_idx", "GRUPO_ECONOMICO", "VARIAVEL", "SERVICO"))
    assert(wide.columns.contains("2024-03"))
    val rows = wide.orderBy("row_idx").collect()
    assert(rows.length == 10) // 9 metric rows + trailing note row
    assert(rows.head.getAs[Long]("row_idx") == 0L)
    assert(rows.head.getAs[String]("GRUPO_ECONOMICO") == "ALGAR TELECOM S/A")
    assert(rows(1).getAs[String]("GRUPO_ECONOMICO") == null) // covered cell
    assert(rows(4).getAs[String]("2024-03") == null) // ragged row end
    assert(rows.last.getAs[String]("GRUPO_ECONOMICO") == "nan")
    assert(rows.head.getAs[String]("ARQUIVO_ORIGEM") == "ida_raw_2024_stfc.ods")
  }

  test("catalog discovery finds the ODS resource for 2024/STFC and the " +
    "lifecycle loads it end-to-end (decoy sheet never parsed)") {
    val cfg = EngineConfig(anosAlvo = Seq(2024), servicosAlvo = Seq("STFC"))
    val rs = Catalog.discover(SparkEntry.fixturesDir, cfg)
    assert(rs.map(_.formato) == Seq("ODS"))
    assert(Catalog.mappedSheet(rs.head.servico) == "Telefonia_Fixa")
    val out = java.nio.file.Files
      .createTempDirectory("ods-spec").resolve("fact").toString
    val stats = graft.plans.Pipeline
      .lifecycle(spark, SparkEntry.fixturesDir, cfg, out)
    assert(stats.errors.isEmpty, stats.errors.mkString("; "))
    assert(stats.resources == 1)
    // 9 metric rows x 3 months minus the two unparseable cells ('-', blank)
    assert(stats.loadedNew == 25)
  }
}
