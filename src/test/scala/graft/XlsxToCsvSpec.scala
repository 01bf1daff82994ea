package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.config.EngineConfig
import graft.ingest.{Workbook, XlsxToCsv}
import graft.pipeline.PipelineETL
import graft.store.TableStore

/** S4/S6 — XLSX-sheet -> `;`-CSV conversion over raw OOXML, mirroring
  * the reference fixture shape (`tests/core/test_processor.py:86-111`:
  * one sheet, accented headers, comma-decimal TEXT values, data starting
  * at row 10) plus the cell-type quirks real workbooks carry (shared /
  * inline / rich-text strings, formulas, booleans, errors, sparse rows).
  * The workbook is hand-assembled from OOXML parts — no xlsx writer
  * exists in this environment either, which keeps the fixture honest
  * about what the bytes contain.
  */
class XlsxToCsvSpec extends SparkSpec {

  private def part(zos: ZipOutputStream, name: String, xml: String): Unit = {
    zos.putNextEntry(new ZipEntry(name))
    zos.write(xml.getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
  }

  /** Minimal valid workbook: content types, root rels, workbook + rels,
    * shared strings, one worksheet part per (name, sheetXml). */
  private def writeWorkbook(out: Path, sheets: Seq[(String, String)],
                            sharedStrings: Seq[String]): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(out))
    try {
      val sheetOverrides = sheets.indices.map(i =>
        s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString
      part(zos, "[Content_Types].xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
           |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
           |<Default Extension="xml" ContentType="application/xml"/>
           |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
           |<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
           |$sheetOverrides</Types>""".stripMargin)
      part(zos, "_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin)
      val sheetTags = sheets.zipWithIndex.map { case ((name, _), i) =>
        s"""<sheet name="$name" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
      }.mkString
      part(zos, "xl/workbook.xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           |<sheets>$sheetTags</sheets></workbook>""".stripMargin)
      val relTags = sheets.indices.map(i =>
        s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString
      part(zos, "xl/_rels/workbook.xml.rels",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$relTags</Relationships>""".stripMargin)
      // last entry exercises rich-text runs (two <r><t> fragments)
      val sis = sharedStrings.map {
        case s if s == "__RICH__" => "<si><r><t xml:space=\"preserve\">CIMENTO </t></r><r><t>CP-II</t></r></si>"
        case s => s"<si><t>${escape(s)}</t></si>"
      }.mkString
      part(zos, "xl/sharedStrings.xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sharedStrings.size}" uniqueCount="${sharedStrings.size}">$sis</sst>""".stripMargin)
      sheets.zipWithIndex.foreach { case ((_, xml), i) =>
        part(zos, s"xl/worksheets/sheet${i + 1}.xml",
          s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
             |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$xml</sheetData></worksheet>""".stripMargin)
      }
    } finally zos.close()
  }

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  // shared-string table used by both sheets; indices are positional
  private val sst = Seq(
    /* 0 */ "Código da Composição", /* 1 */ "Tipo Item", /* 2 */ "Código do Item",
    /* 3 */ "Coeficiente", /* 4 */ "Descrição", /* 5 */ "Unidade",
    /* 6 */ "COMPOSICAO_PAI", /* 7 */ "INSUMO", /* 8 */ "ALVENARIA DE VEDAÇÃO",
    /* 9 */ "2,5", /* 10 */ "AREIA MÉDIA", /* 11 */ "M3",
    /* 12 */ "3,0", /* 13 */ "__RICH__" /* -> CIMENTO CP-II */,
    /* 14 */ "KG", /* 15 */ "Código do Insumo", /* 16 */ "Descrição do Insumo",
    /* 17 */ "SP", /* 18 */ "RJ", /* 19 */ "120,50", /* 20 */ "130,00",
    /* 21 */ "0,89", /* 22 */ "SINAPI - Composições Analítico")

  private def s(ref: String, idx: Int) = s"""<c r="$ref" t="s"><v>$idx</v></c>"""
  private def n(ref: String, v: String)  = s"""<c r="$ref"><v>$v</v></c>"""

  /** Analítico: title at row 1, header at row 10 (rows 2-9 ABSENT from
    * the XML — the converter must emit them as empty lines), data rows
    * with numeric codes, comma-decimal text, an inline string, a
    * rich-text shared string and a gap column. */
  private val analiticoXml = Seq(
    s"""<row r="1">${s("A1", 22)}</row>""",
    s"""<row r="10">${s("A10", 0)}${s("B10", 1)}${s("C10", 2)}${s("D10", 3)}${s("E10", 4)}${s("F10", 5)}</row>""",
    // parent row: C/D missing entirely; F inline string
    s"""<row r="11">${n("A11", "100")}${s("B11", 6)}${s("E11", 8)}<c r="F11" t="inlineStr"><is><t>M2</t></is></c></row>""",
    s"""<row r="12">${n("A12", "100")}${s("B12", 7)}${n("C12", "1")}${s("D12", 9)}${s("E12", 10)}${s("F12", 11)}</row>""",
    s"""<row r="13">${n("A13", "100")}${s("B13", 7)}${n("C13", "2")}${s("D13", 12)}${s("E13", 13)}${s("F13", 14)}</row>"""
  ).mkString

  /** ISD price sheet: header at row 3 under a title + a blank row. */
  private val isdXml = Seq(
    s"""<row r="1"><c r="A1" t="inlineStr"><is><t>SINAPI - Preços de Insumos</t></is></c></row>""",
    s"""<row r="3">${s("A3", 15)}${s("B3", 16)}${s("C3", 5)}${s("D3", 17)}${s("E3", 18)}</row>""",
    s"""<row r="4">${n("A4", "1")}${s("B4", 10)}${s("C4", 11)}${s("D4", 19)}${s("E4", 20)}</row>""",
    s"""<row r="5">${n("A5", "2")}${s("B5", 13)}${s("C5", 14)}${s("D5", 21)}<c r="E5" t="e"><v>#N/A</v></c></row>"""
  ).mkString

  /** Quirk sheet: formulas (data_only=False -> `=F`), cached formula
    * strings, booleans, errors, cells with NO r attribute, quoting. */
  private val quirksXml = Seq(
    s"""<row r="1"><c r="A1"><f>SUM(B1:C1)</f><v>30</v></c><c r="B1"><v>10</v></c><c r="C1"><v>20</v></c></row>""",
    s"""<row r="2"><c r="A2" t="str"><v>cached;text</v></c><c r="B2" t="b"><v>1</v></c><c r="C2" t="b"><v>0</v></c></row>""",
    s"""<row><c><v>7</v></c><c><v>8</v></c></row>""", // no r attrs: row 3, cols A,B
    s"""<row r="5"><c r="E5" t="inlineStr"><is><t>wide "and" far</t></is></c></row>"""
  ).mkString

  private def sheetNamesOf(p: Path): Seq[String] = {
    val wb = Workbook.open(p)
    try wb.sheetNames finally wb.close()
  }

  private def convertSheet(p: Path, sheet: String, out: Path): Long = {
    val wb = Workbook.open(p)
    try wb.convertSheet(sheet, out) finally wb.close()
  }

  private def makeWorkbook(dir: Path, name: String = "SINAPI_REFERENCIA_2025_01.xlsx"): Path = {
    val p = dir.resolve(name)
    writeWorkbook(p,
      Seq("Analítico" -> analiticoXml, "ISD" -> isdXml, "Quirks" -> quirksXml), sst)
    p
  }

  test("sheet discovery and accent-stripped output names") {
    val dir = Paths.get(tmpDir("xlsx_fix"))
    val wb = makeWorkbook(dir)
    assert(sheetNamesOf(wb) == Seq("Analítico", "ISD", "Quirks"))
    assert(XlsxToCsv.asciiName("Analítico") == "Analitico")
    val outs = XlsxToCsv.convertAll(wb, dir.resolve("csv"))
    assert(outs.map(_.getFileName.toString) == Seq("Analitico.csv", "ISD.csv", "Quirks.csv"))
  }

  test("converted Analítico matches the pre_processor contract byte-for-byte") {
    val dir = Paths.get(tmpDir("xlsx_fix"))
    val wb = makeWorkbook(dir)
    val out = dir.resolve("Analitico.csv")
    convertSheet(wb, "Analítico", out)
    val lines = Files.readString(out, StandardCharsets.UTF_8).split("\n", -1).toSeq
    assert(lines(0) == "SINAPI - Composições Analítico;;;;;")
    (1 to 8).foreach(i => assert(lines(i) == ";;;;;", s"row ${i + 1} must be empty"))
    assert(lines(9) == "Código da Composição;Tipo Item;Código do Item;Coeficiente;Descrição;Unidade")
    assert(lines(10) == "100;COMPOSICAO_PAI;;;ALVENARIA DE VEDAÇÃO;M2")
    assert(lines(11) == "100;INSUMO;1;2,5;AREIA MÉDIA;M3")
    assert(lines(12) == "100;INSUMO;2;3,0;CIMENTO CP-II;KG") // rich-text runs concatenated
    assert(lines(13) == "") // trailing newline only
  }

  test("cell-type quirks: formula, cached string, bool, error, r-less cells, quoting") {
    val dir = Paths.get(tmpDir("xlsx_fix"))
    val wb = makeWorkbook(dir)
    val out = dir.resolve("Quirks.csv")
    convertSheet(wb, "Quirks", out)
    val lines = Files.readString(out, StandardCharsets.UTF_8).split("\n", -1).toSeq
    assert(lines(0) == "=SUM(B1:C1);10;20;;")          // formula, not cached value
    assert(lines(1) == "\"cached;text\";True;False;;") // quoted separator + booleans
    assert(lines(2) == "7;8;;;")                       // sequential placement
    assert(lines(3) == ";;;;")                         // absent row 4
    assert(lines(4) == ";;;;\"wide \"\"and\"\" far\"") // padding + quote escaping
  }

  test("legacy binary .xls (CFB magic) fails fast with a NAMED format error") {
    val dir = Paths.get(tmpDir("xls_legacy"))
    val xls = dir.resolve("SINAPI_REFERENCIA_01_2025.xls")
    // CFB header magic D0 CF 11 E0 A1 B1 1A E1 + filler: what every
    // pre-2007 binary workbook starts with.
    val bytes = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte) ++ Array.fill[Byte](512)(0)
    Files.createDirectories(dir)
    Files.write(xls, bytes)
    // parse layer: named error, not a zip-layer failure
    val e1 = intercept[graft.ingest.UnsupportedFormatException] {
      sheetNamesOf(xls)
    }
    assert(e1.getMessage.contains("BIFF") && e1.getMessage.contains(".xlsx"))
    // acquisition layer: the whitelist accepts .xls (reference parity),
    // but the read surfaces the same named error before staging
    val e2 = intercept[graft.ingest.UnsupportedFormatException] {
      graft.ingest.Acquisition.readLocalFile(xls)
    }
    assert(e2.getMessage.contains("BIFF"))
    // a real OOXML workbook still opens fine through the same guard
    val wbDir = Paths.get(tmpDir("xls_guard_ok"))
    val wb = makeWorkbook(wbDir)
    assert(sheetNamesOf(wb).nonEmpty)
  }

  test("end-to-end: a staging dir holding ONLY the workbook loads the warehouse") {
    val staging = Paths.get(tmpDir("xlsx_staging"))
    makeWorkbook(staging)
    val store = new TableStore(spark, tmpDir("xlsx_wh"))
    val report = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
      .run(staging.toString, 2025, 1)
    assert(report.sheetErrors.isEmpty, report.sheetErrors)
    assert(report.status == "SUCESSO", report)
    // Analítico sheet -> edge table (2 insumo edges under parent 100)
    val edges = store.read("composicao_insumos")
      .select("composicao_pai_codigo", "insumo_filho_codigo")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(edges == Set((100, 1), (100, 2)))
    // ISD sheet -> catalog + monthly prices (error cell -> coerce-dropped)
    val precos = store.read("precos_insumos_mensal")
      .select("insumo_codigo", "uf", "preco_mediano")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDecimal(2).doubleValue()))
    assert(precos.toSet == Set((1, "SP", 120.50), (1, "RJ", 130.00), (2, "SP", 0.89)))
    // conversion must not clobber a pre-staged CSV on re-run
    val before = Files.getLastModifiedTime(staging.resolve("ISD.csv"))
    new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
      .run(staging.toString, 2025, 1)
    assert(Files.getLastModifiedTime(staging.resolve("ISD.csv")) == before)
  }
}
