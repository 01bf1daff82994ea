package graft.ingest

import java.io.{BufferedWriter, InputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.text.Normalizer
import java.util.zip.ZipFile

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

/** A staged workbook in a format this engine recognizes but cannot
  * parse — a corrupt CFB container, or the pre-97 BIFF5 layout
  * ([[BiffToCsv]] parses BIFF8; [[XlsxToCsv]] parses OOXML). The
  * mismatch surfaces as a NAMED domain error at first touch, never as
  * a confusing zip- or sector-layer failure deep inside extraction. */
final class UnsupportedFormatException(msg: String) extends RuntimeException(msg)

/** S4/S6 — dependency-free XLSX sheet extraction
  * (`/root/reference/autosinapi/core/pre_processor.py:51-84`,
  * `processor.py:171,219-222`): the reference reads SINAPI workbooks with
  * openpyxl and pre-converts the heavy cost sheets to `;`-CSV. No POI /
  * spark-excel jars exist in this environment, but OOXML is only a zip of
  * XML parts — `java.util.zip` + the JDK's StAX reader cover the subset
  * SINAPI workbooks use:
  *
  *   xl/workbook.xml            sheet names -> relationship ids
  *   xl/_rels/workbook.xml.rels relationship ids -> worksheet parts
  *   xl/sharedStrings.xml       shared-string table (`<si>` items, rich-
  *                              text runs concatenated like openpyxl)
  *   xl/worksheets/sheetN.xml   `<row>`/`<c>` cell grid
  *
  * Cell semantics mirror `pd.read_excel(..., header=None,
  * engine_kwargs={'data_only': False})` + `to_csv(index=False,
  * header=False)` (pre_processor.py:71-80):
  *  - shared (`t="s"`), inline (`t="inlineStr"`) and formula-cached
  *    strings (`t="str"`) resolve to their text;
  *  - formula cells emit `=<formula>` (data_only=False reads the formula,
  *    not the cached value — that is what makes P7's formula-cell code
  *    extraction reachable downstream);
  *  - numeric cells emit the RAW stored text (xlsx stores `1.5`
  *    dot-decimal regardless of display format; SINAPI's comma-decimal
  *    values are stored as TEXT and pass through verbatim);
  *  - booleans render `True`/`False` (openpyxl), error cells (`t="e"`)
  *    render empty;
  *  - the grid is rectangularized: missing cells/rows become empty
  *    fields/lines, matching the dense DataFrame pandas produces.
  *
  * Driver-side by design, like the reference: one workbook is a single
  * ~10^5-row artifact produced monthly — the DISTRIBUTED path starts at
  * the staged CSV ([[Staging]]), which Spark then scans in parallel. At
  * cluster scale the conversion would run once per arriving file (e.g.
  * in the ingest service), never on the executors.
  */
object XlsxToCsv {

  /** One open workbook: zip handle + workbook metadata parsed once and
    * the shared-string table parsed lazily AT MOST once — multi-sheet
    * conversion (the pipeline's normal case) must not re-read a ~10^5
    * entry sst per sheet. Close when done. */
  final class Workbook(val xlsx: Path) extends graft.ingest.Workbook {
    requireNotLegacyXls(xlsx)
    private val zf = new ZipFile(xlsx.toFile)
    /** (sheet name, worksheet zip entry) in workbook order. */
    lazy val sheets: Seq[(String, String)] = sheetEntries(zf)
    private lazy val sst = sharedStrings(zf)

    def sheetNames: Seq[String] = sheets.map(_._1)

    def convertSheet(sheetName: String, outCsv: Path, sep: Char = ';'): Long = {
      val entry = sheets.collectFirst { case (n, e) if n == sheetName => e }
        .getOrElse(throw new IllegalArgumentException(
          s"sheet '$sheetName' not found in $xlsx (have: ${sheetNames.mkString(", ")})"))
      val rows = withPart(zf, entry)(in => readSheetRows(in, sst))
      writeCsv(rows, outCsv, sep)
    }

    override def close(): Unit = zf.close()
  }

  /** Convert every sheet whose name is in `sheets` (all sheets when
    * empty), writing `<outDir>/<ascii sheet name>.csv` — accent-stripped
    * so the pipeline's filename routing (`Analitico*`, S7/P9) matches
    * the workbook's accented tab names (`Analítico`). One zip pass.
    * Returns the written CSV paths. Mirrors `convert_excel_sheets_to_csv`. */
  def convertAll(xlsx: Path, outDir: Path, sheets: Set[String] = Set.empty,
                 sep: Char = ';'): Seq[Path] = {
    Files.createDirectories(outDir)
    val wb = graft.ingest.Workbook.open(xlsx)
    try
      wb.sheetNames
        .filter(n => sheets.isEmpty || sheets.contains(n))
        .map { n =>
          val out = outDir.resolve(asciiName(n) + ".csv")
          wb.convertSheet(n, out, sep)
          out
        }
    finally wb.close()
  }

  /** CFB (Compound File Binary) magic — the container every legacy
    * binary `.xls` (BIFF8) workbook starts with. */
  private val CfbMagic: Array[Byte] =
    Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)

  /** True when the file's leading bytes carry the CFB magic. */
  def isLegacyXls(path: Path): Boolean = {
    if (!Files.isRegularFile(path) || Files.size(path) < CfbMagic.length) return false
    val in = Files.newInputStream(path)
    try {
      val head = in.readNBytes(CfbMagic.length)
      java.util.Arrays.equals(head, CfbMagic)
    } finally in.close()
  }

  /** Guard for the OOXML-only [[Workbook]] class: a legacy binary
    * workbook must never reach the zip layer (`graft.ingest.Workbook.open`
    * opens it with [[BiffToCsv]] instead, which parses BIFF8 for real —
    * this fires only on a direct `new Workbook` with the wrong file). */
  def requireNotLegacyXls(path: Path): Unit =
    if (isLegacyXls(path))
      throw new UnsupportedFormatException(
        s"legacy binary Excel workbook (BIFF/.xls, CFB magic) at $path: " +
          "XlsxToCsv.Workbook parses OOXML (.xlsx) only — use " +
          "Workbook.open or XlsxToCsv.convertAll (they dispatch " +
          "to the BIFF8 reader) or BiffToCsv directly")

  private def sheetEntries(zf: ZipFile): Seq[(String, String)] = {
    val rels = withPart(zf, "xl/_rels/workbook.xml.rels")(readRels)
    val sheets = withPart(zf, "xl/workbook.xml")(readWorkbookSheets)
    sheets.map { case (name, rid) =>
      val target = rels.getOrElse(rid,
        throw new IllegalArgumentException(s"workbook relationship $rid missing for sheet '$name'"))
      val entry = if (target.startsWith("/")) target.drop(1)
                  else if (target.startsWith("xl/")) target
                  else s"xl/$target"
      name -> entry
    }
  }

  /** Accent-stripped, filename-safe sheet name (case preserved:
    * `Analítico` -> `Analitico`, matching the route keywords). */
  def asciiName(sheet: String): String = {
    val d = Normalizer.normalize(sheet, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    d.foreach { c =>
      if (Character.getType(c) != Character.NON_SPACING_MARK)
        sb.append(if (c.isLetterOrDigit || c == '_' || c == '-') c else '_')
    }
    sb.toString
  }

  // ---- OOXML part readers (StAX, external entities disabled) ----

  private def xmlReader(in: InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  private def withPart[A](zf: ZipFile, name: String)(body: InputStream => A): A = {
    val e = zf.getEntry(name)
    require(e != null, s"not an xlsx workbook: missing part $name")
    val in = zf.getInputStream(e)
    try body(in) finally in.close()
  }

  /** workbook.xml: `<sheet name=".." r:id="rIdN"/>` in file order. */
  private def readWorkbookSheets(in: InputStream): Seq[(String, String)] = {
    val r = xmlReader(in)
    val out = mutable.ArrayBuffer.empty[(String, String)]
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
        var name: String = null; var rid: String = null
        (0 until r.getAttributeCount).foreach { i =>
          r.getAttributeLocalName(i) match {
            case "name" => name = r.getAttributeValue(i)
            case "id"   => rid = r.getAttributeValue(i) // r:id
            case _      => ()
          }
        }
        if (name != null && rid != null) out += name -> rid
      }
    }
    out.toSeq
  }

  /** workbook.xml.rels: `Id -> Target` for worksheet relationships. */
  private def readRels(in: InputStream): Map[String, String] = {
    val r = xmlReader(in)
    val out = mutable.Map.empty[String, String]
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship") {
        var id: String = null; var target: String = null
        (0 until r.getAttributeCount).foreach { i =>
          r.getAttributeLocalName(i) match {
            case "Id"     => id = r.getAttributeValue(i)
            case "Target" => target = r.getAttributeValue(i)
            case _        => ()
          }
        }
        if (id != null && target != null) out(id) = target
      }
    }
    out.toMap
  }

  /** sharedStrings.xml: one string per `<si>`, rich-text `<r>` runs
    * concatenated (openpyxl's `cell.value` does the same). Absent part =
    * empty table (legal when no cell is a shared string). */
  private def sharedStrings(zf: ZipFile): IndexedSeq[String] = {
    if (zf.getEntry("xl/sharedStrings.xml") == null) return IndexedSeq.empty
    withPart(zf, "xl/sharedStrings.xml") { in =>
      val r = xmlReader(in)
      val out = mutable.ArrayBuffer.empty[String]
      val cur = new java.lang.StringBuilder
      var inSi = false
      var inT = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; cur.setLength(0)
            case "t" if inSi => inT = true
            case _ => ()
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (inT) cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = false; out += cur.toString
            case "t"  => inT = false
            case _ => ()
          }
        case _ => ()
      }
      out.toIndexedSeq
    }
  }

  /** `A1`-style reference -> 0-based column index; -1 when absent. */
  private def colIndex(ref: String): Int = {
    var i = 0; var n = 0; var seen = false
    while (i < ref.length && ref.charAt(i).isLetter) {
      n = n * 26 + (ref.charAt(i).toUpper - 'A' + 1); seen = true; i += 1
    }
    if (seen) n - 1 else -1
  }

  /** Sheet grid as (1-based row index -> cells). Missing `r` attributes
    * (some writers omit them) fall back to sequential positions. */
  private def readSheetRows(in: InputStream,
                            shared: IndexedSeq[String]): mutable.SortedMap[Int, IndexedSeq[String]] = {
    val r = xmlReader(in)
    val rows = mutable.SortedMap.empty[Int, IndexedSeq[String]]
    var rowIdx = 0
    var cells: mutable.ArrayBuffer[String] = null
    // current cell state
    var cellCol = -1
    var cellType = ""
    var v: java.lang.StringBuilder = null
    var f: java.lang.StringBuilder = null
    var isText: java.lang.StringBuilder = null
    var target: java.lang.StringBuilder = null

    def flushCell(): Unit = {
      if (cells == null) return
      val value =
        if (f != null && f.length > 0) "=" + f.toString
        else cellType match {
          case "s" =>
            val i = if (v == null) -1 else v.toString.trim.toInt
            if (i >= 0 && i < shared.length) shared(i) else ""
          case "inlineStr" => if (isText == null) "" else isText.toString
          case "b" => if (v != null && v.toString.trim == "1") "True" else "False"
          case "e" => ""
          case _ => if (v == null) "" else v.toString // "str" and numeric: raw text
        }
      val at = if (cellCol >= 0) cellCol else cells.length
      while (cells.length <= at) cells += ""
      cells(at) = value
    }

    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "row" =>
            val ra = Option(r.getAttributeValue(null, "r")).map(_.toInt)
            rowIdx = ra.getOrElse(rowIdx + 1)
            cells = mutable.ArrayBuffer.empty[String]
          case "c" =>
            cellCol = Option(r.getAttributeValue(null, "r")).map(colIndex).getOrElse(-1)
            cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
            v = null; f = null; isText = null; target = null
          case "v" => v = new java.lang.StringBuilder; target = v
          case "f" => f = new java.lang.StringBuilder; target = f
          case "t" => isText = if (isText == null) new java.lang.StringBuilder else isText
                      target = isText
          case _ => ()
        }
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
        if (target != null) target.append(r.getText)
      case XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "c" => flushCell(); cellCol = -1; cellType = ""; target = null
          case "v" | "f" | "t" => target = null
          case "row" => if (cells != null) { rows(rowIdx) = cells.toIndexedSeq; cells = null }
          case _ => ()
        }
      case _ => ()
    }
    rows
  }

  /** Rectangular write: rows 1..max with empty lines for absent rows and
    * every line padded to the sheet's max width (the dense-DataFrame
    * shape `to_csv` emits). RFC-4180-style quoting against the given
    * separator; `\n` line ends; UTF-8. */
  private def writeCsv(rows: mutable.SortedMap[Int, IndexedSeq[String]],
                       out: Path, sep: Char): Long = {
    val maxRow = if (rows.isEmpty) 0 else rows.lastKey
    val width = if (rows.isEmpty) 0 else rows.valuesIterator.map(_.length).max
    if (out.getParent != null) Files.createDirectories(out.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(out), StandardCharsets.UTF_8))
    try {
      var i = 1
      while (i <= maxRow) {
        val cells = rows.getOrElse(i, IndexedSeq.empty)
        var j = 0
        while (j < width) {
          if (j > 0) w.write(sep.toInt)
          if (j < cells.length) w.write(quote(cells(j), sep))
          j += 1
        }
        w.write("\n")
        i += 1
      }
    } finally w.close()
    maxRow.toLong
  }

  /** Shared with [[BiffToCsv]]: both readers emit the same rectangular
    * CSV contract from the same row map shape. */
  private[ingest] def writeCsvRows(rows: mutable.SortedMap[Int, IndexedSeq[String]],
                                   out: Path, sep: Char): Long =
    writeCsv(rows, out, sep)

  private def quote(s: String, sep: Char): String =
    if (s.indexOf(sep) < 0 && s.indexOf('"') < 0 && s.indexOf('\n') < 0 && s.indexOf('\r') < 0) s
    else "\"" + s.replace("\"", "\"\"") + "\""
}
