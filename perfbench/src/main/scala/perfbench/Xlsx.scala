package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Minimal OOXML workbook writer. Text goes to the shared-string table,
  * as in the workbooks Caixa publishes; numbers are numeric cells and
  * formulas keep their cached value. */
final class Xlsx(out: Path) extends AutoCloseable {
  private val zip = new ZipOutputStream(Files.newOutputStream(out))
  zip.setLevel(Deflater.BEST_SPEED)
  private val w = new BufferedWriter(new OutputStreamWriter(zip, StandardCharsets.UTF_8), 1 << 16)
  private val strings = mutable.LinkedHashMap.empty[String, Int]
  private val sheets = mutable.ArrayBuffer.empty[String]

  private def entry(name: String)(body: => Unit): Unit = {
    zip.putNextEntry(new ZipEntry(name))
    body
    w.flush()
    zip.closeEntry()
  }

  /** Writes one worksheet; `rows` yields each row's cells in order. */
  def sheet(name: String)(rows: (Seq[Cell] => Unit) => Unit): Unit = {
    sheets += name
    entry(s"xl/worksheets/sheet${sheets.size}.xml") {
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      var r = 0
      rows { cells =>
        r += 1
        w.write(s"""<row r="$r">""")
        cells.foreach {
          case Cell.Blank => w.write("<c/>")
          case Cell.Text(s) =>
            w.write("""<c t="s"><v>"""); w.write(strings.getOrElseUpdate(s, strings.size).toString)
            w.write("</v></c>")
          case Cell.Num(v) => w.write("<c><v>"); w.write(v); w.write("</v></c>")
          case Cell.Formula(f, v) =>
            w.write("<c><f>"); w.write(Xlsx.escape(f)); w.write("</f><v>"); w.write(v)
            w.write("</v></c>")
        }
        w.write("</row>")
      }
      w.write("</sheetData></worksheet>")
    }
  }

  override def close(): Unit = {
    entry("xl/sharedStrings.xml") {
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">""")
      strings.keysIterator.foreach(s => w.write(s"<si><t>${Xlsx.escape(s)}</t></si>"))
      w.write("</sst>")
    }
    val ids = sheets.indices.map(i => i + 1)
    entry("xl/workbook.xml") {
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""")
      ids.foreach(i => w.write(s"""<sheet name="${Xlsx.escape(sheets(i - 1))}" sheetId="$i" r:id="rId$i"/>"""))
      w.write("</sheets></workbook>")
    }
    entry("xl/_rels/workbook.xml.rels") {
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""")
      ids.foreach(i => w.write(s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>"""))
      w.write(s"""<Relationship Id="rId${ids.size + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""")
      w.write("</Relationships>")
    }
    entry("_rels/.rels") {
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    }
    entry("[Content_Types].xml") {
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""")
      ids.foreach(i => w.write(s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""))
      w.write("</Types>")
    }
    w.close()
  }
}

sealed trait Cell
object Cell {
  case object Blank extends Cell
  final case class Text(s: String) extends Cell
  final case class Num(v: String) extends Cell
  final case class Formula(f: String, cached: String) extends Cell
}

object Xlsx {
  def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
}
