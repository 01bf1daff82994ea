package graft.ingest

import java.nio.file.Path

/** An open spreadsheet workbook: OOXML (`.xlsx`, [[XlsxToCsv.Workbook]])
  * or legacy binary BIFF8 (`.xls`, [[BiffToCsv.Workbook]]). Close when
  * done. */
trait Workbook extends AutoCloseable {
  def sheetNames: Seq[String]

  /** Extract one sheet as a headerless, rectangular, `sep`-separated
    * CSV (the pre_processor contract); returns lines written. */
  def convertSheet(sheetName: String, outCsv: Path, sep: Char = ';'): Long
}

object Workbook {

  /** Open `path` with the reader its container needs: a file that starts
    * with the CFB magic is a legacy BIFF8 workbook, anything else OOXML. */
  def open(path: Path): Workbook =
    if (XlsxToCsv.isLegacyXls(path)) new BiffToCsv.Workbook(path)
    else new XlsxToCsv.Workbook(path)
}
