package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{BiffToCsv, Workbook, XlsxToCsv}

/** Hand-assembled CFB + BIFF8 fixtures (no Excel, no POI): every byte
  * below is written by the test itself, so the reader is pinned against
  * the FORMAT SPEC, not against another library's output. Two container
  * variants cover both CFB stream paths: a ≥4096-byte stream through
  * the regular FAT, and a small stream through the mini-FAT. */
class BiffToCsvSpec extends AnyFunSuite {

  // ---- little-endian byte assembly --------------------------------------

  private def u16(b: ArrayBuffer[Byte], v: Int): Unit = {
    b += (v & 0xFF).toByte; b += ((v >> 8) & 0xFF).toByte
  }
  private def u32(b: ArrayBuffer[Byte], v: Long): Unit = {
    u16(b, (v & 0xFFFF).toInt); u16(b, ((v >> 16) & 0xFFFF).toInt)
  }
  private def f64(b: ArrayBuffer[Byte], v: Double): Unit = {
    var bits = java.lang.Double.doubleToLongBits(v)
    (0 until 8).foreach { _ => b += (bits & 0xFF).toByte; bits >>= 8 }
  }
  private def rec(id: Int, payload: ArrayBuffer[Byte]): ArrayBuffer[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    u16(out, id); u16(out, payload.length); out ++= payload
    out
  }
  private def rkInt(v: Int, div100: Boolean): Long =
    ((v.toLong << 2) | 2L | (if (div100) 1L else 0L)) & 0xFFFFFFFFL

  // ---- BIFF8 workbook stream -------------------------------------------

  /** Globals (BOF, SST with a CONTINUE-split string, 2 BOUNDSHEETs,
    * EOF) + two sheet substreams exercising every supported record. */
  private def workbookStream(): Array[Byte] = {
    def bof(dt: Int) = {
      val p = ArrayBuffer.empty[Byte]
      u16(p, 0x0600); u16(p, dt); u16(p, 0); u16(p, 0)
      u32(p, 0); u32(p, 0)
      rec(0x0809, p)
    }
    // SST: 2 unique strings; the second splits across a CONTINUE that
    // switches compression (compressed head, utf-16 tail)
    val sst = {
      val p = ArrayBuffer.empty[Byte]
      u32(p, 2); u32(p, 2)
      u16(p, 5); p += 0; p ++= "alpha".getBytes(StandardCharsets.US_ASCII)
      u16(p, 10); p += 0 // cch=10, compressed head
      p ++= "abcd".getBytes(StandardCharsets.US_ASCII) // 4 of 10 chars
      rec(0x00FC, p)
    }
    val sstCont = {
      val p = ArrayBuffer.empty[Byte]
      p += 1 // continuation grbit: uncompressed
      "éfghij".foreach(c => u16(p, c.toInt)) // remaining 6 chars, utf-16le
      rec(0x003C, p)
    }
    def boundsheet(pos: Long, name: String) = {
      val p = ArrayBuffer.empty[Byte]
      u32(p, pos); u16(p, 0)
      p += name.length.toByte; p += 0 // compressed short string
      p ++= name.getBytes(StandardCharsets.US_ASCII)
      rec(0x0085, p)
    }
    val eof = rec(0x000A, ArrayBuffer.empty[Byte])

    def cell(id: Int)(body: ArrayBuffer[Byte] => Unit) = {
      val p = ArrayBuffer.empty[Byte]; body(p); rec(id, p)
    }
    val sheet1 = ArrayBuffer.empty[Byte] ++
      bof(0x0010) ++
      cell(0x0203) { p => u16(p, 0); u16(p, 0); u16(p, 0); f64(p, 42.5) } ++
      cell(0x027E) { p => u16(p, 0); u16(p, 1); u16(p, 0); u32(p, rkInt(300, div100 = false)) } ++
      cell(0x00FD) { p => u16(p, 0); u16(p, 2); u16(p, 0); u32(p, 0) } ++ // "alpha"
      cell(0x027E) { p => u16(p, 1); u16(p, 0); u16(p, 0); u32(p, rkInt(12345, div100 = true)) } ++
      cell(0x00BD) { p => // MULRK row 2, cols 1..3 = 1, 2, 3
        u16(p, 2); u16(p, 1)
        (1 to 3).foreach { v => u16(p, 0); u32(p, rkInt(v, div100 = false)) }
        u16(p, 3)
      } ++
      cell(0x0204) { p => // inline LABEL "inline"
        u16(p, 3); u16(p, 0); u16(p, 0)
        u16(p, 6); p += 0; p ++= "inline".getBytes(StandardCharsets.US_ASCII)
      } ++
      cell(0x0205) { p => u16(p, 3); u16(p, 1); u16(p, 0); p += 1; p += 0 } ++ // True
      cell(0x0205) { p => u16(p, 3); u16(p, 2); u16(p, 0); p += 0x2A; p += 1 } ++ // error -> ""
      cell(0x0006) { p => // FORMULA with cached numeric 7
        u16(p, 4); u16(p, 0); u16(p, 0); f64(p, 7.0)
        u16(p, 0); u32(p, 0); u16(p, 0)
      } ++
      cell(0x0006) { p => // FORMULA with cached STRING result
        u16(p, 4); u16(p, 1); u16(p, 0)
        p += 0; p += 0; p += 0; p += 0; p += 0; p += 0
        p += 0xFF.toByte; p += 0xFF.toByte
        u16(p, 0); u32(p, 0); u16(p, 0)
      } ++
      cell(0x0207) { p => u16(p, 2); p += 0; p ++= "fx".getBytes(StandardCharsets.US_ASCII) } ++
      eof
    val sheet2 = ArrayBuffer.empty[Byte] ++
      bof(0x0010) ++
      cell(0x00FD) { p => u16(p, 0); u16(p, 0); u16(p, 0); u32(p, 1) } ++ // split string
      eof

    // assemble globals with placeholder positions, then patch
    val globals = ArrayBuffer.empty[Byte] ++ bof(0x0005) ++ sst ++ sstCont ++
      boundsheet(0, "Planilha1") ++ boundsheet(0, "Resumo") ++ eof
    val s1Pos = globals.length
    val s2Pos = globals.length + sheet1.length
    val full = globals ++ sheet1 ++ sheet2
    // patch the two BOUNDSHEET lbPlyPos fields (first 4 payload bytes)
    def patch(bsIndex: Int, pos: Long): Unit = {
      // find the (bsIndex+1)-th 0x0085 record by a linear record walk
      var off = 0; var seen = 0
      while (off + 4 <= full.length) {
        val id = (full(off) & 0xFF) | ((full(off + 1) & 0xFF) << 8)
        val len = (full(off + 2) & 0xFF) | ((full(off + 3) & 0xFF) << 8)
        if (id == 0x0085) {
          if (seen == bsIndex) {
            val b = ArrayBuffer.empty[Byte]; u32(b, pos)
            (0 until 4).foreach(i => full(off + 4 + i) = b(i))
            return
          }
          seen += 1
        }
        off += 4 + len
      }
      fail("boundsheet record not found")
    }
    patch(0, s1Pos); patch(1, s2Pos)
    full.toArray
  }

  // ---- CFB container ----------------------------------------------------

  private val Free = 0xFFFFFFFFL
  private val Eoc = 0xFFFFFFFEL

  private def cfbHeader(numFat: Int, firstDir: Long, firstMiniFat: Long,
                        numMiniFat: Int, difat0: Long): ArrayBuffer[Byte] = {
    val h = ArrayBuffer.empty[Byte]
    h ++= Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte)
    h ++= Array.fill[Byte](16)(0)        // clsid
    u16(h, 0x003E); u16(h, 0x0003)       // minor, major (v3)
    u16(h, 0xFFFE)                       // little-endian marker
    u16(h, 9); u16(h, 6)                 // sector 512, mini 64
    h ++= Array.fill[Byte](6)(0)         // reserved
    u32(h, 0)                            // numDirSectors (v3: 0)
    u32(h, numFat)
    u32(h, firstDir)
    u32(h, 0)                            // transaction
    u32(h, 4096)                         // mini cutoff
    u32(h, firstMiniFat); u32(h, numMiniFat)
    u32(h, Eoc); u32(h, 0)               // no DIFAT sectors
    u32(h, difat0)
    (1 until 109).foreach(_ => u32(h, Free))
    h
  }

  private def dirEntry(name: String, objType: Int, start: Long,
                       size: Long): ArrayBuffer[Byte] = {
    val e = ArrayBuffer.empty[Byte]
    val utf = name.getBytes(StandardCharsets.UTF_16LE)
    e ++= utf; e ++= Array.fill[Byte](64 - utf.length)(0)
    u16(e, utf.length + 2)
    e += objType.toByte; e += 1          // color: black
    u32(e, Free); u32(e, Free); u32(e, Free) // left, right, child
    e ++= Array.fill[Byte](16)(0)        // clsid
    u32(e, 0)                            // state
    e ++= Array.fill[Byte](16)(0)        // ctime, mtime
    u32(e, start)
    u32(e, size); u32(e, 0)
    e
  }

  private def pad(b: ArrayBuffer[Byte], to: Int): Unit =
    while (b.length % to != 0) b += 0

  /** Regular-FAT container: the stream is zero-padded past the mini
    * cutoff so it lives in normal 512-byte sectors. */
  private def cfbRegular(stream: Array[Byte]): Array[Byte] = {
    val padded = ArrayBuffer.empty[Byte] ++ stream
    while (padded.length < 4096) padded += 0
    pad(padded, 512)
    val nStream = padded.length / 512
    // sectors: 0 = FAT, 1 = dir, 2.. = stream
    val fat = ArrayBuffer.empty[Byte]
    u32(fat, 0xFFFFFFFDL)                // sector 0: FATSECT
    u32(fat, Eoc)                        // sector 1: dir (single)
    (0 until nStream).foreach { i =>
      u32(fat, if (i == nStream - 1) Eoc else 2L + i + 1)
    }
    while (fat.length < 512) { u32(fat, Free) }
    val dir = dirEntry("Root Entry", 5, Eoc, 0) ++
      dirEntry("Workbook", 2, 2, padded.length) ++
      ArrayBuffer.fill[Byte](256)(0)
    val out = cfbHeader(1, 1, Eoc, 0, 0) ++ fat ++ dir ++ padded
    out.toArray
  }

  /** Mini-FAT container: the small stream lives in 64-byte mini sectors
    * inside the root entry's mini-stream container. */
  private def cfbMini(stream: Array[Byte]): Array[Byte] = {
    require(stream.length < 4096)
    val container = ArrayBuffer.empty[Byte] ++ stream
    pad(container, 64)
    val nMini = container.length / 64
    pad(container, 512)
    val nContainerSectors = container.length / 512
    // sectors: 0 = FAT, 1 = dir, 2 = miniFAT, 3.. = mini container
    val miniFat = ArrayBuffer.empty[Byte]
    (0 until nMini).foreach { i =>
      u32(miniFat, if (i == nMini - 1) Eoc else i + 1L)
    }
    while (miniFat.length < 512) { u32(miniFat, Free) }
    val fat = ArrayBuffer.empty[Byte]
    u32(fat, 0xFFFFFFFDL)                // 0: FATSECT
    u32(fat, Eoc)                        // 1: dir
    u32(fat, Eoc)                        // 2: miniFAT
    (0 until nContainerSectors).foreach { i =>
      u32(fat, if (i == nContainerSectors - 1) Eoc else 3L + i + 1)
    }
    while (fat.length < 512) { u32(fat, Free) }
    val dir = dirEntry("Root Entry", 5, 3, container.length) ++
      dirEntry("Workbook", 2, 0, stream.length) ++
      ArrayBuffer.fill[Byte](256)(0)
    (cfbHeader(1, 1, 2, 1, 0) ++ fat ++ dir ++ miniFat ++ container).toArray
  }

  private def sheetNamesOf(p: Path): Seq[String] = {
    val wb = Workbook.open(p)
    try wb.sheetNames finally wb.close()
  }

  private def convertSheet(p: Path, sheet: String, out: Path): Long = {
    val wb = Workbook.open(p)
    try wb.convertSheet(sheet, out) finally wb.close()
  }

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  // ---- general sheet builder (positioned typed cells) -------------------

  private sealed trait BCell
  private case class BNum(v: Double) extends BCell
  private case class BStr(s: String) extends BCell
  private case object BErr extends BCell

  /** BIFF8 workbook stream from (sheet name, rows of (0-based row,
    * cells of (0-based col, cell))) — strings as inline LABELs
    * (compressed latin-1 when all chars fit, UTF-16 otherwise). */
  private def biffWorkbook(sheets: Seq[(String, Seq[(Int, Seq[(Int, BCell)])])]): Array[Byte] = {
    def bof(dt: Int) = {
      val p = ArrayBuffer.empty[Byte]
      u16(p, 0x0600); u16(p, dt); u16(p, 0); u16(p, 0); u32(p, 0); u32(p, 0)
      rec(0x0809, p)
    }
    val eof = rec(0x000A, ArrayBuffer.empty[Byte])
    def label(rw: Int, cl: Int, str: String): ArrayBuffer[Byte] = {
      val p = ArrayBuffer.empty[Byte]
      u16(p, rw); u16(p, cl); u16(p, 0)
      u16(p, str.length)
      if (str.forall(_ <= 0xFF)) { p += 0; str.foreach(c => p += c.toByte) }
      else { p += 1; str.foreach(c => u16(p, c.toInt)) }
      rec(0x0204, p)
    }
    def sheetStream(rows: Seq[(Int, Seq[(Int, BCell)])]): ArrayBuffer[Byte] = {
      val b = ArrayBuffer.empty[Byte] ++ bof(0x0010)
      rows.foreach { case (rw, cells) =>
        cells.foreach {
          case (cl, BNum(v)) =>
            val p = ArrayBuffer.empty[Byte]
            u16(p, rw); u16(p, cl); u16(p, 0); f64(p, v)
            b ++= rec(0x0203, p)
          case (cl, BStr(s)) => b ++= label(rw, cl, s)
          case (cl, BErr) =>
            val p = ArrayBuffer.empty[Byte]
            u16(p, rw); u16(p, cl); u16(p, 0); p += 0x2A; p += 1
            b ++= rec(0x0205, p)
        }
      }
      b ++= eof
      b
    }
    def boundsheet(pos: Long, name: String) = {
      val p = ArrayBuffer.empty[Byte]
      u32(p, pos); u16(p, 0)
      p += name.length.toByte
      if (name.forall(_ <= 0xFF)) { p += 0; name.foreach(c => p += c.toByte) }
      else { p += 1; name.foreach(c => u16(p, c.toInt)) }
      rec(0x0085, p)
    }
    val streams = sheets.map { case (_, rows) => sheetStream(rows) }
    // globals sized with placeholder positions first, then rebuilt with
    // the real offsets (boundsheet length is position-independent)
    def globals(positions: Seq[Long]) = {
      val g = ArrayBuffer.empty[Byte] ++ bof(0x0005)
      sheets.map(_._1).zip(positions).foreach { case (n, p) => g ++= boundsheet(p, n) }
      g ++= eof
      g
    }
    val gLen = globals(sheets.map(_ => 0L)).length
    val positions = streams.scanLeft(gLen.toLong)((acc, s) => acc + s.length).init
    (globals(positions) ++ streams.flatten).toArray
  }

  private val ExpectedSheet1 = Seq(
    "42.5;300;alpha;",
    "123.45;;;",
    ";1;2;3",
    "inline;True;;",
    "7;fx;;")

  test("regular-FAT container: all cell record types to CSV, xlsx-contract shape") {
    val dir = tmp("biff_reg")
    val xls = dir.resolve("SINAPI_REFERENCIA.xls")
    Files.write(xls, cfbRegular(workbookStream()))
    assert(sheetNamesOf(xls) == Seq("Planilha1", "Resumo"))
    val out = dir.resolve("s1.csv")
    assert(convertSheet(xls, "Planilha1", out) == 5L)
    val lines = Files.readString(out).split("\n").toSeq
    assert(lines == ExpectedSheet1)
  }

  test("mini-FAT container + SST CONTINUE split with re-declared compression") {
    val dir = tmp("biff_mini")
    val xls = dir.resolve("small.xls")
    Files.write(xls, cfbMini(workbookStream()))
    assert(sheetNamesOf(xls) == Seq("Planilha1", "Resumo"))
    val out = dir.resolve("s2.csv")
    assert(convertSheet(xls, "Resumo", out) == 1L)
    // the split SST string: compressed "abcd" + utf-16 "éfghij"
    assert(Files.readString(out).trim == "abcdéfghij")
    // sheet 1 parses identically through the mini path
    val out1 = dir.resolve("s1.csv")
    convertSheet(xls, "Planilha1", out1)
    assert(Files.readString(out1).split("\n").toSeq == ExpectedSheet1)
  }

  test("XlsxToCsv entry points dispatch .xls transparently; acquisition accepts it") {
    val dir = tmp("biff_dispatch")
    val xls = dir.resolve("wb.xls")
    Files.write(xls, cfbRegular(workbookStream()))
    assert(Workbook.open(xls).isInstanceOf[BiffToCsv.Workbook])
    assert(sheetNamesOf(xls) == Seq("Planilha1", "Resumo"))
    val outDir = dir.resolve("csv")
    val written = XlsxToCsv.convertAll(xls, outDir)
    assert(written.map(_.getFileName.toString).sorted ==
      Seq("Planilha1.csv", "Resumo.csv"))
    assert(Files.readString(outDir.resolve("Planilha1.csv"))
      .split("\n").toSeq == ExpectedSheet1)
    // acquisition-layer probe: a VALID legacy workbook now passes
    assert(graft.ingest.Acquisition.readLocalFile(xls).nonEmpty)
  }

  test("BIFF5 'Book' stream and sheetless workbooks fail by name") {
    val dir = tmp("biff_bad")
    // same container, stream named 'Book' (BIFF5): named failure
    val book = dir.resolve("old.xls")
    val bytes = cfbRegular(workbookStream())
    // rename the directory entry: 'Workbook' -> 'Book' (utf-16le)
    val wb16 = "Workbook".getBytes(StandardCharsets.UTF_16LE)
    val bk16 = "Book".getBytes(StandardCharsets.UTF_16LE)
    val idx = {
      var i = 512 + 512 + 128 // header + FAT + root entry
      i
    }
    System.arraycopy(Array.fill[Byte](64)(0), 0, bytes, idx, 64)
    System.arraycopy(bk16, 0, bytes, idx, bk16.length)
    // fix nameLen
    bytes(idx + 64) = (bk16.length + 2).toByte
    bytes(idx + 65) = 0
    Files.write(book, bytes)
    val e = intercept[graft.ingest.UnsupportedFormatException] {
      sheetNamesOf(book)
    }
    assert(e.getMessage.contains("BIFF5"))
  }

  test("pipeline end-to-end: a staging dir holding ONLY a legacy .xls loads the warehouse") {
    import graft.store.TableStore
    import graft.config.EngineConfig
    import graft.pipeline.PipelineETL
    val spark = TestSpark.spark
    val staging = tmp("biff_e2e_staging")
    // the XlsxToCsvSpec golden workbook, re-expressed as BIFF8 cells
    val analitico: Seq[(Int, Seq[(Int, BCell)])] = Seq(
      0 -> Seq(0 -> BStr("SINAPI - Composições Analítico")),
      9 -> Seq(0 -> BStr("Código da Composição"), 1 -> BStr("Tipo Item"),
        2 -> BStr("Código do Item"), 3 -> BStr("Coeficiente"),
        4 -> BStr("Descrição"), 5 -> BStr("Unidade")),
      10 -> Seq(0 -> BNum(100), 1 -> BStr("COMPOSICAO_PAI"),
        4 -> BStr("ALVENARIA DE VEDAÇÃO"), 5 -> BStr("M2")),
      11 -> Seq(0 -> BNum(100), 1 -> BStr("INSUMO"), 2 -> BNum(1),
        3 -> BStr("2,5"), 4 -> BStr("AREIA MÉDIA"), 5 -> BStr("M3")),
      12 -> Seq(0 -> BNum(100), 1 -> BStr("INSUMO"), 2 -> BNum(2),
        3 -> BStr("3,0"), 4 -> BStr("CIMENTO CP-II"), 5 -> BStr("KG")))
    val isd: Seq[(Int, Seq[(Int, BCell)])] = Seq(
      0 -> Seq(0 -> BStr("SINAPI - Preços de Insumos")),
      2 -> Seq(0 -> BStr("Código do Insumo"), 1 -> BStr("Descrição do Insumo"),
        2 -> BStr("Unidade"), 3 -> BStr("SP"), 4 -> BStr("RJ")),
      3 -> Seq(0 -> BNum(1), 1 -> BStr("AREIA MÉDIA"), 2 -> BStr("M3"),
        3 -> BStr("120,50"), 4 -> BStr("130,00")),
      // the error cell must coerce-drop, exactly like the xlsx t="e"
      4 -> Seq(0 -> BNum(2), 1 -> BStr("CIMENTO CP-II"), 2 -> BStr("KG"),
        3 -> BStr("0,89"), 4 -> BErr))
    val xls = staging.resolve("SINAPI_REFERENCIA_2025_01.xls")
    Files.write(xls, cfbRegular(biffWorkbook(
      Seq("Analítico" -> analitico, "ISD" -> isd))))
    val store = new TableStore(spark, Files.createTempDirectory("biff_e2e_wh").toString)
    val report = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
      .run(staging.toString, 2025, 1)
    assert(report.sheetErrors.isEmpty, report.sheetErrors)
    assert(report.status == "SUCESSO", report)
    val edges = store.read("composicao_insumos")
      .select("composicao_pai_codigo", "insumo_filho_codigo")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(edges == Set((100, 1), (100, 2)))
    val precos = store.read("precos_insumos_mensal")
      .select("insumo_codigo", "uf", "preco_mediano")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDecimal(2).doubleValue()))
    assert(precos.toSet == Set((1, "SP", 120.50), (1, "RJ", 130.00), (2, "SP", 0.89)))
  }
}
