package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** S2 completion — dependency-free legacy `.xls` (BIFF8) sheet
  * extraction. The reference's extension whitelist accepts `.xls`
  * (`/root/reference/autosinapi/config.py:24`) and reads it through
  * pandas/xlrd (`downloader.py:82-98`); until this file the engine
  * raised a named `UnsupportedFormatException` instead. This reader
  * parses the real thing: the CFB (Compound File Binary) container —
  * FAT, DIFAT, directory, mini-FAT — and the BIFF8 `Workbook` stream
  * inside it, down to the cell records SINAPI-era workbooks use.
  *
  * Fidelity target: xlrd, NOT openpyxl — pandas reads `.xls` through
  * xlrd, which returns CACHED formula results (it has no formula-text
  * support), so unlike the `.xlsx` path (`=<formula>`, data_only=False
  * semantics) formula cells here render their cached value. Numbers
  * render integral doubles without a decimal point and everything else
  * via `Double.toString` (shortest round-trip) — deterministic, and
  * the comma-decimal SINAPI values are stored as text anyway.
  *
  * Supported cell records: LABELSST, LABEL, NUMBER, RK, MULRK,
  * BOOLERR, FORMULA (+ following STRING for string results); BLANK /
  * MULBLANK stay empty like absent xlsx cells. SST honours CONTINUE
  * splits with the per-continuation compression re-declaration the
  * spec requires. BIFF5 (`Book` stream, single-sheet 16-bit SST-less
  * format) is NOT parsed and fails by name.
  *
  * Driver-side by design, like [[XlsxToCsv]]: one workbook is a single
  * monthly artifact; the distributed path starts at the staged CSV.
  */
object BiffToCsv {

  private val EndOfChain = 0xFFFFFFFEL
  private val FreeSect = 0xFFFFFFFFL

  private def fail(msg: String): Nothing =
    throw new UnsupportedFormatException(
      s"unreadable legacy BIFF workbook: $msg — re-save the workbook " +
        "as .xlsx if it predates BIFF8")

  // ---- CFB container ---------------------------------------------------

  private final class Cfb(data: Array[Byte]) {
    require(data.length >= 512, "truncated CFB header")
    private def u16(o: Int): Int =
      (data(o) & 0xFF) | ((data(o + 1) & 0xFF) << 8)
    private def u32(o: Int): Long =
      (u16(o).toLong) | (u16(o + 2).toLong << 16)

    private val sectorSize = 1 << u16(30)
    private val miniSectorSize = 1 << u16(32)
    private val miniCutoff = u32(56)
    if (sectorSize < 128 || sectorSize > 4096) fail("bad CFB sector size")

    private def sectorOffset(sid: Long): Int = {
      val off = (sid + 1) * sectorSize
      if (off < 0 || off + sectorSize > data.length)
        fail(s"CFB sector $sid out of bounds")
      off.toInt
    }

    /** FAT sector ids: 109 header DIFAT slots + chained DIFAT sectors. */
    private val fat: Array[Long] = {
      val numFat = u32(44)
      val fatSids = mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i < 109 && fatSids.length < numFat) {
        val sid = u32(76 + i * 4)
        if (sid != FreeSect && sid != EndOfChain) fatSids += sid
        i += 1
      }
      var difat = u32(68)
      var guard = 0
      while (difat != EndOfChain && difat != FreeSect &&
             fatSids.length < numFat && guard < (1 << 16)) {
        val off = sectorOffset(difat)
        val perSector = sectorSize / 4 - 1
        var j = 0
        while (j < perSector && fatSids.length < numFat) {
          val sid = u32(off + j * 4)
          if (sid != FreeSect) fatSids += sid
          j += 1
        }
        difat = u32(off + perSector * 4)
        guard += 1
      }
      val entries = mutable.ArrayBuffer.empty[Long]
      fatSids.foreach { sid =>
        val off = sectorOffset(sid)
        var j = 0
        while (j < sectorSize / 4) { entries += u32(off + j * 4); j += 1 }
      }
      entries.toArray
    }

    private def readChain(start: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var sid = start
      var guard = 0
      while (sid != EndOfChain && sid != FreeSect) {
        if (guard > fat.length + 8) fail("CFB FAT chain loop")
        out.write(data, sectorOffset(sid), sectorSize)
        if (sid < 0 || sid >= fat.length) fail(s"CFB FAT index $sid out of range")
        sid = fat(sid.toInt)
        guard += 1
      }
      out.toByteArray
    }

    /** (name, startSector, size, isRoot) directory entries. */
    private val dirEntries: Seq[(String, Long, Long, Boolean)] = {
      val dir = readChain(u32(48))
      (0 until dir.length / 128).flatMap { i =>
        val base = i * 128
        def du16(o: Int) = (dir(base + o) & 0xFF) | ((dir(base + o + 1) & 0xFF) << 8)
        def du32(o: Int) = du16(o).toLong | (du16(o + 2).toLong << 16)
        val nameLen = du16(64)
        val objType = dir(base + 66) & 0xFF
        if (nameLen < 2 || nameLen > 64 || (objType != 2 && objType != 5)) None
        else {
          val name = new String(dir, base, nameLen - 2, StandardCharsets.UTF_16LE)
          Some((name, du32(116), du32(120), objType == 5))
        }
      }
    }

    /** Mini-FAT entries + the root's mini-stream container bytes. */
    private lazy val (miniFat: Array[Long], miniContainer: Array[Byte]) = {
      val entries = mutable.ArrayBuffer.empty[Long]
      var sid = u32(60)
      var guard = 0
      while (sid != EndOfChain && sid != FreeSect && guard < (1 << 16)) {
        val off = sectorOffset(sid)
        var j = 0
        while (j < sectorSize / 4) { entries += u32(off + j * 4); j += 1 }
        if (sid < 0 || sid >= fat.length) fail("CFB mini-FAT chain broken")
        sid = fat(sid.toInt)
        guard += 1
      }
      val root = dirEntries.find(_._4).getOrElse(fail("CFB root entry missing"))
      (entries.toArray,
        if (entries.isEmpty) Array.emptyByteArray else readChain(root._2))
    }

    private def readMiniChain(start: Long, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var sid = start
      var guard = 0
      while (sid != EndOfChain && sid != FreeSect) {
        if (guard > miniFat.length + 8) fail("CFB mini-FAT chain loop")
        val off = sid * miniSectorSize
        if (off < 0 || off + miniSectorSize > miniContainer.length)
          fail(s"CFB mini sector $sid out of bounds")
        out.write(miniContainer, off.toInt, miniSectorSize)
        if (sid < 0 || sid >= miniFat.length)
          fail(s"CFB mini-FAT index $sid out of range")
        sid = miniFat(sid.toInt)
        guard += 1
      }
      out.toByteArray
    }

    def stream(name: String): Option[Array[Byte]] =
      dirEntries.collectFirst { case (n, start, size, false) if n == name =>
        val raw = if (size < miniCutoff) readMiniChain(start, size)
                  else readChain(start)
        if (raw.length < size) fail(s"stream '$name' truncated")
        java.util.Arrays.copyOf(raw, size.toInt)
      }
  }

  // ---- BIFF8 record stream ---------------------------------------------

  /** (record id, payload offset, payload length) for the whole stream;
    * stops at a zero id (sector padding past the last EOF). */
  private def records(wb: Array[Byte]): IndexedSeq[(Int, Int, Int)] = {
    val out = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var pos = 0
    def u16(o: Int) = (wb(o) & 0xFF) | ((wb(o + 1) & 0xFF) << 8)
    while (pos + 4 <= wb.length) {
      val id = u16(pos); val len = u16(pos + 2)
      if (id == 0) return out.toIndexedSeq
      if (pos + 4 + len > wb.length) fail("BIFF record overruns stream")
      out += ((id, pos + 4, len))
      pos += 4 + len
    }
    out.toIndexedSeq
  }

  /** Cursor over a record plus its CONTINUE successors: fixed fields
    * concatenate across the boundary; character runs re-read the
    * per-continuation compression flag, as the SST spec requires. */
  private final class Cursor(recs: IndexedSeq[(Int, Int, Int)],
                             wb: Array[Byte], var ri: Int) {
    var off: Int = recs(ri)._2
    private def recEnd: Int = recs(ri)._2 + recs(ri)._3
    private def advance(): Unit = {
      ri += 1
      if (ri >= recs.length || recs(ri)._1 != 0x003C)
        fail("SST truncated: CONTINUE record expected")
      off = recs(ri)._2
    }
    private def ensure1(): Unit = if (off >= recEnd) advance()
    def u8(): Int = { ensure1(); val v = wb(off) & 0xFF; off += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    def skip(n: Int): Unit = {
      if (n < 0) fail(s"SST: negative skip count $n")
      var left = n
      while (left > 0) {
        ensure1()
        val take = math.min(left, recEnd - off)
        off += take; left -= take
      }
    }
    def readChars(cch: Int, compressed0: Boolean): String = {
      val sb = new java.lang.StringBuilder(cch)
      var left = cch
      var compressed = compressed0
      while (left > 0) {
        if (off >= recEnd) {
          advance()
          // each continuation of a string re-declares compression
          compressed = (u8() & 1) == 0
        }
        val bytesAvail = recEnd - off
        if (compressed) {
          val take = math.min(left, bytesAvail)
          var i = 0
          while (i < take) { sb.append((wb(off + i) & 0xFF).toChar); i += 1 }
          off += take; left -= take
        } else {
          val take = math.min(left, bytesAvail / 2)
          if (take == 0) fail("SST: split surrogate byte across CONTINUE")
          var i = 0
          while (i < take) {
            sb.append((((wb(off + 2 * i) & 0xFF)) |
              ((wb(off + 2 * i + 1) & 0xFF) << 8)).toChar)
            i += 1
          }
          off += 2 * take; left -= take
        }
      }
      sb.toString
    }
    /** XLUnicodeRichExtendedString (16-bit cch) — the SST entry. */
    def readSstString(): String = {
      val cch = u16()
      val grbit = u8()
      val compressed = (grbit & 1) == 0
      val cRun = if ((grbit & 8) != 0) u16() else 0
      val cbExt = if ((grbit & 4) != 0) u32() else 0L
      // cbExt is a 32-bit unsigned length; bound it by the whole stream
      // so a corrupt value fails loudly instead of truncating to a
      // negative Int (which skip would otherwise silently no-op on,
      // leaving the SST cursor misaligned → garbage strings).
      if (cbExt > wb.length)
        fail(s"SST: ExtRst length $cbExt exceeds stream size ${wb.length}")
      val s = readChars(cch, compressed)
      skip(cRun * 4)
      skip(cbExt.toInt)
      s
    }
  }

  // ---- BIFF8 workbook --------------------------------------------------

  private def rkValue(raw: Long): Double = {
    val div100 = (raw & 1L) != 0
    val isInt = (raw & 2L) != 0
    val v =
      if (isInt) (raw.toInt >> 2).toDouble
      else java.lang.Double.longBitsToDouble((raw & 0xFFFFFFFCL) << 32)
    if (div100) v / 100 else v
  }

  /** Integral doubles render without a decimal point; everything else
    * via the shortest round-trip `Double.toString`. */
  private def numStr(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  final class Workbook(val xls: Path) extends graft.ingest.Workbook {
    private val cfb = new Cfb(Files.readAllBytes(xls))
    private val wb: Array[Byte] = cfb.stream("Workbook").getOrElse {
      if (cfb.stream("Book").isDefined)
        fail("BIFF5 'Book' stream (pre-97 workbook)")
      else fail("no 'Workbook' stream in CFB container")
    }
    private val recs = records(wb)
    private def u16At(o: Int) = (wb(o) & 0xFF) | ((wb(o + 1) & 0xFF) << 8)
    private def u32At(o: Int) = u16At(o).toLong | (u16At(o + 2).toLong << 16)
    private def f64At(o: Int): Double = {
      var bits = 0L
      var i = 7
      while (i >= 0) { bits = (bits << 8) | (wb(o + i) & 0xFFL); i -= 1 }
      java.lang.Double.longBitsToDouble(bits)
    }

    /** (sheet name, BOF stream offset) from the globals BOUNDSHEETs. */
    val sheets: Seq[(String, Long)] = {
      val out = mutable.ArrayBuffer.empty[(String, Long)]
      var i = 0
      var inGlobals = false
      var done = false
      while (i < recs.length && !done) {
        val (id, o, _) = recs(i)
        id match {
          case 0x0809 => if (!inGlobals) inGlobals = true // globals BOF
          case 0x0085 => // BOUNDSHEET
            val pos = u32At(o)
            val cch = wb(o + 6) & 0xFF
            val compressed = (wb(o + 7) & 1) == 0
            val name =
              if (compressed) {
                val sb = new java.lang.StringBuilder(cch)
                (0 until cch).foreach(k => sb.append((wb(o + 8 + k) & 0xFF).toChar))
                sb.toString
              } else new String(wb, o + 8, cch * 2, StandardCharsets.UTF_16LE)
            out += name -> pos
          case 0x000A => done = true // globals EOF: sheets substreams follow
          case _ => ()
        }
        i += 1
      }
      if (out.isEmpty) fail("no BOUNDSHEET records in globals")
      out.toSeq
    }

    /** Shared-string table (may be absent when no LABELSST is used). */
    private lazy val sst: IndexedSeq[String] = {
      recs.indexWhere(_._1 == 0x00FC) match {
        case -1 => IndexedSeq.empty
        case ri =>
          val cur = new Cursor(recs, wb, ri)
          cur.skip(4) // total occurrences
          val unique = cur.u32().toInt
          (0 until unique).map(_ => cur.readSstString())
      }
    }

    def sheetNames: Seq[String] = sheets.map(_._1)

    /** Sheet cells keyed by 1-based row, mirroring the xlsx reader. */
    private def readSheet(bofPos: Long): mutable.SortedMap[Int, IndexedSeq[String]] = {
      val start = recs.indexWhere(_._2 - 4 >= bofPos)
      if (start < 0 || recs(start)._1 != 0x0809)
        fail(s"sheet substream BOF not found at $bofPos")
      val rows = mutable.SortedMap.empty[Int, mutable.ArrayBuffer[String]]
      def put(rw: Int, colIdx: Int, v: String): Unit = {
        val cells = rows.getOrElseUpdate(rw + 1, mutable.ArrayBuffer.empty[String])
        while (cells.length <= colIdx) cells += ""
        cells(colIdx) = v
      }
      var i = start + 1
      var done = false
      while (i < recs.length && !done) {
        val (id, o, len) = recs(i)
        id match {
          case 0x000A => done = true // EOF
          case 0x0203 => // NUMBER
            put(u16At(o), u16At(o + 2), numStr(f64At(o + 6)))
          case 0x027E => // RK
            put(u16At(o), u16At(o + 2), numStr(rkValue(u32At(o + 6))))
          case 0x00BD => // MULRK: rw, colFirst, (ixfe, rk)*, colLast
            val rw = u16At(o); val colFirst = u16At(o + 2)
            val pairs = (len - 6) / 6
            (0 until pairs).foreach { k =>
              put(rw, colFirst + k, numStr(rkValue(u32At(o + 4 + k * 6 + 2))))
            }
          case 0x00FD => // LABELSST
            val idx = u32At(o + 6).toInt
            put(u16At(o), u16At(o + 2),
              if (idx >= 0 && idx < sst.length) sst(idx) else "")
          case 0x0204 => // LABEL (inline XLUnicodeString, 16-bit cch)
            val cur = new Cursor(recs, wb, i)
            cur.off = o + 6
            val cch = cur.u16()
            val compressed = (cur.u8() & 1) == 0
            put(u16At(o), u16At(o + 2), cur.readChars(cch, compressed))
          case 0x0205 => // BOOLERR
            val isErr = (wb(o + 7) & 0xFF) != 0
            val v = if (isErr) "" // error cells render empty, like t="e"
                    else if ((wb(o + 6) & 0xFF) != 0) "True" else "False"
            put(u16At(o), u16At(o + 2), v)
          case 0x0006 => // FORMULA: cached result (the xlrd contract)
            val rw = u16At(o); val colIdx = u16At(o + 2)
            if (u16At(o + 12) == 0xFFFF) {
              (wb(o + 6) & 0xFF) match {
                case 0 => // string result: in the following STRING record
                  // skip the ARRAY / SHRFMLA / CONTINUE records that may
                  // sit between a FORMULA and its STRING result
                  var j = i + 1
                  while (j < recs.length &&
                         (recs(j)._1 == 0x0221 || recs(j)._1 == 0x04BC ||
                          recs(j)._1 == 0x003C)) j += 1
                  if (j < recs.length && recs(j)._1 == 0x0207) {
                    val cur = new Cursor(recs, wb, j)
                    val cch = cur.u16()
                    val compressed = (cur.u8() & 1) == 0
                    put(rw, colIdx, cur.readChars(cch, compressed))
                  } else put(rw, colIdx, "")
                case 1 => put(rw, colIdx,
                  if ((wb(o + 8) & 0xFF) != 0) "True" else "False")
                case _ => put(rw, colIdx, "") // error / empty-string cache
              }
            } else put(rw, colIdx, numStr(f64At(o + 6)))
          case _ => () // ROW, BLANK, MULBLANK, formats, …: no cell text
        }
        i += 1
      }
      rows.map { case (k, v) => k -> v.toIndexedSeq }
    }

    def convertSheet(sheetName: String, outCsv: Path, sep: Char = ';'): Long = {
      val pos = sheets.collectFirst { case (n, p) if n == sheetName => p }
        .getOrElse(throw new IllegalArgumentException(
          s"sheet '$sheetName' not found in $xls (have: ${sheetNames.mkString(", ")})"))
      XlsxToCsv.writeCsvRows(readSheet(pos), outCsv, sep)
    }

    override def close(): Unit = ()
  }

  /** Probe that the CFB container opens and holds a BIFF8 Workbook
    * stream with at least one sheet — the acquisition-time guard that
    * replaces the old fail-always behaviour. */
  def requireReadable(path: Path): Unit = {
    val wb = new Workbook(path)
    if (wb.sheetNames.isEmpty) fail("workbook has no sheets")
  }
}
