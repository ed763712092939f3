package graft.sources

import scala.collection.mutable

/** Legacy binary Excel (.xls) text extraction from the open specs —
  * MS-CFB (the OLE2 compound file container) + MS-XLS (BIFF8 records) —
  * with zero added dependencies, closing the last format gap in the
  * [[DocumentIngest]] dispatcher (reference: the document helper stack's
  * spreadsheet path, utils/extract_data/aje_libs/documents/helpers/
  * xls_helper.py — all sheets, rows with any non-empty cell).
  *
  * Scope, honestly stated: cell CONTENT only — SST and inline strings
  * (including the split-across-CONTINUE encoding), NUMBER/RK/MULRK
  * numerics, BOOLERR booleans, FORMULA cached numeric/string results.
  * No formats, no dates-as-dates (a date cell renders as its serial
  * number, exactly what openpyxl shows without number-format decoding),
  * no encrypted workbooks (FILEPASS refuses loudly). Junk bytes throw —
  * the ingest wrapper turns that into the per-document error row.
  */
object XlsText {

  /** Cap on any stream materialized out of the container (zip-bomb guard
    * class, same number as DocumentIngest.MaxEntryBytes). */
  val MaxStreamBytes: Int = 64 * 1024 * 1024

  // ------------------------------------------------------------- helpers

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def u16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def i32(b: Array[Byte], i: Int): Int =
    u16(b, i) | (u16(b, i + 2) << 16)
  private def f64(b: Array[Byte], i: Int): Double = {
    var v = 0L
    var k = 7
    while (k >= 0) { v = (v << 8) | (b(i + k) & 0xffL); k -= 1 }
    java.lang.Double.longBitsToDouble(v)
  }

  // --------------------------------------------------- CFB container read

  private val EndOfChain = 0xfffffffe
  private val FreeSect = 0xffffffff

  /** Extract a named stream ("Workbook"/"Book") from the compound file. */
  private[sources] def cfbStream(bytes: Array[Byte],
                                 names: Seq[String]): Array[Byte] = {
    require(bytes.length >= 512 &&
      i32(bytes, 0) == 0xe011cfd0 && i32(bytes, 4) == 0xe11ab1a1,
      "not a compound (OLE2) file")
    val sectorSize = 1 << u16(bytes, 30)
    val miniSize = 1 << u16(bytes, 32)
    val nFat = i32(bytes, 44)
    val firstDir = i32(bytes, 48)
    val miniCutoff = i32(bytes, 56)
    val firstMiniFat = i32(bytes, 60)
    val firstDifat = i32(bytes, 68)
    def sectorOff(idx: Int): Int = (idx + 1) * sectorSize

    // FAT sector list: 109 header DIFAT entries + chained DIFAT sectors
    val fatSectors = mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < 109 && fatSectors.size < nFat) {
      val e = i32(bytes, 76 + 4 * i)
      if (e != FreeSect && e != EndOfChain) fatSectors += e
      i += 1
    }
    var difat = firstDifat
    var guard = 0
    while (difat != EndOfChain && difat != FreeSect && guard < (1 << 16)) {
      val off = sectorOff(difat)
      val per = sectorSize / 4 - 1
      (0 until per).foreach { k =>
        val e = i32(bytes, off + 4 * k)
        if (e != FreeSect && e != EndOfChain && fatSectors.size < nFat)
          fatSectors += e
      }
      difat = i32(bytes, off + sectorSize - 4)
      guard += 1
    }
    val fat = fatSectors.toArray.flatMap { s =>
      val off = sectorOff(s)
      (0 until sectorSize / 4).map(k => i32(bytes, off + 4 * k))
    }

    def chain(start: Int, table: Array[Int]): Seq[Int] = {
      val out = mutable.ArrayBuffer[Int]()
      var cur = start
      while (cur != EndOfChain && cur != FreeSect && cur >= 0 &&
        cur < table.length && out.size <= table.length) {
        out += cur
        cur = table(cur)
      }
      out.toSeq
    }

    def readChain(start: Int, size: Long): Array[Byte] = {
      require(size <= MaxStreamBytes, s"stream exceeds $MaxStreamBytes bytes")
      val out = new java.io.ByteArrayOutputStream()
      chain(start, fat).foreach { s =>
        val off = sectorOff(s)
        out.write(bytes, off, math.min(sectorSize, bytes.length - off))
      }
      java.util.Arrays.copyOf(out.toByteArray, size.toInt)
    }

    // directory entries (128 B): name UTF-16LE, type, start, size
    final case class Dir(name: String, typ: Int, start: Int, size: Long)
    val dirBytes = {
      val out = new java.io.ByteArrayOutputStream()
      chain(firstDir, fat).foreach { s =>
        out.write(bytes, sectorOff(s), sectorSize)
      }
      out.toByteArray
    }
    val dirs = (0 until dirBytes.length / 128).map { k =>
      val o = k * 128
      val nameLen = u16(dirBytes, o + 64)
      val name =
        if (nameLen >= 2)
          new String(dirBytes, o, nameLen - 2,
            java.nio.charset.StandardCharsets.UTF_16LE)
        else ""
      Dir(name, u8(dirBytes, o + 66), i32(dirBytes, o + 116),
        i32(dirBytes, o + 120).toLong & 0xffffffffL)
    }

    val root = dirs.find(_.typ == 5).getOrElse(
      throw new IllegalArgumentException("compound file has no root entry"))
    val target = dirs.find(d => d.typ == 2 && names.contains(d.name))
      .getOrElse(throw new IllegalArgumentException(
        s"no ${names.mkString("/")} stream (not an xls workbook)"))

    if (target.size >= miniCutoff) readChain(target.start, target.size)
    else {
      // mini stream: 64 B sectors inside the root chain, miniFAT-linked
      val miniData = readChain(root.start, root.size)
      val miniFat = {
        val out = new java.io.ByteArrayOutputStream()
        chain(firstMiniFat, fat).foreach(s =>
          out.write(bytes, sectorOff(s), sectorSize))
        val b = out.toByteArray
        (0 until b.length / 4).map(k => i32(b, 4 * k)).toArray
      }
      require(target.size <= MaxStreamBytes,
        s"stream exceeds $MaxStreamBytes bytes")
      val out = new java.io.ByteArrayOutputStream()
      chain(target.start, miniFat).foreach { s =>
        val off = s * miniSize
        if (off < miniData.length)
          out.write(miniData, off, math.min(miniSize, miniData.length - off))
      }
      java.util.Arrays.copyOf(out.toByteArray, target.size.toInt)
    }
  }

  // ----------------------------------------------------- BIFF8 records

  private final case class Rec(id: Int, at: Int, len: Int)

  private def records(wb: Array[Byte]): IndexedSeq[Rec] = {
    val out = mutable.ArrayBuffer[Rec]()
    var p = 0
    while (p + 4 <= wb.length) {
      val id = u16(wb, p)
      val len = u16(wb, p + 2)
      if (p + 4 + len > wb.length) p = wb.length
      else { out += Rec(id, p + 4, len); p += 4 + len }
    }
    out.toIndexedSeq
  }

  /** Cursor over one record plus its CONTINUE tail — the unit BIFF8
    * strings span. `readChars` re-reads the compression flag byte when
    * character data crosses a segment boundary (MS-XLS 2.5.293). */
  private final class Cont(wb: Array[Byte], segs: IndexedSeq[Rec]) {
    private var seg = 0
    private var off = segs.head.at
    private def segEnd = segs(seg).at + segs(seg).len
    private def advance(): Unit = {
      seg += 1
      require(seg < segs.length, "SST string truncated across CONTINUE")
      off = segs(seg).at
    }
    def u8v(): Int = {
      if (off >= segEnd) advance()
      val v = u8(wb, off); off += 1; v
    }
    def u16v(): Int = u8v() | (u8v() << 8)
    def u32v(): Long = (u16v().toLong | (u16v().toLong << 16)) & 0xffffffffL
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        if (off >= segEnd) advance()
        val take = math.min(left, (segEnd - off).toLong)
        off += take.toInt; left -= take
      }
    }
    /** XLUnicodeRichExtendedString (the SST entry form). */
    def readString(): String = {
      val cch = u16v()
      var flags = u8v()
      val rich = (flags & 0x08) != 0
      val ext = (flags & 0x04) != 0
      val cRun = if (rich) u16v() else 0
      val cbExt = if (ext) u32v() else 0L
      val sb = new StringBuilder
      var left = cch
      while (left > 0) {
        if (off >= segEnd) {
          advance()
          flags = u8v() // continuation re-states the compression bit
        }
        if ((flags & 0x01) != 0) { // uncompressed UTF-16LE
          // the spec aligns CONTINUE splits to code units; a split mid-unit
          // (sloppy writers) must refuse loudly, not consume the next
          // record's header as character data
          require(off + 1 < segEnd, "UTF-16 code unit split across CONTINUE")
          sb.append((u8(wb, off) | (u8(wb, off + 1) << 8)).toChar)
          off += 2
        } else {
          sb.append((u8(wb, off)).toChar)
          off += 1
        }
        left -= 1
      }
      skip(4L * cRun + cbExt)
      sb.toString
    }
  }

  /** Shared-string table: SST record + CONTINUEs following it. */
  private def parseSst(wb: Array[Byte], recs: IndexedSeq[Rec],
                       at: Int): IndexedSeq[String] = {
    val segs = recs(at) +: recs.drop(at + 1).takeWhile(_.id == 0x003c)
    val c = new Cont(wb, segs)
    c.skip(4) // cstTotal
    val unique = c.u32v()
    require(unique <= 4 * 1024 * 1024, s"SST claims $unique strings")
    (0L until unique).map(_ => c.readString()).toIndexedSeq
  }

  /** Inline record string (LABEL / BOUNDSHEET short form). */
  private def inlineString(wb: Array[Byte], at: Int, cchBytes: Int): String = {
    val cch = if (cchBytes == 1) u8(wb, at) else u16(wb, at)
    val flags = u8(wb, at + cchBytes)
    val start = at + cchBytes + 1
    if ((flags & 0x01) != 0)
      new String(wb, start, cch * 2,
        java.nio.charset.StandardCharsets.UTF_16LE)
    else {
      val sb = new StringBuilder
      (0 until cch).foreach(i => sb.append(u8(wb, start + i).toChar))
      sb.toString
    }
  }

  private def num(x: Double): String =
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  private def rkValue(v: Int): String = {
    val d =
      if ((v & 2) != 0) (v >> 2).toDouble
      else java.lang.Double.longBitsToDouble((v & 0xfffffffcL) << 32)
    num(if ((v & 1) != 0) d / 100 else d)
  }

  // ------------------------------------------------------------- sheets

  /** All sheets: (name, rows of nullable cell strings) — the
    * [[DocumentIngest.xlsxSheets]] twin for BIFF8. */
  def sheets(bytes: Array[Byte]): Seq[(String, Seq[Seq[String]])] = {
    val wb = cfbStream(bytes, Seq("Workbook", "Book"))
    val recs = records(wb)
    require(recs.nonEmpty && recs.head.id == 0x0809,
      "stream does not start with a BIFF BOF record")
    require(!recs.exists(_.id == 0x002f),
      "encrypted workbook (FILEPASS) — refusing")
    val sst = recs.zipWithIndex.find(_._1.id == 0x00fc)
      .map { case (_, i) => parseSst(wb, recs, i) }
      .getOrElse(IndexedSeq.empty)
    // BOUNDSHEET: stream offset of each sheet's BOF + its name
    val bounds = recs.filter(_.id == 0x0085).map { r =>
      (i32(wb, r.at), u8(wb, r.at + 5), inlineString(wb, r.at + 6, 1))
    }
    val byOffset = recs.zipWithIndex.map { case (r, i) => (r.at - 4) -> i }.toMap

    bounds.collect { case (bof, dt, name) if dt == 0 =>
      val rows = mutable.SortedMap[Int, mutable.SortedMap[Int, String]]()
      def cell(row: Int, col: Int, v: String): Unit = {
        rows.getOrElseUpdate(row, mutable.SortedMap[Int, String]())(col) = v
      }
      var i = byOffset.getOrElse(bof,
        throw new IllegalArgumentException(s"BOUNDSHEET offset $bof dangles"))
      var done = false
      var pendingFormulaCell: Option[(Int, Int)] = None
      i += 1 // past the sheet BOF
      while (i < recs.length && !done) {
        val r = recs(i)
        r.id match {
          case 0x000a => done = true // EOF
          case 0x00fd => // LABELSST
            val isst = i32(wb, r.at + 6)
            if (isst >= 0 && isst < sst.length)
              cell(u16(wb, r.at), u16(wb, r.at + 2), sst(isst))
          case 0x0204 => // LABEL (inline)
            cell(u16(wb, r.at), u16(wb, r.at + 2),
              inlineString(wb, r.at + 6, 2))
          case 0x0203 => // NUMBER
            cell(u16(wb, r.at), u16(wb, r.at + 2), num(f64(wb, r.at + 6)))
          case 0x027e => // RK
            cell(u16(wb, r.at), u16(wb, r.at + 2), rkValue(i32(wb, r.at + 6)))
          case 0x00bd => // MULRK
            val row = u16(wb, r.at)
            val colFirst = u16(wb, r.at + 2)
            val n = (r.len - 6) / 6
            (0 until n).foreach { k =>
              cell(row, colFirst + k, rkValue(i32(wb, r.at + 4 + 6 * k + 2)))
            }
          case 0x0205 => // BOOLERR
            if (u8(wb, r.at + 7) == 0)
              cell(u16(wb, r.at), u16(wb, r.at + 2),
                if (u8(wb, r.at + 6) != 0) "true" else "false")
          case 0x0006 => // FORMULA: cached result
            val row = u16(wb, r.at)
            val col = u16(wb, r.at + 2)
            if (u16(wb, r.at + 12) == 0xffff) {
              // non-numeric cached result; a string lands in the
              // following STRING record, booleans inline
              u8(wb, r.at + 6) match {
                case 0 => pendingFormulaCell = Some((row, col))
                case 1 => cell(row, col,
                  if (u8(wb, r.at + 8) != 0) "true" else "false")
                case _ => () // error results render as nothing
              }
            } else cell(row, col, num(f64(wb, r.at + 6)))
          case 0x0207 => // STRING: a pending formula's cached text
            pendingFormulaCell.foreach { case (row, col) =>
              cell(row, col, inlineString(wb, r.at, 2))
            }
            pendingFormulaCell = None
          case _ => ()
        }
        i += 1
      }
      val rendered = rows.values.filter(_.nonEmpty).map { m =>
        (0 to m.lastKey).map(c => m.getOrElse(c, null)).toSeq
      }.toSeq
      name -> rendered
    }.toSeq
  }

  /** The reference's spreadsheet-to-text rendering — identical shape to
    * [[DocumentIngest.xlsxToText]] so `.xls` and `.xlsx` of the same
    * workbook produce the same corpus text. */
  def toText(bytes: Array[Byte]): String = {
    val parts = mutable.ArrayBuffer[String]()
    sheets(bytes).foreach { case (name, rows) =>
      parts += s"Sheet: $name"
      rows.zipWithIndex.foreach { case (row, i) =>
        parts += s"Row ${i + 1}: " +
          row.map(c => if (c == null) "" else c).mkString(" | ")
      }
      parts += ""
    }
    parts.mkString("\n")
  }
}
