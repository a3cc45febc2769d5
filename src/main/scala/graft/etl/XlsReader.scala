package graft.etl

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Minimal legacy .xls (BIFF8 inside an OLE2 compound file) reader,
  * JDK-only. Covers the record set the ASPEP workbooks use: SST (with
  * CONTINUE splits), LABELSST, NUMBER, RK, MULRK, LABEL, FORMULA with
  * cached numeric/string results, BOUNDSHEET substream offsets.
  * Driver-side by design — see XlsxReader's scaladoc.
  */
object XlsReader {

  // ---------- OLE2 / CFB container ----------

  private def le(bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  /** Extract the Workbook stream bytes from the compound file. */
  private[etl] def workbookStream(file: Array[Byte]): Array[Byte] = {
    val buf = le(file)
    require(buf.getLong(0) == 0xE11AB1A1E011CFD0L, "not an OLE2 compound file")
    val sectorShift = buf.getShort(30).toInt
    val secSize = 1 << sectorShift
    val numFatSecs = buf.getInt(44)
    val dirStart = buf.getInt(48)
    val miniCutoff = buf.getInt(56)
    val miniFatStart = buf.getInt(60)
    val difatStart = buf.getInt(68)
    val numDifatSecs = buf.getInt(72)

    // CFB spec: sector 0 starts right after the 512-byte header, i.e.
    // offset (sec + 1) * secSize — which also holds for version-4 files
    // (4096-byte sectors), where the header pads to a full sector.
    def sectorOffset(sec: Int): Int = (sec + 1) * secSize

    // DIFAT: 109 entries in header, then chained DIFAT sectors
    val fatSectors = ArrayBuffer.empty[Int]
    (0 until 109).foreach { i =>
      val v = buf.getInt(76 + i * 4)
      if (v >= 0) fatSectors += v
    }
    var difatSec = difatStart
    var difatCount = 0
    while (difatSec >= 0 && difatCount < numDifatSecs) {
      val off = sectorOffset(difatSec)
      (0 until secSize / 4 - 1).foreach { i =>
        val v = buf.getInt(off + i * 4)
        if (v >= 0) fatSectors += v
      }
      difatSec = buf.getInt(off + secSize - 4)
      difatCount += 1
    }

    val entriesPerFat = secSize / 4
    val fat = new Array[Int](fatSectors.length * entriesPerFat)
    fatSectors.zipWithIndex.foreach { case (sec, si) =>
      val off = sectorOffset(sec)
      (0 until entriesPerFat).foreach { i =>
        fat(si * entriesPerFat + i) = buf.getInt(off + i * 4)
      }
    }

    def readChain(start: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var sec = start
      var guard = 0
      while (sec >= 0 && guard < fat.length + 2) {
        val off = sectorOffset(sec)
        out.write(file, off, math.min(secSize, file.length - off))
        sec = fat(sec)
        guard += 1
      }
      out.toByteArray
    }

    // directory entries: 128 bytes each
    val dir = readChain(dirStart)
    case class Entry(name: String, startSec: Int, size: Long)
    val entries = (0 until dir.length / 128).map { i =>
      val off = i * 128
      val nameLen = le(dir).getShort(off + 64).toInt
      val name = if (nameLen >= 2)
        new String(dir, off, nameLen - 2, "UTF-16LE") else ""
      Entry(name, le(dir).getInt(off + 116), le(dir).getInt(off + 120).toLong & 0xFFFFFFFFL)
    }
    val wb = entries.find(e => e.name == "Workbook" || e.name == "Book")
      .getOrElse(throw new IllegalArgumentException("no Workbook stream"))
    require(wb.size >= miniCutoff,
      s"Workbook stream in mini-FAT (${wb.size} bytes) not supported")
    readChain(wb.startSec).take(wb.size.toInt)
  }

  // ---------- BIFF8 records ----------

  private case class Rec(sid: Int, data: Array[Byte], offset: Int)

  private def records(stream: Array[Byte]): Vector[Rec] = {
    val out = ArrayBuffer.empty[Rec]
    var p = 0
    while (p + 4 <= stream.length) {
      val b = le(stream)
      val sid = b.getShort(p) & 0xFFFF
      val len = b.getShort(p + 2) & 0xFFFF
      if (p + 4 + len > stream.length) return out.toVector
      out += Rec(sid, java.util.Arrays.copyOfRange(stream, p + 4, p + 4 + len), p)
      p += 4 + len
    }
    out.toVector
  }

  /** Parse the SST record plus its CONTINUE chunks into strings.
    * A string's character data may split at a chunk boundary; the
    * continuation restarts with a fresh grbit byte.
    */
  private[etl] def parseSst(chunks: Vector[Array[Byte]]): Vector[String] = {
    var ci = 0
    var p = 8 // skip cstTotal, cstUnique in chunk 0
    val first = le(chunks(0))
    val cstUnique = first.getInt(4)

    def chunk = chunks(ci)
    def remaining = chunk.length - p
    def advanceChunk(): Unit = { ci += 1; p = 0 }
    def need(n: Int): Unit = if (remaining == 0 && n > 0) advanceChunk()
    def u8(): Int = { need(1); val v = chunk(p) & 0xFF; p += 1; v }
    def u16(): Int = {
      need(2)
      if (remaining >= 2) { val v = le(chunk).getShort(p) & 0xFFFF; p += 2; v }
      else { val lo = u8(); val hi = u8(); lo | (hi << 8) }
    }
    def u32(): Long = { val lo = u16().toLong; val hi = u16().toLong; lo | (hi << 16) }
    def skip(n: Int): Unit = {
      var left = n
      while (left > 0) {
        if (remaining == 0) advanceChunk()
        val take = math.min(left, remaining)
        p += take; left -= take
      }
    }

    val out = ArrayBuffer.empty[String]
    var s = 0
    while (s < cstUnique && ci < chunks.length) {
      val cch = u16()
      var flags = u8()
      val fRich = (flags & 0x08) != 0
      val fExt = (flags & 0x04) != 0
      val cRun = if (fRich) u16() else 0
      val cbExt = if (fExt) u32() else 0L
      val sb = new StringBuilder
      var left = cch
      while (left > 0) {
        if (remaining == 0) {
          advanceChunk()
          flags = u8() // continuation restarts with a fresh grbit
        }
        val wide = (flags & 0x01) != 0
        if (wide) {
          val takeChars = math.min(left, remaining / 2)
          var i = 0
          while (i < takeChars) {
            sb.append(((chunk(p) & 0xFF) | ((chunk(p + 1) & 0xFF) << 8)).toChar)
            p += 2; i += 1
          }
          left -= takeChars
          if (takeChars == 0 && remaining == 1) {
            // odd trailing byte cannot hold a wide char; boundary quirk
            advanceChunk(); flags = u8() | 0x01
          }
        } else {
          val takeChars = math.min(left, remaining)
          var i = 0
          while (i < takeChars) { sb.append((chunk(p) & 0xFF).toChar); p += 1; i += 1 }
          left -= takeChars
        }
      }
      skip(cRun * 4 + cbExt.toInt)
      out += sb.toString
      s += 1
    }
    out.toVector
  }

  /** Decode an RK-encoded number. */
  private[etl] def decodeRk(rk: Int): Double = {
    val div100 = (rk & 0x01) != 0
    val isInt = (rk & 0x02) != 0
    val v =
      if (isInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if (div100) v / 100 else v
  }

  /** BIFF8 XLUnicodeString (16-bit length) used by LABEL records. */
  private def readUnicodeString(b: Array[Byte], off: Int): String = {
    val buf = le(b)
    val cch = buf.getShort(off) & 0xFFFF
    val flags = b(off + 2) & 0xFF
    var p = off + 3
    if ((flags & 0x08) != 0) p += 2 // rich run count
    if ((flags & 0x04) != 0) p += 4 // ext length
    if ((flags & 0x01) != 0) new String(b, p, cch * 2, "UTF-16LE")
    else {
      val sb = new StringBuilder
      (0 until cch).foreach(i => sb.append((b(p + i) & 0xFF).toChar))
      sb.toString
    }
  }

  def read(path: String, sheetName: Option[String]): Vector[Vector[String]] = {
    val stream = workbookStream(Files.readAllBytes(Paths.get(path)))
    val recs = records(stream)

    // globals substream: SST (+CONTINUEs) and BOUNDSHEETs
    val sstChunks = ArrayBuffer.empty[Array[Byte]]
    var collectingSst = false
    val sheets = ArrayBuffer.empty[(String, Int)] // (name, stream offset)
    var i = 0
    var inGlobals = true
    while (i < recs.length && inGlobals) {
      val r = recs(i)
      r.sid match {
        case 0x00FC => sstChunks += r.data; collectingSst = true
        case 0x003C if collectingSst => sstChunks += r.data
        case 0x0085 =>
          collectingSst = false
          val pos = le(r.data).getInt(0)
          val nameLen = r.data(6) & 0xFF
          val wide = (r.data(7) & 0x01) != 0
          // compressed: one byte a character, U+0000-U+00FF
          val nm = if (wide) new String(r.data, 8, nameLen * 2, "UTF-16LE")
          else new String(r.data, 8, nameLen, "ISO-8859-1")
          sheets += ((nm, pos))
        case 0x000A => inGlobals = false
        case _ => if (r.sid != 0x003C) collectingSst = false
      }
      i += 1
    }
    val sst = if (sstChunks.nonEmpty) parseSst(sstChunks.toVector) else Vector.empty

    val target = sheetName match {
      case Some(n) => sheets.find(_._1 == n)
        .getOrElse(throw new IllegalArgumentException(s"no sheet named $n"))._2
      case None => sheets.head._2
    }

    // sheet substream: scan records from the BOF at `target` to EOF
    val cells = ArrayBuffer.empty[(Int, Int, String)]
    var maxCol = -1
    var maxRow = -1
    def put(row: Int, colIdx: Int, v: String): Unit = {
      if (v != null && v.nonEmpty) {
        cells += ((row, colIdx, v))
        if (colIdx > maxCol) maxCol = colIdx
        if (row > maxRow) maxRow = row
      }
    }
    def num(d: Double): String =
      if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

    val startIdx = recs.indexWhere(_.offset == target)
    require(startIdx >= 0, s"sheet substream offset $target not found")
    var j = startIdx
    var done = false
    var pendingFormulaCell: Option[(Int, Int)] = None
    while (j < recs.length && !done) {
      val r = recs(j)
      val b = le(r.data)
      r.sid match {
        case 0x000A => if (j > startIdx) done = true
        case 0x00FD => // LABELSST
          val row = b.getShort(0) & 0xFFFF; val c = b.getShort(2) & 0xFFFF
          val isst = b.getInt(6)
          if (isst >= 0 && isst < sst.length) put(row, c, sst(isst))
        case 0x0203 => // NUMBER
          val row = b.getShort(0) & 0xFFFF; val c = b.getShort(2) & 0xFFFF
          put(row, c, num(b.getDouble(6)))
        case 0x027E => // RK
          val row = b.getShort(0) & 0xFFFF; val c = b.getShort(2) & 0xFFFF
          put(row, c, num(decodeRk(b.getInt(6))))
        case 0x00BD => // MULRK
          val row = b.getShort(0) & 0xFFFF
          val colFirst = b.getShort(2) & 0xFFFF
          val n = (r.data.length - 6) / 6
          (0 until n).foreach { k =>
            put(row, colFirst + k, num(decodeRk(b.getInt(4 + k * 6 + 2))))
          }
        case 0x0204 => // LABEL (inline string)
          val row = b.getShort(0) & 0xFFFF; val c = b.getShort(2) & 0xFFFF
          put(row, c, readUnicodeString(r.data, 6))
        case 0x0006 => // FORMULA: cached result
          val row = b.getShort(0) & 0xFFFF; val c = b.getShort(2) & 0xFFFF
          if ((b.getShort(12) & 0xFFFF) == 0xFFFF) {
            val kind = r.data(6) & 0xFF
            if (kind == 0) pendingFormulaCell = Some((row, c)) // string follows
          } else put(row, c, num(b.getDouble(6)))
        case 0x0207 => // STRING (formula string result)
          pendingFormulaCell.foreach { case (row, c) =>
            put(row, c, readUnicodeString(r.data, 0))
          }
          pendingFormulaCell = None
        case _ =>
      }
      j += 1
    }

    if (cells.isEmpty) return Vector.empty
    val grid = Array.fill[Array[String]](maxRow + 1)(Array.fill[String](maxCol + 1)(null))
    cells.foreach { case (rw, cl, v) => grid(rw)(cl) = v }
    grid.map(_.toVector).toVector
  }
}
