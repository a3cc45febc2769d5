package graft.etl

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** Minimal legacy `.xls` writer for test fixtures, the inverse of
  * [[XlsReader]]: a BIFF8 `Workbook` stream inside a version-3 OLE2
  * compound file. The container is a 512-byte header, one FAT sector,
  * one directory sector (Root Entry and `Workbook`) and the stream's
  * own sectors. The stream holds the globals (BOF, one BOUNDSHEET, SST
  * split into CONTINUE records at the 8,224-byte record limit, EOF),
  * then one sheet of LABELSST and NUMBER records. A string with a
  * character above U+00FF is stored UTF-16LE (the SST wide flag), any
  * other as one byte a character. The stream is zero-padded to the
  * 4,096-byte mini-stream cutoff, since `XlsReader` refuses a
  * mini-stream workbook; the padding reads as empty records after the
  * sheet's EOF.
  */
object XlsFixture {

  /** One spreadsheet cell: a shared string, a number, or blank. */
  sealed trait Cell
  final case class Text(s: String) extends Cell
  final case class Num(v: Double) extends Cell
  case object Blank extends Cell

  private val SectorSize = 512
  private val MaxRecordData = 8224
  private val MiniCutoff = 4096
  private val EndOfChain = -2
  private val FreeSect = -1
  private val NoStream = -1

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def record(sid: Int, data: Array[Byte]): Array[Byte] = {
    require(data.length <= MaxRecordData, s"record 0x${sid.toHexString} too long")
    le(4 + data.length).putShort(sid.toShort).putShort(data.length.toShort).put(data).array()
  }

  private def bof(kind: Int): Array[Byte] =
    record(0x0809, le(16).putShort(0x0600.toShort).putShort(kind.toShort).array())

  private val eof: Array[Byte] = record(0x000A, Array.emptyByteArray)

  private def wide(s: String): Boolean = s.exists(_ > 0xFF)

  private def chars(s: String, from: Int, until: Int, isWide: Boolean): Array[Byte] = {
    val part = s.substring(from, until)
    if (isWide) part.getBytes("UTF-16LE") else part.map(_.toByte).toArray
  }

  /** SST and its CONTINUE records. A string's header never splits; its
    * characters may, and each continuation starts with the string's
    * option byte again. */
  private def sst(strings: Seq[String], refs: Int): Seq[Array[Byte]] = {
    val chunks = ArrayBuffer(new ByteArrayOutputStream())
    chunks.last.write(le(8).putInt(refs).putInt(strings.length).array())
    def room = MaxRecordData - chunks.last.size
    strings.foreach { s =>
      val w = wide(s)
      val charBytes = if (w) 2 else 1
      if (room < 3 + charBytes) chunks += new ByteArrayOutputStream()
      chunks.last.write(le(3).putShort(s.length.toShort).put((if (w) 1 else 0).toByte).array())
      var i = 0
      while (i < s.length) {
        if (room < charBytes) {
          chunks += new ByteArrayOutputStream()
          chunks.last.write(if (w) 1 else 0)
        }
        val n = math.min(s.length - i, room / charBytes)
        chunks.last.write(chars(s, i, i + n, w))
        i += n
      }
    }
    chunks.zipWithIndex.map { case (c, k) => record(if (k == 0) 0x00FC else 0x003C, c.toByteArray) }.toSeq
  }

  /** The BIFF8 `Workbook` stream for one sheet named `sheetName`. */
  private[etl] def workbookStream(rows: Seq[Seq[Cell]], sheetName: String): Array[Byte] = {
    require(sheetName.nonEmpty && sheetName.length <= 31 && !wide(sheetName))
    require(rows.length <= 0xFFFF && rows.forall(_.length <= 256), "sheet too large for BIFF8")
    require(rows.flatten.forall { case Text(s) => s.length <= 0xFFFF; case _ => true })
    val texts = rows.flatten.collect { case Text(s) => s }
    val strings = texts.distinct
    val index = strings.zipWithIndex.toMap
    val sstRecords = sst(strings, texts.length)
    val boundSheetLength = 4 + 8 + sheetName.length
    val sheetOffset = bof(0x0005).length + boundSheetLength +
      sstRecords.map(_.length).sum + eof.length
    val boundSheet = record(0x0085, le(8 + sheetName.length).putInt(sheetOffset)
      .put(0.toByte).put(0.toByte).put(sheetName.length.toByte).put(0.toByte)
      .put(sheetName.getBytes("ISO-8859-1")).array())
    val cells = for {
      (row, r) <- rows.zipWithIndex
      (cell, c) <- row.zipWithIndex
    } yield cell match {
      case Text(s) => record(0x00FD,
        le(10).putShort(r.toShort).putShort(c.toShort).putShort(0).putInt(index(s)).array())
      case Num(v) => record(0x0203,
        le(14).putShort(r.toShort).putShort(c.toShort).putShort(0).putDouble(v).array())
      case Blank => Array.emptyByteArray
    }
    val out = new ByteArrayOutputStream()
    (Seq(bof(0x0005), boundSheet) ++ sstRecords ++ Seq(eof, bof(0x0010)) ++ cells :+ eof)
      .foreach(out.write)
    out.write(new Array[Byte](math.max(0, MiniCutoff - out.size)))
    out.toByteArray
  }

  /** One 128-byte directory entry; an empty name is an unused entry. */
  private def directoryEntry(name: String, kind: Int, child: Int, start: Int,
      size: Int): Array[Byte] = {
    val b = le(128)
    b.put(name.getBytes("UTF-16LE"))
    if (name.nonEmpty) b.putShort(64, ((name.length + 1) * 2).toShort).put(67, 1.toByte) // black
    b.put(66, kind.toByte)
    b.putInt(68, NoStream).putInt(72, NoStream).putInt(76, child)
    b.putInt(116, start).putInt(120, size)
    b.array()
  }

  /** The compound file holding `stream` as `Workbook`: sector 0 is the
    * FAT, sector 1 the directory, sectors 2.. the stream. */
  private def compoundFile(stream: Array[Byte]): Array[Byte] = {
    val streamSectors = (stream.length + SectorSize - 1) / SectorSize
    val sectors = 2 + streamSectors
    require(sectors <= SectorSize / 4, s"${stream.length}-byte stream needs more than one FAT sector")
    val header = le(SectorSize)
    header.putLong(0xE11AB1A1E011CFD0L) // signature
    header.putShort(24, 0x003E).putShort(26, 0x0003).putShort(28, 0xFFFE.toShort)
    header.putShort(30, 9).putShort(32, 6) // 512-byte sectors, 64-byte mini sectors
    header.putInt(44, 1).putInt(48, 1).putInt(56, MiniCutoff)
    header.putInt(60, EndOfChain).putInt(68, EndOfChain)
    header.putInt(76, 0)
    (1 until 109).foreach(i => header.putInt(76 + i * 4, FreeSect))
    val fat = le(SectorSize)
    fat.putInt(-3) // sector 0 is a FAT sector
    fat.putInt(EndOfChain) // directory: one sector
    (0 until streamSectors).foreach(i =>
      fat.putInt(if (i == streamSectors - 1) EndOfChain else 3 + i))
    while (fat.hasRemaining) fat.putInt(FreeSect)
    val dir = new ByteArrayOutputStream()
    dir.write(directoryEntry("Root Entry", 5, 1, EndOfChain, 0))
    dir.write(directoryEntry("Workbook", 2, NoStream, 2, stream.length))
    (0 until 2).foreach(_ => dir.write(directoryEntry("", 0, NoStream, 0, 0)))
    val out = new ByteArrayOutputStream()
    out.write(header.array())
    out.write(fat.array())
    out.write(dir.toByteArray)
    out.write(stream)
    out.write(new Array[Byte](streamSectors * SectorSize - stream.length))
    out.toByteArray
  }

  /** Write `rows` as an `.xls` workbook of one sheet. */
  def writeXls(path: String, rows: Seq[Seq[Cell]], sheetName: String = "Sheet1"): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      compoundFile(workbookStream(rows, sheetName)))
}
