package graft.etl

import java.nio.{ByteBuffer, ByteOrder}
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import XlsFixture.{Blank, Cell, Num, Text}

/** `XlsFixture` is the inverse of `XlsReader`: seeded writer -> reader
  * round trips over random sheets (fixed seeds, deterministic across
  * runs), in the style of RandomizedPropsSpec.
  */
class XlsFixtureSpec extends AnyFunSuite {

  /** What the reader gives back for a written sheet: blank and empty
    * text cells are null, a whole number renders without ".0", and the
    * grid spans the last row and column holding a value. */
  private def expected(rows: Seq[Seq[Cell]]): Vector[Vector[String]] = {
    val cells = for {
      (row, r) <- rows.zipWithIndex
      (cell, c) <- row.zipWithIndex
      v <- cell match {
        case Text(s) if s.nonEmpty => Some(s)
        case Num(d) => Some(if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString)
        case _ => None
      }
    } yield (r, c) -> v
    if (cells.isEmpty) Vector.empty
    else {
      val byPos = cells.toMap
      val (height, width) = (cells.map(_._1._1).max + 1, cells.map(_._1._2).max + 1)
      Vector.tabulate(height, width)((r, c) => byPos.getOrElse((r, c), null))
    }
  }

  private lazy val path = {
    new java.io.File("target/xls_fixture").mkdirs()
    "target/xls_fixture/roundtrip.xls"
  }

  private def roundTrip(rows: Seq[Seq[Cell]], sheet: Option[String] = None): Vector[Vector[String]] = {
    XlsFixture.writeXls(path, rows, sheet.getOrElse("Sheet1"))
    XlsReader.read(path, sheet)
  }

  /** Record ids of a BIFF8 stream, in order. */
  private def sids(stream: Array[Byte]): Seq[Int] = {
    val b = ByteBuffer.wrap(stream).order(ByteOrder.LITTLE_ENDIAN)
    Iterator.iterate(0)(p => p + 4 + (b.getShort(p + 2) & 0xFFFF))
      .takeWhile(_ + 4 <= stream.length).map(p => b.getShort(p) & 0xFFFF).toSeq
  }

  // Latin-1 (one byte a char) and wider (UTF-16LE) characters
  private val narrow = "aZ09 ,.-()éüÿ"
  private val wideChars = "中π€ЖĀ"

  private def text(rnd: Random, maxLen: Int): String = {
    val alpha = if (rnd.nextInt(3) == 0) narrow + wideChars else narrow
    (1 to rnd.nextInt(maxLen + 1)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
  }

  private def cell(rnd: Random, maxLen: Int): Cell = rnd.nextInt(6) match {
    case 0 => Blank
    case 1 => Num(rnd.between(-1000000, 1000000).toDouble)
    case 2 => Num(rnd.nextDouble() * math.pow(10, rnd.nextInt(12)) * (if (rnd.nextBoolean()) -1 else 1))
    case _ => Text(text(rnd, maxLen))
  }

  test("write -> read round-trips 200 random sheets of text, numbers and blanks") {
    val rnd = new Random(23)
    var wideSheets = 0
    var continued = 0
    (1 to 200).foreach { k =>
      // every tenth sheet is 5 x 5 cells of long strings, so its SST
      // spans CONTINUE records (and the stream still fits one FAT sector)
      val rows =
        if (k % 10 == 0) Seq.fill(5)(Seq.fill(5)(cell(rnd, 1000)))
        else Seq.fill(1 + rnd.nextInt(40))(Seq.fill(1 + rnd.nextInt(12))(cell(rnd, 30)))
      assert(roundTrip(rows) == expected(rows), s"sheet $k")
      if (rows.flatten.exists { case Text(s) => s.exists(_ > 0xFF); case _ => false }) wideSheets += 1
      if (sids(XlsFixture.workbookStream(rows, "Sheet1")).contains(0x003C)) continued += 1
    }
    assert(wideSheets >= 50, s"only $wideSheets sheets with wide strings")
    assert(continued >= 5, s"only $continued sheets with an SST past one record")
  }

  test("a string split across CONTINUE records keeps its characters, wide or narrow") {
    val rows = Seq(
      Seq(Text("x" * 8000), Text("中" * 3000), Text("é" * 9000)),
      Seq(Num(1.5), Text("中" * 3000), Blank, Num(-42)))
    val stream = XlsFixture.workbookStream(rows, "Data")
    assert(sids(stream).count(_ == 0x003C) >= 2)
    assert(roundTrip(rows, Some("Data")) == expected(rows))
  }

  test("a sheet is found by its Latin-1 name") {
    val rows = Seq(Seq(Text("Données"), Num(7)))
    assert(roundTrip(rows, Some("Données")) == Vector(Vector("Données", "7")))
  }

  test("a small sheet is padded past the mini-stream cutoff and still reads") {
    val rows = Seq(Seq(Text("State"), Num(2024)))
    assert(XlsFixture.workbookStream(rows, "Sheet1").length >= 4096)
    assert(roundTrip(rows) == Vector(Vector("State", "2024")))
    assert(roundTrip(Seq(Seq(Blank, Text("")))) == Vector.empty)
  }
}
