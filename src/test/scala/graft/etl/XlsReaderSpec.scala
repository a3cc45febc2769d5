package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** BIFF8 decoding units + whole-file reads against the real corpus.
  * The whole-file read cancels, naming the directory, where the
  * reference raw directory is absent; AspepRawFixtureSpec reads a
  * synthesized workbook of every year instead.
  */
class XlsReaderSpec extends AnyFunSuite {

  test("RK decode: int, int/100, float, float/100") {
    // fInt set: value = rk >> 2
    assert(XlsReader.decodeRk((1234 << 2) | 0x2) == 1234d)
    // fInt + fDiv100
    assert(XlsReader.decodeRk((123456 << 2) | 0x3) == 1234.56)
    // float form: high 30 bits of an IEEE double
    val bits = java.lang.Double.doubleToLongBits(2.5)
    val rk = ((bits >>> 32) & 0xFFFFFFFCL).toInt
    assert(XlsReader.decodeRk(rk) == 2.5)
    assert(XlsReader.decodeRk(rk | 0x1) == 0.025)
  }

  test("negative int RK") {
    assert(XlsReader.decodeRk((-42 << 2) | 0x2) == -42d)
  }

  test("every pipeline-year workbook parses with plausible shape") {
    Seq(new java.io.File("/root/reference/data/raw"))
      .foreach(d => assume(d.isDirectory, s"reference raw workbooks not found: $d"))
    (2003 to 2023).foreach { y =>
      val ext = if (y >= 2020) "xlsx" else "xls"
      val rows = ExcelReader.read(s"/root/reference/data/raw/aspep_$y.$ext", None)
      assert(rows.length > 1000, s"year $y: only ${rows.length} rows")
      assert(rows.map(_.length).max >= 9, s"year $y: width ${rows.map(_.length).max}")
      // the national row must exist ("US" in modern files, full
      // "United States" in the 2003-2006 era)
      val hasUs = rows.exists(r => r.headOption.flatMap(Option(_))
        .exists(v => v.trim == "US" || v.trim.equalsIgnoreCase("United States")))
      assert(hasUs, s"year $y: no US row")
    }
  }

  test("xlsx A1 column index") {
    assert(XlsxReader.colIndex("A1") == 0)
    assert(XlsxReader.colIndex("Z9") == 25)
    assert(XlsxReader.colIndex("AA12") == 26)
    assert(XlsxReader.colIndex("BC7") == 54)
  }

  test("integral numbers render without trailing .0") {
    assert(XlsxReader.renderNumber("3941962") == "3941962")
    assert(XlsxReader.renderNumber("3.5") == "3.5")
    assert(XlsxReader.renderNumber("1e3") == "1000")
  }
  test("RK encode/decode round-trips 1000 random 30-bit ints") {
    val rnd = new scala.util.Random(5)
    (1 to 1000).foreach { _ =>
      val v = rnd.nextInt(1 << 29) - (1 << 28)
      assert(XlsReader.decodeRk((v << 2) | 0x2) == v.toDouble)
      assert(XlsReader.decodeRk((v << 2) | 0x3) == v / 100.0)
    }
  }

}
