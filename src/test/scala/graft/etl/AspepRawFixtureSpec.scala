package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** The synthesized 2003-2024 raw directory ([[AspepRawFixture]]) reads
  * back through `ExcelReader` in every year's own format: the hermetic
  * stand-in for XlsReaderSpec's read of the real workbooks.
  */
class AspepRawFixtureSpec extends AnyFunSuite {

  private lazy val rawDir = AspepRawFixture.write("parse")

  test("every pipeline-year workbook of the synthesized dir parses with its width and US row") {
    AspepRawFixture.years.foreach { y =>
      val path = s"$rawDir/aspep_$y.${if (y >= 2020) "xlsx" else "xls"}"
      assert(new java.io.File(path).isFile, s"year $y: no $path")
      // data starts below the header rows; part-time hours only through 2018
      val (sheet, firstData, width) = AspepConfig.layout(y) match {
        case AspepConfig.LegacyHeaders(_, end) => (None, end + 1, if (y <= 2018) 10 else 9)
        case AspepConfig.TidySheet(name) => (Some(name), 1, 10)
      }
      val rows = ExcelReader.read(path, sheet)
      assert(rows.length == firstData + AspepRawFixture.rowKeys.length, s"year $y: ${rows.length} rows")
      assert(rows.map(_.length).max == width, s"year $y: width ${rows.map(_.length).max}")
      val national = if (y <= 2006 || y == 2024) "United States" else "US"
      assert(rows(firstData).head == national, s"year $y: first data row ${rows(firstData)}")
    }
  }
}
