package graftbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{AspepConfig, ExcelReader, Slug}

/** Generator round trip: the workbooks the benchmark writes read back
  * through the engine's own `ExcelReader` with the planted cells and
  * the headers each year's layout expects. */
class WorkbooksSpec extends AnyFunSuite {
  private val dir = Files.createTempDirectory("perfbench-wb").toString
  private val raw = Workbooks.generate(dir, seed = 7L, nStates = 8, nFunctions = 12)

  private def clean(cell: String): Option[Double] = Option(cell).map { s =>
    val t = s.replace(",", "")
    if (t.startsWith("(")) -t.stripPrefix("(").stripSuffix(")").toDouble else t.toDouble
  }
  private def state(cell: String) = AspepConfig.stateMap(cell.trim.toLowerCase)
  private def function(cell: String) = {
    val k = cell.trim.toLowerCase
    AspepConfig.govFunctionMap.getOrElse(k, k)
  }

  /** Rows below a legacy year's header range. */
  private def dataRows(y: Int) = ExcelReader.read(s"$dir/aspep_$y.xlsx", None)
    .drop(AspepConfig.layout(y).asInstanceOf[AspepConfig.LegacyHeaders].headerEnd + 1)

  test("every year 2003-2024 is written") {
    assert(Workbooks.years.forall(y => new java.io.File(s"$dir/aspep_$y.xlsx").isFile))
  }

  test("legacy headers collapse to the canonical metric names at the year's layout") {
    Workbooks.years.filter(_ < 2024).foreach { y =>
      val AspepConfig.LegacyHeaders(start, end) = AspepConfig.layout(y): @unchecked
      val rows = ExcelReader.read(s"$dir/aspep_$y.xlsx", None)
      val names = Slug.collapseHeaders(rows, start, end)
        .map(n => AspepConfig.columnMap.getOrElse(n, n))
      assert(names.take(2) == Seq("state", "gov_function"), y)
      assert(names.slice(2, 10) == Workbooks.metrics, y)
      assert(rows.length == end + 1 + raw.truth.keys.count(_._3 == y), y)
    }
  }

  test("planted null gap and its neighbours read back") {
    Seq(Workbooks.gapYear - 1, Workbooks.gapYear, Workbooks.gapYear + 1).foreach { y =>
      val row = dataRows(y).find(r => state(r(0)) == Workbooks.gapState &&
        function(r(1)) == Workbooks.gapFunction).get
      val want = if (y == Workbooks.gapYear) None else Some(1000.0 + 37 * (y - 2003))
      assert(clean(row(2)) == want, y)
    }
  }

  test("tie cohort and cross-section cells match the truth table") {
    import Workbooks._
    dataRows(tieYear).filter(r => function(r(1)) == tieFunction).foreach { r =>
      val code = state(r(0))
      assert(clean(r(2)) == raw.truth((code, tieFunction, tieYear))(0), code)
    }
    val xs = dataRows(xsecYear).filter(r => function(r(1)) == xsecFunction)
    assert(xs.exists(r => state(r(0)) == xsecBlank && r(3) == null))
    xs.foreach(r => assert(clean(r(3)) == raw.truth((state(r(0)), xsecFunction, xsecYear))(1)))
  }

  test("2024 tidy sheet reads by name with the API headers") {
    val rows = ExcelReader.read(s"$dir/aspep_2024.xlsx", Some("Data"))
    val header = rows.head
    AspepConfig.columnMap2024.map(_._1).foreach(h => assert(header.contains(h), h))
    val ft = header.indexOf("Full-Time Employment")
    rows.tail.foreach { r =>
      val key = (state(r(0)), function(r(1)), 2024)
      assert(clean(r(ft)) == raw.truth(key)(0), key)
    }
    assert(rows.length == 1 + raw.truth.keys.count(_._3 == 2024))
  }

  test("expected values follow the planted arithmetic") {
    val exp = new Expected(raw)
    import Workbooks._
    assert(exp.absDelta(gapState, gapFunction, gapYear + 1, 0, 1).isEmpty)
    assert(exp.absDelta(gapState, gapFunction, gapYear + 2, 0, 1).contains(37.0))
    assert(exp.absDelta(gapState, gapFunction, gapYear + 5, 0, 4).contains(148.0))
    val Seq(a, b, c) = tieStates.map(s => exp.posRank1yr(s, tieFunction, tieYear, 0).get)
    assert(a == b && c == a + 2)
  }
}
