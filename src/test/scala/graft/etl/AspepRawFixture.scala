package graft.etl

import XlsFixture.{Blank, Cell, Num, Text}

/** A synthesized ASPEP raw directory for 2003-2024, each year in its
  * real format: `.xls` (BIFF8, via [[XlsFixture]]) through 2019,
  * `.xlsx` with multi-row headers for 2020-2023, and the tidy 2024
  * export on a sheet named "Data" (both via [[XlsxFixture]]). Legacy
  * years put their three header rows at the year's `AspepConfig`
  * range under a title row, with the era header texts of FIXTURES.md
  * §1: "State Name", "Employees"/"Pay" and "Total March Payroll" for
  * 2003-2006, "Employment"/"Payroll" from 2007, the part-time-hours
  * column through 2018 only, and "Total Payroll (whole dollars)" from
  * 2019. Function labels follow the era too ("Financial Admin" in
  * 2007-2018, "Correction" before 2019).
  *
  * Four states and the national row, four functions, one row each per
  * year (440 combined rows). Every cell comes from [[truth]]: a formula
  * of (state, function, year) that keeps the cross-sections easy to work
  * out by hand, overridden by the hand-set cells the golden checks pin
  * ([[planted]]). A share of numbers are written as comma-grouped text,
  * negatives in the 2024 export as accounting "(1,234)", and a blank
  * cell leaves a null gap in IA corrections `ft_employment` at 2010.
  */
object AspepRawFixture {

  val years: Seq[Int] = 2003 to 2024

  /** (state code, name) in code order; the national row is "US". */
  val states: Seq[(String, String)] =
    Seq("IA" -> "Iowa", "MO" -> "Missouri", "NE" -> "Nebraska", "WI" -> "Wisconsin")
  val entities: Seq[String] = "US" +: states.map(_._1)

  /** canonical function -> its label in 2003-2006, 2007-2018, 2019 on */
  val functions: Seq[(String, Seq[String])] = Seq(
    "corrections" -> Seq("Correction", "Correction", "Corrections"),
    "financial administration" ->
      Seq("Financial Administration", "Financial Admin", "Financial Administration"),
    "hospitals" -> Seq("Hospitals", "HOSPITALS", "Hospitals"),
    "public welfare" -> Seq("Public Welfare", "Public Welfare", "Public Welfare"))

  /** Metric slots of [[truth]]; slot 4 is `pt_hour` through 2018,
    * `pt_hours` in 2024 and absent in 2019-2023. */
  val metrics: Seq[String] = Seq("ft_employment", "ft_pay", "pt_employment", "pt_pay",
    "pt_hour", "ft_eq_employment", "ft_pt_employment", "total_pay")

  def metricName(slot: Int, year: Int): String =
    if (slot == 4 && year == 2024) "pt_hours" else metrics(slot)

  /** Hand-set cells: (state code, function, year, metric) -> value. */
  val planted: Map[(String, String, Int, String), Option[Double]] = Map(
    ("WI", "corrections", 2017, "total_pay") -> Some(42327514d),
    ("NE", "public welfare", 2018, "ft_employment") -> Some(2426d),
    ("NE", "public welfare", 2022, "ft_employment") -> Some(2167d),
    ("NE", "hospitals", 2004, "pt_hour") -> Some(98357d),
    ("US", "corrections", 2019, "ft_pt_employment") -> Some(5497394d),
    ("WI", "hospitals", 2020, "ft_pay") -> Some(473139785d),
    ("WI", "hospitals", 2020, "ft_employment") -> Some(48767d),
    ("IA", "hospitals", 2020, "ft_eq_employment") -> Some(9172d),
    ("IA", "hospitals", 2023, "ft_eq_employment") -> Some(9386d),
    ("IA", "hospitals", 2024, "ft_eq_employment") -> Some(10004d),
    ("MO", "corrections", 2024, "total_pay") -> Some(38884335d),
    ("MO", "corrections", 2024, "ft_eq_employment") -> Some(9591d),
    ("MO", "public welfare", 2024, "pt_pay") -> Some(-2886649d),
    ("IA", "corrections", 2010, "ft_employment") -> None)

  /** The metric values of one row, in [[metrics]] order. With i the
    * entity's index in `states` (4 for the national row), j the
    * function's index and t = year - 2003: ft_employment
    * 1000(i+1) + 100j + t, pt_employment 10(i+1) + j, ft_pay 5000 per
    * full-time head, pt_pay 800 and pt_hour 50 per part-time head,
    * ft_eq_employment ft + 5(i+1), ft_pt_employment ft + pt and
    * total_pay ft_pay + pt_pay; then [[planted]] overrides. */
  def truth(code: String, fn: String, year: Int): Vector[Option[Double]] = {
    val i = states.indexWhere(_._1 == code) match { case -1 => 4; case k => k }
    val j = functions.indexWhere(_._1 == fn)
    val ft = 1000.0 * (i + 1) + 100 * j + (year - 2003)
    val pt = 10.0 * (i + 1) + j
    val hours = if (year <= 2018 || year == 2024) Some(pt * 50) else None
    val formula = Vector(Some(ft), Some(ft * 5000), Some(pt), Some(pt * 800), hours,
      Some(ft + 5 * (i + 1)), Some(ft + pt), Some(ft * 5000 + pt * 800))
    formula.zipWithIndex.map { case (v, k) =>
      planted.getOrElse((code, fn, year, metrics(k)), v)
    }
  }

  /** Combined row keys in sheet order: the national row first, then the
    * states, each with every function; `index` is the position here. */
  val rowKeys: Seq[(String, String)] = for (e <- entities; (f, _) <- functions) yield (e, f)

  private def era(year: Int): Int = if (year <= 2006) 0 else if (year <= 2018) 1 else 2

  private def stateLabel(code: String, year: Int): String =
    if (code == "US") { if (year <= 2006 || year == 2024) "United States" else "US" }
    else if (year <= 2006 || year == 2024) states.find(_._1 == code).get._2
    else code

  private def grouped(v: Double): String =
    String.format(java.util.Locale.ROOT, "%,d", Long.box(v.toLong))

  /** Header texts per column, three rows each (2003-2023). */
  private def legacyHeader(year: Int): Seq[Seq[String]] = {
    val first = if (year <= 2006) Seq(Seq("", "State Name", ""), Seq("", "Government", "Function"))
      else Seq(Seq("", "", "State"), Seq("", "", "Government Function"))
    val (emp, pay) = if (year <= 2006) ("Employees", "Pay") else ("Employment", "Payroll (whole dollars)")
    val metricHeaders = Seq(
      Seq("", "Full-Time", emp), Seq("", "Full-Time", pay),
      Seq("", "Part-Time", emp), Seq("", "Part-Time", pay)) ++
      (if (year <= 2018) Seq(Seq("", "Part-Time", "Hours")) else Nil) ++ Seq(
      Seq("", "Full-Time Equivalent", "Employment"),
      Seq("Total", "Full-Time and Part-Time", "Employment"),
      if (year <= 2018) Seq("Total", "March", "Payroll") else Seq("", "Total", "Payroll (whole dollars)"))
    first ++ metricHeaders
  }

  /** The cells of one legacy year: title, blank rows down to the
    * header range, the header rows (column-major above), then data. */
  private def legacySheet(year: Int, start: Int, number: (Double, Int) => Cell): Seq[Seq[Cell]] = {
    val header = legacyHeader(year)
    val title = Seq(Text(s"Annual Survey of Public Employment & Payroll: March $year"))
    val slots = metrics.indices.filter(k => k != 4 || year <= 2018)
    val data = rowKeys.zipWithIndex.map { case ((code, fn), r) =>
      val label = functions.find(_._1 == fn).get._2(era(year))
      val values = truth(code, fn, year)
      Seq(Text(stateLabel(code, year)), Text(label)) ++
        slots.map(k => values(k).map(v => number(v, r + k)).getOrElse(Blank))
    }
    (title +: Seq.fill(start - 1)(Seq.empty[Cell])) ++
      (0 until 3).map(h => header.map(c => Text(c(h)))) ++ data
  }

  private def text(c: Cell): String = c match {
    case Text(s) => s
    case Num(v) => v.toLong.toString
    case Blank => ""
  }

  /** Write the directory `target/aspep_raw_fixture/<name>/raw` afresh
    * and return its path. */
  def write(name: String): String = {
    val dir = new java.io.File(s"target/aspep_raw_fixture/$name/raw")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    years.foreach { y =>
      AspepConfig.layout(y) match {
        case AspepConfig.LegacyHeaders(start, end) =>
          require(end - start == 2, s"three header rows expected for $y")
          // every fifth value comma-grouped text, the rest numbers
          val sheet = legacySheet(y, start,
            (v, k) => if (k % 5 == 0) Text(grouped(v)) else Num(v))
          if (y <= 2019) XlsFixture.writeXls(s"$dir/aspep_$y.xls", sheet)
          else XlsxFixture.writeXlsx(s"$dir/aspep_$y.xlsx", sheet.map(_.map(text)))
        case AspepConfig.TidySheet(_) =>
          val data = rowKeys.map { case (code, fn) =>
            Seq(stateLabel(code, y), functions.find(_._1 == fn).get._2(2)) ++
              truth(code, fn, y).map {
                case None => ""
                case Some(v) if v < 0 => s"(${grouped(-v)})"
                case Some(v) => grouped(v)
              }
          }
          XlsxFixture.writeXlsx(s"$dir/aspep_$y.xlsx", AspepConfig.columnMap2024.map(_._1) +: data)
      }
    }
    dir.getPath
  }
}
