package graftbench

import java.io.{File, FileOutputStream}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.etl.AspepConfig

/** Seeded ASPEP raw directory: one `aspep_<year>.xlsx` per year
  * 2003-2024. Legacy years put a three-row header at the year's
  * `AspepConfig.layout` range under junk title rows; 2024 is the tidy
  * API layout on a sheet named "Data". State and function cells use
  * messy labels (case, padding, the abbreviations `govFunctionMap`
  * recodes); numbers are a mix of numeric cells, comma-grouped strings
  * and parenthesised negatives; a share of cells is blank.
  *
  * Every value is kept in a truth table, and a few cells are planted so
  * that their pipeline results can be worked out by hand: a null gap
  * in a lag series, a tie in a directional rank, and a US-median /
  * US-mean cross-section with a blank member. [[Expected]] derives the
  * expected results from the truth table in plain Scala.
  */
object Workbooks {

  val years: Seq[Int] = 2003 to 2024
  /** Truth-table metric slots; slot 4 is `pt_hour` in legacy years and
    * `pt_hours` in the 2024 layout. */
  val metrics: Seq[String] = Seq("ft_employment", "ft_pay", "pt_employment", "pt_pay",
    "pt_hour", "ft_eq_employment", "ft_pt_employment", "total_pay")

  // planted cells
  val gapState = "CA"; val gapFunction = "financial administration"; val gapYear = 2010
  val tieStates = Seq("AL", "AR", "AZ"); val tieFunction = "highways"; val tieYear = 2020
  val xsecFunction = "libraries"; val xsecYear = 2015; val xsecBlank = "CO"

  private val functionPool = Seq("financial administration", "other government administration",
    "judicial and legal", "police protection - persons with power of arrest",
    "police protection - other", "highways", "sea and inland port facilities",
    "social insurance administration", "housing and community development", "libraries",
    "education - higher education other", "education - elementary and secondary other",
    // the rest of govFunctionMap's functions, then labels it passes through
    // unchanged; all 37 with all 50 states give the full-size input,
    // 37 x 51 entities x 22 years = 41,514 combined rows
    "air transportation", "all other and unallocable", "corrections",
    "education - elementary and secondary instructional",
    "education - higher education instructional", "education - other",
    "parks and recreation", "sewerage", "solid waste management", "state liquor stores",
    "electric power", "fire protection - firefighters", "fire protection - other",
    "gas supply", "health", "hospitals", "natural resources", "public welfare", "transit",
    "water supply", "national defense and international relations", "postal service",
    "space research and technology", "other utilities", "public safety - other")

  /** canonical function -> the messy labels that recode to it */
  private val messyLabels: Map[String, Seq[String]] =
    AspepConfig.govFunctionMap.toSeq.groupBy(_._2).map { case (c, kv) => c -> kv.map(_._1).sorted }

  final case class Raw(dir: String, states: Seq[String], functions: Seq[String],
                       truth: Map[(String, String, Int), Vector[Option[Double]]]) {
    def combinedRows: Long = truth.size.toLong
  }

  /** Write the raw directory; `nStates` states plus the national row,
    * `nFunctions` government functions, one row each per year. */
  def generate(dir: String, seed: Long, nStates: Int, nFunctions: Int): Raw = {
    require(nStates >= 6 && nFunctions >= 10 && nFunctions <= functionPool.length)
    val r = new SplittableRandom(seed)
    val states = AspepConfig.stateCodeToName.keys.filter(_ != "us").toSeq.sorted
      .take(nStates).map(_.toUpperCase)
    require(Seq(gapState, xsecBlank).forall(states.contains) && tieStates.forall(states.contains))
    val functions = functionPool.take(nFunctions)

    // state-level series: integral values, slow growth, ~2% blanks
    val stateTruth = (for (s <- states; f <- functions) yield {
      val base = 100 + r.nextInt(20000)
      val payRate = 3000 + r.nextInt(4000)
      val ptShare = 0.1 + 0.3 * r.nextDouble()
      var level = base.toDouble
      years.map { y =>
        level *= 0.97 + 0.07 * r.nextDouble()
        val ft = math.round(level).toDouble
        val pt = math.round(ft * ptShare).toDouble
        val ptPay = pt * (800 + r.nextInt(1200)) * (if (r.nextDouble() < 0.02) -1 else 1)
        val ptHour = pt * (60 + r.nextInt(40))
        val vals = Vector(ft, ft * payRate, pt, ptPay, ptHour,
          ft + math.round(ptHour / 160), ft + pt, ft * payRate + ptPay)
        (s, f, y) -> vals.map(v => if (r.nextDouble() < 0.02) None else Some(v))
      }
    }).flatten.toMap

    val planted = scala.collection.mutable.Map(stateTruth.toSeq: _*)
    def set(s: String, f: String, y: Int, slot: Int, v: Option[Double]): Unit =
      planted((s, f, y)) = planted((s, f, y)).updated(slot, v)
    // null gap: a linear ft_employment series with 2010 blank
    years.foreach(y => set(gapState, gapFunction, y, 0,
      if (y == gapYear) None else Some(1000.0 + 37 * (y - 2003))))
    // directional-rank tie: two states gain exactly +5000 (far above any
    // other state's move), a third +2500; every other state shrinks
    states.zipWithIndex.foreach { case (s, i) =>
      val delta = tieStates.indexOf(s) match {
        case 0 | 1 => 5000.0
        case 2     => 2500.0
        case _     => -(10.0 + 3 * i)
      }
      set(s, tieFunction, tieYear - 1, 0, Some(20000.0 + 100 * i))
      set(s, tieFunction, tieYear, 0, Some(20000.0 + 100 * i + delta))
    }
    // cross-section with one blank member
    states.zipWithIndex.foreach { case (s, i) =>
      set(s, xsecFunction, xsecYear, 1, if (s == xsecBlank) None else Some(1.0e6 + 7919.0 * i * i))
    }

    // national row: the sum of the non-blank state values
    val national = for (f <- functions; y <- years) yield
      ("US", f, y) -> metrics.indices.map { k =>
        Some(states.flatMap(s => planted((s, f, y))(k)).sum): Option[Double]
      }.toVector
    val truth = planted.toMap ++ national

    new File(dir).mkdirs()
    years.foreach { y =>
      val order = Main.shuffle(("US" +: states).flatMap(s => functions.map(f => (s, f))), r)
      AspepConfig.layout(y) match {
        case AspepConfig.LegacyHeaders(start, end) =>
          writeXlsx(s"$dir/aspep_$y.xlsx", Seq("ASPEP" -> legacySheet(y, start, end, order, truth, r)))
        case AspepConfig.TidySheet(name) =>
          writeXlsx(s"$dir/aspep_$y.xlsx", Seq("Notes" -> Seq(Seq(str("Synthetic ASPEP extract"))),
            name -> tidySheet(y, order, truth, r)))
      }
    }
    Raw(dir, states, functions, truth)
  }

  // ---- cells -------------------------------------------------------

  /** One spreadsheet cell: an inline string, a numeric cell, or blank. */
  sealed trait Cell
  final case class Str(s: String) extends Cell
  final case class Num(v: Double) extends Cell
  case object Blank extends Cell
  private def str(s: String): Cell = Str(s)

  private def grouped(v: Double): String =
    String.format(java.util.Locale.ROOT, "%,d", Long.box(math.abs(v).toLong))

  private def messyNumber(v: Option[Double], r: SplittableRandom): Cell = v match {
    case None => Blank
    case Some(x) if x < 0 => Str(s"(${grouped(x)})")
    case Some(x) => r.nextInt(3) match {
      case 0 => Num(x)
      case 1 => Str(grouped(x))
      case _ => Str(x.toLong.toString)
    }
  }

  private def messyCase(s: String, r: SplittableRandom): String = {
    val c = r.nextInt(4) match {
      case 0 => s.toUpperCase
      case 1 => s.split(' ').map(w => w.take(1).toUpperCase + w.drop(1)).mkString(" ")
      case _ => s
    }
    (if (r.nextInt(4) == 0) "  " else "") + c + (if (r.nextInt(3) == 0) " " else "")
  }

  private def stateLabel(code: String, r: SplittableRandom): String =
    messyCase(AspepConfig.stateCodeToName(code.toLowerCase), r)

  private def functionLabel(f: String, r: SplittableRandom): String = {
    val labels = messyLabels.getOrElse(f, Seq(f))
    messyCase(labels(r.nextInt(labels.length)), r)
  }

  /** Header variants per metric slot; each collapses (join, slug,
    * `columnMap`) to the slot's canonical name. */
  private val headerVariants: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("Full-Time", "Employment", ""), Seq("Full-Time", "Employees", "")),
    Seq(Seq("Full-Time", "Payroll", "(whole dollars)"), Seq("Full-Time", "Pay", "")),
    Seq(Seq("Part-Time", "Employment", ""), Seq("Part-Time", "Employees", "")),
    Seq(Seq("Part-Time", "Payroll", "(whole dollars)"), Seq("Part-Time", "Pay", "")),
    Seq(Seq("Part-Time", "Hours", "")),
    Seq(Seq("Full-Time", "Equivalent", "Employment")),
    Seq(Seq("Total Full-Time", "and Part-Time", "Employment"),
      Seq("Full-Time", "and Part-Time", "Employment")),
    Seq(Seq("Total", "March", "Payroll"), Seq("March", "Pay", ""), Seq("Total", "Payroll", "")))

  private def legacySheet(y: Int, start: Int, end: Int, order: Seq[(String, String)],
                          truth: Map[(String, String, Int), Vector[Option[Double]]],
                          r: SplittableRandom): Seq[Seq[Cell]] = {
    require(end - start == 2, s"three header rows expected for $y")
    val junk = (0 until start).map {
      case 0 => Seq(str("Annual Survey of Public Employment & Payroll"))
      case 1 => Seq(str(s"March $y"))
      case _ => Seq.empty[Cell]
    }
    val variants = headerVariants.map(v => v(r.nextInt(v.length)))
    // a trailing all-blank "Notes" column, dropped by the reader's P4 rule
    val header = (0 until 3).map { k =>
      Seq(str(if (k == 0) "State" else ""), str(Seq("Government", "Function", "")(k))) ++
        variants.map(v => str(v(k))) :+ str(if (k == 0) "Notes" else "")
    }
    val data = order.map { case (s, f) =>
      Seq(str(stateLabel(s, r)), str(functionLabel(f, r))) ++
        truth((s, f, y)).map(messyNumber(_, r))
    }
    junk ++ header ++ data
  }

  private def tidySheet(y: Int, order: Seq[(String, String)],
                        truth: Map[(String, String, Int), Vector[Option[Double]]],
                        r: SplittableRandom): Seq[Seq[Cell]] = {
    // columnMap2024 order: state, function, then slots 0,1,2,3,4,5,6,7
    val header = Seq(str("Geographic Area Name"), str("Meaning of Aggregate Description"),
      str("Year")) ++ AspepConfig.columnMap2024.drop(2).map(kv => str(kv._1))
    val data = order.map { case (s, f) =>
      Seq(str(stateLabel(s, r)), str(functionLabel(f, r)), Num(y)) ++
        truth((s, f, y)).map {
          case None => Blank
          case Some(x) if x < 0 => Str(s"(${grouped(x)})")
          case Some(x) => Str(grouped(x))
        }
    }
    header +: data
  }

  // ---- minimal SpreadsheetML writer --------------------------------

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def colRef(c: Int): String =
    if (c < 26) ('A' + c).toChar.toString else colRef(c / 26 - 1) + ('A' + c % 26).toChar

  private def sheetXml(rows: Seq[Seq[Cell]]): String = {
    val sb = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    rows.zipWithIndex.foreach { case (row, ri) =>
      if (row.nonEmpty) {
        sb.append(s"""<row r="${ri + 1}">""")
        row.zipWithIndex.foreach { case (cell, ci) =>
          val ref = s"${colRef(ci)}${ri + 1}"
          cell match {
            case Str(s) if s.nonEmpty =>
              sb.append(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(s)}</t></is></c>""")
            case Num(v) => sb.append(s"""<c r="$ref"><v>${if (v.isWhole) v.toLong.toString else v.toString}</v></c>""")
            case _ =>
          }
        }
        sb.append("</row>")
      }
    }
    sb.append("</sheetData></worksheet>").toString
  }

  /** Write an .xlsx with the named sheets in order. */
  def writeXlsx(path: String, sheets: Seq[(String, Seq[Seq[Cell]])]): Unit = {
    val ns = "http://schemas.openxmlformats.org"
    val idx = sheets.indices.map(_ + 1)
    val entries = Seq(
      "[Content_Types].xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><Types xmlns="$ns/package/2006/content-types">""" +
          s"""<Default Extension="xml" ContentType="application/xml"/>""" +
          s"""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          s"""<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          idx.map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
          "</Types>"),
      "_rels/.rels" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$ns/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships"><sheets>""" +
          sheets.zip(idx).map { case ((n, _), i) => s"""<sheet name="${esc(n)}" sheetId="$i" r:id="rId$i"/>""" }.mkString +
          "</sheets></workbook>"),
      "xl/_rels/workbook.xml.rels" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$ns/package/2006/relationships">""" +
          idx.map(i => s"""<Relationship Id="rId$i" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
          "</Relationships>")
    ) ++ sheets.zip(idx).map { case ((_, rows), i) => s"xl/worksheets/sheet$i.xml" -> sheetXml(rows) }
    val zos = new ZipOutputStream(new FileOutputStream(path))
    try entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }
}

/** Expected pipeline results for the planted cells, computed from the
  * truth table without Spark. Lags are positional within a
  * (state code, function) series ordered by year; US-median / US-mean
  * are over the non-blank state values; ranks are SQL RANK (min ties). */
final class Expected(raw: Workbooks.Raw) {
  import Workbooks._

  private def value(s: String, f: String, y: Int, slot: Int): Option[Double] =
    raw.truth.get((s, f, y)).flatMap(_(slot))

  private def stateValues(f: String, y: Int, slot: Int): Seq[Double] =
    raw.states.flatMap(s => value(s, f, y, slot))

  def median(xs: Seq[Double]): Option[Double] = {
    val v = xs.sorted
    if (v.isEmpty) None
    else if (v.length % 2 == 1) Some(v(v.length / 2))
    else Some((v(v.length / 2 - 1) + v(v.length / 2)) / 2)
  }
  def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.length)

  /** Value of any entity, including the derived US-median / US-mean. */
  def entityValue(code: String, f: String, y: Int, slot: Int): Option[Double] = code match {
    case "US-median" => median(stateValues(f, y, slot))
    case "US-mean"   => mean(stateValues(f, y, slot))
    case s           => value(s, f, y, slot)
  }

  /** `<metric>_<lag>yr_abs` at year `y` (lag 1 or 4 rows back). */
  def absDelta(code: String, f: String, y: Int, slot: Int, lag: Int): Option[Double] = {
    val i = years.indexOf(y)
    if (i < lag) None
    else for (a <- entityValue(code, f, y, slot); b <- entityValue(code, f, years(i - lag), slot))
      yield a - b
  }

  def cohort: Seq[String] = raw.states ++ Seq("US", "US-median", "US-mean")

  /** `<metric>_1yr_abs_pos_rank` of `code` within (year, function). */
  def posRank1yr(code: String, f: String, y: Int, slot: Int): Option[Int] =
    absDelta(code, f, y, slot, 1).filter(_ > 0).map { d =>
      1 + cohort.count(c => absDelta(c, f, y, slot, 1).exists(_ > d))
    }

  def combinedRows: Long = raw.combinedRows
  /** combined + one US-median and one US-mean row per (year, function) */
  def derivedRows: Long = raw.combinedRows + 2L * years.length * raw.functions.length
  /** the trivial-row filter keeps every row (year is in its numeric set) */
  def extendedRows: Long = derivedRows
}
