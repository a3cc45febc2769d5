package graft.etl

import graft.SparkTestBase
import graft.functions.Cleaning
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** A hermetic multi-year raw directory: one legacy-layout year (2003,
  * three-row header under a junk title row), a legacy year whose two
  * headers both rename to `ft_employment` (2004), one corrupt workbook
  * (2005) and the 2024 tidy year. The two readable years have
  * different metric columns: 2003 has `pt_hour`, 2024 `pt_hours`, and
  * only 2024 carries the part-time pay and totals.
  */
object MultiYearFixture {

  val legacyRows: Seq[Seq[String]] = Seq(
    Seq("Annual Survey of Public Employment", "", "", "", ""),
    Seq("", "", "Full-Time", "Full-Time", "Part-Time"),
    Seq("State", "Function", "Employees", "Pay", "Hours"),
    Seq("", "", "", "(whole dollars)", ""),
    Seq("  Wisconsin ", "Correction", "8,846", "39440865", "120"),
    Seq("Iowa", "HOSPITALS", "9386", "(1,000)", ""),
    Seq("United States", "Total", "3941962", "23563171618", "98357"))

  val doubledRows: Seq[Seq[String]] = Seq(
    Seq("Annual Survey of Public Employment", "", "", ""),
    Seq("", "", "Full-Time", "Full-Time"),
    Seq("State", "Function", "Employees", "Employment"),
    Seq("", "", "", ""),
    Seq("Iowa", "Hospitals", "9386", "9386"))

  val tidyRows: Seq[Seq[String]] = Seq(
    AspepConfig.columnMap2024.map(_._1),
    Seq("Iowa", "Hospitals", "9800", "56000000", "600",
      "2600000", "70000", "10004", "10400", "58600000"),
    Seq("Wisconsin", "Correction", "8,900", "40000000", "836",
      "−2886649", "98357", "9402", "9682", "42327514"))

  /** Write the directory and return its path. */
  def write(): String = {
    val dir = java.nio.file.Files.createTempDirectory("aspep_multiyear").toFile
    XlsxFixture.writeXlsx(s"$dir/aspep_2003.xlsx", legacyRows)
    XlsxFixture.writeXlsx(s"$dir/aspep_2004.xlsx", doubledRows)
    java.nio.file.Files.write(new java.io.File(s"$dir/aspep_2005.xlsx").toPath,
      "not a zip archive".getBytes("UTF-8"))
    XlsxFixture.writeXlsx(s"$dir/aspep_2024.xlsx", tidyRows)
    dir.getPath
  }
}

/** A hermetic one-year raw directory of awkward labels, each where
  * one step of the label canonicalization (trim, case, recode, census
  * lookup) can go wrong: spaces around a label; a tab and an NBSP,
  * which Spark's `trim` keeps; mixed case and a `govFunctionMap`
  * abbreviation; `İ` (lower-cases to two code points), `ß` (upper-cases
  * to `SS`) and a Greek word ending in a final `Σ`; a letter of
  * Unicode 16 (U+A7CB) that ICU lower-cases and older JDK tables do
  * not; a state not in the dimension, a label empty after trimming, a
  * null label and the national row. No two rows share the sort key.
  */
object LabelFixture {

  val rows: Seq[Seq[String]] = MultiYearFixture.legacyRows.take(4) ++ Seq(
    Seq("  Wisconsin  ", " Correction ", "100", "1000", "10"),
    Seq("\tIowa", "Hospitals", "101", "1001", "11"),
    Seq("Iowa\u00a0", "Hospitals\u00a0", "102", "1002", "12"),
    Seq("nEw YoRk", "FINANCIAL Admin", "103", "1003", "13"),
    Seq("\u0130OWA", "Stra\u00dfen", "104", "1004", "14"),
    Seq("Stra\u00dfe", "\u039f\u0394\u039f\u03a3", "105", "1005", "15"),
    Seq("Atlantis", "Highways \ua7cb", "106", "1006", "16"),
    Seq("   ", "Police Protection", "107", "1007", "17"),
    Seq("", "", "108", "1008", "18"),
    Seq("United States", "Total", "109", "1009", "19"),
    Seq("OHIO", "\u0130nstruction", "110", "1010", "20"))

  /** Write the directory and return its path. */
  def write(): String = {
    val dir = java.nio.file.Files.createTempDirectory("aspep_labels").toFile
    XlsxFixture.writeXlsx(s"$dir/aspep_2003.xlsx", rows)
    dir.getPath
  }
}

/** `Canonical.combineYears` over several years at once: schema
  * widening, per-year `index`, the per-year skip of a bad workbook, and
  * equality with the per-year union the combine used to build.
  */
class CombineYearsSpec extends SparkTestBase {

  private lazy val rawDir = MultiYearFixture.write()
  private lazy val combined = Canonical.combineYears(spark, rawDir, 2003, 2025).cache()

  /** The per-year `unionByName(allowMissingColumns)` form of the
    * combine, with the labels canonicalized by Spark's own expressions
    * (`lower(trim)`, the recode maps, `upper`) and the census dimension
    * joined as a broadcast DataFrame: one DataFrame per parsed year,
    * widened by the union, then enriched and sorted as `combineYears`.
    */
  private def unionReference(spark: SparkSession, rawDir: String, years: Seq[Int]): DataFrame = {
    val perYear = years.map { year =>
      val (names, data) = Canonical.parseYear(s"$rawDir/aspep_$year.xlsx", year)
      val schema = StructType(StructField("index", LongType, nullable = false) +:
        names.map(n => StructField(n, StringType, nullable = true)))
      val rows = data.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r) }
      val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      raw.select(
        Seq(col("index"),
          Cleaning.recode(lower(trim(col("state"))), AspepConfig.stateMap).as("state"),
          Cleaning.recode(lower(trim(col("gov_function"))), AspepConfig.govFunctionMap)
            .as("gov_function")) ++
          names.filter(AspepConfig.metricCols.contains)
            .map(m => Cleaning.cleanNumeric(col(m)).as(m)) :+
          lit(year).as("year"): _*)
        .withColumn("state code", upper(col("state")))
    }
    val dimRows = Canonical.censusDim.toSeq.map { case (code, (state, region, division)) =>
      Row(state, code, region, division)
    }
    val dim = spark.createDataFrame(spark.sparkContext.parallelize(dimRows, 1), StructType(
      Seq("dim_state", "state code", "region", "division").map(StructField(_, StringType))))
    val enriched = perYear.reduce(_.unionByName(_, allowMissingColumns = true))
      .join(broadcast(dim), Seq("state code"), "left")
      .withColumn("state", col("dim_state"))
      .drop("dim_state")
      .withColumn("state_scope",
        when(col("`state code`") === "US", "national").otherwise("state"))
    val ordered = Seq("index", "state", "gov_function") ++
      AspepConfig.metricCols.filter(enriched.columns.contains) ++
      Seq("year", "state code", "region", "division", "state_scope")
    enriched.select(ordered.map(c => col(s"`$c`")): _*)
      .orderBy(asc_nulls_last("state"), col("year"), col("gov_function"))
  }

  test("the corrupt and the doubled-column years are skipped, both readable years kept") {
    val years = combined.select("year").distinct().collect().map(_.getInt(0)).sorted
    assert(years.toSeq == Seq(2003, 2024))
    assert(combined.count() == 5)
  }

  test("year is a non-null int and index restarts at 0 per year") {
    val yearField = combined.schema("year")
    assert(yearField.dataType == IntegerType && !yearField.nullable)
    val byYear = combined.select("year", "index").collect()
      .groupBy(_.getInt(0)).map { case (y, rs) => y -> rs.map(_.getLong(1)).sorted.toSeq }
    assert(byYear(2003) == Seq(0L, 1L, 2L))
    assert(byYear(2024) == Seq(0L, 1L))
  }

  test("a column missing in one year is null in that year's rows") {
    assert(combined.columns.contains("pt_hour") && combined.columns.contains("pt_hours"))
    def cell(code: String, year: Int, c: String): Row =
      combined.filter(col("`state code`") === code && col("year") === year)
        .select(col(c)).head()
    assert(cell("WI", 2003, "pt_hour").getDouble(0) == 120d)
    assert(cell("WI", 2003, "pt_hours").isNullAt(0))
    assert(cell("WI", 2003, "total_pay").isNullAt(0))
    assert(cell("WI", 2024, "pt_hour").isNullAt(0))
    assert(cell("WI", 2024, "pt_hours").getDouble(0) == 98357d)
    assert(cell("WI", 2024, "pt_pay").getDouble(0) == -2886649d)
    // canonicalization applies to every year alike
    assert(cell("IA", 2003, "ft_pay").getDouble(0) == -1000d)
    assert(cell("IA", 2003, "pt_hour").isNullAt(0))
    val wi2003 = combined.filter(col("`state code`") === "WI" && col("year") === 2003).head()
    assert(wi2003.getAs[String]("gov_function") == "corrections")
    assert(wi2003.getAs[String]("state") == "Wisconsin")
    assert(wi2003.getAs[Double]("ft_employment") == 8846d)
  }

  test("the combined frame equals the per-year unionByName reference") {
    val reference = unionReference(spark, rawDir, Seq(2003, 2024))
    assert(combined.schema == reference.schema)
    assert(combined.exceptAll(reference).count() == 0)
    assert(reference.exceptAll(combined).count() == 0)
    // the one-year case is the same function
    val tidy = Canonical.yearDf(spark, s"$rawDir/aspep_2024.xlsx", 2024)
    assert(tidy.columns.contains("pt_hours") && !tidy.columns.contains("pt_hour"))
    assert(tidy.count() == 2)
  }

  test("awkward labels are trimmed, cased, recoded and enriched as Spark's expressions do") {
    val labelDir = LabelFixture.write()
    val got = Canonical.combineYears(spark, labelDir, 2003, 2004)
    val want = unionReference(spark, labelDir, Seq(2003))
    assert(got.schema == want.schema) // nullability included
    val rows = got.collect().toSeq
    assert(rows == want.collect().toSeq)
    assert(rows.length == 11)
    // the fixture reaches each case it names
    def at(index: Long): Row = rows.find(_.getAs[Long]("index") == index).get
    def labels(index: Long): Seq[Any] =
      Seq("state", "gov_function", "state code", "state_scope").map(at(index).getAs[Any](_))
    assert(labels(0) == Seq("Wisconsin", "corrections", "WI", "state"))
    assert(labels(1) == Seq(null, "hospitals", "\tIOWA", "state"))
    assert(labels(2) == Seq(null, "hospitals\u00a0", "IOWA\u00a0", "state"))
    assert(labels(3) == Seq("New York", "financial administration", "NY", "state"))
    assert(labels(4) == Seq(null, "stra\u00dfen", "I\u0307OWA", "state"))
    assert(labels(5) == Seq(null, "\u03bf\u03b4\u03bf\u03c2", "STRASSE", "state"))
    assert(labels(6) == Seq(null, "highways \u0264", "ATLANTIS", "state"))
    assert(labels(7) == Seq(null, "police protection", "", "state"))
    assert(labels(8) == Seq(null, null, null, "state"))
    assert(labels(9) == Seq(null, "total - all government employment functions", "US", "national"))
    assert(at(10).getAs[String]("region") == "Midwest")
  }
}
