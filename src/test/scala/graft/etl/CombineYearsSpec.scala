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

/** `Canonical.combineYears` over several years at once: schema
  * widening, per-year `index`, the per-year skip of a bad workbook, and
  * equality with the per-year union the combine used to build.
  */
class CombineYearsSpec extends SparkTestBase {

  private lazy val rawDir = MultiYearFixture.write()
  private lazy val combined = Canonical.combineYears(spark, rawDir, 2003, 2025).cache()

  /** The per-year `unionByName(allowMissingColumns)` form of the
    * combine: one DataFrame per parsed year, widened by the union, then
    * the same enrichment and order as `combineYears`.
    */
  private def unionReference(spark: SparkSession, years: Seq[Int]): DataFrame = {
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
    val enriched = perYear.reduce(_.unionByName(_, allowMissingColumns = true))
      .join(broadcast(Canonical.censusDim(spark)), Seq("state code"), "left")
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
    val reference = unionReference(spark, Seq(2003, 2024))
    assert(combined.schema == reference.schema)
    assert(combined.exceptAll(reference).count() == 0)
    assert(reference.exceptAll(combined).count() == 0)
    // the one-year case is the same function
    val tidy = Canonical.yearDf(spark, s"$rawDir/aspep_2024.xlsx", 2024)
    assert(tidy.columns.contains("pt_hours") && !tidy.columns.contains("pt_hour"))
    assert(tidy.count() == 2)
  }
}
