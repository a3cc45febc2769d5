package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The 2024+ tidy-API path can't be exercised against real data (the
  * workbook is downloaded at reference run time; no egress here), so
  * this spec synthesizes a minimal 2024-style .xlsx — sheet named
  * "Data", flat headers from the 2024 column map, messy numeric
  * strings (thousands commas, Unicode minus, accounting negatives) —
  * and drives parse + canonicalization through the real pipeline.
  */
class TidyPathSpec extends SparkTestBase {

  private def writeXlsx(path: String, rows: Seq[Seq[String]]): Unit =
    XlsxFixture.writeXlsx(path, rows)

  private val header = AspepConfig.columnMap2024.map(_._1)

  test("2024 tidy path: parse, project, clean messy numerics, recode") {
    val dir = java.nio.file.Files.createTempDirectory("tidy2024").toFile
    val path = s"$dir/aspep_2024.xlsx"
    writeXlsx(path, Seq(
      header,
      Seq("United States", "Total", "3,941,962", "23563171618", "1550613",
        "2352702664", "103052479", "4513373", "5492575", "25915874282"),
      Seq("Wisconsin", "Correction", "8,846", "(39,440,865)", "836",
        "−2886649", "98357", "9402", "9682", "42327514"),
      Seq("Arizona", "Electric Power", "4", "junk", "0", "", "0", "4", "4", "X")))

    val df = Canonical.yearDf(spark, path, 2024)
    assert(df.columns.contains("pt_hours") && !df.columns.contains("pt_hour"))

    val us = df.filter(col("`state code`") === "US").head()
    assert(us.getAs[String]("gov_function") == "total - all government employment functions")
    assert(us.getAs[Double]("ft_employment") == 3941962d) // comma-cleaned
    assert(us.getAs[Int]("year") == 2024)

    val wi = df.filter(col("`state code`") === "WI").head()
    assert(wi.getAs[String]("gov_function") == "corrections") // recoded
    assert(wi.getAs[Double]("ft_pay") == -39440865d)          // accounting negative
    assert(wi.getAs[Double]("pt_pay") == -2886649d)           // unicode minus
    assert(wi.getAs[Double]("total_pay") == 42327514d)

    val az = df.filter(col("`state code`") === "AZ").head()
    assert(az.getAs[Double]("ft_employment") == 4d)
    assert(az.isNullAt(az.fieldIndex("ft_pay")))    // "junk" -> null coercion
    assert(az.isNullAt(az.fieldIndex("total_pay"))) // "X" -> null

    // full combine over a dir holding only this file (2024-only run)
    val combined = Canonical.combineYears(spark, dir.toString, 2024, 2025)
    assert(combined.count() == 3)
    val usRow = combined.filter(col("`state code`") === "US").head()
    assert(usRow.getAs[String]("state_scope") == "national")
    assert(usRow.isNullAt(usRow.fieldIndex("state")))  // no US in dim
    val wiRow = combined.filter(col("`state code`") === "WI").head()
    assert(wiRow.getAs[String]("state") == "Wisconsin")
    assert(wiRow.getAs[String]("division") == "East North Central")
  }

  test("deriveStats over a 2024-only combine: pay_per_pt_hour present and null, other ratios computed") {
    val dir = new java.io.File("target/tidy2024_derive")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    writeXlsx(s"$dir/aspep_2024.xlsx", Seq(
      header,
      Seq("Missouri", "Correction", "9450", "37000000", "320",
        "1884335", "40000", "9591", "9770", "38,884,335"),
      Seq("Iowa", "Hospitals", "9800", "56000000", "600",
        "2600000", "70000", "0", "10400", "58600000")))
    // a combine holding no legacy year has no pt_hour column
    val combined = Canonical.combineYears(spark, dir.toString, 2019, 2025)
    assert(!combined.columns.contains("pt_hour") && combined.columns.contains("pt_hours"))
    val derived = DeriveStats.deriveStats(combined)
    assert(derived.schema("pay_per_pt_hour").dataType == org.apache.spark.sql.types.DoubleType)
    assert(derived.filter(col("pay_per_pt_hour").isNotNull).count() == 0)
    assert(derived.count() == 2 + 2 * 2) // + US-median and US-mean per function
    def ratios(code: String) = {
      val r = derived.filter(col("`state code`") === code)
        .select("pay_per_fte", "pay_per_ft").head()
      (Option(r.get(0)), Option(r.get(1)))
    }
    assert(ratios("MO") == (Some(38884335d / 9591d), Some(37000000d / 9450d)))
    assert(ratios("IA") == (None, Some(56000000d / 9800d))) // zero divisor -> null
  }
}
