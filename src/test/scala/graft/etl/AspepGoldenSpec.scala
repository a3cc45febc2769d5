package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's own correctness oracle: golden scalar assertions
  * ported verbatim from process_aspep/asset_checks.py:14-31, compared
  * with rel_tol 1e-3 (asset_checks.py:60), run over the real raw
  * workbooks at /root/reference/data/raw (read-only).
  *
  * The 2024 workbook is not on disk (the reference downloads it at run
  * time; this environment has no egress), so the five 2024-dependent
  * tuples are excluded — 11 of 16 run.
  *
  * Every test cancels, naming the directory, where the reference raw
  * directory (`rawDir`) is absent; AspepHermeticGoldenSpec checks
  * the same stages over a synthesized raw directory.
  */
class AspepGoldenSpec extends AnyFunSuite {

  private val rawDir = "/root/reference/data/raw"

  lazy val spark: SparkSession = graft.Harness.session()

  lazy val combined: DataFrame = {
    spark.sparkContext.setLogLevel("WARN")
    Canonical.combineYears(spark, rawDir).cache()
  }
  lazy val derived: DataFrame = DeriveStats.deriveStats(combined).cache()
  lazy val extended: DataFrame = ExtendedStats.deriveExtendedStats(derived).cache()

  private def lookup(df: DataFrame, state: String, gf: String, year: Int,
                     column: String): Double = {
    val rows = df
      .filter(col("`state code`") === state && col("gov_function") === gf &&
        col("year") === year)
      .select(col(s"`$column`")).collect()
    assert(rows.nonEmpty, s"row not found: $state/$gf/$year")
    assert(rows.length == 1, s"expected 1 row, got ${rows.length}: $state/$gf/$year")
    assert(!rows.head.isNullAt(0), s"null $column for $state/$gf/$year")
    rows.head.getDouble(0)
  }

  private def relClose(actual: Double, expected: Double, relTol: Double = 1e-3): Boolean =
    math.abs(actual - expected) <=
      relTol * math.max(math.abs(actual), math.abs(expected))

  private def check(df: => DataFrame, state: String, gf: String, year: Int,
                    column: String, expected: Double): Unit =
    test(s"golden: $state $gf $year $column = $expected") {
      assume(new java.io.File(rawDir).isDirectory, s"reference raw workbooks not found: $rawDir")
      val actual = lookup(df, state, gf, year, column)
      assert(relClose(actual, expected),
        s"expected $expected, got $actual (rel err ${math.abs(actual - expected) / expected})")
    }

  // combine_years (asset_checks.py:15-22)
  check(combined, "WI", "corrections", 2017, "total_pay", 42327514d)
  check(combined, "WI", "education - higher education instructional", 2021, "total_pay", 88769896d)
  check(combined, "AR", "judicial and legal", 2022, "ft_pay", 8001374d)
  check(combined, "CA", "hospitals", 2022, "pt_employment", 10250d)
  check(combined, "GA", "public welfare", 2020, "pt_pay", 17900d)
  check(combined, "IN", "police protection total", 2020, "ft_eq_employment", 1820d)
  check(combined, "US", "total - all government employment functions", 2019, "ft_pt_employment", 5497394d)
  check(combined, "HI", "financial administration", 2018, "ft_employment", 692d)

  // derive_stats (asset_checks.py:26)
  check(derived, "CA", "hospitals", 2020, "pay_per_ft", 473139785d / 48767d)

  // derive_extended_stats (asset_checks.py:29-30)
  check(extended, "NE", "public welfare", 2022, "ft_employment_5yr_abs", 2167d - 2426d)
  check(extended, "DE", "natural resources", 2008, "ft_employment_5yr_abs", 485d - 420d)

  // 2024-dependent tuples (asset_checks.py:23-28) activate automatically
  // if a later environment provides the 2024 workbook (reference
  // downloads it at run time; none on disk here)
  if (new java.io.File(s"$rawDir/aspep_2024.xlsx").exists()
      || new java.io.File(s"$rawDir/aspep_2024.xls").exists()) {
    check(combined, "AZ", "electric power", 2024, "ft_employment", 4d)
    check(combined, "WA", "corrections", 2024, "ft_pay", 71593739d)
    check(derived, "MO", "corrections", 2024, "pay_per_fte", 38884335d / 9591d)
    check(extended, "IA", "hospitals", 2024, "ft_eq_employment_5yr_abs", 10004d - 9172d)
    check(extended, "IA", "hospitals", 2024, "ft_eq_employment_1yr_abs", 10004d - 9386d)
  }

  test("combined covers 2003-2023 with plausible volume") {
    assume(new java.io.File(rawDir).isDirectory, s"reference raw workbooks not found: $rawDir")
    val years = combined.select(col("year")).distinct().collect().map(_.getInt(0)).sorted
    assert(years.head == 2003, years.mkString(","))
    assert(years.last == 2023 || years.last == 2024, years.mkString(","))
    assert(years.length >= 21)
    val n = combined.count()
    assert(n > 30000 && n < 50000, s"combined rows = $n")
  }

  test("national rows lose state/region/division (no US in dim)") {
    assume(new java.io.File(rawDir).isDirectory, s"reference raw workbooks not found: $rawDir")
    val us = combined.filter(col("`state code`") === "US")
      .select(col("state"), col("region"), col("state_scope")).collect()
    assert(us.nonEmpty)
    assert(us.forall(r => r.isNullAt(0) && r.isNullAt(1) && r.getString(2) == "national"))
  }

  test("stats rows exist per (year, gov_function)") {
    assume(new java.io.File(rawDir).isDirectory, s"reference raw workbooks not found: $rawDir")
    val n = derived.filter(col("`state code`") === "US-median").count()
    assert(n > 500, s"US-median rows = $n")
  }
}
