package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The five 2024-gated golden tuples (reference
  * process_aspep/asset_checks.py:23-28), run as a FIXTURE VARIANT
  * (VERDICT r8 optional #8): the real 2024 workbook is downloaded at
  * reference run time and this environment has no egress, so the raw
  * dir is recreated as symlinks to the read-only reference workbooks
  * plus a synthesized `aspep_2024.xlsx` (real OOXML via XlsxFixture,
  * parsed by the real XlsxReader/tidy path, NOT injected as a
  * DataFrame) carrying the four state rows the tuples pin. The 1yr/5yr
  * delta tuples therefore prove the cross-year panel math against the
  * REAL 2023/2020 Iowa hospitals values on disk — only the 2024 cells
  * themselves are synthetic. AspepGoldenSpec's auto-activation guard
  * (AspepGoldenSpec.scala:78) still covers the day a real workbook
  * lands in the reference dir.
  *
  * Where the reference directory is absent the raw dir holds the
  * synthesized 2024 workbook alone: the AZ, WA and MO tuples read only
  * 2024 cells and still run; the two IA tuples need the real 2023 and
  * 2020 workbooks for their lag side and cancel, naming the missing
  * file (their hermetic twins run in AspepHermeticGoldenSpec).
  */
class Aspep2024FixtureSpec extends AnyFunSuite {

  private val refRaw = new java.io.File("/root/reference/data/raw")

  private lazy val fixtureRaw: String = {
    val dir = new java.io.File("target/aspep2024_fixture/raw")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    // never symlink a real 2024 workbook: the fixture write below
    // would follow the link and clobber the READ-ONLY reference file
    // the day one lands there (the synthesized fixture supersedes it)
    // listFiles() is null when the directory is missing: then the raw
    // dir holds the 2024 workbook alone
    Option(refRaw.listFiles()).getOrElse(Array.empty[java.io.File])
      .filterNot(_.getName.startsWith("aspep_2024"))
      .foreach { f =>
        java.nio.file.Files.createSymbolicLink(
          new java.io.File(dir, f.getName).toPath, f.toPath)
      }
    val header = AspepConfig.columnMap2024.map(_._1)
    // column order: state, gov_function, ft_employment, ft_pay,
    // pt_employment, pt_pay, pt_hours, ft_eq_employment,
    // ft_pt_employment, total_pay. Golden-pinned cells: AZ electric
    // power ft_employment, WA corrections ft_pay, MO corrections
    // (total_pay, ft_eq_employment), IA hospitals ft_eq_employment.
    XlsxFixture.writeXlsx(s"$dir/aspep_2024.xlsx", Seq(
      header,
      Seq("United States", "Total", "3941962", "23563171618", "1550613",
        "2352702664", "103052479", "4513373", "5492575", "25915874282"),
      Seq("Arizona", "Electric Power", "4", "282000", "1",
        "12000", "900", "4", "5", "294000"),
      Seq("Washington", "Correction", "9500", "71,593,739", "420",
        "1800000", "50000", "9680", "9920", "73393739"),
      Seq("Missouri", "Correction", "9450", "37000000", "320",
        "1884335", "40000", "9591", "9770", "38,884,335"),
      Seq("Iowa", "Hospitals", "9800", "56000000", "600",
        "2600000", "70000", "10004", "10400", "58600000")))
    dir.getPath
  }

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val combined: DataFrame = {
    spark.sparkContext.setLogLevel("WARN")
    Canonical.combineYears(spark, fixtureRaw).cache()
  }
  private lazy val derived: DataFrame = DeriveStats.deriveStats(combined).cache()
  private lazy val extended: DataFrame = ExtendedStats.deriveExtendedStats(derived).cache()

  private def lookup(df: DataFrame, state: String, gf: String,
      column: String): Double = {
    val rows = df
      .filter(col("`state code`") === state && col("gov_function") === gf &&
        col("year") === 2024)
      .select(col(s"`$column`")).collect()
    assert(rows.length == 1 && !rows.head.isNullAt(0),
      s"expected 1 non-null row: $state/$gf/2024/$column")
    rows.head.getDouble(0)
  }

  /** @param lagWorkbooks the reference workbooks the tuple's lag side
    *   reads; the tuple cancels where one is missing */
  private def check(df: => DataFrame, state: String, gf: String,
      column: String, expected: Double, lagWorkbooks: Seq[String] = Nil): Unit =
    test(s"golden(fixture): $state $gf 2024 $column = $expected") {
      lagWorkbooks.map(new java.io.File(refRaw, _)).foreach { f =>
        assume(f.isFile, s"reference workbook not found: ${f.getPath}")
      }
      val actual = lookup(df, state, gf, column)
      assert(math.abs(actual - expected) <=
        1e-3 * math.max(math.abs(actual), math.abs(expected)),
        s"expected $expected, got $actual")
    }

  // asset_checks.py:23-25 (combine_years)
  check(combined, "AZ", "electric power", "ft_employment", 4d)
  check(combined, "WA", "corrections", "ft_pay", 71593739d)
  // asset_checks.py:27 (derive_stats)
  check(derived, "MO", "corrections", "pay_per_fte", 38884335d / 9591d)
  // asset_checks.py:28-29 (derive_extended_stats) — the lag side of
  // both deltas comes from the REAL on-disk 2023/2020 Iowa workbooks
  private val iaLagYears = Seq("aspep_2023.xlsx", "aspep_2020.xlsx")
  check(extended, "IA", "hospitals", "ft_eq_employment_5yr_abs", 10004d - 9172d, iaLagYears)
  check(extended, "IA", "hospitals", "ft_eq_employment_1yr_abs", 10004d - 9386d, iaLagYears)
}
