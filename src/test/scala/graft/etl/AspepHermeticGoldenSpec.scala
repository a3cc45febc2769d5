package graft.etl

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden values over the synthesized 2003-2024 raw directory
  * ([[AspepRawFixture]]): the hermetic stand-ins for AspepGoldenSpec and
  * ArtifactParitySpec, which read the real workbooks. Each stage of the
  * chain (combine -> derive -> extended stats) is checked at hand-set
  * cells whose expected values are worked out by hand: a combine cell
  * in an `.xls`, an `.xlsx` and the tidy 2024 year, the ratios, 1- and
  * 5-year deltas ending in 2024 and one whose lag side is an `.xls`
  * year, `US-median`/`US-mean` cross-sections, and ranks with ties and
  * nulls. Then each of the three JSON artifacts, rendered by
  * `Writers.prettyJsonArray`, must equal [[AspepFixtureModel]] on every
  * row and cell.
  */
class AspepHermeticGoldenSpec extends SparkTestBase {

  private lazy val rawDir = AspepRawFixture.write("golden")

  private lazy val combined: DataFrame = Canonical.combineYears(spark, rawDir).cache()
  private lazy val derived: DataFrame = DeriveStats.deriveStats(combined).cache()
  private lazy val extended: DataFrame = ExtendedStats.deriveExtendedStats(derived).cache()

  private def cell(df: DataFrame, state: String, gf: String, year: Int,
      column: String): Option[Double] = {
    val rows = df
      .filter(col("`state code`") === state && col("gov_function") === gf && col("year") === year)
      .select(col(s"`$column`")).collect()
    assert(rows.length == 1, s"expected 1 row, got ${rows.length}: $state/$gf/$year")
    if (rows.head.isNullAt(0)) None else Some(rows.head.getAs[Number](0).doubleValue)
  }

  private def check(df: => DataFrame, state: String, gf: String, year: Int,
      column: String, expected: Double): Unit =
    test(s"golden(hermetic): $state $gf $year $column = $expected") {
      assert(cell(df, state, gf, year, column) == Some(expected))
    }

  private def checkNull(df: => DataFrame, state: String, gf: String, year: Int,
      column: String): Unit =
    test(s"golden(hermetic): $state $gf $year $column is null") {
      assert(cell(df, state, gf, year, column).isEmpty)
    }

  // combine: .xls years (2003-2006 era with part-time hours, 2017, 2019
  // without), an .xlsx year, and the tidy 2024 export (comma-grouped
  // and accounting-negative text)
  check(combined, "NE", "hospitals", 2004, "pt_hour", 98357d)
  check(combined, "WI", "corrections", 2017, "total_pay", 42327514d)
  check(combined, "US", "corrections", 2019, "ft_pt_employment", 5497394d)
  check(combined, "NE", "public welfare", 2022, "ft_employment", 2167d)
  check(combined, "MO", "corrections", 2024, "total_pay", 38884335d)
  check(combined, "MO", "public welfare", 2024, "pt_pay", -2886649d)
  checkNull(combined, "IA", "corrections", 2010, "ft_employment")

  // derive_stats: ratios; cross-sections over IA, MO, NE, WI (not US)
  check(derived, "WI", "hospitals", 2020, "pay_per_ft", 473139785d / 48767d)
  check(derived, "MO", "corrections", 2024, "pay_per_fte", 38884335d / 9591d)
  // public welfare 2022 ft_employment: IA 1319, MO 2319, NE 2167, WI 4319
  check(derived, "US-median", "public welfare", 2022, "ft_employment", (2167d + 2319d) / 2)
  check(derived, "US-mean", "public welfare", 2022, "ft_employment", (1319d + 2319d + 2167d + 4319d) / 4)
  // hospitals 2020 ft_employment: IA 1217, MO 2217, NE 3217, WI 48767
  check(derived, "US-median", "hospitals", 2020, "ft_employment", (2217d + 3217d) / 2)
  // corrections 2010: IA is blank, so the median is of three values
  check(derived, "US-median", "corrections", 2010, "ft_employment", 3007d)

  // derive_extended_stats: "5yr" = lag 4 rows
  check(extended, "IA", "hospitals", 2024, "ft_eq_employment_1yr_abs", 10004d - 9386d)
  check(extended, "IA", "hospitals", 2024, "ft_eq_employment_5yr_abs", 10004d - 9172d)
  check(extended, "NE", "public welfare", 2022, "ft_employment_5yr_abs", 2167d - 2426d)
  // US-median 2018 public welfare ft_employment: (2315 + 2426) / 2
  check(extended, "US-median", "public welfare", 2022, "ft_employment_5yr_abs",
    (2167d + 2319d) / 2 - (2315d + 2426d) / 2)
  checkNull(extended, "IA", "corrections", 2011, "ft_employment_1yr_abs")
  checkNull(extended, "IA", "corrections", 2014, "ft_employment_5yr_abs")
  check(extended, "IA", "corrections", 2012, "ft_employment_1yr_abs", 1d)
  // 2022 public welfare ft_employment, descending: US 5319, WI 4319,
  // US-mean 2531, MO 2319, US-median 2243, NE 2167, IA 1319
  check(extended, "NE", "public welfare", 2022, "ft_employment_rank", 6d)

  test("golden(hermetic): directional ranks at (2011, corrections) share ties and skip nulls") {
    // ft_employment_1yr_abs: +1 for US, MO, NE, WI; -499 for US-median
    // and US-mean (IA's 2010 blank leaves it out of the 2010 sections); null for IA
    val ranks = extended.filter(col("year") === 2011 && col("gov_function") === "corrections")
      .select(col("`state code`"), col("ft_employment_1yr_abs_pos_rank"),
        col("ft_employment_1yr_abs_neg_rank"))
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(ranks == Map(
      "US" -> (Some(1), None), "MO" -> (Some(1), None), "NE" -> (Some(1), None),
      "WI" -> (Some(1), None), "IA" -> (None, None),
      "US-median" -> (None, Some(1)), "US-mean" -> (None, Some(1))))
  }

  test("combined covers 2003-2024, every state and function each year") {
    val years = combined.select(col("year")).distinct().collect().map(_.getInt(0)).sorted
    assert(years.toSeq == AspepRawFixture.years)
    assert(combined.count() == AspepRawFixture.years.length * AspepRawFixture.rowKeys.length)
  }

  test("national rows lose state/region/division (no US in dim)") {
    val us = combined.filter(col("`state code`") === "US")
      .select(col("state"), col("region"), col("state_scope")).collect()
    assert(us.length == AspepRawFixture.years.length * AspepRawFixture.functions.length)
    assert(us.forall(r => r.isNullAt(0) && r.isNullAt(1) && r.getString(2) == "national"))
  }

  test("a US-median and a US-mean row per (year, gov_function)") {
    val stats = derived.filter(col("state_scope") === "stats")
      .groupBy(col("year"), col("gov_function"))
      .agg(sort_array(collect_list(col("`state code`"))).as("labels")).collect()
    assert(stats.length == AspepRawFixture.years.length * AspepRawFixture.functions.length)
    assert(stats.forall(_.getSeq[String](2) == Seq("US-mean", "US-median")))
  }

  // the three artifacts, every row and cell against the plain-Scala model

  private lazy val artifactDir = {
    val d = new java.io.File("target/aspep_raw_fixture/golden/out")
    d.mkdirs()
    d
  }

  /** Values equal: text and nulls exactly, numbers to the renderer's
    * 10 decimal places. */
  private def same(actual: JsonNode, expected: Any): Boolean = expected match {
    case null => actual.isNull
    case s: String => actual.isTextual && actual.asText == s
    case n: Number => actual.isNumber &&
      math.abs(actual.asDouble - n.doubleValue) <= 1e-9 * math.max(1d, math.abs(n.doubleValue))
  }

  private def artifact(name: String, df: => DataFrame,
      model: => Seq[AspepFixtureModel.Record]): Unit =
    test(s"artifact(hermetic): $name equals the model, every row and cell") {
      val path = new java.io.File(artifactDir, name).getPath
      Writers.prettyJsonArray(df, path)
      val rows = new ObjectMapper().readTree(new java.io.File(path)).elements().asScala.toSeq
      assert(rows.length == model.length)
      def key(code: Any, year: Any, fn: Any) = (code.toString, year.toString, fn.toString)
      val byKey = model.map(r => key(r("state code"), r("year"), r("gov_function")) -> r).toMap
      assert(byKey.size == model.length)
      rows.foreach { row =>
        val k = key(row.get("state code").asText, row.get("year").asText, row.get("gov_function").asText)
        val want = byKey.getOrElse(k, fail(s"unexpected row $k"))
        assert(row.fieldNames().asScala.toSet == want.keySet, s"columns of $k")
        want.foreach { case (c, v) =>
          assert(same(row.get(c), v), s"$name $k $c: got ${row.get(c)}, want $v")
        }
      }
    }

  artifact("combined_data.json", combined, AspepFixtureModel.combined)
  artifact("aspep_with_derived_stats.json", derived, AspepFixtureModel.derived)
  artifact("aspep_with_extended_derived_stats.json", extended, AspepFixtureModel.extended)
}
