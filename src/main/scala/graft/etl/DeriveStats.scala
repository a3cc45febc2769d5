package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.functions.Cleaning.safeDiv

/** `derive_stats` (reference process_aspep/assets.py:336-385): ratio
  * metrics + per-(year, gov_function) exact-median/mean cross-sections
  * appended as synthetic "US-median"/"US-mean" rows.
  *
  * Exact `median` (interpolated, null-skipping) is required — the
  * reference oracle is pandas' exact median under rel_tol 1e-3
  * (SURVEY.md §2.5 A1); percentile_approx would not survive it. The
  * groupBy is keyed on (year, gov_function), ~46 groups per year, each
  * buffering <=52 values per column — bounded at any scale. Over the
  * combine's single sorted partition it plans no exchange, and each
  * `avg` sums its cross-section in state order (the sort order), so the
  * `US-mean` rows are a function of the input alone; a multi-partition
  * input gets one hash exchange and sums partials in arrival order.
  *
  * A ratio input the combine lacks reads as a null double, as
  * `Canonical` fills a column a year lacks: a combine with no legacy
  * year has no `pt_hour`, so its `pay_per_pt_hour` is present and null
  * (the ratio uses `pt_hour` only, never the 2024 `pt_hours`).
  */
object DeriveStats {

  /** Columns the cross-sections aggregate: all metrics + ratios. */
  def statCols(df: DataFrame): Seq[String] = {
    val metrics = AspepConfig.metricCols ++ Seq("pay_per_fte", "pay_per_pt_hour", "pay_per_ft")
    metrics.filter(df.columns.contains)
  }

  /** @param approxMedian use percentile_approx for the cross-section
    *   medians — the 100 TB escape hatch (mergeable sketch, no per-group
    *   buffering). NEVER in the oracle path: the reference's golden
    *   checks are exact-median under rel_tol 1e-3 (SURVEY §7.4.7).
    */
  def deriveStats(combined: DataFrame, approxMedian: Boolean = false): DataFrame = {
    def input(c: String): Column =
      if (combined.columns.contains(c)) col(c) else lit(null).cast(DoubleType)
    // X4 safe ratios (assets.py:351-356: 0-divisor and inf -> null)
    val withRatios = combined
      .withColumn("pay_per_fte", safeDiv(input("total_pay"), input("ft_eq_employment")))
      .withColumn("pay_per_pt_hour", safeDiv(input("pt_pay"), input("pt_hour")))
      .withColumn("pay_per_ft", safeDiv(input("ft_pay"), input("ft_employment")))

    // F2: cross-sections exclude the published national aggregate
    val stateRows = withRatios.filter(col("`state code`") =!= "US")

    val sc = statCols(withRatios)
    val medianAggs =
      if (approxMedian) sc.map(c => percentile_approx(col(c), lit(0.5), lit(10000)).as(c))
      else sc.map(c => median(col(c)).as(c))
    val meanAggs = sc.map(c => avg(col(c)).as(c))

    def statsRows(aggs: Seq[Column], label: String) =
      stateRows.groupBy(col("year"), col("gov_function"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("state code", lit(label))
        .withColumn("state_scope", lit("stats"))

    withRatios
      .unionByName(statsRows(medianAggs, "US-median"), allowMissingColumns = true)
      .unionByName(statsRows(meanAggs, "US-mean"), allowMissingColumns = true)
  }
}
