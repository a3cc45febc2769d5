package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Cleaning.safeDiv
import graft.functions.CohortRank.cohortRank

/** `derive_extended_stats` (reference process_aspep/assets.py:387-491):
  * per-(state code, gov_function) 1yr/5yr lag deltas for every stat
  * column, then within-(year, gov_function) ranks — plain descending
  * ranks for base metrics, directional ranks for every delta column.
  *
  * The reference loops over ~1,600 groups in Python; here both stages
  * are native WindowExec: ONE window on (state code, gov_function) for
  * all 48 lag expressions (they share a single window spec), and ONE
  * partition-only window on (year, gov_function) for all 108 rank
  * columns (12 stat columns x (1 base rank + 4 deltas x 2 directions)).
  * Over the combine's single sorted partition neither window needs an
  * exchange (`SinglePartition` satisfies both clustered
  * distributions); a multi-partition input gets one hash exchange per
  * window. The cohort window collects each of the 60 stat/delta
  * columns into a cohort array once; a rank is then a count over the
  * array ([[graft.functions.CohortRank]], one codegen'd loop), so no
  * rank adds a sort. The count is O(k^2) per cohort of k rows, and k is
  * bounded: the states plus US, US-median and US-mean, about 54 per
  * (year, gov_function). Semantics pinned by the reference:
  *  - "5yr" = lag 4 rows, positional not temporal (asset_checks.py:27);
  *  - pandas rank(method="min") = SQL RANK() = 1 + the number of
  *    cohort values strictly ahead; a null metric gets a null rank and
  *    never perturbs the others;
  *  - directional: positives ranked desc, negatives asc, others null;
  *  - pct_change implemented as plain lag ratio (the reference's
  *    deprecated pad-fill default forward-fills across null gaps; no
  *    golden check distinguishes — documented divergence, SURVEY §2.6 W2).
  */
object ExtendedStats {

  private val deltaSuffixes = Seq("_1yr_pct", "_5yr_pct", "_1yr_abs", "_5yr_abs")

  /** @param padPct replicate pandas 2.2.3's deprecated-but-active
    *   `pct_change(fill_method='pad')`: the series is forward-filled
    *   within the group BEFORE both the numerator and the lag, so a
    *   null-gapped series yields 0%-change runs instead of null. The
    *   default (false) is the plain lag ratio — the two differ only
    *   across null gaps and no golden check pins either (SURVEY §2.6 W2).
    *   Kept as the switch docs/DIVERGENCES.md item 3 documents; only
    *   `WindowSemanticsSpec` sets it.
    */
  def deriveExtendedStats(derived: DataFrame, padPct: Boolean = false): DataFrame = {
    val baseCols = DeriveStats.statCols(derived)

    // W1/W2: all lag deltas over one window spec
    val wLag = Window.partitionBy(col("`state code`"), col("gov_function"))
      .orderBy(col("year"))
    val wFill = wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pad mode needs its own pass: a lag OF a window expression cannot
    // nest, so the forward-filled series becomes a real column first
    // (same wLag partitioning -> no extra exchange)
    val src =
      if (padPct)
        derived.select(derived.columns.map(c => col(s"`$c`")) ++
          baseCols.map(c => last(col(c), ignoreNulls = true).over(wFill).as(s"__pad_$c")): _*)
      else derived
    val deltaExprs: Seq[Column] = baseCols.flatMap { c =>
      val pctBase: Column = if (padPct) col(s"__pad_$c") else col(c)
      val l1 = lag(col(c), 1).over(wLag)
      val l4 = lag(col(c), 4).over(wLag)
      val p1 = lag(pctBase, 1).over(wLag)
      val p4 = lag(pctBase, 4).over(wLag)
      Seq(
        (safeDiv(pctBase, p1) - 1).as(s"${c}_1yr_pct"),
        (safeDiv(pctBase, p4) - 1).as(s"${c}_5yr_pct"),
        (col(c) - l1).as(s"${c}_1yr_abs"),
        (col(c) - l4).as(s"${c}_5yr_abs"))
    }
    val withDeltas = src
      .select(src.columns.map(c => col(s"`$c`")) ++ deltaExprs: _*)
      .drop(baseCols.map(c => s"__pad_$c"): _*)

    // W3/W4: ranks within (year, gov_function), as counts. RANK()
    // (pandas method="min") of a non-null x is 1 + the number of cohort
    // values strictly ahead of x, so every rank column reads one
    // cohort array: one collect_list per stat/delta column, all over
    // ONE partition-only window (a single Window, no per-key sort).
    // collect_list skips nulls; CohortRank orders NaN above +inf and
    // equates -0.0 with 0.0, exactly as the rank sort does.
    val cohort = Window.partitionBy(col("year"), col("gov_function"))
    val deltaCols = baseCols.flatMap(c => deltaSuffixes.map(s => s"$c$s"))
    val rankedCols = baseCols ++ deltaCols
    def arr(c: String): String = s"__cohort_$c"
    val withCohorts = withDeltas.select(
      withDeltas.columns.map(c => col(s"`$c`")) ++
        rankedCols.map(c => collect_list(col(c)).over(cohort).as(arr(c))): _*)
    def countRank(c: String, desc: Boolean): Column = cohortRank(col(arr(c)), col(c), desc)
    val baseRanks: Seq[Column] = baseCols.map { c =>
      when(col(c).isNotNull, countRank(c, desc = true)).as(s"${c}_rank")
    }
    // directional: positives ranked desc, negatives asc; a value ahead
    // of a positive x is positive, one ahead of a negative x negative
    val dirRanks: Seq[Column] = deltaCols.flatMap { c =>
      Seq(
        when(col(c) > 0, countRank(c, desc = true)).as(s"${c}_pos_rank"),
        when(col(c) < 0, countRank(c, desc = false)).as(s"${c}_neg_rank"))
    }
    val ranked = withCohorts.select(
      withDeltas.columns.map(c => col(s"`$c`")) ++ baseRanks ++ dirRanks: _*)

    // F3 trivial-row filter: greatest(|numeric|) > 1 — year (>=2003) is
    // in the numeric set, so this keeps everything; replicated for
    // fidelity (assets.py:479-480)
    val numericCols = (baseCols ++ Seq("year") ++
      deltaCols ++ baseRanks.indices.map(i => s"${baseCols(i)}_rank"))
      .filter(ranked.columns.contains)
    val absCols = numericCols.map(c => abs(col(s"`$c`")))
    ranked.filter(greatest(absCols: _*) > 1)
  }
}
