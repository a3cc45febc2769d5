package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Temporal join operators Spark lacks as built-ins, re-expressed in
  * the shapes that survive 100 TB:
  *
  *  - AS-OF join (event-time attribution): NOT an inequality join —
  *    Spark would plan that as a broadcast-nested-loop or an unbounded
  *    sort-merge range scan. Instead the classic union+window form:
  *    tag both sides, union, one hash shuffle on the key, one
  *    per-partition sort on (time, side), and `last(x, ignoreNulls)`
  *    carries the most recent right-side row forward. Cost is one
  *    shuffle of left+right combined — the same stage a plain groupBy
  *    would need — and the per-key state is a single row.
  *  - sliding range-window aggregation: Spark's native
  *    `rangeBetween` over a numeric event-time ordering.
  *  - interval (band) join via grid bucketization: explode each
  *    interval into the fixed-width grid cells it covers, equi-join
  *    probe rows on their cell, then apply the exact bounds as a
  *    residual filter. Turns an inequality join into a keyed shuffle
  *    that scales with BOTH sides (a broadcast inequality join dies
  *    when the interval side outgrows one executor).
  */
object Temporal {

  /** Click->purchase attribution: for every purchase event, the same
    * user's most recent click at-or-before it (ties: the click wins,
    * i.e. inclusive `purchase.ts >= click.ts`). Clicks are first
    * deduped per (user, ts) to max event_id so the as-of pick is
    * deterministic in any engine.
    */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("us"), col("click_id"),
        lit(0).as("side"), lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), lit(null).cast("long").as("click_id"),
        lit(1).as("side"), col("event_id").as("purchase_id"))
    // one shuffle: hash by user, sort by (time, side) — side=0 (click)
    // sorts before side=1 (purchase) at equal time, giving >= semantics
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_us",
        last(when(col("side") === 0, col("us")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("purchase_id"), col("user_id"), col("us").as("purchase_us"),
        col("last_click_id").as("click_id"),
        (col("us") - col("last_click_us")).as("gap_us"))
  }

  /** Per event: how many events (and how much value) the same user
    * produced in the preceding 5 minutes — a sliding event-time rate
    * feature. Native range window over a numeric epoch ordering; the
    * `1 PRECEDING` upper bound excludes the current second's peers
    * identically in any engine.
    */
  def rangeWindowCount(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-300, -1)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("CAST(unix_timestamp(ts) AS LONG)").as("epoch_s"),
        expr("coalesce(value, 0.0)").as("v"))
      .select(col("event_id"), col("user_id"), col("epoch_s"),
        count(lit(1)).over(w).as("n_prev_5m"),
        round(sum(col("v")).over(w), 6).as("sum_prev_5m"))
      .withColumn("sum_prev_5m", coalesce(col("sum_prev_5m"), lit(0.0)))
  }

  /** Price bands, including one overlapping band — the join is
    * genuinely many-to-many. Integer bounds, [lo, hi).
    */
  private[operators] val bands: Seq[(String, Int, Int)] = Seq(
    ("budget", 900, 920), ("mid", 920, 950), ("upper", 950, 980),
    ("lux", 980, 1000), ("premium_950plus", 950, 1000),
    ("entry_905_915", 905, 915), ("point_930s", 930, 940))

  private val Grid = 5

  /** Interval join via grid bucketization: every band explodes into
    * the 5-wide grid cells it covers, every part row computes its one
    * cell, and the join is a plain equi-join on the cell with the
    * exact bounds as a residual filter. With a 6-row band table a
    * broadcast would do — the point is the shape: cell-join scales
    * when the interval side is ALSO corpus-sized, where a broadcast
    * inequality join cannot.
    */
  def intervalBandJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b = bands.toDF("band_name", "lo", "hi")
      .withColumn("bucket",
        explode(sequence(floor(col("lo") / Grid).cast("long"),
          floor((col("hi") - 1) / Grid).cast("long"))))
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice"))
      .withColumn("bucket", floor(col("p_retailprice") / Grid).cast("long"))
    p.join(b, Seq("bucket"))
      .filter(col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .select(col("p_partkey"), col("band_name"), col("p_retailprice"))
  }

  /** Weekly cohort retention matrix: users grouped by their first-
    * activity ISO week; each cell counts the cohort's users active
    * `week_offset` weeks later. The canonical funnel query. Shape:
    * distinct (user, week) activity -> per-user min (both keyed on
    * user_id, so the first-event agg and the join REUSE one exchange)
    * -> one final (cohort, offset) agg. Since activity is distinct per
    * (user, week) and the cohort is functionally dependent on the
    * user, the final count(*) IS the distinct-user count — no second
    * distinct pass over the fact stream.
    */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val firstWk = act.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    act.join(firstWk, Seq("user_id"))
      .select(col("cohort_wk"),
        expr("datediff(wk, cohort_wk) div 7").as("week_offset"))
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ordered funnel: view -> click -> purchase per user, each step's
    * time the MIN event STRICTLY after the previous step (a click
    * before the first view doesn't count). The iterative "min after
    * previous min" is three keyed aggregations, each joined back on
    * user_id — every shuffle in the query hashes the same key, so the
    * exchanges line up and the per-user state is three longs. Emits one
    * row per user who entered the funnel, with reached depth; step
    * conversion counts are a trivial rollup of this table. This is the
    * shape that survives scale: no window over the full event stream,
    * no per-user event collection — just filtered min-aggs.
    */
  def funnelSteps(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("us"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, Seq("user_id"))
      .filter(col("us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, Seq("user_id"))
      .filter(col("us") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2).otherwise(1).as("depth"))
  }

  /** Hourly resampling with zero-filled gaps: the regular time grid a
    * forecasting/monitoring consumer needs, built as calendar-spine ×
    * dimension LEFT JOIN keyed aggregate. The spine is calendar-sized
    * (hours in range × 5 event types — thousands of rows at ANY corpus
    * scale, so Spark broadcasts it), the fact aggregation is one keyed
    * shuffle, and missing cells materialize as explicit zeros — the
    * gap-filling that a plain GROUP BY can never produce.
    */
  def timeseriesFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(expr("CAST(unix_timestamp(ts) AS LONG) div 3600").as("bucket_h"),
        col("event_type"), expr("coalesce(value, 0.0)").as("v"))
    val cnt = ev.groupBy(col("bucket_h"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    // both cross sides are bounded (hour grid x <=5 distinct types);
    // the explicit broadcast pins the plan intent rather than leaving
    // the strategy to AQE stats (VERDICT r8 optional #9). The HINTED
    // side is the hour grid: its subtree is a grouping-free scalar
    // aggregate — statically bounded, which is what the PlanGuard
    // bounded-BNLJ lint verifies — while the distinct-types side is
    // only bounded by domain knowledge the plan cannot prove.
    val spine = broadcast(
      ev.agg(min(col("bucket_h")).as("lo"), max(col("bucket_h")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("bucket_h")))
      .crossJoin(ev.select(col("event_type")).distinct())
    spine.join(cnt, Seq("bucket_h", "event_type"), "left")
      .select(col("bucket_h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        round(coalesce(col("sv"), lit(0.0)), 4).as("sum_value"))
  }

  /** Daily user-growth curve: new users (first touch), active users,
    * and cumulative users per day. The scale rewrite this operator
    * exists to demonstrate: cumulative distinct users is NOT a
    * windowed COUNT(DISTINCT) over an ever-growing frame (per-day
    * state = the whole user set — unusable at scale); it is per-user
    * MIN(day) (one keyed agg), a day-level count of those firsts, and
    * a running sum over the CALENDAR-sized day table — the global
    * window touches ~30 rows regardless of corpus size. Active-user
    * distinct stays per-day (bounded) via the distinct (user, day)
    * projection shared with the first-touch agg.
    */
  def userGrowthCurve(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val active = act.groupBy(col("day")).agg(count(lit(1)).as("active_users"))
    val news = act.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(news, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(col("day"), col("new_users"), col("active_users"), col("cum_users"))
  }

  /** Per-user event-type transition matrix (first-order Markov
    * counts + probabilities): one lead() window per user ordered by
    * (time, event_id) — the unique tiebreak keeps successor choice
    * engine-independent at equal timestamps — then one keyed agg over
    * the 5x5 transition space. Probabilities are integer ppm of the
    * source row-mass (exact division of exact counts — no float agg).
    * One shuffle on user_id, one on the 25-cell key space.
    */
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("unix_micros(ts)"), col("event_id"))
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = Window.partitionBy(col("from_type"))
    trans.withColumn("from_total", sum(col("n")).over(fromTotals))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000000 * n) div from_total").as("p_ppm"))
  }

  /** Trailing-window anomaly days — the monitoring primitive over an
    * event stream: per (event_type, day), flag a daily count deviating
    * more than 3 sigma from the preceding 7 observed days. The z-test
    * is decided in PURE integers — (7x - S)^2 > 9*(7*Sx2 - S^2) is
    * algebraically z^2 > 9 with mean S/7 and population variance
    * (7*Sx2 - S^2)/49 — so no float mean/std crosses engines, and a
    * day with fewer than 7 predecessors is never flagged.
    *
    * Shape: one keyed aggregate to daily counts (bounded: days x
    * types), then windows over THAT bounded table. Zero corpus-sized
    * windows; at 100 TB the daily rollup is the only pass over data.
    */
  def anomalyDays(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    daily
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("sx2", sum(col("n") * col("n")).over(w))
      .select(col("event_type"), col("day"), col("n"),
        (col("win_n") === 7 &&
          (lit(7) * col("n") - col("s")) * (lit(7) * col("n") - col("s"))
            > lit(9) * (lit(7) * col("sx2") - col("s") * col("s")))
          .as("is_anomaly"))
  }

  /** Session path mining — the clickstream query behind "what do
    * users do first": sessionize (the events_sessionize 30-min-gap
    * contract: boundary on epoch-second gaps, order by (micros,
    * event_id)), take each session's first four event types as an
    * ordered path string, count sessions and total events per path.
    *
    * Shape: ONE user-partitioned window pass computes both the gap
    * lag and the running session number (same partition+order → one
    * exchange, one sort), then a (user, session) aggregate builds the
    * ordered path with sort_array(collect_list(struct)) — the
    * struct's (ts_us, event_id) prefix IS the sort key, so ordering
    * happens inside the aggregate buffer, not in another window. The
    * final path rollup is vocabulary-sized (|event_types|^4 tops).
    * All counts integer; the path string is deterministic because the
    * event_id tiebreak is part of the sort key on both engines.
    */
  def sessionPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("ts_us"), col("event_type"))
      .withColumn("es", expr("ts_us div 1000000"))
    val gap = col("es") - lag(col("es"), 1).over(w)
    base
      .withColumn("b", when(gap.isNull || gap > 1800, 1).otherwise(0))
      .withColumn("session_seq", sum(col("b")).over(wRun).cast("long"))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sort_array(collect_list(
        struct(col("ts_us"), col("event_id"), col("event_type")))).as("evs"))
      .select(
        expr("array_join(transform(slice(evs, 1, 4), x -> x.event_type), '>')")
          .as("path"),
        size(col("evs")).cast("long").as("sess_n"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("sess_n")).as("total_events"))
  }

  /** Seasonal adjustment of the event stream — the day-of-week
    * discipline anomaly_days' trailing window cannot see (a quiet
    * Sunday is NORMAL; a quiet Tuesday is not): per event type, build
    * the day-of-week profile (mean daily count per weekday, floor
    * micros — exact integer rational), subtract it from every day,
    * and report each type's top-5 absolute residuals.
    *
    * Determinism: day-of-week is epoch-day mod 7 (no engine calendar
    * API — week-start conventions differ); the profile mean is a
    * single floor division of exact longs; residuals are exact micros.
    * The rank window partitions the POST-AGGREGATE table (types x
    * days — bounded by the calendar, not the corpus), so the sort is
    * register-domain work; the only corpus-sized op is the daily
    * count aggregate.
    */
  def seasonalAdjust(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("epoch_day"),
        col("n"))
      .withColumn("dow", pmod(col("epoch_day"), lit(7L)))
    val prof = daily.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).as("sn"), count(lit(1)).as("cn"))
      .select(col("event_type"), col("dow"),
        expr("(1000000 * sn) div cn").as("dow_mean_micros"))
    val resid = daily.join(prof, Seq("event_type", "dow"))
      .select(col("event_type"), col("epoch_day"), col("dow"), col("n"),
        col("dow_mean_micros"),
        (col("n") * lit(1000000L) - col("dow_mean_micros")).as("resid_micros"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(abs(col("resid_micros")).desc, col("epoch_day"))
    resid.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
  }

  /** Hash-split A/B significance test — the experimentation readout:
    * users split into two arms by a stable content hash (the split a
    * real assignment service would persist), "conversion" = purchase
    * count above the population mean (integer cross-multiplication,
    * scale-invariant like supplier_share's gate), and the 2x2 table
    * tested with the chi-square statistic computed EXACTLY:
    * chi2 = n*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)), emitted in floor
    * micro-units plus a significance flag decided by cross-multiplying
    * against the 3.841459 (p=0.05, df=1) threshold — no float
    * division anywhere, DECIMAL(38,0) == HUGEINT headroom (exact to
    * ~1e8 users; past that, scale the counts).
    *
    * Shape: one user-keyed aggregate (the only corpus-sized shuffle),
    * one broadcast scalar for the mean gate, one grouping-free final
    * aggregate. A null chi2 means a degenerate margin (a whole arm or
    * outcome class empty) — undefined, not a crash.
    */
  def abChi2(s: SparkSession, d: String): DataFrame = {
    val u = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("np"))
      .select(col("user_id"), col("np"),
        pmod(graft.functions.Hash60.hash60(col("user_id").cast("string")),
          lit(2L)).as("arm"))
    val pop = u.agg(count(lit(1)).as("nu"), sum(col("np")).as("tot"))
    val conv = u.crossJoin(broadcast(pop))
      .select(col("arm"), (col("np") * col("nu") > col("tot")).as("conv"))
    val t = conv.agg(
      sum(when(col("arm") === 0 && col("conv"), 1L).otherwise(0L)).as("a"),
      sum(when(col("arm") === 0 && !col("conv"), 1L).otherwise(0L)).as("b"),
      sum(when(col("arm") === 1 && col("conv"), 1L).otherwise(0L)).as("c"),
      sum(when(col("arm") === 1 && !col("conv"), 1L).otherwise(0L)).as("d"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val diff = dec(col("a")) * dec(col("d")) - dec(col("b")) * dec(col("c"))
    val num = dec(lit(1000000L)) *
      dec(col("a") + col("b") + col("c") + col("d")) * diff * diff
    val den = dec(col("a") + col("b")) * dec(col("c") + col("d")) *
      dec(col("a") + col("c")) * dec(col("b") + col("d"))
    t.select(col("a"), col("b"), col("c"), col("d"),
      when(den > 0, floor(num / den).cast("long"))
        .otherwise(lit(null).cast("long")).as("chi2_micro"),
      when(den > 0, num > dec(lit(3841459L)) * den)
        .otherwise(lit(null).cast("boolean")).as("significant"))
  }

  /** Mann-Whitney rank-sum test per event type — ab_chi2's
    * nonparametric sibling: does the VALUE distribution differ between
    * the two hash-split arms, decided from ranks, not means. The
    * distributed-rank discipline: never sort the corpus — aggregate to
    * (type, value) with per-arm counts (the only corpus-sized
    * shuffle), take a prefix-sum window over the DISTINCT VALUES per
    * type (bounded by the value domain, register-scale), and derive
    * midranks in doubled integer units: 2*rank = 2*count_before +
    * tie_count + 1, so U and the z-squared decision stay on the exact
    * integer/DECIMAL(38) lane (no tie-variance correction — slightly
    * conservative, documented). Emits u2 = 2*U(arm 0) and z^2 in
    * floor micro-units (3*(u2 - n0*n1)^2 / (n0*n1*(n+1))).
    */
  def mannwhitneyValue(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("event_type"),
      pmod(graft.functions.Hash60.hash60(col("user_id").cast("string")),
        lit(2L)).as("arm"),
      col("value"))
    val vc = e.groupBy(col("event_type"), col("value"), col("arm"))
      .agg(count(lit(1)).as("c"))
    val v = vc.groupBy(col("event_type"), col("value"))
      .agg(sum(col("c")).as("cv"),
        sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("c0"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = v.withColumn("before", coalesce(sum(col("cv")).over(w), lit(0L)))
    val agg = cum.groupBy(col("event_type"))
      .agg(sum(col("c0")).as("n0"),
        sum(col("cv") - col("c0")).as("n1"),
        sum(col("c0") * (lit(2L) * col("before") + col("cv") + 1)).as("r2"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val dd = col("r2") - col("n0") * (col("n0") + 1) - col("n0") * col("n1")
    agg.select(col("event_type"), col("n0"), col("n1"),
      (col("r2") - col("n0") * (col("n0") + 1)).as("u2"),
      when(col("n0") > 0 && col("n1") > 0,
        floor(dec(lit(1000000L)) * dec(lit(3L)) * dec(dd) * dec(dd) /
          (dec(col("n0")) * dec(col("n1")) *
            dec(col("n0") + col("n1") + 1))).cast("long"))
        .otherwise(lit(null).cast("long")).as("z2_micro"))
  }

  /** Theil–Sen robust trend per nation over the monthly revenue
    * series — the median of all pairwise slopes (Sen 1968). Unlike an
    * OLS slope it shrugs off outlier months (up to ~29% contamination),
    * which is what a revenue-trend monitor wants when one month holds
    * a backfill glitch. TheilSenSpec pins exactly that: one 1000×
    * outlier month leaves the trend untouched.
    *
    * Shape: the corpus-sized work is ONE (nation, month) aggregate —
    * map-side combining, cents-long exact (sum of round(price*100)
    * longs, order-independent). The pairwise-slope stage runs on that
    * BOUNDED table (|nations| × |months| ≈ 2k rows here; a pair count
    * quadratic in MONTHS, never in corpus rows — 100× more orders is
    * the same pair count), keyed self-join on nation. The median is
    * explicit two-middle-rank selection, NOT percentile_cont: the two
    * engines' quantile interpolations differ in the last ulp
    * (lo + (hi-lo)·f vs (lo+hi)/2), while "value at sorted position k"
    * is tie-stable and engine-exact, and the 2-element avg is a single
    * commutative IEEE add. Slopes divide exact cent-longs (< 2^53) by
    * exact month deltas — one correctly-rounded division per pair on
    * both engines.
    */
  private[operators] def theilSen(rev: DataFrame): DataFrame = {
    // bounded (nation, m, rc) table feeds three consumers (two join
    // sides + the month census) — shared, never re-derive the corpus
    // aggregate through lineage
    val r = Share(rev)
    val slopes = r.select(col("nation"), col("m").as("m1"), col("rc").as("r1"))
      .join(r.select(col("nation"), col("m").as("m2"), col("rc").as("r2")),
        Seq("nation"))
      .filter(col("m2") > col("m1"))
      .select(col("nation"),
        ((col("r2") - col("r1")).cast("double") /
          (lit(100.0) * (col("m2") - col("m1")).cast("double"))).as("slope"))
    val byNation = Window.partitionBy(col("nation"))
    val ranked = slopes
      .withColumn("rn", row_number().over(byNation.orderBy(col("slope"))))
      .withColumn("n", count(lit(1)).over(byNation))
    val mids = ranked.filter(
      expr("rn = (n + 1) div 2 OR rn = (n + 2) div 2"))
    mids.groupBy(col("nation"))
      .agg(max(col("n")).as("n_pairs"), round(avg(col("slope")), 6).as("trend"))
      .join(r.groupBy(col("nation")).agg(count(lit(1)).as("n_months")),
        Seq("nation"))
      .select(col("nation"), col("n_months"), col("n_pairs"), col("trend"))
  }

  def theilSenTrend(s: SparkSession, d: String): DataFrame =
    theilSen(monthlyRevenueCents(Tables.orders(s, d),
      Tables.customer(s, d), Tables.nation(s, d)))

  /** Shared (nation, month) exact-cents revenue lane — the corpus-
    * sized stage under both trend estimators (the lane is
    * SUM-mergeable: partials merge by addition).
    */
  private[graft] def monthlyRevenueCents(orders: DataFrame,
      customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rc"))

  /** Least-squares revenue trend per nation — the parametric twin of
    * theil_sen_trend (same monthly cents lane, same units: currency
    * per month) plus the fit-quality number the robust estimator
    * cannot give (Pearson r of revenue on time). The corpus-sized
    * stage is the shared (nation, month) cents aggregate; the OLS
    * moments run over that BOUNDED ~nations x months table with
    * per-row DECIMAL(38,0) products (rc^2 at 10x data exceeds int64 —
    * cast BEFORE multiply; cost irrelevant on 2k rows). Exits follow
    * the corr_matrix discipline: exact integer covariance/variance
    * lanes, ONE double conversion each, identical expression shape in
    * the oracle so the 6-dp rounding is bit-equal.
    */
  def olsTrend(s: SparkSession, d: String): DataFrame =
    ols(monthlyRevenueCents(Tables.orders(s, d),
      Tables.customer(s, d), Tables.nation(s, d)))

  /** OLS moment/exit stage over a (nation, m, rc) table — unit-tested
    * on hand series with closed-form fits (OlsTrendSpec). */
  private[graft] def ols(rev: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    rev
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n"),
        sum(col("m").cast("long")).as("sx"),
        sum((col("m") * col("m")).cast("long")).as("sxx"),
        sum(dec(col("rc"))).as("sy"),
        sum(dec(col("m")) * dec(col("rc"))).as("sxy"),
        sum(dec(col("rc")) * dec(col("rc"))).as("syy"))
      .select(col("nation"), col("n").as("n_months"),
        (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy")).as("cov_n"),
        (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))).as("vx"),
        (dec(col("n")) * col("syy") - col("sy") * col("sy")).as("vy"))
      .select(col("nation"), col("n_months"),
        when(col("vx") > 0,
          round(col("cov_n").cast("double") / col("vx").cast("double") / 100.0, 6))
          .otherwise(lit(null).cast("double")).as("slope"),
        when(col("vx") > 0 && col("vy") > 0,
          round(col("cov_n").cast("double") /
            sqrt(col("vx").cast("double")) /
            sqrt(col("vy").cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("r"))
  }

  /** CUSUM change-point detection per event type over the daily count
    * series — the classic Page (1954) cumulative-sum monitor: where
    * anomaly_days flags SINGLE outlier days against a trailing window,
    * CUSUM accumulates small sustained shifts that no single day
    * would trip. The recurrence C_t = max(0, C_{t-1} + x_t - k) is
    * not a window aggregate, but it factors exactly as
    * S_t - min(S_0..S_t) with S the prefix sum of (x_t - k) — two
    * running windows replace the sequential loop, which is what makes
    * it distributable at all. Reference rate k = the type's own mean
    * daily count, kept EXACT by scaling: e_t = n_t·D - T (D days, T
    * total) is the deviation in D-ths of a count, so every prefix
    * sum, min, and max below is integer and engine-identical — no
    * float mean, no rounding boundary. is_peak marks the day(s) where
    * the cumulative positive drift tops out: the END of the strongest
    * sustained above-rate run (a mid-series burst peaks at its last
    * day, not at the corpus end — pinned in CusumSpec).
    *
    * Shape: the only corpus-sized stage is the (event_type, epoch-day)
    * count aggregate (map-side combining); every window runs over that
    * BOUNDED daily table (|types| × |days|), partitioned by type —
    * never a corpus sort. Epoch-day is unix_micros div 86400e6, the
    * seasonal_adjust calendar-free discipline.
    */
  def cusumDrift(s: SparkSession, d: String): DataFrame =
    cusum(dailyCounts(Tables.events(s, d)))

  /** The (event_type, epoch-day) count table cusum_drift monitors —
    * plain sum-mergeable aggregation state; the CUSUM window step runs
    * over this bounded table. */
  private[graft] def dailyCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))

  /** CUSUM core over any (event_type, day, n) daily table —
    * unit-tested on hand series (step shift, mid-series burst,
    * constant rate) in CusumSpec.
    */
  private[graft] def cusum(daily: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val ordered = byType.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("t_total", sum(col("n")).over(byType))
      .withColumn("n_days", count(lit(1)).over(byType))
      .withColumn("s_run",
        sum(col("n") * col("n_days") - col("t_total")).over(ordered))
      .withColumn("cusum", col("s_run") - min(col("s_run")).over(ordered))
      .withColumn("peak", max(col("cusum")).over(byType))
      .select(col("event_type"), col("day"), col("n"), col("cusum"),
        (col("cusum") > 0 && col("cusum") === col("peak")).as("is_peak"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "cusum_drift" -> (cusumDrift _),
    "theil_sen_trend" -> ((s, d) => theilSenTrend(s, d)),
    "ols_trend" -> (olsTrend _),
    "mannwhitney_value" -> (mannwhitneyValue _),
    "ab_chi2" -> (abChi2 _),
    "seasonal_adjust" -> (seasonalAdjust _),
    "asof_join" -> (asofJoin _),
    "range_window_count" -> (rangeWindowCount _),
    "interval_band_join" -> (intervalBandJoin _),
    "retention_cohorts" -> (retentionCohorts _),
    "funnel_steps" -> (funnelSteps _),
    "timeseries_fill" -> (timeseriesFill _),
    "user_growth_curve" -> (userGrowthCurve _),
    "event_transitions" -> (eventTransitions _),
    "anomaly_days" -> (anomalyDays _),
    "session_paths" -> (sessionPaths _)
  )

  private val bandsValues = bands
    .map { case (n, lo, hi) => s"('$n', $lo, $hi)" }.mkString(", ")

  val oracleSql: Map[String, String] = Map(
    // S_t - min-prefix factorization of the CUSUM recurrence on the
    // exact n*D - T integer lane; HUGEINT window sums exit as BIGINT
    "cusum_drift" ->
      """WITH daily AS (
        | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |        CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |st AS (
        | SELECT event_type, day, n,
        |  sum(n) OVER (PARTITION BY event_type) AS t_total,
        |  count(*) OVER (PARTITION BY event_type) AS n_days
        | FROM daily),
        |cu AS (
        | SELECT event_type, day, n,
        |  sum(n * n_days - t_total) OVER (PARTITION BY event_type
        |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS s_run
        | FROM st),
        |cc AS (
        | SELECT event_type, day, n,
        |  CAST(s_run - min(s_run) OVER (PARTITION BY event_type
        |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS cusum
        | FROM cu)
        |SELECT event_type, CAST(day AS BIGINT) AS day, n, cusum,
        | (cusum > 0 AND
        |  cusum = max(cusum) OVER (PARTITION BY event_type)) AS is_peak
        |FROM cc""".stripMargin,

    // explicit two-middle-rank median (NOT quantile_cont: interpolation
    // differs in the last ulp cross-engine); cents-exact revenue lane
    "theil_sen_trend" ->
      """WITH rev AS (
        | SELECT n_name AS nation,
        |  year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rc
        | FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1, 2),
        |slopes AS (
        | SELECT a.nation,
        |  CAST(b.rc - a.rc AS DOUBLE) / (100.0 * (b.m - a.m)) AS slope
        | FROM rev a JOIN rev b ON a.nation = b.nation AND b.m > a.m),
        |ranked AS (
        | SELECT nation, slope,
        |  row_number() OVER (PARTITION BY nation ORDER BY slope) AS rn,
        |  count(*) OVER (PARTITION BY nation) AS n
        | FROM slopes),
        |mids AS (
        | SELECT nation, slope, n FROM ranked
        | WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2),
        |months AS (SELECT nation, count(*) AS n_months FROM rev GROUP BY 1)
        |SELECT m.nation, mo.n_months,
        | CAST(max(m.n) AS BIGINT) AS n_pairs, round(avg(m.slope), 6) AS trend
        |FROM mids m JOIN months mo ON m.nation = mo.nation
        |GROUP BY 1, 2""".stripMargin,

    // corr_matrix discipline: exact HUGEINT moment lanes over the
    // bounded monthly table, double conversion only at the exits with
    // the identical expression shape
    "ols_trend" ->
      """WITH rev AS (
        | SELECT n_name AS nation,
        |  year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rc
        | FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1, 2),
        |st AS (
        | SELECT nation, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(m) AS BIGINT) AS sx,
        |  CAST(sum(m * m) AS BIGINT) AS sxx,
        |  sum(rc::HUGEINT) AS sy,
        |  sum(m::HUGEINT * rc) AS sxy,
        |  sum(rc::HUGEINT * rc) AS syy
        | FROM rev GROUP BY 1),
        |mo AS (
        | SELECT nation, n AS n_months,
        |  n * sxy - sx * sy AS cov_n,
        |  n::HUGEINT * sxx - sx::HUGEINT * sx AS vx,
        |  n * syy - sy * sy AS vy
        | FROM st)
        |SELECT nation, n_months,
        | CASE WHEN vx > 0 THEN
        |  round(CAST(cov_n AS DOUBLE) / CAST(vx AS DOUBLE) / 100.0, 6)
        | ELSE NULL END AS slope,
        | CASE WHEN vx > 0 AND vy > 0 THEN
        |  round(CAST(cov_n AS DOUBLE) / sqrt(CAST(vx AS DOUBLE))
        |        / sqrt(CAST(vy AS DOUBLE)), 6)
        | ELSE NULL END AS r
        |FROM mo""".stripMargin,

    // distributed midranks: (type, value) per-arm counts + prefix sum
    // over DISTINCT values; doubled-rank units keep everything integer
    "mannwhitney_value" ->
      """WITH e AS (
        | SELECT event_type,
        |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
        |    AS arm,
        |  value FROM events),
        |vc AS (SELECT event_type, value, arm, CAST(count(*) AS BIGINT) AS c
        |       FROM e GROUP BY 1, 2, 3),
        |v AS (SELECT event_type, value, CAST(sum(c) AS BIGINT) AS cv,
        |       CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0
        |      FROM vc GROUP BY 1, 2),
        |cum AS (
        | SELECT event_type, value, cv, c0,
        |  CAST(coalesce(sum(cv) OVER (PARTITION BY event_type ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS before
        | FROM v),
        |agg AS (
        | SELECT event_type,
        |  CAST(sum(c0) AS BIGINT) AS n0,
        |  CAST(sum(cv - c0) AS BIGINT) AS n1,
        |  CAST(sum(c0 * (2 * before + cv + 1)) AS BIGINT) AS r2
        | FROM cum GROUP BY 1)
        |SELECT event_type, n0, n1,
        | CAST(r2 - n0 * (n0 + 1) AS BIGINT) AS u2,
        | CASE WHEN n0 > 0 AND n1 > 0 THEN
        |  CAST((1000000::HUGEINT * 3
        |    * (r2 - n0*(n0+1) - n0*n1) * (r2 - n0*(n0+1) - n0*n1))
        |   // (n0::HUGEINT * n1 * (n0 + n1 + 1)) AS BIGINT)
        | ELSE NULL END AS z2_micro
        |FROM agg""".stripMargin,

    // exact chi-square: HUGEINT == Spark DECIMAL(38,0); floor micro
    // division; significance by cross-multiplication (no float)
    "ab_chi2" ->
      """WITH u AS (
        | SELECT user_id,
        |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
        |    AS arm,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS np
        | FROM events GROUP BY 1),
        |pop AS (SELECT CAST(count(*) AS BIGINT) AS nu,
        |        CAST(sum(np) AS BIGINT) AS tot FROM u),
        |conv AS (
        | SELECT u.arm, (u.np * pop.nu > pop.tot) AS conv
        | FROM u CROSS JOIN pop),
        |t AS (
        | SELECT
        |  CAST(sum(CASE WHEN arm = 0 AND conv THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN arm = 0 AND NOT conv THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN arm = 1 AND conv THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN arm = 1 AND NOT conv THEN 1 ELSE 0 END) AS BIGINT) AS d
        | FROM conv)
        |SELECT a, b, c, d,
        | CASE WHEN (a+b)::HUGEINT * (c+d) * (a+c) * (b+d) > 0 THEN
        |  CAST((1000000::HUGEINT * (a+b+c+d) * (a*d - b*c) * (a*d - b*c))
        |    // ((a+b)::HUGEINT * (c+d) * (a+c) * (b+d)) AS BIGINT)
        | ELSE NULL END AS chi2_micro,
        | CASE WHEN (a+b)::HUGEINT * (c+d) * (a+c) * (b+d) > 0 THEN
        |  (1000000::HUGEINT * (a+b+c+d) * (a*d - b*c) * (a*d - b*c)
        |   > 3841459::HUGEINT * ((a+b)::HUGEINT * (c+d) * (a+c) * (b+d)))
        | ELSE NULL END AS significant
        |FROM t""".stripMargin,

    // dow = epoch-day mod 7 (no calendar API — week-start conventions
    // differ); profile mean = one floor division of exact longs;
    // HUGEINT sums cast BIGINT
    "seasonal_adjust" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |wd AS (
        | SELECT event_type,
        |  CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS epoch_day,
        |  CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS BIGINT) AS dow,
        |  n
        | FROM daily),
        |prof AS (
        | SELECT event_type, dow,
        |  CAST((1000000 * sum(n)) // count(*) AS BIGINT) AS dow_mean_micros
        | FROM wd GROUP BY 1, 2),
        |resid AS (
        | SELECT w.event_type, w.epoch_day, w.dow, w.n, p.dow_mean_micros,
        |  CAST(w.n * 1000000 - p.dow_mean_micros AS BIGINT) AS resid_micros
        | FROM wd w JOIN prof p USING (event_type, dow))
        |SELECT event_type, epoch_day, dow, n, dow_mean_micros, resid_micros,
        | CAST(rk AS BIGINT) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |       ORDER BY abs(resid_micros) DESC, epoch_day) AS rk FROM resid)
        |WHERE rk <= 5""".stripMargin,

    "asof_join" ->
      """WITH ev AS (
        | SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |clicks AS (
        | SELECT user_id, us, max(event_id) AS click_id
        | FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
        |purchases AS (
        | SELECT event_id AS purchase_id, user_id, us
        | FROM ev WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.us AS purchase_us,
        | c.click_id, p.us - c.us AS gap_us
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.us >= c.us""".stripMargin,

    "range_window_count" ->
      """WITH ev AS (
        | SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |  coalesce(value, 0.0) AS v
        | FROM events)
        |SELECT event_id, user_id, epoch_s,
        | count(*) OVER w AS n_prev_5m,
        | coalesce(round(sum(v) OVER w, 6), 0.0) AS sum_prev_5m
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
        | RANGE BETWEEN 300 PRECEDING AND 1 PRECEDING)""".stripMargin,

    "interval_band_join" ->
      s"""WITH bands(band_name, lo, hi) AS (VALUES $bandsValues)
         |SELECT p_partkey, band_name, p_retailprice
         |FROM part JOIN bands
         |  ON p_retailprice >= lo AND p_retailprice < hi""".stripMargin,

    "funnel_steps" ->
      """WITH ev AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (
        | SELECT user_id, min(us) AS t1 FROM ev
        | WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        | SELECT user_id, min(us) AS t2 FROM ev JOIN s1 USING (user_id)
        | WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        |s3 AS (
        | SELECT user_id, min(us) AS t3 FROM ev JOIN s2 USING (user_id)
        | WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
        |SELECT user_id, t1, t2, t3,
        | CASE WHEN t3 IS NOT NULL THEN 3
        |      WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

    "timeseries_fill" ->
      """WITH ev AS (
        | SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket_h,
        |  event_type, coalesce(value, 0.0) AS v
        | FROM events),
        |b AS (SELECT min(bucket_h) AS lo, max(bucket_h) AS hi FROM ev),
        |spine AS (SELECT unnest(range(lo, hi + 1)) AS bucket_h FROM b),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |cnt AS (
        | SELECT bucket_h, event_type, count(*) AS n, sum(v) AS sv
        | FROM ev GROUP BY 1, 2)
        |SELECT s.bucket_h, t.event_type,
        | coalesce(n, 0) AS n_events,
        | round(coalesce(sv, 0.0), 4) AS sum_value
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN cnt ON cnt.bucket_h = s.bucket_h
        |  AND cnt.event_type = t.event_type""".stripMargin,

    "event_transitions" ->
      """WITH seq AS (
        | SELECT event_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS next_type
        | FROM events),
        |trans AS (
        | SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n
        | FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        | CAST((1000000 * n) // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
        |FROM trans""".stripMargin,

    "user_growth_curve" ->
      """WITH act AS (
        | SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |active AS (SELECT day, count(*) AS active_users FROM act GROUP BY 1),
        |news AS (
        | SELECT day, count(*) AS new_users FROM (
        |  SELECT user_id, min(day) AS day FROM act GROUP BY 1)
        | GROUP BY 1)
        |SELECT a.day, coalesce(n.new_users, 0) AS new_users, a.active_users,
        | CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY a.day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM active a LEFT JOIN news n ON n.day = a.day""".stripMargin,

    "retention_cohorts" ->
      """WITH act AS (
        | SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS wk FROM events),
        |first AS (
        | SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id)
        |SELECT cohort_wk,
        | date_diff('day', cohort_wk, wk) // 7 AS week_offset,
        | count(*) AS n_users
        |FROM act JOIN first USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // integer z-test: (7x - S)^2 > 9*(7*Sx2 - S^2) == z^2 > 9; sums
    // cast BIGINT (DuckDB widens int sums to HUGEINT)
    "anomaly_days" ->
      """WITH daily AS (
        | SELECT event_type, ts::DATE AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |win AS (
        | SELECT event_type, day, n,
        |  count(*) OVER w AS win_n,
        |  CAST(sum(n) OVER w AS BIGINT) AS s,
        |  CAST(sum(n * n) OVER w AS BIGINT) AS sx2
        | FROM daily
        | WINDOW w AS (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n,
        | (win_n = 7 AND
        |  (7 * n - s) * (7 * n - s) > 9 * (7 * sx2 - s * s)) AS is_anomaly
        |FROM win""".stripMargin,

    // same sessionize contract as events_sessionize (epoch-second
    // gaps, (micros, event_id) order); the ordered path via
    // string_agg ORDER BY mirrors the sorted-struct aggregation
    "session_paths" ->
      """WITH t AS (
        | SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |  epoch_us(ts) // 1000000 AS es
        | FROM events),
        |g AS (
        | SELECT *, CASE WHEN es - lag(es, 1) OVER w IS NULL
        |   OR es - lag(es, 1) OVER w > 1800 THEN 1 ELSE 0 END AS b
        | FROM t
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (
        | SELECT *, CAST(sum(b) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS session_seq
        | FROM g),
        |r AS (
        | SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
        |   ORDER BY ts_us, event_id) AS rn,
        |  CAST(count(*) OVER (PARTITION BY user_id, session_seq) AS BIGINT)
        |   AS sess_n
        | FROM sess),
        |p AS (
        | SELECT user_id, session_seq, sess_n,
        |  string_agg(event_type, '>' ORDER BY rn) AS path
        | FROM r WHERE rn <= 4 GROUP BY 1, 2, 3)
        |SELECT path, count(*) AS n_sessions,
        | CAST(sum(sess_n) AS BIGINT) AS total_events
        |FROM p GROUP BY 1""".stripMargin
  )
}
