package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Cleaning._

/** The reference's relational operator inventory (SURVEY.md §2)
  * re-expressed as Spark-first queries over the synthetic testdata.
  * Each query has a DuckDB-equivalent oracle in [[Relational.oracleSql]].
  *
  * Scale notes (the 100 TB design intent, per operator):
  *  - dimension joins are explicitly `broadcast()` (nation/region are
  *    tiny dims; a shuffle join here would be a 100 TB-side shuffle);
  *  - windows partition on high-cardinality keys (custkey, mktsegment)
  *    so WindowExec shuffles are balanced;
  *  - aggregations are all partial-aggregatable built-ins except exact
  *    `median`, which the reference's oracle requires (SURVEY §2.5 A1 —
  *    percentile_approx would break the 1e-3 tolerance).
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** Bucket count for salted block-quadratic self-joins (guide §2.2):
    * the pair stage's parallelism is label/cluster count x this, and
    * the probe side is replicated this many times through the
    * exchange. A parallelism knob only — never affects results. The
    * default suits tens of cores; a cluster deployment raises it via
    * `spark.graft.pair.buckets` to keep (blocks x buckets) a few x its
    * core count. */
  def pairBuckets(s: SparkSession): Long =
    s.conf.get("spark.graft.pair.buckets", "8").toLong

  // W1/W2 window: per-entity time series ordered by event time with a
  // unique-key tiebreak so lag() is deterministic across engines.
  private def orderWindow =
    Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))

  /** A1-analog pricing summary (group agg with partial aggregation). */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // money/quantity values live on a 1e-4 decimal lattice; summing
        // them as doubles is order-dependent and lands exactly on
        // round() half-way boundaries where engines disagree. ExactSum
        // sums integer micros (a primitive long buffer) — exact and
        // order-independent like the decimal(18,6) sum it replaces
        // (pinned byte-equal in ExactSumSpec) without the >18-digit
        // BigDecimal aggregation buffer on every row update.
        graft.functions.ExactSum.sumExact(col("l_quantity")).as("sum_qty"),
        graft.functions.ExactSum.sumExact(col("l_extendedprice")).as("sum_price"),
        graft.functions.ExactSum.sumExact(
          col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("n"))

  /** J1: broadcast left-outer dimension enrichment
    * (reference assets.py:309-310 — the only true join in the system). */
  def broadcastLeftJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val nat  = Tables.nation(s, d)
    val reg  = Tables.region(s, d)
    cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"), "left")
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("n_name").as("nation"), col("r_name").as("region"))
  }

  /** J2: map-literal value recode with pass-through (no join needed). */
  def recodeMap(s: SparkSession, d: String): DataFrame = {
    val m = Map(
      "AMERICA" -> "AM", "ASIA" -> "AS", "EUROPE" -> "EU")
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"), "left")
      .select(col("n_nationkey"), col("n_name"),
        recode(col("r_name"), m).as("region_code"))
  }

  /** A1: exact group median (interpolated at even counts, null-skipping). */
  def groupMedian(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(round(median(col("o_totalprice")), 4).as("med_total"),
        count(lit(1)).as("n"))

  /** A2: group mean (null-skipping avg). */
  def groupMean(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(round(avg(col("o_totalprice")), 4).as("mean_total"),
        count(lit(1)).as("n"))

  /** A3+O3: per-group cross-sections appended as synthetic labeled rows
    * (reference assets.py:366-376 US-median/US-mean pattern). */
  def statsUnion(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val nat  = Tables.nation(s, d)
    val base = cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("n_name").as("nation"))
      .agg(round(avg(col("c_acctbal")), 4).as("bal"))
      .withColumn("scope", lit("state"))
    val stats = base.groupBy(col("seg"))
      .agg(round(avg(col("bal")), 4).as("mean_bal"),
        round(median(col("bal")), 4).as("med_bal"))
    val meanRows = stats.select(col("seg"), lit("ALL-mean").as("nation"),
      col("mean_bal").as("bal"), lit("stats").as("scope"))
    val medRows = stats.select(col("seg"), lit("ALL-median").as("nation"),
      col("med_bal").as("bal"), lit("stats").as("scope"))
    base.unionByName(meanRows).unionByName(medRows)
  }

  /** O2: union-all with schema widening (null-fill missing columns),
    * reference assets.py:313 pd.concat semantics. */
  def unionWiden(s: SparkSession, d: String): DataFrame = {
    val a = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_quantity").as("qty"),
        col("l_returnflag").as("flag"))
    val b = Tables.orders(s, d)
      .select(col("o_orderkey").as("okey"), col("o_totalprice").as("total"))
    a.unionByName(b, allowMissingColumns = true)
  }

  /** W1: positional lag deltas within an entity's year-ordered series
    * (reference assets.py:445-446; "5yr" = lag 4 = inclusive span). */
  def lagDelta(s: SparkSession, d: String): DataFrame = {
    val w = orderWindow
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 4).as("delta1"),
      round(col("o_totalprice") - lag(col("o_totalprice"), 4).over(w), 4).as("delta4"))
  }

  /** W2: percent change vs lag (plain form — SURVEY §2.6 W2 documents
    * the divergence from pandas' deprecated pad-fill default). */
  def pctChange(s: SparkSession, d: String): DataFrame = {
    val w = orderWindow
    val l1 = lag(col("o_totalprice"), 1).over(w)
    val l4 = lag(col("o_totalprice"), 4).over(w)
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      round(safeDiv(col("o_totalprice"), l1) - 1, 6).as("pct1"),
      round(safeDiv(col("o_totalprice"), l4) - 1, 6).as("pct4"))
  }

  /** W3: rank with min-tie semantics and null metrics excluded from the
    * ranking (pandas rank(method="min", ascending=False) — NaN rows get
    * NaN rank, not last place; reference assets.py:460-461). */
  def rankMinTies(s: SparkSession, d: String): DataFrame = {
    val metric = when(col("c_acctbal").between(-100, 100), lit(null))
      .otherwise(col("c_acctbal"))
    val wr = Window.partitionBy("c_mktsegment").orderBy(col("metric").desc_nulls_last)
    Tables.customer(s, d)
      .withColumn("metric", metric)
      .select(col("c_custkey"), col("c_mktsegment"), col("metric"),
        when(col("metric").isNotNull, rank().over(wr)).cast("long").as("bal_rank"))
  }

  /** W4: directional ranks — positives ranked desc (largest gain = 1),
    * negatives ranked asc (worst decline = 1), others null
    * (reference assets.py:464-474 row-masking, folded into the rank
    * expression so the frame is never split). */
  def directionalRank(s: SparkSession, d: String): DataFrame = {
    val w = orderWindow
    val delta = round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 4)
    val withDelta = Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
      delta.as("delta"))
    val pos = when(col("delta") > 0, col("delta"))
    val neg = when(col("delta") < 0, col("delta"))
    val wp = Window.partitionBy("o_orderpriority").orderBy(pos.desc_nulls_last, col("o_orderkey"))
    val wn = Window.partitionBy("o_orderpriority").orderBy(neg.asc_nulls_last, col("o_orderkey"))
    withDelta.select(
      col("o_custkey"), col("o_orderkey"), col("o_orderpriority"), col("delta"),
      when(pos.isNotNull, rank().over(wp)).cast("long").as("pos_rank"),
      when(neg.isNotNull, rank().over(wn)).cast("long").as("neg_rank"))
  }

  /** X4: null-safe division (divide-by-zero -> NULL, not inf). */
  def safeDivQ(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      round(safeDiv(col("l_extendedprice"), col("l_quantity") - 25), 6).as("ratio"))

  /** X2+X3: regex numeric de-formatting (thousands commas, Unicode
    * minus, accounting negatives) + null-coercing cast. The messy
    * strings are constructed deterministically from the data so the
    * oracle can rebuild the identical inputs. */
  def regexNumericClean(s: SparkSession, d: String): DataFrame = {
    val base = floor(col("l_extendedprice")).cast("long")
    // native grouping kernel == format_number(base, 0) for longs
    // (pinned in NumCleanSpec); DecimalFormat was ~40% of this query
    val fmt  = graft.functions.NumClean.groupDigits(base)
    val messy = when(col("l_discount") > 0.07, concat(lit("("), fmt, lit(")")))
      .when(col("l_discount") > 0.04, concat(lit("−"), fmt))
      .otherwise(fmt)
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      messy.as("messy"),
      cleanNumeric(messy).as("cleaned"))
  }

  /** F3: trivial-row filter — greatest(abs(metrics)) above threshold. */
  def trivialRowFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(greatest(abs(col("l_discount")), abs(col("l_tax"))) > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"), col("l_tax"))

  /** X5: scope classifier (when/otherwise chain). */
  def scopeClassify(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"), col("event_type"),
      classify(col("event_type"),
        Seq("purchase" -> "conversion", "error" -> "fault"),
        "engagement").as("scope"))

  /** X3: null-coercing cast of mixed garbage/numeric strings. */
  def tryCastGarbage(s: SparkSession, d: String): DataFrame = {
    val raw = when(col("p_size") > 25, col("p_name"))
      .otherwise(col("p_size").cast("string"))
    Tables.part(s, d).select(
      col("p_partkey"), raw.as("raw"),
      raw.try_cast("double").as("val"))
  }

  /** P4/A4: all-null column detection as one aggregation pass. */
  def allnullColDetect(s: SparkSession, d: String): DataFrame =
    unionWiden(s, d).agg(
      count(col("okey")).as("n_okey"),
      count(col("qty")).as("n_qty"),
      count(col("flag")).as("n_flag"),
      count(col("total")).as("n_total"),
      count(lit(1)).as("n_rows"))

  /** O1: global sort with NULLs last (reference assets.py:322 sorts on
    * the joined name where national rows are NULL). */
  def sortNullsLast(s: SparkSession, d: String): DataFrame = {
    val metric = when(col("value") < 10, lit(null)).otherwise(round(col("value"), 4))
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), metric.as("metric"))
      .orderBy(col("metric").asc_nulls_last, col("event_id"))
  }

  /** Tumbling event-time window aggregation (epoch-hour buckets). */
  def eventWindowAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** Semi-structured extraction: parse the JSON `props` payload
    * scan-side (get_json_object — a codegen'd path expression, no
    * schema inference pass) and aggregate the extracted field. The
    * 100 TB shape: JSON parsing stays a narrow map fused into the
    * scan stage; only the extracted scalars reach the shuffle.
    */
  def jsonPropsAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), round(avg(col("k")), 6).as("avg_k"))

  /** Gap-based sessionization (30-min inactivity boundary) as a pure
    * window computation. One shuffle on user_id.
    */
  def eventsSessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val es = unix_timestamp(col("ts"))
    val gap = es - lag(es, 1).over(w)
    val boundary = when(gap.isNull || gap > 1800, 1).otherwise(0)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), es.as("epoch_s"),
        boundary.as("b"))
      .select(col("user_id"), col("event_id"), col("epoch_s"),
        sum(col("b")).over(wRun).cast("long").as("session_seq"))
  }

  val queries: Map[String, Q] = Map(
    "json_props_agg" -> (jsonPropsAgg _),
    "events_sessionize" -> (eventsSessionize _),
    "q1_agg" -> (q1Agg _),
    "broadcast_left_join" -> (broadcastLeftJoin _),
    "recode_map" -> (recodeMap _),
    "group_median" -> (groupMedian _),
    "group_mean" -> (groupMean _),
    "stats_union" -> (statsUnion _),
    "union_widen" -> (unionWiden _),
    "lag_delta" -> (lagDelta _),
    "pct_change" -> (pctChange _),
    "rank_min_ties" -> (rankMinTies _),
    "directional_rank" -> (directionalRank _),
    "safe_div" -> (safeDivQ _),
    "regex_numeric_clean" -> (regexNumericClean _),
    "trivial_row_filter" -> (trivialRowFilter _),
    "scope_classify" -> (scopeClassify _),
    "try_cast_garbage" -> (tryCastGarbage _),
    "allnull_col_detect" -> (allnullColDetect _),
    "sort_nulls_last" -> (sortNullsLast _),
    "event_window_agg" -> (eventWindowAgg _)
  )

  val oracleSql: Map[String, String] = Map(
    "events_sessionize" ->
      """WITH t AS (
        | SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |  CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |   OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
        |   THEN 1 ELSE 0 END AS b
        | FROM events)
        |SELECT user_id, event_id, epoch_s,
        | CAST(sum(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM t""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_price,
        | CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "broadcast_left_join" ->
      """SELECT c_custkey, c_name, c_mktsegment, n_name AS nation, r_name AS region
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "recode_map" ->
      """SELECT n_nationkey, n_name,
        | coalesce(CASE r_name WHEN 'AMERICA' THEN 'AM' WHEN 'ASIA' THEN 'AS'
        |   WHEN 'EUROPE' THEN 'EU' END, r_name) AS region_code
        |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "group_median" ->
      """SELECT o_orderpriority, round(median(o_totalprice), 4) AS med_total,
        | count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "group_mean" ->
      """SELECT o_orderpriority, o_orderstatus,
        | round(avg(o_totalprice), 4) AS mean_total, count(*) AS n
        |FROM orders GROUP BY o_orderpriority, o_orderstatus""".stripMargin,

    "stats_union" ->
      """WITH base AS (
        | SELECT c_mktsegment AS seg, n_name AS nation,
        |  round(avg(c_acctbal), 4) AS bal, 'state' AS scope
        | FROM customer JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1, 2),
        |stats AS (
        | SELECT seg, round(avg(bal), 4) AS mean_bal,
        |  round(median(bal), 4) AS med_bal FROM base GROUP BY seg)
        |SELECT seg, nation, bal, scope FROM base
        |UNION ALL SELECT seg, 'ALL-mean', mean_bal, 'stats' FROM stats
        |UNION ALL SELECT seg, 'ALL-median', med_bal, 'stats' FROM stats""".stripMargin,

    "union_widen" ->
      """SELECT l_orderkey AS okey, l_quantity AS qty, l_returnflag AS flag
        |FROM lineitem
        |UNION ALL BY NAME
        |SELECT o_orderkey AS okey, o_totalprice AS total FROM orders""".stripMargin,

    "lag_delta" ->
      """SELECT o_custkey, o_orderkey,
        | round(o_totalprice - lag(o_totalprice, 1) OVER w, 4) AS delta1,
        | round(o_totalprice - lag(o_totalprice, 4) OVER w, 4) AS delta4
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "pct_change" ->
      """SELECT o_custkey, o_orderkey,
        | round(CASE WHEN lag(o_totalprice, 1) OVER w IS NULL OR lag(o_totalprice, 1) OVER w = 0
        |   THEN NULL ELSE o_totalprice / (lag(o_totalprice, 1) OVER w) END - 1, 6) AS pct1,
        | round(CASE WHEN lag(o_totalprice, 4) OVER w IS NULL OR lag(o_totalprice, 4) OVER w = 0
        |   THEN NULL ELSE o_totalprice / (lag(o_totalprice, 4) OVER w) END - 1, 6) AS pct4
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "rank_min_ties" ->
      """WITH t AS (
        | SELECT c_custkey, c_mktsegment,
        |  CASE WHEN c_acctbal BETWEEN -100 AND 100 THEN NULL ELSE c_acctbal END AS metric
        | FROM customer)
        |SELECT c_custkey, c_mktsegment, metric,
        | CASE WHEN metric IS NOT NULL THEN
        |  rank() OVER (PARTITION BY c_mktsegment ORDER BY metric DESC NULLS LAST)
        | END AS bal_rank
        |FROM t""".stripMargin,

    "directional_rank" ->
      """WITH d AS (
        | SELECT o_custkey, o_orderkey, o_orderpriority,
        |  round(o_totalprice - lag(o_totalprice, 1)
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 4) AS delta
        | FROM orders)
        |SELECT o_custkey, o_orderkey, o_orderpriority, delta,
        | CASE WHEN delta > 0 THEN rank() OVER
        |  (PARTITION BY o_orderpriority
        |   ORDER BY (CASE WHEN delta > 0 THEN delta END) DESC NULLS LAST, o_orderkey)
        | END AS pos_rank,
        | CASE WHEN delta < 0 THEN rank() OVER
        |  (PARTITION BY o_orderpriority
        |   ORDER BY (CASE WHEN delta < 0 THEN delta END) ASC NULLS LAST, o_orderkey)
        | END AS neg_rank
        |FROM d""".stripMargin,

    "safe_div" ->
      """SELECT l_orderkey, l_linenumber,
        | round(CASE WHEN (l_quantity - 25) = 0 OR l_quantity IS NULL
        |  THEN NULL ELSE l_extendedprice / (l_quantity - 25) END, 6) AS ratio
        |FROM lineitem""".stripMargin,

    "regex_numeric_clean" ->
      """WITH t AS (
        | SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_discount > 0.07
        |    THEN '(' || format('{:,}', CAST(floor(l_extendedprice) AS BIGINT)) || ')'
        |   WHEN l_discount > 0.04
        |    THEN '−' || format('{:,}', CAST(floor(l_extendedprice) AS BIGINT))
        |   ELSE format('{:,}', CAST(floor(l_extendedprice) AS BIGINT))
        |  END AS messy
        | FROM lineitem)
        |SELECT l_orderkey, l_linenumber, messy,
        | TRY_CAST(regexp_replace(regexp_replace(regexp_replace(messy,
        |  ',', '', 'g'), '[−–—]', '-', 'g'), '^\((.*)\)$', '-\1') AS DOUBLE) AS cleaned
        |FROM t""".stripMargin,

    "trivial_row_filter" ->
      """SELECT l_orderkey, l_linenumber, l_discount, l_tax FROM lineitem
        |WHERE greatest(abs(l_discount), abs(l_tax)) > 0.05""".stripMargin,

    "scope_classify" ->
      """SELECT event_id, event_type,
        | CASE WHEN event_type = 'purchase' THEN 'conversion'
        |  WHEN event_type = 'error' THEN 'fault'
        |  ELSE 'engagement' END AS scope
        |FROM events""".stripMargin,

    "try_cast_garbage" ->
      """WITH t AS (
        | SELECT p_partkey,
        |  CASE WHEN p_size > 25 THEN p_name ELSE CAST(p_size AS VARCHAR) END AS raw
        | FROM part)
        |SELECT p_partkey, raw, TRY_CAST(raw AS DOUBLE) AS val FROM t""".stripMargin,

    "allnull_col_detect" ->
      """WITH u AS (
        | SELECT l_orderkey AS okey, l_quantity AS qty, l_returnflag AS flag
        | FROM lineitem
        | UNION ALL BY NAME
        | SELECT o_orderkey AS okey, o_totalprice AS total FROM orders)
        |SELECT count(okey) AS n_okey, count(qty) AS n_qty, count(flag) AS n_flag,
        | count(total) AS n_total, count(*) AS n_rows FROM u""".stripMargin,

    "sort_nulls_last" ->
      """SELECT event_id, event_type,
        | CASE WHEN value < 10 THEN NULL ELSE round(value, 4) END AS metric
        |FROM events
        |ORDER BY metric ASC NULLS LAST, event_id""".stripMargin,

    "event_window_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
        | count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "json_props_agg" ->
      """WITH e AS (
        | SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        | FROM events)
        |SELECT event_type, count(k) AS n, min(k) AS min_k, max(k) AS max_k,
        | round(avg(k), 6) AS avg_k
        |FROM e GROUP BY event_type""".stripMargin
  )
}
