package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** One-pass table profiling — the data-quality census every ingest
  * pipeline runs before trusting a new drop: per column, null count,
  * exact distinct count, and min/max (numeric columns as doubles,
  * string columns lexicographic).
  *
  * Shape: ONE aggregate over the table computes every metric for every
  * column (a single scan — never one query per column, which re-reads
  * the table N times), then the one-row result unpivots to a row per
  * column with a narrow explode. The multi-column exact distinct makes
  * Spark plan an Expand (one replica of the input per distinct
  * column) — the honest cost of exactness, paid so the DuckDB oracle
  * can reproduce the number bit-for-bit. The 100 TB version swaps
  * `countDistinct` for `approx_count_distinct` (HLL++, no Expand, one
  * scan) — that twin's error bound is pinned in SketchSpec — and keeps
  * everything else identical.
  */
object Profile {

  private val NumericCols = Seq("event_id", "user_id", "value", "ts_us")
  private val StringCols = Seq("event_type", "props")

  /** Profile core over any frame — numeric columns get double min/max,
    * string columns lexicographic; both get null + exact distinct
    * counts. Unit-tested on hand-built frames with real nulls
    * (ProfileSpec) — the synthetic corpus itself is fully non-null.
    *
    * Two passes over the table, each in the fast aggregate path:
    *
    *  - distinct counts: posexplode every column into narrow
    *    (cid, numeric-as-double, string-hash) rows and hash-distinct
    *    ONCE. A `countDistinct` per column instead plans Expand ×(N+1)
    *    followed by SORT aggregates (string min/max buffers push the
    *    whole wide agg off the hash path) — measured 13.1 s vs 4 s at
    *    sf1. Numeric columns stay RAW doubles (already 8 bytes; both
    *    engines agree that 0.0 = -0.0 and NaN groups once, so the
    *    count matches the oracle's raw DISTINCT exactly — longs up to
    *    2^53 are double-exact). Only string columns hash (60-bit md5,
    *    ~200-byte props values -> 8 bytes), and the oracle hashes the
    *    SAME way, so even a collision cancels cross-engine instead of
    *    failing the gate.
    *  - nulls + min/max: one Expand-free aggregate of the raw table.
    */
  private[operators] def profile(df: DataFrame, numericCols: Seq[String],
      stringCols: Seq[String]): DataFrame = {
    val parts =
      numericCols.map(c => struct(col(c).cast("double").as("nv"),
        lit(null).cast("long").as("hv"))) ++
      stringCols.map(c => struct(lit(null).cast("double").as("nv"),
        graft.functions.TextFunctions.hash60(col(c)).as("hv")))
    val dist = df.select(posexplode(array(parts: _*)).as(Seq("cid", "v")))
      .select(col("cid"), col("v.nv").as("nv"), col("v.hv").as("hv"))
      .filter(col("nv").isNotNull || col("hv").isNotNull)
      .distinct()
      .groupBy(col("cid")).agg(count(lit(1)).as("n_distinct"))
    val statAggs: Seq[Column] =
      (numericCols ++ stringCols)
        .map(c => (count(lit(1)) - count(col(c))).as(s"${c}__nulls")) ++
      numericCols.flatMap { c =>
        Seq(min(col(c)).cast("double").as(s"${c}__min"),
          max(col(c)).cast("double").as(s"${c}__max"))
      } ++
      stringCols.flatMap { c =>
        Seq(min(col(c)).as(s"${c}__smin"), max(col(c)).as(s"${c}__smax"))
      }
    val one = df.agg(statAggs.head, statAggs.tail: _*)
    val rows =
      numericCols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("cid"), lit(c).as("col_name"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__min").as("min_num"), col(s"${c}__max").as("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))
      } ++
      stringCols.zipWithIndex.map { case (c, i) =>
        struct(lit(numericCols.size + i).as("cid"), lit(c).as("col_name"),
          col(s"${c}__nulls").as("n_nulls"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          col(s"${c}__smin").as("min_str"), col(s"${c}__smax").as("max_str"))
      }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
      // left join: an all-null column has no distinct hashes at all
      .join(dist, Seq("cid"), "left")
      .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
      .select(col("col_name"), col("n_nulls"), col("n_distinct"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"))
  }

  def tableProfile(s: SparkSession, d: String): DataFrame =
    profile(
      Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("props"), expr("unix_micros(ts)").as("ts_us")),
      NumericCols, StringCols)

  /** Referential/key integrity audit over the star schema — the
    * constraint census an ingest pipeline runs before publishing a
    * drop: key uniqueness (rows minus distinct keys) and foreign-key
    * orphans (child keys with no parent), one row per constraint.
    *
    * Shape: each uniqueness check is one aggregate over its table
    * (map-side partial distinct); each orphan check is one LEFT join
    * on the key followed by a scalar aggregate — the planner
    * broadcasts genuinely small parents and shuffle-joins fact-fact
    * edges, same as any query on those keys. Nothing is collected;
    * the result is a 6-row constraint table.
    *
    * Each check is one pass over its table; the FK passes pre-aggregate
    * BOTH join sides to per-key counts before joining (r6), so the
    * orphan join shuffles |distinct keys| weighted rows instead of raw
    * child rows (6M lineitem rows -> 1.5M orderkey counts at sf1) and
    * map-side partial aggregation does the compression before the
    * exchange. The weighted algebra (n_child x n_parent per matched
    * key) is EXACTLY the grouped form of the oracle's raw LEFT JOIN,
    * including the duplicate-parent inflation semantics. Two rejected
    * fusions, both measured paired at sf1: folding countDistinct into
    * the FK join plans an Expand over the joined stream (7.9 s vs
    * 5.3 s); a localCheckpoint-pinned per-table key census re-used by
    * uq + fk pays census materialization plus a second full-size
    * shuffle (10.8 s vs 7.9 s). Scans are cheap (columnar, pruned to
    * the key columns); exchanges and materializations are not.
    */
  def integrityAudit(s: SparkSession, d: String): DataFrame = {
    // count(*) - count(DISTINCT k) for NON-NULL keys == sum over key
    // groups of (group size - 1) == sum(c) - n_groups. The grouped form
    // replaces the mixed plain+distinct aggregate — which plans an
    // Expand DOUBLING the table before the exchange (2 x 6M lineitem
    // rows at sf1) — with one keyed partial-agg shuffle and a scalar
    // fold over the bounded group table. Paired TimeOne at sf1 (r9):
    // 7.8-8.1 s -> ~5 s for the full 6-constraint audit.
    // The forms agree ONLY when no key is NULL (grouped: one NULL-key
    // group contributes c-1; distinct-count contract: every NULL-key
    // row is a violation), so the invariant is ENFORCED, not assumed
    // (ADVICE r9 #3): the NULL-key row mass rides the same scalar
    // aggregate for free (group keys survive the groupBy) and a
    // nonzero count raises at evaluation time instead of silently
    // under-reporting if a key column ever becomes nullable.
    // coalesce: a global sum over ZERO groups is NULL, but the audit
    // contract (and the oracle's count(*) - count(DISTINCT)) is 0 on
    // an empty table
    def uniq(name: String, df: DataFrame, keys: Seq[String]): DataFrame = {
      val nullKey = keys.map(col(_).isNull).reduce(_ || _)
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") - 1L), lit(0L)).as("nv"),
          coalesce(sum(col("c")), lit(0L)).as("n_checked"),
          coalesce(sum(when(nullKey, col("c")).otherwise(0L)), lit(0L))
            .as("n_nullkey"))
        .select(lit(name).as("constraint_name"),
          when(col("n_nullkey") === 0L, col("nv"))
            .otherwise(raise_error(concat(
              lit(s"$name: grouped uniqueness audit requires non-null keys; NULL-key rows: "),
              col("n_nullkey").cast("string"))))
            .cast("long").as("n_violations"),
          col("n_checked"))
    }
    def fk(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame =
      child.groupBy(col(ck)).agg(count(lit(1)).as("n_child"))
        .join(parent.groupBy(col(pk)).agg(count(lit(1)).as("n_par")),
          col(ck) === col(pk), "left")
        .agg(sum(when(col("n_par").isNull, col("n_child")).otherwise(0L)).as("n_violations"),
          sum(col("n_child") * coalesce(col("n_par"), lit(1L))).as("n_checked"))
        .select(lit(name).as("constraint_name"), col("n_violations"), col("n_checked"))
    uniq("uq_orders_orderkey", Tables.orders(s, d), Seq("o_orderkey"))
      .unionAll(uniq("uq_customer_custkey", Tables.customer(s, d), Seq("c_custkey")))
      .unionAll(uniq("uq_lineitem_orderkey_linenumber", Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber")))
      .unionAll(fk("fk_lineitem_orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey"))
      .unionAll(fk("fk_orders_customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"))
      .unionAll(fk("fk_customer_nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey"))
  }

  /** Join-key skew census — the diagnostic run BEFORE a big keyed
    * shuffle: per-key row counts over events.user_id, flagging every
    * key that carries more than 1.1x the mean key mass, with its share
    * of total mass in integer ppm (the threshold is a parameter of
    * the census; 1.1x surfaces the multinomial tail on this uniform
    * corpus — a crawl's power-law keys blow far past it). The flagged
    * set is what a salting/AQE-skew-join decision feeds on at 100 TB.
    * The flag compares pure integers (10 * n * n_keys > 11 * total) —
    * no float median, no rounding boundary cross-engine.
    *
    * Shape: one partial-agg groupBy builds the key-count table
    * (bounded by distinct keys); total and key count derive from that
    * bounded table as one scalar aggregate broadcast back as a 1-row
    * join. Nothing corpus-sized is re-shuffled.
    */
  def skewDetect(s: SparkSession, d: String): DataFrame = {
    // materialize the bounded key-count table ONCE — without it both
    // the stats aggregate and the flag filter re-derive it from the
    // corpus and the plan scans events twice (caught via Explain)
    val counts = Share(Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")))
    val stats = counts.agg(
      sum(col("n")).as("total"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(stats))
      .filter(col("n") * col("n_keys") * 10 > lit(11) * col("total"))
      .select(col("user_id"), col("n"),
        floor((col("n") * 1000000L).cast("double") / col("total"))
          .cast("long").as("mass_ppm"),
        round((col("n") * col("n_keys")).cast("double") / col("total"), 6)
          .as("x_mean"))
  }

  /** Pairwise Pearson correlation between the lineitem measures — the
    * profiling readout behind "are these columns redundant" (a |corr|
    * near 1 means one measure prices the other; near 0 means both
    * carry signal). The moment sums (Σx, Σx², Σxy) are EXACT: cents-
    * scaled longs summed in DECIMAL(38,0) (== DuckDB HUGEINT), one
    * corpus pass, one grouping-free aggregate — no shuffle at all
    * beyond the final scalar. Only the LAST step (cov/√vx/√vy)
    * converts the exact moments to double, with one rounding — the
    * embedding_pca_step conversion discipline, so the value is
    * engine-identical. Degenerate variance (constant column) emits
    * NULL, not a crash.
    */
  def corrMatrix(s: SparkSession, d: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val m = Tables.lineitem(s, d).select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      round(col("l_extendedprice") * 100).cast("long").as("p"),
      round(col("l_discount") * 100).cast("long").as("d"))
    // per-ROW products always fit a long (|p| <= 1e7 cents squared =
    // 1e14 << 2^63) — multiply in long and convert ONCE per row for
    // the decimal SUM buffers (only the running sums can overflow
    // int64). dec(x)*dec(y) per row instead planned a Decimal multiply
    // in the hot loop: measured 6.7 -> 4.1 s warm sf1.
    val st = m.agg(
      count(lit(1)).as("n"),
      sum(dec(col("q"))).as("sq"), sum(dec(col("p"))).as("sp"),
      sum(dec(col("d"))).as("sd"),
      sum(dec(col("q") * col("q"))).as("sqq"),
      sum(dec(col("p") * col("p"))).as("spp"),
      sum(dec(col("d") * col("d"))).as("sdd"),
      sum(dec(col("q") * col("p"))).as("sqp"),
      sum(dec(col("q") * col("d"))).as("sqd"),
      sum(dec(col("p") * col("d"))).as("spd"))
    // all three pairs explode from the ONE-row moment aggregate — a
    // 3-way union of pairRow selects instead re-plans the whole scan+
    // aggregate subtree per branch (measured: 3 parquet scans)
    def pairStruct(name: String, covS: Column, sx: Column, sxx: Column,
        sy: Column, syy: Column) =
      struct(lit(name).as("pair"), col("n").as("n"),
        (dec(col("n")) * covS - sx * sy).as("cov_n"),
        (dec(col("n")) * sxx - sx * sx).as("vx"),
        (dec(col("n")) * syy - sy * sy).as("vy"))
    st.select(explode(array(
        pairStruct("q_p", col("sqp"), col("sq"), col("sqq"), col("sp"), col("spp")),
        pairStruct("q_d", col("sqd"), col("sq"), col("sqq"), col("sd"), col("sdd")),
        pairStruct("p_d", col("spd"), col("sp"), col("spp"), col("sd"), col("sdd"))))
        .as("r"))
      .select(col("r.pair").as("pair"), col("r.n").as("n"),
        col("r.cov_n").as("cov_n"), col("r.vx").as("vx"), col("r.vy").as("vy"))
      .select(col("pair"), col("n"),
        when(col("vx") > 0 && col("vy") > 0,
          round(col("cov_n").cast("double") /
            sqrt(col("vx").cast("double")) /
            sqrt(col("vy").cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("corr"))
  }

  /** Distribution-drift census between two corpus snapshots — the
    * monitor a daily-crawl pipeline runs before letting a new drop into
    * the training mix ("did the language / source / length mix move?").
    * Snapshot split is doc_id parity (even = reference, odd = current —
    * the same stand-in split dedupIncremental uses for batch-vs-corpus).
    *
    * Three categorical lanes (lang, source, 200-char length bucket
    * capped at b9) unpivot to (feature, bucket, cur) rows; ONE
    * map-side-combining aggregate keyed by (feature, bucket) collapses
    * the corpus to ~100 count rows, and the per-feature totals join
    * back broadcast. Per bucket it emits the rate move in ppm and the
    * bucket's chi-square contribution, both on the exact integer lane
    * (ab_chi2's discipline): for a 2×K table the per-column term
    * algebraically reduces to D²/(R·C·n) with D = C·ref_n − R·cur_n,
    * so chi2_micro = floor(1e6·D²/(R·C·n)) — no expected-count floats,
    * no ln (PSI was rejected for the oracle lane: libm log is not
    * correctly-rounded cross-engine). Σ chi2_micro over a feature's
    * buckets ≈ 1e6 × the textbook statistic with K−1 dof.
    *
    * Scale: the only corpus-sized stage is the (feature, bucket) agg —
    * 3 narrow rows per doc in, ~100 rows out of the exchange. The
    * DECIMAL(38,0) lane holds while N·n < 1e16 per feature (≈ 1e8
    * docs); beyond that, shard the census by partition-date and SUM
    * the count rows before the ratio step (counts are the mergeable
    * state).
    */
  /** The (feature, bucket) count table the census is built from — ONE
    * scan of the docs frame (the three lanes explode from an inline
    * array, not a 3-way self-union that would scan the corpus three
    * times), one map-side-combining aggregate. Counts are the
    * mergeable state; the census applies the ratio step on top.
    */
  private[graft] def driftCounts(docs: DataFrame): DataFrame = {
    val lanes = docs.select(
      explode(array(
        struct(lit("lang").as("feature"), col("lang").as("bucket")),
        struct(lit("source").as("feature"), col("source").as("bucket")),
        struct(lit("len_bucket").as("feature"),
          concat(lit("b"),
            least(expr("n_chars div 200"), lit(9L)).cast("string"))
            .as("bucket")))).as("fb"),
      (col("doc_id") % 2 === 1).as("cur"))
    lanes.groupBy(col("fb.feature").as("feature"), col("fb.bucket").as("bucket"))
      .agg(
        sum(when(!col("cur"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(col("cur"), 1L).otherwise(0L)).as("cur_n"))
  }

  def distDrift(s: SparkSession, d: String): DataFrame = {
    val counts = driftCounts(Tables.documents(s, d))
    // per-feature totals as a window over the ~100-row count table —
    // NOT a second aggregation of the corpus (that plans a second
    // parquet scan; AQE exchange reuse would probably dedupe it at
    // runtime, but the single-scan plan shouldn't depend on that)
    val wf = org.apache.spark.sql.expressions.Window.partitionBy(col("feature"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val dD = dec(col("cur_tot")) * dec(col("ref_n")) -
      dec(col("ref_tot")) * dec(col("cur_n"))
    val den = dec(col("ref_tot")) * dec(col("cur_tot")) *
      dec(col("ref_n") + col("cur_n"))
    counts
      .withColumn("ref_tot", sum(col("ref_n")).over(wf))
      .withColumn("cur_tot", sum(col("cur_n")).over(wf))
      .select(col("feature"), col("bucket"), col("ref_n"), col("cur_n"),
        (expr("cur_n * 1000000 div cur_tot") -
          expr("ref_n * 1000000 div ref_tot")).as("delta_ppm"),
        when(col("ref_tot") > 0 && col("cur_tot") > 0,
          floor(dec(lit(1000000L)) * dD * dD / den).cast("long"))
          .otherwise(lit(null).cast("long")).as("chi2_micro"))
  }

  /** Interleave the low 16 bits of a long into even bit positions —
    * the classic Morton spread (4 shift-or-mask rounds), identical
    * integer ops on both engines. */
  private def spread16(c: Column): Column = {
    val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val e = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton z-value of two longs' low 16 bits (part key even bits,
    * supp key odd). Exposed for the spec's bit-loop replay. */
  private[operators] def zValue(pk: Column, sk: Column): Column =
    spread16(pk.bitwiseAND(lit(65535L)))
      .bitwiseOR(shiftleft(spread16(sk.bitwiseAND(lit(65535L))), 1))

  /** Z-order layout census — the data-layout decision behind
    * multi-dimensional scan skipping at 100 TB: if lineitem is
    * range-partitioned into files by a SINGLE key (pk_sort lane),
    * every file's zone map is tight on that key and useless on any
    * other — a supplier-keyed predicate prunes nothing. Range-
    * partitioned by the Morton z-value of (partkey, suppkey) (zorder
    * lane), BOTH keys' per-file min/max spans shrink to ~range/√files,
    * so zone maps prune on either dimension (the Delta/Iceberg
    * OPTIMIZE ZORDER rationale, measured here rather than asserted).
    * The census emits per-(layout, bucket) row counts and both keys'
    * zone-map bounds for 64 simulated files of each layout;
    * ZorderSpec turns the skipping claim into numbers (mean suppkey
    * span under zorder a fraction of the pk_sort lane's full-range
    * spans).
    *
    * Shape: one narrow projection computes z (10 shift/mask ops, all
    * codegen); the bucket boundaries come from ONE scalar min/max
    * aggregate broadcast back (never a global sort — the census
    * simulates range partitioning arithmetically); both layout lanes
    * explode from the same row inside the same scan, and ONE
    * (layout, bucket) aggregate emits the 128-row zone-map table.
    * Everything is exact integer: bucket = (v - lo) * 64 div span.
    */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.lineitem(s, d).select(
      col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val rng = rows.agg(
      min(col("pk")).as("pmin"), max(col("pk")).as("pmax"),
      min(col("sk")).as("smin"), max(col("sk")).as("smax"))
    // min-max normalize EACH dimension to the full 16 bits before
    // interleaving (the Delta OPTIMIZE ZORDER range-id step): raw keys
    // with asymmetric ranges put one key's bits in all the high Morton
    // positions and the other dimension stays unbounded per bucket —
    // caught quantitatively by ZorderSpec on the 10-supplier corpus
    rows.crossJoin(broadcast(rng))
      .withColumn("p16", expr("(pk - pmin) * 65536 div (pmax - pmin + 1)"))
      .withColumn("s16",
        expr("(sk - smin) * 65536 div (smax - smin + 1)").cast("long"))
      .withColumn("z", zValue(col("p16"), col("s16")))
      .select(explode(array(
        struct(lit("zorder").as("layout"),
          expr("z div 67108864").as("bucket")),   // z >> 26: 64 files
        struct(lit("pk_sort").as("layout"),
          expr("(pk - pmin) * 64 div (pmax - pmin + 1)").as("bucket"))))
        .as("lb"), col("pk"), col("sk"))
      .groupBy(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
        min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
  }

  /** Zone-map skip-rate eval — the readout that justifies OPTIMIZE
    * ZORDER in numbers: for each layout's 64 simulated files
    * (zorder_layout's zone maps) and six probe predicates (three
    * narrow ranges per dimension, anchored at the quarter points,
    * width = one ideal file's key span), count the files a scan
    * planner could SKIP because the probe range misses the file's
    * [min, max]. Expected shape, and what the spec pins: the
    * single-key layout skips almost everything on its own key and
    * nothing on the other; z-order skips heavily on BOTH — the
    * multi-dimensional pruning a 100 TB scan lives on. All integer
    * arithmetic (anchor = lo + span*q div 4), so the DuckDB replay is
    * exact.
    *
    * Shape: one corpus scan (inside zorderLayout) to the 128-row
    * zone-map table; the probe table derives from the same scalar
    * min/max aggregate and broadcasts into a bounded 768-row
    * nested-loop join; one tiny aggregate emits 12 rows.
    */
  /** The (pmin, pmax, smin, smax) scalar key-range aggregate both skip
    * evals anchor their probe ranges on. */
  private def keyRange(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
      min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))

  /** zones x quarter-anchored probes with the probed dimension's zone
    * bounds dispatched and the skip flag computed — the shared core of
    * pruning_skip_eval and hilbert_skip_eval (same probe arithmetic as
    * both DuckDB twins; edit all four together). `zones` must carry
    * (layout, n, pk_min, pk_max, sk_min, sk_max). */
  private def classifiedSkips(zones: DataFrame, rng: DataFrame): DataFrame = {
    def probe(cname: String, lo: String, hi: String, q: Int) =
      struct(lit(cname).as("probe_col"), lit(q.toLong).as("probe_id"),
        expr(s"$lo + (($hi - $lo + 1) * $q) div 4").as("lo_v"),
        expr(s"$lo + (($hi - $lo + 1) * $q) div 4 + ($hi - $lo + 1) div 64")
          .as("hi_v"))
    val probes = rng.select(explode(array(
      (1 to 3).map(q => probe("pk", "pmin", "pmax", q)) ++
        (1 to 3).map(q => probe("sk", "smin", "smax", q)): _*)).as("p"))
      .select(col("p.*"))
    zones.crossJoin(broadcast(probes))
      .select(col("layout"), col("probe_col"), col("probe_id"), col("n"),
        when(col("probe_col") === "pk", col("pk_min")).otherwise(col("sk_min")).as("zmin"),
        when(col("probe_col") === "pk", col("pk_max")).otherwise(col("sk_max")).as("zmax"),
        col("lo_v"), col("hi_v"))
      .withColumn("skip",
        col("zmax") < col("lo_v") || col("zmin") > col("hi_v"))
  }

  def pruningSkipEval(s: SparkSession, d: String): DataFrame =
    classifiedSkips(zorderLayout(s, d), keyRange(s, d))
      .groupBy(col("layout"), col("probe_col"), col("probe_id"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("skip"), 1L).otherwise(0L)).as("n_skipped"))

  /** Hilbert index of (x, y) on an n x n grid (n a power of two) —
    * the standard iterative xy2d walk (Hilbert 1891; code shape per
    * the well-known public formulation): per bit level s, the quadrant
    * id (3*rx XOR ry) weights s², then the frame reflects/swaps so the
    * child quadrant's curve orientation lines up. Driver-side integer
    * Scala: the per-cell index is PRECOMPUTED into a 65k-row lookup
    * table (hilbertTable) and broadcast — at any corpus scale the
    * curve assignment is a broadcast-hash join against a
    * grid-cardinality table, never per-row iteration. */
  private[operators] def hilbertXY2D(n: Int)(x0: Int, y0: Int): Int = {
    var x = x0; var y = y0; var d = 0; var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  /** Inverse walk (d2xy) — spec-only: HilbertSpec round-trips all 65536
    * cells and pins the defining adjacency property. */
  private[operators] def hilbertD2XY(n: Int)(d0: Int): (Int, Int) = {
    var (x, y) = (0, 0); var t = d0; var s = 1
    while (s < n) {
      val rx = (t / 2) & 1
      val ry = (t ^ rx) & 1
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx; y += s * ry
      t /= 4; s *= 2
    }
    (x, y)
  }

  /** The 256x256 Hilbert lookup table (hx, hy, hd), one driver pass. */
  private[operators] def hilbertTable(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val f = hilbertXY2D(256) _
    val rows = for (x <- 0 until 256; y <- 0 until 256)
      yield org.apache.spark.sql.Row(x.toLong, y.toLong, f(x, y).toLong)
    val schema = StructType(Seq(StructField("hx", LongType),
      StructField("hy", LongType), StructField("hd", LongType)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
  }

  /** Hilbert vs Morton skip-rate eval on the SAME 8-bit grid — the
    * layout comparison behind "liquid clustering uses Hilbert",
    * MEASURED rather than taken on folklore. Both curves bound both
    * dimensions (the single-key-vs-multi-dimension lesson is
    * pruning_skip_eval's); the curves differ only in step structure:
    * Hilbert's consecutive positions are always grid-adjacent while
    * Morton teleports at quadrant seams (HilbertSpec pins max step
    * distance 1 vs >100). What this eval shows about that difference:
    * at a power-of-two file count both curves' files align to the SAME
    * quadtree tiles and the zone maps come out identical (the first
    * cut of this eval measured exactly that); at the deliberately
    * non-aligned 48-file split the curves diverge per probe but are
    * COMPARABLE in aggregate — on axis-aligned quarter probes over
    * this corpus Morton's scanned-row mass even edges out Hilbert's by
    * ~3%, i.e. the provable Hilbert advantage is step locality, not a
    * per-instance win on every range query. Emitted per
    * (layout, probe): files skipped AND the row mass a scan must still
    * read — the actual I/O a planner pays.
    *
    * Shape: one corpus scan; the curve assignment is a broadcast join
    * against the 65k-cell lookup (Hilbert) and pure bit ops (Morton);
    * one (layout, bucket) aggregate to 96 zone rows; probes broadcast.
    */
  def hilbertSkipEval(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.lineitem(s, d).select(
      col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val rng = keyRange(s, d)
    val grid = rows.crossJoin(broadcast(rng))
      .withColumn("p8", expr("(pk - pmin) * 256 div (pmax - pmin + 1)"))
      .withColumn("s8", expr("(sk - smin) * 256 div (smax - smin + 1)"))
    val withCurves = grid
      .join(broadcast(hilbertTable(s)),
        col("p8") === col("hx") && col("s8") === col("hy"))
      .withColumn("z", zValue(col("p8"), col("s8")))
    // 48 files, NOT a power of two, deliberately: with 64 files both
    // curves' buckets align to the same 32x32 quadtree tiles and the
    // zone maps come out identical (measured — the first cut of this
    // eval couldn't tell the curves apart). A non-power-of-two file
    // count forces every file to be a curve SEGMENT crossing subtree
    // seams, which is where step locality pays: Hilbert's consecutive
    // positions are always grid-adjacent so a straddling file stays
    // compact, while Morton teleports at seams and the straddling
    // file's zone map inflates to the union of two far-apart tiles.
    val zones = withCurves
      .select(explode(array(
        struct(lit("hilbert").as("layout"), expr("(hd * 48) div 65536").as("bucket")),
        struct(lit("morton").as("layout"), expr("(z * 48) div 65536").as("bucket"))))
        .as("lb"), col("pk"), col("sk"))
      .groupBy(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
        min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
    classifiedSkips(zones, rng)
      .groupBy(col("layout"), col("probe_col"), col("probe_id"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("skip"), 1L).otherwise(0L)).as("n_skipped"),
        sum(when(col("skip"), 0L).otherwise(col("n"))).as("n_rows_scanned"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "zorder_layout" -> (zorderLayout _),
    "pruning_skip_eval" -> (pruningSkipEval _),
    "hilbert_skip_eval" -> (hilbertSkipEval _),
    "corr_matrix" -> (corrMatrix _),
    "dist_drift" -> (distDrift _),
    "table_profile" -> (tableProfile _),
    "integrity_audit" -> (integrityAudit _),
    "skew_detect" -> (skewDetect _)
  )

  // numeric: raw-value DISTINCT (double equality semantics match
  // Spark's); string: the SAME 60-bit md5 hash the Spark side uses,
  // so the collision sets are identical cross-engine
  private def numSelect(c: String) =
    s"""SELECT '$c' AS col_name, count(*) - count($c) AS n_nulls,
       | count(DISTINCT CAST($c AS DOUBLE)) AS n_distinct,
       | CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
       | CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
       |FROM ev""".stripMargin

  private def strSelect(c: String) =
    s"""SELECT '$c' AS col_name, count(*) - count($c) AS n_nulls,
       | count(DISTINCT ('0x' || substr(md5($c), 1, 15))::BIGINT) AS n_distinct,
       | CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       | min($c) AS min_str, max($c) AS max_str
       |FROM ev""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same Morton spread (4 shift-or-mask rounds) and integer range
    // bucketing; // = floor division == Spark's div (non-negative)
    "zorder_layout" ->
      """WITH raw AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |rng AS (SELECT min(pk) AS pmin, max(pk) AS pmax,
        |               min(sk) AS smin, max(sk) AS smax FROM raw),
        |base AS (
        | SELECT pk, sk,
        |  ((pk - pmin) * 65536 // (pmax - pmin + 1)) & 65535 AS p0,
        |  ((sk - smin) * 65536 // (smax - smin + 1)) & 65535 AS s0
        | FROM raw, rng),
        |r1 AS (SELECT pk, sk,
        |  (p0 | (p0 << 8)) & 16711935 AS p1,
        |  (s0 | (s0 << 8)) & 16711935 AS s1 FROM base),
        |r2 AS (SELECT pk, sk,
        |  (p1 | (p1 << 4)) & 252645135 AS p2,
        |  (s1 | (s1 << 4)) & 252645135 AS s2 FROM r1),
        |r3 AS (SELECT pk, sk,
        |  (p2 | (p2 << 2)) & 858993459 AS p3,
        |  (s2 | (s2 << 2)) & 858993459 AS s3 FROM r2),
        |r4 AS (SELECT pk, sk,
        |  (p3 | (p3 << 1)) & 1431655765 AS p4,
        |  (s3 | (s3 << 1)) & 1431655765 AS s4 FROM r3),
        |zt AS (SELECT pk, sk, p4 | (s4 << 1) AS z FROM r4),
        |lanes AS (
        | SELECT 'zorder' AS layout,
        |  CAST(z // 67108864 AS BIGINT) AS bucket, pk, sk FROM zt
        | UNION ALL
        | SELECT 'pk_sort',
        |  CAST((pk - pmin) * 64 // (pmax - pmin + 1) AS BIGINT),
        |  pk, sk FROM zt, rng)
        |SELECT layout, bucket, count(*) AS n,
        | min(pk) AS pk_min, max(pk) AS pk_max,
        | min(sk) AS sk_min, max(sk) AS sk_max
        |FROM lanes GROUP BY 1, 2""".stripMargin,

    // zone maps (same Morton/bucket replay as zorder_layout) x probe
    // ranges -> files a scan could skip; all-integer anchors
    "pruning_skip_eval" ->
      """WITH raw AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |rng AS (SELECT min(pk) AS pmin, max(pk) AS pmax,
        |               min(sk) AS smin, max(sk) AS smax FROM raw),
        |base AS (
        | SELECT pk, sk,
        |  ((pk - pmin) * 65536 // (pmax - pmin + 1)) & 65535 AS p0,
        |  ((sk - smin) * 65536 // (smax - smin + 1)) & 65535 AS s0
        | FROM raw, rng),
        |r1 AS (SELECT pk, sk,
        |  (p0 | (p0 << 8)) & 16711935 AS p1,
        |  (s0 | (s0 << 8)) & 16711935 AS s1 FROM base),
        |r2 AS (SELECT pk, sk,
        |  (p1 | (p1 << 4)) & 252645135 AS p2,
        |  (s1 | (s1 << 4)) & 252645135 AS s2 FROM r1),
        |r3 AS (SELECT pk, sk,
        |  (p2 | (p2 << 2)) & 858993459 AS p3,
        |  (s2 | (s2 << 2)) & 858993459 AS s3 FROM r2),
        |r4 AS (SELECT pk, sk,
        |  (p3 | (p3 << 1)) & 1431655765 AS p4,
        |  (s3 | (s3 << 1)) & 1431655765 AS s4 FROM r3),
        |zt AS (SELECT pk, sk, p4 | (s4 << 1) AS z FROM r4),
        |lanes AS (
        | SELECT 'zorder' AS layout,
        |  CAST(z // 67108864 AS BIGINT) AS bucket, pk, sk FROM zt
        | UNION ALL
        | SELECT 'pk_sort',
        |  CAST((pk - pmin) * 64 // (pmax - pmin + 1) AS BIGINT),
        |  pk, sk FROM zt, rng),
        |zones AS (
        | SELECT layout, bucket,
        |  min(pk) AS pk_min, max(pk) AS pk_max,
        |  min(sk) AS sk_min, max(sk) AS sk_max
        | FROM lanes GROUP BY 1, 2),
        |qs AS (SELECT unnest([1, 2, 3]) AS q),
        |probes AS (
        | SELECT 'pk' AS probe_col, CAST(q AS BIGINT) AS probe_id,
        |  pmin + ((pmax - pmin + 1) * q) // 4 AS lo_v,
        |  pmin + ((pmax - pmin + 1) * q) // 4 + (pmax - pmin + 1) // 64 AS hi_v
        | FROM rng, qs
        | UNION ALL
        | SELECT 'sk', CAST(q AS BIGINT),
        |  smin + ((smax - smin + 1) * q) // 4,
        |  smin + ((smax - smin + 1) * q) // 4 + (smax - smin + 1) // 64
        | FROM rng, qs)
        |SELECT layout, probe_col, probe_id,
        | CAST(count(*) AS BIGINT) AS n_files,
        | CAST(sum(CASE WHEN
        |   (CASE WHEN probe_col = 'pk' THEN pk_max ELSE sk_max END) < lo_v
        |   OR (CASE WHEN probe_col = 'pk' THEN pk_min ELSE sk_min END) > hi_v
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped
        |FROM zones, probes GROUP BY 1, 2, 3""".stripMargin,
    // same 8-bit grid; hilbert via a RECURSIVE 8-round xy2d walk over
    // the distinct cells (the lookup-table twin of the Spark side),
    // morton via the shift-or-mask chain; skip/scan per probe
    "hilbert_skip_eval" ->
      """WITH RECURSIVE raw AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |rng AS (SELECT min(pk) AS pmin, max(pk) AS pmax,
        |               min(sk) AS smin, max(sk) AS smax FROM raw),
        |grid AS (
        | SELECT pk, sk,
        |  (pk - pmin) * 256 // (pmax - pmin + 1) AS p8,
        |  (sk - smin) * 256 // (smax - smin + 1) AS s8
        | FROM raw, rng),
        |cells AS (SELECT DISTINCT p8, s8 FROM grid),
        |hrec AS (
        | SELECT p8, s8, p8 AS x, s8 AS y, CAST(0 AS BIGINT) AS hd, 128 AS s
        | FROM cells
        | UNION ALL
        | SELECT p8, s8,
        |  CASE WHEN (y & s) = 0
        |   THEN (CASE WHEN (x & s) > 0 THEN 255 - y ELSE y END) ELSE x END,
        |  CASE WHEN (y & s) = 0
        |   THEN (CASE WHEN (x & s) > 0 THEN 255 - x ELSE x END) ELSE y END,
        |  hd + s * s * (CASE
        |   WHEN (x & s) > 0 AND (y & s) = 0 THEN 3
        |   WHEN (x & s) > 0 AND (y & s) > 0 THEN 2
        |   WHEN (x & s) = 0 AND (y & s) > 0 THEN 1
        |   ELSE 0 END),
        |  s // 2
        | FROM hrec WHERE s > 0),
        |hmap AS (SELECT p8, s8, hd FROM hrec WHERE s = 0),
        |m1 AS (SELECT pk, sk, p8, s8,
        |  (p8 | (p8 << 8)) & 16711935 AS q1,
        |  (s8 | (s8 << 8)) & 16711935 AS t1 FROM grid),
        |m2 AS (SELECT pk, sk, p8, s8,
        |  (q1 | (q1 << 4)) & 252645135 AS q2,
        |  (t1 | (t1 << 4)) & 252645135 AS t2 FROM m1),
        |m3 AS (SELECT pk, sk, p8, s8,
        |  (q2 | (q2 << 2)) & 858993459 AS q3,
        |  (t2 | (t2 << 2)) & 858993459 AS t3 FROM m2),
        |m4 AS (SELECT pk, sk, p8, s8,
        |  (q3 | (q3 << 1)) & 1431655765 AS q4,
        |  (t3 | (t3 << 1)) & 1431655765 AS t4 FROM m3),
        |zj AS (
        | SELECT m4.pk, m4.sk, hmap.hd, (q4 | (t4 << 1)) AS z
        | FROM m4 JOIN hmap ON hmap.p8 = m4.p8 AND hmap.s8 = m4.s8),
        |lanes AS (
        | SELECT 'hilbert' AS layout, CAST((hd * 48) // 65536 AS BIGINT) AS bucket,
        |  pk, sk FROM zj
        | UNION ALL
        | SELECT 'morton', CAST((z * 48) // 65536 AS BIGINT), pk, sk FROM zj),
        |zones AS (
        | SELECT layout, bucket, count(*) AS n,
        |  min(pk) AS pk_min, max(pk) AS pk_max,
        |  min(sk) AS sk_min, max(sk) AS sk_max
        | FROM lanes GROUP BY 1, 2),
        |qs AS (SELECT unnest([1, 2, 3]) AS q),
        |probes AS (
        | SELECT 'pk' AS probe_col, CAST(q AS BIGINT) AS probe_id,
        |  pmin + ((pmax - pmin + 1) * q) // 4 AS lo_v,
        |  pmin + ((pmax - pmin + 1) * q) // 4 + (pmax - pmin + 1) // 64 AS hi_v
        | FROM rng, qs
        | UNION ALL
        | SELECT 'sk', CAST(q AS BIGINT),
        |  smin + ((smax - smin + 1) * q) // 4,
        |  smin + ((smax - smin + 1) * q) // 4 + (smax - smin + 1) // 64
        | FROM rng, qs),
        |marked AS (
        | SELECT layout, probe_col, probe_id, n,
        |  ((CASE WHEN probe_col = 'pk' THEN pk_max ELSE sk_max END) < lo_v
        |   OR (CASE WHEN probe_col = 'pk' THEN pk_min ELSE sk_min END) > hi_v)
        |   AS skip
        | FROM zones, probes)
        |SELECT layout, probe_col, probe_id,
        | CAST(count(*) AS BIGINT) AS n_files,
        | CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
        | CAST(sum(CASE WHEN skip THEN 0 ELSE n END) AS BIGINT) AS n_rows_scanned
        |FROM marked GROUP BY 1, 2, 3""".stripMargin,

    // 2xK chi-square per-bucket term reduced to D^2/(R*C*n) on the
    // HUGEINT lane (== Spark DECIMAL(38,0)); ppm deltas in floor longs
    "dist_drift" ->
      """WITH docs AS (
        | SELECT lang, source, least(n_chars // 200, 9) AS len_b,
        |        (doc_id % 2 = 1) AS cur
        | FROM documents),
        |feat AS (
        | SELECT 'lang' AS feature, lang AS bucket, cur FROM docs
        | UNION ALL SELECT 'source', source, cur FROM docs
        | UNION ALL SELECT 'len_bucket', 'b' || CAST(len_b AS VARCHAR), cur
        |  FROM docs),
        |counts AS (
        | SELECT feature, bucket,
        |  CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
        |  CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
        | FROM feat GROUP BY 1, 2),
        |tot AS (
        | SELECT feature, CAST(sum(ref_n) AS BIGINT) AS ref_tot,
        |        CAST(sum(cur_n) AS BIGINT) AS cur_tot
        | FROM counts GROUP BY 1)
        |SELECT c.feature, c.bucket, c.ref_n, c.cur_n,
        | CAST(c.cur_n * 1000000 // t.cur_tot
        |      - c.ref_n * 1000000 // t.ref_tot AS BIGINT) AS delta_ppm,
        | CASE WHEN t.ref_tot > 0 AND t.cur_tot > 0 THEN
        |  CAST((1000000::HUGEINT
        |        * (t.cur_tot::HUGEINT * c.ref_n - t.ref_tot::HUGEINT * c.cur_n)
        |        * (t.cur_tot::HUGEINT * c.ref_n - t.ref_tot::HUGEINT * c.cur_n))
        |    // (t.ref_tot::HUGEINT * t.cur_tot * (c.ref_n + c.cur_n))
        |    AS BIGINT)
        | ELSE NULL END AS chi2_micro
        |FROM counts c JOIN tot t USING (feature)""".stripMargin,

    // exact HUGEINT moments (== Spark DECIMAL(38,0)); double + sqrt
    // only at the last step, one rounding (pca conversion discipline)
    "corr_matrix" ->
      """WITH m AS (
        | SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |        CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
        |        CAST(round(l_discount * 100) AS BIGINT) AS d
        | FROM lineitem),
        |s AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(q::HUGEINT) AS sq, sum(p::HUGEINT) AS sp, sum(d::HUGEINT) AS sd,
        |  sum(q::HUGEINT*q) AS sqq, sum(p::HUGEINT*p) AS spp,
        |  sum(d::HUGEINT*d) AS sdd, sum(q::HUGEINT*p) AS sqp,
        |  sum(q::HUGEINT*d) AS sqd, sum(p::HUGEINT*d) AS spd
        | FROM m),
        |pairs AS (
        | SELECT 'q_p' AS pair, n, n*sqp - sq*sp AS cov_n,
        |        n*sqq - sq*sq AS vx, n*spp - sp*sp AS vy FROM s
        | UNION ALL SELECT 'q_d', n, n*sqd - sq*sd, n*sqq - sq*sq,
        |        n*sdd - sd*sd FROM s
        | UNION ALL SELECT 'p_d', n, n*spd - sp*sd, n*spp - sp*sp,
        |        n*sdd - sd*sd FROM s)
        |SELECT pair, n,
        | CASE WHEN vx > 0 AND vy > 0 THEN
        |  round(CAST(cov_n AS DOUBLE) / sqrt(CAST(vx AS DOUBLE))
        |        / sqrt(CAST(vy AS DOUBLE)), 6)
        | ELSE NULL END AS corr
        |FROM pairs""".stripMargin,

    "table_profile" ->
      (s"""WITH ev AS (
          | SELECT event_id, user_id, event_type, value, props,
          |  epoch_us(ts) AS ts_us FROM events)
          |""".stripMargin +
        (NumericCols.map(numSelect) ++ StringCols.map(strSelect))
          .mkString("\nUNION ALL\n")),

    "integrity_audit" ->
      """SELECT 'uq_orders_orderkey' AS constraint_name,
        | CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
        | count(*) AS n_checked FROM orders
        |UNION ALL
        |SELECT 'uq_customer_custkey',
        | CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT), count(*) FROM customer
        |UNION ALL
        |SELECT 'uq_lineitem_orderkey_linenumber',
        | CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT), count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'fk_lineitem_orders',
        | CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*)
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'fk_orders_customer',
        | CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*)
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'fk_customer_nation',
        | CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*)
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin,

    "skew_detect" ->
      """WITH counts AS (
        | SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |stats AS (
        | SELECT sum(n) AS total, count(*) AS n_keys FROM counts)
        |SELECT user_id, n,
        | CAST(floor(CAST(n * 1000000 AS DOUBLE) / total) AS BIGINT) AS mass_ppm,
        | round(CAST(n * n_keys AS DOUBLE) / total, 6) AS x_mean
        |FROM counts CROSS JOIN stats
        |WHERE 10 * n * n_keys > 11 * total""".stripMargin
  )
}
