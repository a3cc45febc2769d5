package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Frequent-items (heavy-hitters) and vocabulary-statistics operators —
  * the sketch tier of the training-data pipeline. Finding the most
  * frequent tokens/n-grams of a crawl drives stopword lists, boilerplate
  * vocabularies, and tokenizer merges, and the naive plan (groupBy over
  * every token) shuffles the ENTIRE vocabulary — trillions of distinct
  * n-grams at 100 TB.
  *
  * `heavy_hitters` instead runs the two-pass candidate + exact-recount
  * shape:
  *
  *  1. one narrow mapPartitions pass runs a Misra–Gries summary (a
  *     deterministic frequent-items sketch; public algorithm, see
  *     Misra & Gries 1982) with capacity `cap` per partition. The union
  *     of the per-partition survivor sets is guaranteed to contain every
  *     token with global count > n/(cap+1); at most
  *     `partitions x cap` candidate rows leave the scan — KBs, not a
  *     vocabulary-sized shuffle;
  *  2. a second scan recounts ONLY the candidates (broadcast semi-join
  *     on the bounded candidate set, then a keyed agg whose shuffle
  *     carries candidate tokens only) and takes the global top-k.
  *
  * The result is then CERTIFIED exact on the driver: if no partition
  * ever evicted a counter the candidate set is the whole vocabulary, and
  * otherwise the k-th returned count must strictly exceed n/(cap+1) —
  * in both cases no non-candidate token can reach (or tie into) the
  * top-k, so the output equals the exact top-k regardless of partition
  * layout. A corpus that fails the certificate raises (the fix is a
  * larger `cap`), it never silently returns an approximate list.
  *
  * The corpus is deliberately scanned twice (tokenize is re-run in the
  * recount pass): at 100 TB two linear scans are far cheaper than
  * materializing a corpus-sized token table between passes.
  */
object Sketch {

  /** One Misra–Gries summary row: a surviving candidate (`token` set,
    * counters zero) or the per-partition bookkeeping row (`token` null,
    * `part_total` = tokens seen, `evictions` = decrement-all rounds).
    */
  case class MgRow(token: String, part_total: Long, evictions: Long)

  /** Misra–Gries frequent-items summary of one partition's token
    * stream. Classic decrement-all form: an unseen token with the map
    * at capacity decrements every counter (amortized O(1)/token — each
    * decrement round removes cap+1 units of total count, so there are
    * at most n/(cap+1) rounds). Survivors are a superset of every token
    * with partition count > n_p/(cap+1).
    */
  private[operators] def misraGries(it: Iterator[String], cap: Int): Iterator[MgRow] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    var total = 0L
    var evictions = 0L
    while (it.hasNext) {
      val t = it.next()
      total += 1
      m.get(t) match {
        case Some(c) => m.update(t, c + 1)
        case None if m.size < cap => m.update(t, 1L)
        case None =>
          evictions += 1
          // snapshot before mutating: HashMap iteration order is not
          // stable under concurrent update/remove
          val snap = m.toArray
          var i = 0
          while (i < snap.length) {
            val (k, v) = snap(i)
            if (v == 1L) m.remove(k) else m.update(k, v - 1L)
            i += 1
          }
      }
    }
    m.keysIterator.map(MgRow(_, 0L, 0L)) ++
      Iterator.single(MgRow(null, total, evictions))
  }

  /** Exact global top-k most frequent tokens (count desc, token asc
    * tiebreak), computed with the certified sketch-then-recount plan
    * described on the object. Output: (token, cnt, rank), k rows.
    *
    * Contract: the plan presumes a heavy-tailed (Zipfian) frequency
    * distribution — each top-k token must carry > 1/(cap+1) of total
    * token mass for the certificate to prove exactness. Real-crawl
    * heads satisfy that with small caps; a near-FLAT distribution
    * (e.g. the ScaleUp bench corpus, whose replicas deliberately share
    * no vocabulary, so 10x data means 10x types at constant per-type
    * mass) needs cap >= vocabulary size to certify — the round-5 sf1
    * sweep caught exactly that with cap=128 (kth=9117 < n/129: refused,
    * loudly). Default cap 1024 keeps the summary bounded (32 partitions
    * x 1024 = 32k candidate rows) while covering the 10x corpus's ~310
    * types eviction-free; for distributions flatter than 1/(cap+1) the
    * honest answer is the full vocabulary agg (token_freq_spectrum's
    * plan), not a sketch.
    */
  def heavyHitters(s: SparkSession, d: String, k: Int = 20, cap: Int = 1024): DataFrame = {
    import s.implicits._
    def toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))

    // pass 1: bounded summary table (≤ partitions x (cap+1) rows) —
    // shared because it feeds both the candidate join and the two
    // certificate scalars
    val summary = Share(toks.as[String]
      .mapPartitions(it => misraGries(it, cap))
      .toDF("token", "part_total", "evictions"))
    val cands = summary.filter(col("token").isNotNull).select("token").distinct()

    // pass 2: exact recount of candidates only; the agg shuffle carries
    // candidate tokens, never the full vocabulary
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    // shared: certificate + result
    val top = Share(toks.join(broadcast(cands), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k))

    // driver-side exactness certificate (bounded scalar aggregates on
    // the checkpointed tables — no extra corpus scan)
    val (n, ev) = summary.filter(col("token").isNull)
      .agg(coalesce(sum("part_total"), lit(0L)), coalesce(sum("evictions"), lit(0L)))
      .as[(Long, Long)].head()
    if (ev > 0L) {
      val kth = top.agg(coalesce(min("cnt"), lit(0L))).as[Long].head()
      require(top.count() == k && kth * (cap + 1L) > n,
        s"heavy_hitters: top-$k not certifiably exact at cap=$cap " +
          s"(kth=$kth, n=$n) — raise cap")
    }
    top
  }

  /** Token frequency spectrum (Zipf diagnostics): one row per observed
    * frequency value with the number of vocabulary types occurring
    * exactly that often. The cnt=1 row is the hapax-legomenon count and
    * the largest cnt is the hottest token's frequency — the standard
    * corpus-health curve a curation pipeline watches for boilerplate
    * (fat head) and OCR noise (fat singleton tail). Two keyed aggs,
    * both partial+final; output is tiny (distinct frequency VALUES,
    * O(sqrt n) by sum bound). The 100 TB shortcut for the vocabulary
    * size alone is approx_count_distinct (HLL++), whose error bound
    * SketchSpec pins against this exact path.
    */
  def tokenFreqSpectrum(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt")).agg(count(lit(1)).as("n_types"))

  /** HyperLogLog distinct-count sketch (Flajolet et al. 2007), built
    * from scratch on the md5-based hash60 so the DuckDB oracle can
    * replay it bit-for-bit: approx distinct `l_orderkey` per
    * `l_returnflag` next to the exact count and the error in ppm.
    * m = 1024 registers (p = 10): top 10 hash bits pick the register,
    * the rank of the leading 1-bit in the remaining 50 bits updates it
    * via MAX — which makes the sketch FULLY MERGEABLE: Spark's partial
    * aggregation merges per-partition registers map-side, so at 100 TB
    * the exchange carries <= groups x 1024 register rows, never keys.
    * `hll_est_merged` re-derives the same estimate from per-year
    * (year(l_shipdate)) register tables merged by a second MAX — the
    * pre-aggregated-sketch-per-partition-grain warehouse pattern — and
    * is pinned equal to the direct estimate (MAX is associative; the
    * oracle computes hll_est from RAW rows and hll_est_merged via the
    * per-grain merge, so the equality is cross-engine proof, not a
    * shared subtree).
    *
    * Everything is cross-engine exact: rho via `51 - length(bin(rem))`
    * (pure integer, no floating log2), the register sum carried as the
    * integer Σ 2^(51-rho) (<= 2^62, fits BIGINT), and the final
    * alpha*m²/S division done in IEEE doubles with the identical
    * literal expression on both engines. The ln-based small-range
    * (linear-counting) correction is deliberately OMITTED — libm log
    * is not correctly-rounded cross-engine, so the raw estimate is the
    * only hash-stable form; below ~2.5m distinct values the raw
    * estimate carries the documented HLL small-range bias (visible at
    * sf0.001; at sf0.01+ the groups sit in the ±1.04/√m ≈ 3% regime).
    */
  def hllDistinct(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // ONE lineitem pass (r13, guide §2.3/§2.4): the distinct
    // (flag, orderkey) spine feeds BOTH consumers — the exact count is
    // its per-flag row count (the isNotNull guard below makes the
    // count == countDistinct equivalence hold even on a corpus with
    // null keys; on this corpus l_orderkey is never null so the filter
    // is a no-op), and the register table hashes the distinct keys
    // (MAX per bucket over the same value set: duplicate keys never
    // move a register, so hashing each key once is value-identical and
    // drops ~40% of the md5 calls). The previous shape scanned
    // lineitem twice — once for the md5/register pass (via a per-year
    // grain, whose merged (flag, bucket) table this construction
    // equals exactly — MAX is associative, so registers over the
    // distinct spine == the MAX-merge of any partition grain's
    // registers) and once for countDistinct. The oracle still replays
    // hll_est from RAW rows and hll_est_merged via the per-year merge,
    // so hash equality of the two columns stays a cross-engine proof
    // that the merge is lossless, not a tautology on a shared subtree.
    // The checkpoint pins the hashing scan so both estimate branches
    // read the bounded register table (<= groups x 1024 rows), never
    // the corpus. At 100 TB the register tables aren't built by one
    // global shuffle at all — each ingest partition aggregates its own
    // 1024 registers and the merge query reads the tiny register
    // table; this operator is the self-contained replay of that merge
    // algebra at a grain one query can afford.
    val pairs = Share(li
      .filter(col("l_orderkey").isNotNull)
      .select(col("l_returnflag"), col("l_orderkey")).distinct())
    // share the MERGED registers (<= groups x 1024 rows — KBs), never
    // the per-grain table: the bounded register table is the only
    // thing two consumers re-read
    val merged = Share(pairs
      .select(col("l_returnflag"),
        hash60(col("l_orderkey").cast("string")).as("hv"))
      .select(col("l_returnflag"),
        shiftright(col("hv"), 50).as("bucket"),
        col("hv").bitwiseAND(lit((1L << 50) - 1)).as("rem"))
      .withColumn("rho",
        when(col("rem") === 0L, lit(51))
          .otherwise(lit(51) - length(bin(col("rem")))))
      .groupBy(col("l_returnflag"), col("bucket")).agg(max(col("rho")).as("r")))
    def estimate(reg: DataFrame, out: String): DataFrame =
      reg.groupBy(col("l_returnflag"))
        .agg((sum(expr("shiftleft(cast(1 as bigint), 51 - r)")) +
          (lit(1024L) - count(lit(1))) * lit(1L << 51)).as("s_scaled"))
        .select(col("l_returnflag"),
          floor(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(1024.0)) *
            lit(1048576.0) * lit(2251799813685248.0) /
            col("s_scaled").cast("double")).cast("long").as(out))
    pairs.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"))
      .join(estimate(merged, "hll_est"), Seq("l_returnflag"))
      .join(estimate(merged, "hll_est_merged"), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact"), col("hll_est"),
        col("hll_est_merged"),
        floor(abs(col("hll_est") - col("n_exact")).cast("double") * lit(1000000.0) /
          col("n_exact").cast("double")).cast("long").as("err_ppm"))
      .orderBy(col("l_returnflag"))
  }

  /** Count-Min sketch frequency estimation (Cormode & Muthukrishnan
    * 2005) with its quality eval — the third member of the sketch
    * family (Misra-Gries: heavy hitters; HLL: distinct counts; CMS:
    * point frequencies). Depth 4 x width 1024 integer registers, row
    * hashes h_i(t) = hash60("cm<i>_" ++ t) mod 1024, so the DuckDB
    * oracle replays every register and lookup bit-for-bit; the
    * estimate for a token is min_i regs[i][h_i(t)] — always >= the
    * true count (only additive collisions), overestimate bounded by
    * 2n/w per row with high probability.
    *
    * Output: the exact top-20 tokens (cnt desc, token tiebreak — the
    * heavy_hitters candidate shape) with exact count, CMS estimate,
    * and overestimate in ppm. Everything is integer arithmetic.
    *
    * Scale shape: the register build is ONE pass over the token
    * stream exploded x4 (posexplode of the four bucket ids), partial-
    * aggregated into <= 4 x 1024 groups — the exchange carries KBs
    * regardless of corpus size, and registers MERGE by elementwise
    * sum (the same partial-agg algebra, so a 100 TB corpus or a
    * stream of daily sketches sums into one table). The exact-count
    * side exists because this is an EVAL operator (dedup_eval's
    * pattern): production lookups would read the 4096-row register
    * table alone.
    */
  def cmsketchEval(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
    def bucketCols(t: Column): Column = array((0 until 4).map { i =>
      pmod(hash60(concat(lit(s"cm${i}_"), t)), lit(1024L))
    }: _*)
    // bounded (<= 4096 rows) register table read once per lookup join
    val regs = Share(toks
      .select(posexplode(bucketCols(col("token"))).as(Seq("row_i", "bucket")))
      .groupBy(col("row_i"), col("bucket")).agg(count(lit(1)).as("c")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
    top.select(col("token"), col("cnt"), col("rank"),
        posexplode(bucketCols(col("token"))).as(Seq("row_i", "bucket")))
      .join(regs, Seq("row_i", "bucket"))
      .groupBy(col("token"), col("cnt"), col("rank"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("token"), col("cnt"), col("rank"), col("cms_est"),
        floor((col("cms_est") - col("cnt")).cast("double") * lit(1000000.0) /
          col("cnt").cast("double")).cast("long").as("overest_ppm"))
  }

  /** HLL set algebra — union and intersection cardinality estimates
    * from REGISTER tables alone, the query a 100 TB warehouse answers
    * without re-touching raw data ("how many unique orders across
    * flags A and N?"): union registers are the elementwise MAX of the
    * two operand register tables (exact HLL-union — the union sketch
    * IS the sketch of the union), intersection by inclusion-exclusion
    * (est_a + est_b - est_union; documented noisy for small overlaps,
    * emitted raw and signed rather than clamped). The pair list is the
    * l_returnflag domain — a schema constant like the recode maps, so
    * the plan stays a LocalTableScan broadcast, never a data-driven
    * cartesian. The exact union count rides along as the eval
    * baseline, same as hll_distinct's n_exact.
    *
    * All math is the hll_distinct literal chain (integer rho/register
    * sums, one IEEE double division) — the DuckDB oracle replays every
    * register of every pair.
    */
  def hllUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    // ONE lineitem pass and ONE corpus-sized exchange (r14, guide
    // §2.3/§2.4). The per-order flag-set table byOrder IS the distinct
    // (src, orderkey) spine in disguise: exploding each order's flag
    // set enumerates every distinct pair exactly once. So the query
    // groups raw rows by orderkey ONCE (map-side partial collect_set
    // compresses the clustered lineitem scan to ~|orders| rows before
    // the exchange) and every other consumer — the register pass (MAX
    // per bucket: hashing each distinct key once is value-identical),
    // the per-flag counts, the pairwise intersections — derives from
    // the checkpointed byOrder without touching the corpus again. The
    // r13 form paid a SECOND corpus exchange for a separate distinct-
    // pair spine (~3x the rows of byOrder) and the r12 form paid a
    // second lineitem scan; this shape subsumes both. The oracle still
    // computes every channel from raw rows — cross-engine proof, not a
    // shared subtree.
    val byOrder = Share(li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_returnflag")).as("fs")))
    val spine = byOrder
      .select(col("l_orderkey"), explode(col("fs")).as("src"))
    // bounded register table (<= |domain| x 1024 rows), read by four
    // consumers below
    val regs = Share(spine
      .select(col("src"),
        hash60(col("l_orderkey").cast("string")).as("hv"))
      .select(col("src"), shiftright(col("hv"), 50).as("bucket"),
        col("hv").bitwiseAND(lit((1L << 50) - 1)).as("rem"))
      .withColumn("rho",
        when(col("rem") === 0L, lit(51))
          .otherwise(lit(51) - length(bin(col("rem")))))
      .groupBy(col("src"), col("bucket")).agg(max(col("rho")).as("r")))
    def estCol(sScaled: Column): Column =
      floor(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(1024.0)) *
        lit(1048576.0) * lit(2251799813685248.0) /
        sScaled.cast("double")).cast("long")
    def sScaledAgg: Column =
      sum(expr("shiftleft(cast(1 as bigint), 51 - r)")) +
        (lit(1024L) - count(lit(1))) * lit(1L << 51)
    val est1 = regs.groupBy(col("src"))
      .agg(sScaledAgg.as("s_scaled"))
      .select(col("src"), estCol(col("s_scaled")).as("est"))
    val pairs = Seq(("A", "N"), ("A", "R"), ("N", "R")).toDF("src_a", "src_b")
    val ra = pairs.join(regs.withColumnRenamed("src", "src_a"), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("bucket"), col("r").as("r_a"))
    val rb = pairs.join(regs.withColumnRenamed("src", "src_b"), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("bucket"), col("r").as("r_b"))
    val unionEst = ra.join(rb, Seq("src_a", "src_b", "bucket"), "full_outer")
      .select(col("src_a"), col("src_b"),
        greatest(coalesce(col("r_a"), lit(0)), coalesce(col("r_b"), lit(0))).as("r"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sScaledAgg.as("s_scaled"))
      .select(col("src_a"), col("src_b"), estCol(col("s_scaled")).as("est_union"))
    // exact union via the SAME orderkey-grouped flag-set pass +
    // inclusion-exclusion, not an OR-join + per-pair distinct
    // (measured: the OR-join shape re-aggregated ~8.4M near-unique
    // (pair, orderkey) rows and put the whole query at 16-19 s sf1;
    // this shape is one 1.5M-group exchange shared by every channel)
    val nFlag = byOrder.select(explode(col("fs")).as("src"))
      .groupBy(col("src")).agg(count(lit(1)).as("n"))
    val interBoth = byOrder.select(col("fs"), explode(col("fs")).as("fa"))
      .select(col("fa"), explode(col("fs")).as("fb"))
      .filter(col("fa") < col("fb"))
      .groupBy(col("fa"), col("fb")).agg(count(lit(1)).as("n_both"))
    val exact = pairs
      .join(broadcast(nFlag.select(col("src").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(nFlag.select(col("src").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .join(broadcast(interBoth.select(col("fa").as("src_a"), col("fb").as("src_b"),
        col("n_both"))), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        (col("n_a") + col("n_b") - coalesce(col("n_both"), lit(0L))).as("n_exact_union"))
    pairs
      .join(broadcast(est1.select(col("src").as("src_a"), col("est").as("est_a"))), Seq("src_a"))
      .join(broadcast(est1.select(col("src").as("src_b"), col("est").as("est_b"))), Seq("src_b"))
      .join(unionEst, Seq("src_a", "src_b"))
      .join(exact, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_intersect"),
        col("n_exact_union"),
        floor(abs(col("est_union") - col("n_exact_union")).cast("double") * lit(1000000.0) /
          col("n_exact_union").cast("double")).cast("long").as("err_union_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Equi-width histogram quantile sketch — the fourth register
    * family (MG: heavy hitters, HLL: distinct, CMS: frequency, this:
    * quantiles): p50/p90/p99 of `l_extendedprice` estimated from 1024
    * bucket-count registers instead of a global sort. The registers
    * MERGE by elementwise sum (the partial-agg algebra — a 100 TB
    * corpus, or a stream of daily histograms, adds into one table;
    * `SketchSpec` pins split-merge equality), the exchange carries
    * <= 1024 rows regardless of corpus size, and the only ordered
    * step is a window over the BOUNDED register domain, never the
    * data. Estimation error is bounded by one bucket width.
    *
    * Everything is integer arithmetic on price micros: bucket =
    * ((u-mn)*1024) div span, target rank = (n*q_ppm) div 1e6 (0-based
    * kth smallest), picked bucket = first with cumulative count >
    * rank, estimate = linear interpolation inside the bucket with
    * integer floor-division — the DuckDB oracle replays every register
    * and every division digit-for-digit. min/max/count ride in as a
    * 1-row broadcast scalar, the same shape as supplier_share's total.
    */
  def histQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Tables.lineitem(s, d)
      .select(graft.functions.ExactSum.micros(col("l_extendedprice")).as("u"))
    val st = v.agg(min(col("u")).as("mn"), max(col("u")).as("mx"),
      count(lit(1)).as("n"))
    val counts = v.crossJoin(broadcast(st))
      .select(expr("(u - mn) * 1024 div (mx - mn + 1)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    // register-domain window: <= 1024 rows, constant-bounded
    val cum = counts.withColumn("cum",
      sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket"))))
    val tgt = Seq(500000L, 900000L, 990000L).toDF("q_ppm")
      .crossJoin(broadcast(st))
      .select(col("q_ppm"), expr("n * q_ppm div 1000000").as("target"),
        col("mn"), expr("mx - mn + 1").as("span"))
    val pick = tgt.join(broadcast(cum), col("cum") > col("target"))
      .groupBy(col("q_ppm")).agg(min(col("bucket")).as("bucket"))
    pick
      .join(broadcast(cum), Seq("bucket"))
      .join(broadcast(tgt), Seq("q_ppm"))
      .select(col("q_ppm"), col("bucket"),
        expr("""mn + (span * bucket) div 1024 +
               |((target - (cum - cnt) + 1) *
               | ((span * (bucket + 1)) div 1024 - (span * bucket) div 1024))
               | div cnt""".stripMargin).as("est_u"),
        (col("cum") - col("cnt")).as("n_below"))
      .orderBy(col("q_ppm"))
  }

  /** Join-size estimation from sketches — the optimizer credential:
    * |events ⋈ orders ON user_id = o_custkey| estimated WITHOUT
    * running the join, from two 4x1024 register tables built in one
    * pass per table. Two estimators side by side:
    *
    *  - CM inner product (unsigned counts): Σ_b cE[i][b]*cO[i][b],
    *    min over rows — a guaranteed OVERestimate with bias
    *    ~|E|*|O|/m (measured +155% here; reported so the bias is
    *    visible, the textbook reason CM alone can't size joins);
    *  - AGMS / count-sketch (signed): registers carry Σ s(k)*f(k)
    *    with s(k) = ±1 from an independent hash bit; the inner
    *    product is UNBIASED (measured within ~6%), median over rows
    *    (emitted as the exact integer sum of the two middle rows —
    *    no division semantics cross-engine).
    *
    * One md5 per (row, key): bucket = low 10 bits, sign = bit 10 —
    * independent bits of the same digest. The exact join size is
    * computed as the frequency-vector inner product (two keyed
    * aggregates + a key join — never the raw row join) as the
    * verification baseline; at 100 TB you run only the sketches:
    * 4096-row register tables, map-side partials, merged in O(m).
    */
  /** CM/AGMS register build for one table side: 4 rows x 1024 buckets,
    * unsigned count + signed sum per register (a sum-mergeable
    * aggregate).
    */
  private[graft] def registerSketch(df: DataFrame, key: Column): DataFrame =
    df.select(key.cast("string").as("k"))
      .select(explode(array((0 until 4).map { i =>
        struct(lit(i.toLong).as("row_i"),
          hash60(concat(lit(s"cm${i}_"), col("k"))).as("h"))
      }: _*)).as("x"))
      .select(col("x.row_i").as("row_i"),
        pmod(col("x.h"), lit(1024L)).as("bucket"),
        (shiftright(col("x.h"), 10).bitwiseAND(lit(1L)) * 2 - 1).as("sg"))
      .groupBy(col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("c"), sum(col("sg")).as("cs"))

  def joinSizeEstimate(s: SparkSession, d: String): DataFrame = {
    val re = registerSketch(Tables.events(s, d), col("user_id"))
    val ro = registerSketch(Tables.orders(s, d), col("o_custkey"))
      .withColumnRenamed("c", "co").withColumnRenamed("cs", "cso")
    // 4 rows; read by the summary AND the output
    val est = Share(re.join(ro, Seq("row_i", "bucket"))
      .groupBy(col("row_i"))
      .agg(sum(col("c") * col("co")).as("cm_est"),
        sum(col("cs") * col("cso")).as("agms_est")))
    val fe = Tables.events(s, d).groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("f"))
    val fo = Tables.orders(s, d).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("fo"))
    val exact = fe.join(fo, Seq("k"))
      .agg(coalesce(sum(col("f") * col("fo")), lit(0L)).as("exact"))
    val summary = est
      .agg(min(col("cm_est")).as("cm_min"),
        sort_array(collect_list(col("agms_est"))).as("arr"))
      .select(col("cm_min"),
        // empty corpus -> empty register join -> arr is []; the output
        // is empty anyway (est is the cross-join's left side), but the
        // summary row must still EVALUATE without an array-index error
        when(size(col("arr")) >= 3,
          element_at(col("arr"), 2) + element_at(col("arr"), 3))
          .otherwise(lit(null).cast("long")).as("agms_med2x"))
    est.crossJoin(broadcast(exact)).crossJoin(broadcast(summary))
      .select(col("row_i"), col("cm_est"), col("agms_est"), col("exact"),
        col("cm_min"), col("agms_med2x"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "join_size_estimate" -> ((s: SparkSession, d: String) => joinSizeEstimate(s, d)),
    "heavy_hitters" -> ((s, d) => heavyHitters(s, d)),
    "token_freq_spectrum" -> (tokenFreqSpectrum _),
    "hll_distinct" -> ((s, d) => hllDistinct(s, d)),
    "cmsketch_eval" -> ((s, d) => cmsketchEval(s, d)),
    "hll_union" -> ((s, d) => hllUnion(s, d)),
    "hist_quantiles" -> (histQuantiles _)
  )

  private val normSql = TextAnalysis.normSql

  val oracleSql: Map[String, String] = Map(
    // one md5 per (row, key): bucket = low 10 bits, sign = bit 10;
    // CM = unsigned count inner product (min over rows), AGMS = signed
    // register inner product (median emitted as middle-two SUM — no
    // cross-engine division semantics); exact = frequency-vector inner
    // product, never the raw row join
    "join_size_estimate" ->
      """WITH ii AS (SELECT unnest([0, 1, 2, 3]) AS row_i),
        |eh AS (
        | SELECT ii.row_i,
        |  ('0x' || substr(md5('cm' || ii.row_i || '_' ||
        |     CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM events CROSS JOIN ii),
        |re AS (
        | SELECT row_i, h % 1024 AS bucket,
        |  CAST(count(*) AS BIGINT) AS c,
        |  CAST(sum(((h >> 10) & 1) * 2 - 1) AS BIGINT) AS cs
        | FROM eh GROUP BY 1, 2),
        |oh AS (
        | SELECT ii.row_i,
        |  ('0x' || substr(md5('cm' || ii.row_i || '_' ||
        |     CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM orders CROSS JOIN ii),
        |ro AS (
        | SELECT row_i, h % 1024 AS bucket,
        |  CAST(count(*) AS BIGINT) AS co,
        |  CAST(sum(((h >> 10) & 1) * 2 - 1) AS BIGINT) AS cso
        | FROM oh GROUP BY 1, 2),
        |est AS (
        | SELECT re.row_i, CAST(sum(re.c * ro.co) AS BIGINT) AS cm_est,
        |  CAST(sum(re.cs * ro.cso) AS BIGINT) AS agms_est
        | FROM re JOIN ro ON re.row_i = ro.row_i AND re.bucket = ro.bucket
        | GROUP BY 1),
        |fe AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS f
        |       FROM events GROUP BY 1),
        |fo AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS fo
        |       FROM orders GROUP BY 1),
        |ex AS (SELECT CAST(coalesce(sum(fe.f * fo.fo), 0) AS BIGINT) AS exact
        |       FROM fe JOIN fo ON fe.k = fo.k),
        |summ AS (
        | SELECT CAST(cm_min AS BIGINT) AS cm_min,
        |  CAST(arr[2] + arr[3] AS BIGINT) AS agms_med2x
        | FROM (SELECT min(cm_est) AS cm_min,
        |        list(agms_est ORDER BY agms_est) AS arr FROM est))
        |SELECT CAST(est.row_i AS BIGINT) AS row_i, est.cm_est,
        | est.agms_est, ex.exact, summ.cm_min, summ.agms_med2x
        |FROM est CROSS JOIN ex CROSS JOIN summ""".stripMargin,

    // exact top-20 with the same (cnt desc, token asc) tiebreak
    "heavy_hitters" ->
      s"""WITH toks AS (
         | SELECT unnest(string_split($normSql, ' ')) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
         |r AS (SELECT token, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM c)
         |SELECT token, cnt, rank FROM r WHERE rank <= 20""".stripMargin,

    "token_freq_spectrum" ->
      s"""WITH toks AS (
         | SELECT unnest(string_split($normSql, ' ')) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token)
         |SELECT cnt, count(*) AS n_types FROM c GROUP BY cnt""".stripMargin,

    // bit-identical HLL replay: same hash60, same integer rho, same
    // Σ 2^(51-rho) register sum (SUM cast from HUGEINT to BIGINT),
    // same IEEE double literal chain for alpha*m^2/S
    "hll_distinct" ->
      s"""WITH b AS (
         | SELECT l_returnflag, yr,
         |   hv >> 50 AS bucket, hv & ((1::BIGINT << 50) - 1) AS rem
         | FROM (SELECT l_returnflag, year(l_shipdate) AS yr,
         |   ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
         |   FROM lineitem)),
         |rho AS (
         | SELECT l_returnflag, yr, bucket,
         |   CASE WHEN rem = 0 THEN 51 ELSE 51 - length(bin(rem)) END AS rho
         | FROM b),
         |reg AS (
         | SELECT l_returnflag, bucket, MAX(rho) AS r FROM rho GROUP BY 1, 2),
         |dreg AS (
         | SELECT l_returnflag, bucket, MAX(r) AS r FROM (
         |   SELECT l_returnflag, yr, bucket, MAX(rho) AS r
         |   FROM rho GROUP BY 1, 2, 3) GROUP BY 1, 2),
         |est AS (
         | SELECT l_returnflag,
         |  CAST(FLOOR(0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0 * 2251799813685248.0
         |   / CAST(CAST(SUM(1::BIGINT << (51 - r))
         |       + (1024 - COUNT(*)) * (1::BIGINT << 51) AS BIGINT) AS DOUBLE))
         |   AS BIGINT) AS hll_est
         | FROM reg GROUP BY 1),
         |dest AS (
         | SELECT l_returnflag,
         |  CAST(FLOOR(0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0 * 2251799813685248.0
         |   / CAST(CAST(SUM(1::BIGINT << (51 - r))
         |       + (1024 - COUNT(*)) * (1::BIGINT << 51) AS BIGINT) AS DOUBLE))
         |   AS BIGINT) AS hll_est_merged
         | FROM dreg GROUP BY 1),
         |ex AS (
         | SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_exact
         | FROM lineitem GROUP BY 1)
         |SELECT ex.l_returnflag, n_exact, hll_est, hll_est_merged,
         |  CAST(FLOOR(ABS(hll_est - n_exact) * 1000000.0 / n_exact) AS BIGINT) AS err_ppm
         |FROM ex JOIN est USING (l_returnflag) JOIN dest USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin,

    // bit-identical CMS replay: same salted md5 row hashes, same 4x1024
    // integer registers, same min-over-rows lookup
    "cmsketch_eval" ->
      s"""WITH toks AS (
         | SELECT unnest(string_split($normSql, ' ')) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
         |top AS (
         | SELECT token, cnt, rank FROM (
         |  SELECT token, cnt,
         |   row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM c)
         | WHERE rank <= 20),
         |ii AS (SELECT unnest([0, 1, 2, 3]) AS row_i),
         |b AS (
         | SELECT row_i,
         |  ('0x' || substr(md5('cm' || row_i || '_' || token), 1, 15))::BIGINT % 1024 AS bucket
         | FROM toks CROSS JOIN ii),
         |regs AS (
         | SELECT row_i, bucket, CAST(count(*) AS BIGINT) AS c
         | FROM b GROUP BY 1, 2),
         |lk AS (
         | SELECT t.token, t.cnt, t.rank, r.c
         | FROM top t CROSS JOIN ii
         | JOIN regs r ON r.row_i = ii.row_i AND r.bucket =
         |  ('0x' || substr(md5('cm' || ii.row_i || '_' || t.token), 1, 15))::BIGINT % 1024)
         |SELECT token, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS BIGINT) AS rank,
         |  MIN(c) AS cms_est,
         |  CAST(FLOOR((MIN(c) - cnt) * 1000000.0 / cnt) AS BIGINT) AS overest_ppm
         |FROM lk GROUP BY token, cnt, rank""".stripMargin,

    // register-algebra replay: per-source registers, elementwise-MAX
    // union registers per pair, inclusion-exclusion intersection
    "hll_union" ->
      s"""WITH b AS (
         | SELECT l_returnflag AS src,
         |   hv >> 50 AS bucket, hv & ((1::BIGINT << 50) - 1) AS rem
         | FROM (SELECT l_returnflag,
         |   ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
         |   FROM lineitem)),
         |reg AS (
         | SELECT src, bucket,
         |   MAX(CASE WHEN rem = 0 THEN 51 ELSE 51 - length(bin(rem)) END) AS r
         | FROM b GROUP BY 1, 2),
         |est1 AS (
         | SELECT src,
         |  CAST(FLOOR(0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0 * 2251799813685248.0
         |   / CAST(CAST(SUM(1::BIGINT << (51 - r))
         |       + (1024 - COUNT(*)) * (1::BIGINT << 51) AS BIGINT) AS DOUBLE))
         |   AS BIGINT) AS est
         | FROM reg GROUP BY 1),
         |pairs AS (SELECT * FROM (VALUES ('A','N'), ('A','R'), ('N','R')) AS t(src_a, src_b)),
         |ra AS (SELECT p.src_a, p.src_b, r.bucket, r.r AS r_a
         |  FROM pairs p JOIN reg r ON r.src = p.src_a),
         |rb AS (SELECT p.src_a, p.src_b, r.bucket, r.r AS r_b
         |  FROM pairs p JOIN reg r ON r.src = p.src_b),
         |u AS (
         | SELECT COALESCE(ra.src_a, rb.src_a) AS src_a,
         |   COALESCE(ra.src_b, rb.src_b) AS src_b,
         |   GREATEST(COALESCE(r_a, 0), COALESCE(r_b, 0)) AS r_u
         | FROM ra FULL JOIN rb
         |   ON ra.src_a = rb.src_a AND ra.src_b = rb.src_b AND ra.bucket = rb.bucket),
         |uest AS (
         | SELECT src_a, src_b,
         |  CAST(FLOOR(0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0 * 2251799813685248.0
         |   / CAST(CAST(SUM(1::BIGINT << (51 - r_u))
         |       + (1024 - COUNT(*)) * (1::BIGINT << 51) AS BIGINT) AS DOUBLE))
         |   AS BIGINT) AS est_union
         | FROM u GROUP BY 1, 2),
         |ex AS (
         | SELECT p.src_a, p.src_b, COUNT(DISTINCT l.l_orderkey) AS n_exact_union
         | FROM pairs p JOIN lineitem l
         |   ON l.l_returnflag = p.src_a OR l.l_returnflag = p.src_b
         | GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, ea.est AS est_a, eb.est AS est_b, ue.est_union,
         |  ea.est + eb.est - ue.est_union AS est_intersect, ex.n_exact_union,
         |  CAST(FLOOR(ABS(ue.est_union - ex.n_exact_union) * 1000000.0 / ex.n_exact_union) AS BIGINT) AS err_union_ppm
         |FROM pairs p
         |JOIN est1 ea ON ea.src = p.src_a
         |JOIN est1 eb ON eb.src = p.src_b
         |JOIN uest ue USING (src_a, src_b)
         |JOIN ex USING (src_a, src_b)
         |ORDER BY src_a, src_b""".stripMargin,

    // register-exact replay: same micros lattice, same 1024-bucket
    // floor-division registers, same integer interpolation (all
    // BIGINT; the cumulative sum cast down from DuckDB's HUGEINT)
    "hist_quantiles" ->
      """WITH v AS (
        | SELECT CAST(round(l_extendedprice * 1000000) AS BIGINT) AS u
        | FROM lineitem),
        |st AS (
        | SELECT min(u) AS mn, max(u) AS mx, mx - mn + 1 AS span,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM v),
        |counts AS (
        | SELECT ((u - mn) * 1024) // (mx - mn + 1) AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM v, st GROUP BY 1),
        |c AS (
        | SELECT bucket, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum
        | FROM counts),
        |tgt AS (
        | SELECT q_ppm, (n * q_ppm) // 1000000 AS target, mn, span
        | FROM (VALUES (CAST(500000 AS BIGINT)), (900000), (990000)) AS q(q_ppm), st),
        |pick AS (
        | SELECT q_ppm, min(bucket) AS bucket
        | FROM tgt JOIN c ON cum > target GROUP BY 1)
        |SELECT p.q_ppm, p.bucket,
        | CAST(mn + (span * p.bucket) // 1024 +
        |  ((target - (cum - cnt) + 1) *
        |   ((span * (p.bucket + 1)) // 1024 - (span * p.bucket) // 1024))
        |   // cnt AS BIGINT) AS est_u,
        | CAST(cum - cnt AS BIGINT) AS n_below
        |FROM pick p
        |JOIN c ON c.bucket = p.bucket
        |JOIN tgt ON tgt.q_ppm = p.q_ppm
        |ORDER BY p.q_ppm""".stripMargin
  )
}
