package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Corpus-level curation analytics a training-data pipeline runs
  * before committing to a mixture: cross-source contamination, per-
  * source quality gating, and recency weighting. Reference analogue:
  * the ASPEP pipeline's per-group diagnostics (derived-stats stage,
  * `process_aspep/assets.py` §derive) generalized to corpus curation.
  *
  * Cross-engine determinism: every emitted number is an integer (ppm
  * ratios, micro-units, ranks, counts) — no float accumulation order
  * can flip a hash compare (see docs/PLANS.md, ExactSum pattern).
  */
object CorpusAnalytics {

  /** Cross-source n-gram contamination matrix: for every source pair,
    * the Jaccard overlap of their distinct 3-gram fingerprint sets.
    * The "is my fine-tune shard leaking into pretraining" check, run
    * source x source instead of doc x doc.
    *
    * Scale shape: the corpus gram stream shuffles ONCE — groupBy on
    * the gram hash with map-side partial sets — into a vocabulary-
    * sized table of (hash, source-set); sets are bounded by #sources.
    * Both the per-source sizes and the pair intersections then derive
    * from ONE a<=b set expansion of that table (never a corpus
    * self-join — measured 2x faster than the equi-join form at sf1):
    * the diagonal (s, s) pair counts are exactly the per-source
    * distinct-gram sizes. Output is #source-pairs rows (pairs sharing
    * >= 1 gram).
    */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val hs = Share(Tables.documents(s, d)
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"), explode(gramHashes(col("toks"), 3)).as("h"))
      .groupBy(col("h")).agg(collect_set(col("source")).as("ss")))
    // ONE a<=b pair pass over the vocabulary table instead of three
    // (r14): the diagonal (s, s) rows ARE the per-source sizes — each
    // set member appears exactly once as its own pair, so
    // n(source) = count of (source, source) rows — and the previous
    // shape recomputed the single-explode sizes subtree under BOTH
    // broadcast sides (3 checkpoint scans / Generates / exchanges;
    // plans/r14/source_overlap_before.txt nodes 10-17 and 20-27).
    // The pair aggregate is shared (bounded: <= #sources
    // choose 2 + #sources rows) because its three consumers' filters
    // would otherwise be PUSHED BELOW the exchange, splitting it into
    // three non-identical subtrees that AQE cannot reuse — measured in
    // the plan before the checkpoint was added: the a=b / a<b
    // predicates landed under each branch's partial aggregate.
    val pairs = Share(hs.select(col("ss"), explode(col("ss")).as("source_a"))
      .select(col("source_a"), explode(col("ss")).as("source_b"))
      .filter(col("source_a") <= col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared")))
    val sizes = pairs.filter(col("source_a") === col("source_b"))
      .select(col("source_a").as("source"), col("n_shared").as("n"))
    val inter = pairs.filter(col("source_a") =!= col("source_b"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_shared"),
        floor(lit(1000000.0) * col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")))
          .cast("long").as("jaccard_ppm"))
  }

  /** Per-source percentile quality gate: keep a doc iff its token
    * count ranks in the top quartile of its source (rank-based — no
    * interpolation semantics to disagree on cross-engine). One keyed
    * window; at 100 TB each source shard ranks independently, and the
    * 4x rank comparison avoids materializing a threshold table.
    */
  def percentileFilter(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_tokens").desc, col("doc_id"))
    t.withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("source"))))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rnk"), col("n_docs"),
        (col("rnk") * 4 <= col("n_docs")).cast("long").as("keep_flag"))
  }

  /** Recency-decayed engagement score per user: each event weighted by
    * a rational decay 1e6/(1+age_days) of its age vs the corpus max
    * timestamp. Rational (not exponential) decay keeps every weight an
    * exact integer — engine-independent, unlike exp() whose last ulp
    * differs across libm implementations. Event values go to integer
    * micros (ExactSum discipline) so the weighted sum is exact.
    *
    * Scale shape: the max timestamp is ONE broadcast scalar; weighting
    * is a narrow map; the only shuffle is the final user_id agg with
    * map-side partials.
    */
  def decayScore(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      expr("unix_micros(ts)").as("us"),
      round(col("value") * 1e6).cast("long").as("vmic"))
    val mx = ev.agg(max(col("us")).as("max_us"))
    ev.crossJoin(broadcast(mx))
      .withColumn("age_days", expr("(max_us - us) div 86400000000"))
      .withColumn("weight_ppm", expr("1000000 div (1 + age_days)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("age_days")).as("min_age_days"),
        sum(col("vmic") * col("weight_ppm")).as("decayed_micros"))
  }

  /** Per-source Gini coefficient of the doc-length distribution — the
    * "is one shard dominated by a few huge documents" concentration
    * diagnostic. Rank-based identity G = (2 Σ i·x_i)/(n Σx) − (n+1)/n
    * over docs sorted by (tokens, doc_id): every accumulator is an
    * exact integer (ExactSum discipline), only the final ratio is
    * floating. One keyed window + one keyed agg per source shard.
    */
  def tokenGini(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("x"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("x"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("total_tokens"),
        sum(col("x") * col("i")).as("weighted"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round((lit(2.0) * col("weighted")) / (col("n_docs") * col("total_tokens"))
          - (col("n_docs") + lit(1.0)) / col("n_docs"), 6).as("gini"))
  }

  /** Tokenizer-vocabulary coverage — the OOV census run before
    * committing to a vocab size: build the global top-1000 token
    * vocabulary (count desc, token asc tie-break), then per source
    * report total/OOV token occurrences and distinct-type counts, with
    * the OOV rate in integer ppm.
    *
    * Scale shape: the corpus tokenizes and shuffles ONCE into the
    * bounded (source, token) count table (map-side partials do the
    * heavy compression — Zipf makes per-partition token sets small);
    * the vocabulary derives from a re-agg of that table with a
    * k-BOUNDED heap aggregate (TopKAgg, never a global sort) and joins
    * back as a broadcast. Nothing corpus-sized moves twice.
    */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    // one corpus pass; vocab + coverage both reuse it
    val st = Share(Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n")))
    val vocab = st.groupBy(col("tok")).agg(sum(col("n")).as("cnt"))
      .agg(graft.functions.TopKAgg.collectTopK(
        struct((lit(0L) - col("cnt")).as("neg"), col("tok")), 1000,
        reverse = true).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.tok").as("tok"), lit(1L).as("__v"))
    st.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("__v").isNull, col("n")).otherwise(0L)).as("n_oov_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_distinct_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov_tokens"),
        col("n_distinct"), col("n_distinct_oov"),
        expr("(1000000 * n_oov_tokens) div n_tokens").as("oov_ppm"))
  }

  /** Pairwise Jensen-Shannon divergence between per-source unigram
    * distributions — the domain-mixture diagnostic a curation
    * pipeline runs before weighting sources (a near-zero JSD pair is
    * redundant corpus; a high-JSD source shifts the mixture).
    *
    * Lane discipline (the bigram_lm_score pattern): the only
    * data-sized pass is the (source, term) count aggregate; every
    * divergence term is computed on that tiny table with one
    * deterministic double rounding per (pair, term) into integer
    * nanonats, then summed as exact longs — order-free, so the value
    * is engine-independent. One-sided terms (term in A only)
    * contribute 0.5*p*ln2 via the same formula; absent-in-both terms
    * contribute exactly 0.
    *
    * Scale: the pair x vocab expansion is |S|^2 * V rows AFTER the
    * corpus-sized aggregate — dimension-tiny here (V is this corpus's
    * closed vocabulary). With a power-law vocabulary you'd cap V at
    * the top-k terms + an OOV bucket per source (vocab_coverage's
    * discipline) before pairing; the plan shape is unchanged.
    */
  def sourceDivergence(s: SparkSession, d: String): DataFrame = {
    // sources x vocab — reused four times below
    val tf = Share(Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c")))
    // k-bounded caps make the pairwise expansion PROVABLY bounded:
    // top-256 sources by token mass and top-4096 terms by corpus
    // count — no-ops on this corpus (20/200 sources, ~31/310 terms),
    // the documented cap discipline at scale. CollectTopK (k-bounded
    // partial aggregate), NOT a rank window: a single-partition
    // window over the vocabulary aggregate would serialize the very
    // table the cap exists to bound.
    import graft.functions.TopKAgg.collectTopK
    val tot = tf.groupBy(col("source")).agg(sum(col("c")).as("t"))
      .agg(collectTopK(struct((lit(0L) - col("t")).as("neg"),
        col("source")), 256, reverse = true).as("top"))
      .select(explode(col("top")).as("x"))
      .select(col("x.source").as("source"), (lit(0L) - col("x.neg")).as("t"))
    val vocab = tf.groupBy(col("term")).agg(sum(col("c")).as("cnt"))
      .agg(collectTopK(struct((lit(0L) - col("cnt")).as("neg"),
        col("term")), 4096, reverse = true).as("top"))
      .select(explode(col("top")).as("x"))
      .select(col("x.term").as("term"))
    val pairs = tot.select(col("source").as("src_a"), col("t").as("tta"))
      .crossJoin(broadcast(tot.select(col("source").as("src_b"), col("t").as("ttb"))))
      .filter(col("src_a") < col("src_b"))
    val j = pairs.crossJoin(broadcast(vocab))
      .join(broadcast(tf.select(col("source").as("src_a"), col("term"),
        col("c").as("ca"))), Seq("src_a", "term"), "left")
      .join(broadcast(tf.select(col("source").as("src_b"), col("term"),
        col("c").as("cb"))), Seq("src_b", "term"), "left")
      .na.fill(0L, Seq("ca", "cb"))
    val pa = col("ca").cast("double") / col("tta")
    val pb = col("cb").cast("double") / col("ttb")
    val termN = round((
      when(col("ca") > 0,
        lit(0.5) * pa * log(lit(2.0) * pa / (pa + pb))).otherwise(lit(0.0)) +
      when(col("cb") > 0,
        lit(0.5) * pb * log(lit(2.0) * pb / (pa + pb))).otherwise(lit(0.0))
      ) * lit(1e9)).cast("long")
    j.select(col("src_a"), col("src_b"), termN.as("term_n"),
        when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L).as("ov"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("ov")).as("vocab_overlap"),
        sum(col("term_n")).as("jsd_nanonats"))
      .select(col("src_a"), col("src_b"), col("vocab_overlap"),
        col("jsd_nanonats"),
        round(col("jsd_nanonats").cast("double") / 1e9, 6).as("jsd"))
  }

  /** Vocabulary-growth (Heaps-law) curve: distinct vocabulary and
    * cumulative token mass at each decile of the corpus prefix in
    * doc_id order — the diagnostic behind "how big a tokenizer
    * vocabulary does this corpus support, and has the crawl's
    * vocabulary saturated yet". A still-steep tail decile means new
    * sources keep introducing terms; a flat one means the vocabulary
    * has converged and further crawl mostly re-observes it.
    *
    * Distributed form: a term's contribution to the curve is decided
    * ONLY by its first occurrence, so the corpus collapses to one
    * (term → min doc_id) aggregate (map-side combining, vocabulary-
    * sized output) — never a per-prefix distinct count, which would
    * re-scan the corpus once per decile. Deciles cut the doc_id RANGE
    * ((id·10) div (max+1), exact integers — no dense-id assumption);
    * cumulative sums are windows over the ≤10-row bucket table.
    */
  def vocabGrowth(s: SparkSession, d: String): DataFrame =
    vocabGrowthFrom(Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks")))

  /** Same curve over any (doc_id, toks) table — reused by the
    * adversarial power-law corpus (AdvCorpus), where the readout is a
    * genuine Heaps curve rather than the driver corpus's decile-0
    * saturation.
    */
  private[operators] def vocabGrowthFrom(docs: DataFrame): DataFrame = {
    val bound = docs.agg((max(col("doc_id")) + 1L).as("n_ids"))
    def decile(idName: String) =
      least(expr(s"$idName * 10 div n_ids"), lit(9L)).as("decile")
    val newTerms = docs
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(bound))
      .groupBy(decile("first_doc"))
      .agg(count(lit(1)).as("new_terms"))
    val tokenMass = docs
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .crossJoin(broadcast(bound))
      .groupBy(decile("doc_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokenMass.join(newTerms, Seq("decile"), "left")
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .withColumn("cum_terms", sum(col("new_terms")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
  }

  val queries: Map[String, Relational.Q] = Map(
    "vocab_growth" -> (vocabGrowth _),
    "source_divergence" -> ((s: SparkSession, d: String) => sourceDivergence(s, d)),
    "source_overlap" -> ((s: SparkSession, d: String) => sourceOverlap(s, d)),
    "percentile_filter" -> (percentileFilter _),
    "decay_score" -> (decayScore _),
    "token_gini" -> (tokenGini _),
    "vocab_coverage" -> ((s, d) => vocabCoverage(s, d))
  )

  private val normSql =
    "lower(trim(regexp_replace(regexp_replace(text, '[^a-zA-Z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))"
  private val trigramSql =
    "CASE WHEN len(w) >= 3 THEN list_transform(range(0, len(w) - 2), i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ')) ELSE [] END"

  val oracleSql: Map[String, String] = Map(
    // first-occurrence decomposition: each term counts once at its
    // min-doc decile; range-cut deciles, window prefix sums, all longs
    "vocab_growth" ->
      s"""WITH docs AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |bound AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n_ids FROM docs),
         |fs AS (
         | SELECT term, CAST(min(doc_id) AS BIGINT) AS first_doc
         | FROM (SELECT doc_id, unnest(w) AS term FROM docs) GROUP BY term),
         |nt AS (
         | SELECT least(first_doc * 10 // n_ids, 9) AS decile,
         |  CAST(count(*) AS BIGINT) AS new_terms
         | FROM fs CROSS JOIN bound GROUP BY 1),
         |tm AS (
         | SELECT least(doc_id * 10 // n_ids, 9) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(w)) AS BIGINT) AS n_tokens
         | FROM docs CROSS JOIN bound GROUP BY 1)
         |SELECT tm.decile, tm.n_docs, tm.n_tokens,
         | CAST(coalesce(nt.new_terms, 0) AS BIGINT) AS new_terms,
         | CAST(sum(coalesce(nt.new_terms, 0)) OVER (ORDER BY tm.decile)
         |   AS BIGINT) AS cum_terms,
         | CAST(sum(tm.n_tokens) OVER (ORDER BY tm.decile)
         |   AS BIGINT) AS cum_tokens
         |FROM tm LEFT JOIN nt USING (decile)""".stripMargin,

    // per-(pair, term) nanonat rounding (one double rounding each,
    // identical op order both engines), exact long sums; totals cast
    // BIGINT before the double divisions (DuckDB widens sum to HUGEINT)
    "source_divergence" ->
      s"""WITH toks AS (
         | SELECT source, unnest(string_split($normSql, ' ')) AS term
         | FROM documents),
         |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
         |       FROM toks GROUP BY 1, 2),
         |tot AS (
         | SELECT source, t FROM (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS t,
         |   row_number() OVER (ORDER BY CAST(sum(c) AS BIGINT) DESC, source) AS srk
         |  FROM tf GROUP BY 1) WHERE srk <= 256),
         |voc AS (
         | SELECT term FROM (
         |  SELECT term, row_number() OVER (ORDER BY CAST(sum(c) AS BIGINT) DESC, term) AS vrk
         |  FROM tf GROUP BY 1) WHERE vrk <= 4096),
         |pairs AS (
         | SELECT a.source AS src_a, a.t AS tta, b.source AS src_b, b.t AS ttb
         | FROM tot a JOIN tot b ON a.source < b.source),
         |j AS (
         | SELECT p.src_a, p.src_b, p.tta, p.ttb,
         |  coalesce(fa.c, 0) AS ca, coalesce(fb.c, 0) AS cb
         | FROM pairs p
         | CROSS JOIN voc v
         | LEFT JOIN tf fa ON fa.source = p.src_a AND fa.term = v.term
         | LEFT JOIN tf fb ON fb.source = p.src_b AND fb.term = v.term),
         |terms AS (
         | SELECT src_a, src_b,
         |  CAST(round(1e9 * (
         |   CASE WHEN ca > 0 THEN
         |    0.5 * (CAST(ca AS DOUBLE) / tta) *
         |    ln(2.0 * (CAST(ca AS DOUBLE) / tta) /
         |       (CAST(ca AS DOUBLE) / tta + CAST(cb AS DOUBLE) / ttb))
         |   ELSE 0 END +
         |   CASE WHEN cb > 0 THEN
         |    0.5 * (CAST(cb AS DOUBLE) / ttb) *
         |    ln(2.0 * (CAST(cb AS DOUBLE) / ttb) /
         |       (CAST(ca AS DOUBLE) / tta + CAST(cb AS DOUBLE) / ttb))
         |   ELSE 0 END)) AS BIGINT) AS term_n,
         |  CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END AS ov
         | FROM j)
         |SELECT src_a, src_b, CAST(sum(ov) AS BIGINT) AS vocab_overlap,
         | CAST(sum(term_n) AS BIGINT) AS jsd_nanonats,
         | round(CAST(sum(term_n) AS DOUBLE) / 1e9, 6) AS jsd
         |FROM terms GROUP BY 1, 2""".stripMargin,

    "source_overlap" ->
      s"""WITH toks AS (
         | SELECT source, string_split($normSql, ' ') AS w FROM documents),
         |g AS (
         | SELECT DISTINCT source, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
         | FROM (SELECT source, unnest($trigramSql) AS gram FROM toks)),
         |sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
         |i AS (
         | SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         | FROM g a JOIN g b USING (h) WHERE a.source < b.source GROUP BY 1, 2)
         |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_shared,
         | CAST(floor(1000000.0 * n_shared / (sa.n + sb.n - n_shared)) AS BIGINT) AS jaccard_ppm
         |FROM i
         |JOIN sz sa ON sa.source = i.source_a
         |JOIN sz sb ON sb.source = i.source_b""".stripMargin,

    "percentile_filter" ->
      s"""WITH t AS (
         | SELECT doc_id, source,
         |  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens
         | FROM documents)
         |SELECT doc_id, source, n_tokens,
         | row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rnk,
         | count(*) OVER (PARTITION BY source) AS n_docs,
         | CAST(CASE WHEN row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) * 4
         |   <= count(*) OVER (PARTITION BY source) THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
         |FROM t""".stripMargin,

    "token_gini" ->
      s"""WITH t AS (
         | SELECT doc_id, source,
         |  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS x
         | FROM documents),
         |r AS (
         | SELECT source, x,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS BIGINT) AS i
         | FROM t),
         |g AS (
         | SELECT source, count(*) AS n_docs,
         |  CAST(sum(x) AS BIGINT) AS total_tokens,
         |  CAST(sum(x * i) AS BIGINT) AS weighted
         | FROM r GROUP BY 1)
         |SELECT source, n_docs, total_tokens,
         | round((2.0 * weighted) / (n_docs * total_tokens)
         |  - (n_docs + 1.0) / n_docs, 6) AS gini
         |FROM g""".stripMargin,

    "vocab_coverage" ->
      s"""WITH st AS (
         | SELECT source, tok, count(*) AS n FROM (
         |  SELECT source, unnest(string_split($normSql, ' ')) AS tok
         |  FROM documents)
         | GROUP BY 1, 2),
         |tc AS (SELECT tok, sum(n) AS cnt FROM st GROUP BY 1),
         |vocab AS (SELECT tok, 1 AS v FROM tc ORDER BY cnt DESC, tok LIMIT 1000)
         |SELECT source,
         | CAST(sum(n) AS BIGINT) AS n_tokens,
         | CAST(sum(CASE WHEN v IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_oov_tokens,
         | count(*) AS n_distinct,
         | CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct_oov,
         | CAST((1000000 * sum(CASE WHEN v IS NULL THEN n ELSE 0 END))
         |   // sum(n) AS BIGINT) AS oov_ppm
         |FROM st LEFT JOIN vocab USING (tok)
         |GROUP BY source""".stripMargin,

    "decay_score" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(ts) AS us,
        |  CAST(round(value * 1e6) AS BIGINT) AS vmic
        | FROM events),
        |mx AS (SELECT max(us) AS max_us FROM ev),
        |wtd AS (
        | SELECT user_id, vmic,
        |  CAST((max_us - us) // 86400000000 AS BIGINT) AS age_days,
        |  CAST(1000000 // (1 + (max_us - us) // 86400000000) AS BIGINT) AS weight_ppm
        | FROM ev, mx)
        |SELECT user_id, count(*) AS n_events,
        | CAST(min(age_days) AS BIGINT) AS min_age_days,
        | CAST(sum(vmic * weight_ppm) AS BIGINT) AS decayed_micros
        |FROM wtd GROUP BY user_id""".stripMargin
  )
}
