package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Training-set preparation operators beyond curation/dedup: corpus-
  * level language-model quality scoring, exact duplicate-span
  * detection, deterministic global shuffling into training shards, and
  * model-based quality classification.
  *
  * Scale design notes per operator are on the methods; the common
  * theme is that every corpus-sized interaction is a keyed shuffle on
  * a bounded key (term, gram hash, shard id) — nothing corpus-sized is
  * ever broadcast or compared pairwise.
  */
object TrainPrep {

  /** The classifier's stop-word marker list — shared with the
    * calibration census (QualityFilters.classifierCalibration). */
  private[graft] val stopWords =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "on", "for")

  /** Unigram LM negative log-likelihood per document — the CCNet/
    * Gopher-style "perplexity" quality signal, with the LM trained on
    * the corpus itself: avg_nll(d) = ln(T) - (Σ_t tf(d,t)·ln(cnt(t)))/|d|
    * where cnt(t) is the corpus count of t and T the total token count
    * (so each token contributes -ln(cnt(t)/T)).
    *
    * Shape: one explode → (doc, term) partial-agg (map-side combine),
    * materialized ONCE (eager localCheckpoint — it feeds both the
    * vocabulary aggregate and the scoring join; the 100 TB analogue is
    * the persisted LM artifact). The scoring join is keyed on `term`
    * (vocabulary-sized, never corpus-broadcast); T is one broadcast
    * scalar. The per-doc float sum folds over the term list in
    * ascending-term order so the double rounding is bit-identical on
    * both engines (same pattern as the CharStats entropy kernel).
    */
  def unigramLmScore(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    val tf = Share(base.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("t_tokens"))
    val sumLl = aggregate(col("terms"), lit(0.0),
      (acc, x) => acc +
        x.getField("tf").cast("double") * log(x.getField("cnt").cast("double")))
    tf.join(vocab, Seq("term"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(array_sort(collect_list(struct(col("term"), col("tf"), col("cnt"))))
        .as("terms"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("dl").as("n_tokens"),
        round(log(col("t_tokens").cast("double")) - sumLl / col("dl"), 6)
          .as("avg_nll"))
  }

  /** Bigram LM negative log-likelihood per document with add-one
    * smoothing — the next rung above unigramLmScore on the CCNet-style
    * quality ladder (a bigram LM separates "common words in a weird
    * order" from fluent text, which a unigram model cannot):
    * avg_nll(d) = Σ_bg tf·(ln(c1(t1)+V) − ln(cbg+1)) / (|d|−1), where
    * cbg is the corpus count of the bigram, c1(t1) the corpus count of
    * bigrams starting with t1 (Σ_t2 cbg — derived, not a second corpus
    * pass), and V the number of distinct first tokens.
    *
    * Shape: the LM itself is VOCABULARY-SIZED (≤ V² bigrams — here
    * ≤ 961 rows), so the whole model — corpus bigram counts, the
    * first-token rollup, V, and each bigram's quantized per-occurrence
    * term (ln(c1+V) − ln(cbg+1), in integer NANONATS: one
    * deterministic double rounding per BIGRAM, not per row) — is built
    * on the bounded table and broadcast. The corpus then takes exactly
    * TWO passes over the exploded bigrams: one map-side-combining
    * count into the ≤V² model table, and one scoring pass whose
    * per-doc sum of long nanonats is exact, order-free, and partial-
    * aggregated map-side. Per-occurrence summing makes the tf
    * multiplier implicit (Σ_occ term ≡ Σ_bg tf·term on the integer
    * lattice), so no (doc, bigram) intermediate aggregate exists at
    * all — that 10M-group hash agg was the cost of the first draft
    * (10.8 s warm sf1; sorted-list float fold), vs 3-4 s for this
    * form. At 100 TB the model table is the persisted artifact; the
    * scoring pass is embarrassingly parallel.
    */
  def bigramLmScore(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.gramHashes
    // bigram identity carried as the native 60-bit gram HASH with the
    // first token's hash alongside (h1[i] for bigram i) — no gram
    // string is ever materialized in the corpus passes (the string
    // form measured 12 s warm sf1; the hash kernel 2-4 s). The oracle
    // counts the STRING bigrams — identical by hash injectivity on
    // the distinct bigram set, the library-wide hashing convention.
    // dl is materialized in its OWN projection below the explode: with
    // `size(toks)` in the same select as the generator, the projection
    // computing it lands ABOVE the Generate and the full token array is
    // carried on every bigram row (O(n^2) bytes per doc through the
    // Generate — the content_chunk_dedup disease, plan-verified r13).
    // Split out, the Generate's carried output is [doc_id, dl] only.
    val bgx = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
      .select(col("doc_id"), col("dl"),
        explode(arrays_zip(
          gramHashes(col("toks"), 2).as("bh"),
          slice(gramHashes(col("toks"), 1), lit(1),
            greatest(size(col("toks")) - 1, lit(0))).as("th"))).as("z"))
      .select(col("doc_id"), col("dl"),
        col("z.bh").as("bh"), col("z.th").as("th"))
      .filter(col("dl") >= 2)
    val cbg = bgx.groupBy(col("bh"))
      .agg(count(lit(1)).as("cbg"), max(col("th")).as("t1h"))
    val c1 = cbg.groupBy(col("t1h")).agg(sum(col("cbg")).as("c1"))
    val vocab = c1.agg(count(lit(1)).as("v"))
    val lm = cbg
      .join(c1, Seq("t1h"))
      .crossJoin(vocab)
      .select(col("bh"),
        round((log((col("c1") + col("v")).cast("double")) -
          log((col("cbg") + lit(1L)).cast("double"))) * lit(1e9))
          .cast("long").as("term_n"))
    bgx.join(broadcast(lm), Seq("bh"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(col("term_n")).as("sn"))
      .select(col("doc_id"), col("dl").as("n_tokens"),
        round(col("sn").cast("double") / 1e9 / (col("dl") - 1), 6)
          .as("avg_nll"))
  }

  private val SpanK = 8

  /** Exact duplicate-span detection — the signal behind exact-substring
    * deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", adapted from suffix-array substrings to
    * fixed word 8-gram spans, which is the shape a distributed engine
    * can do with keyed shuffles): for every document, how many of its
    * 8-token spans also appear in at least one OTHER document, as a
    * count and an exact ppm fraction.
    *
    * Shape: explode to (doc, span-hash) — materialized once, it feeds
    * the global span-frequency aggregate AND the join back — then one
    * groupBy on the 60-bit hash (bounded key, partial-agg combines
    * within-doc repeats map-side) and one keyed join. Never doc × doc;
    * the downstream "drop the spans" rewrite consumes exactly this
    * table. Output is all-integer (counts + floor-ppm) — no float
    * lattice to disagree on.
    */
  def dupSpanDetect(s: SparkSession, d: String): DataFrame = {
    val grams = Share(Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(gramHashes(col("toks"), SpanK)).as("h")))
    // "appears in >1 document" needs only min(doc_id) != max(doc_id),
    // not the distinct count: the countDistinct form planned TWO
    // full-gram-set exchanges ((h, doc_id) dedup, then h), the min/max
    // form is ONE map-side-combined exchange of (h, min, max) (r14,
    // guide §2.3). doc_id is non-null here (documents' key), and
    // min/max ignore nulls exactly as countDistinct does.
    val occ = grams.groupBy(col("h"))
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("multi"))
    grams.join(occ, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("multi").cast("long")).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        floor(lit(1000000.0) * col("n_dup_spans") / col("n_spans")).cast("long")
          .as("dup_span_ppm"))
  }

  private val Shards = 32

  /** Deterministic global shuffle into training shards: every document
    * gets a content-hash shard (32-way here) and a within-shard
    * position by a second independent hash — the reproducible "shuffle
    * the corpus before packing" step. One keyed window per shard; no
    * global sort, no RNG state, identical output on any cluster size
    * or input partitioning (unlike `orderBy(rand())`, whose result
    * depends on partition layout and seed plumbing).
    *
    * `Shards` is a CLUSTER-SIZED parameter, not a constant: each
    * shard's window sorts one shard in one task, so size shards to a
    * few executor-comfortable GB (a 100 TB corpus wants ~10-50 k
    * shards, not 32). The output is hash-determined, so changing the
    * shard count only re-buckets — per-shard order stays reproducible.
    */
  def globalShuffle(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(hash60(concat(lit("ord"), col("doc_id").cast("string"))), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("shard",
        pmod(hash60(concat(lit("shard"), col("doc_id").cast("string"))), lit(Shards)))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
  }

  /** Contiguous global ordinals 0..N-1 under a total order WITHOUT the
    * single-partition window (`row_number().over(orderBy(...))` with no
    * partition key moves the entire corpus into ONE task — the shape
    * Spark's own WindowExec warning is about). Decomposition instead:
    *
    *   global rank(k, t)  =  prefix_count(keys before k)  +  local rank
    *
    * — exclusive prefix sums over the per-key count table (bounded by
    * distinct key values; the only global window in the plan runs over
    * THAT table, never the corpus), broadcast-joined back, plus a
    * keyed local rank within each key group. Both corpus-sized steps
    * are an aggregate and a keyed window — fully parallel, and robust
    * under any downstream repartition/coalesce (no partition-id or
    * TaskContext dependence; a mapPartitions+getPartitionId variant
    * silently mis-numbers when a consumer's coalesce(1) fuses the
    * stage into one task — measured).
    *
    * Total order (n_chars desc, doc_id asc) has a unique tiebreak, so
    * the assignment is engine-independent. A single dominant key value
    * would concentrate its group in one window partition; the fix at
    * scale is one more prefix level (salt the hot key, prefix-sum the
    * salt buckets) — same decomposition, applied recursively.
    *
    * The plan reads the (doc_id, n_chars) projection twice (offsets
    * aggregate + final join) — deliberate: two 2-column pruned
    * columnar scans beat materializing a corpus-sized checkpoint that
    * exists only to be read once more.
    */
  def globalOrdinals(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    // bounded: one row per distinct length
    val offsets = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(
        sum(col("n")).over(w.orderBy(col("n_chars").desc)
          .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_chars"), col("offset"))
    val wd = w.partitionBy(col("n_chars")).orderBy(col("doc_id"))
    docs.join(broadcast(offsets), Seq("n_chars"))
      .withColumn("ordinal", col("offset") + row_number().over(wd) - 1)
      .select(col("doc_id"), col("n_chars"), col("ordinal"))
  }

  /** Model-based quality classification — the fasttext/logreg serving
    * shape: a fixed weight vector (stand-in for a trained artifact a
    * real run broadcasts) scores per-row features with a logistic
    * link; `keep_flag` thresholds the RAW logit (pure rational
    * arithmetic over integer counts — bit-identical cross-engine),
    * not the rounded sigmoid. Narrow per-row projection, zero shuffle,
    * scan speed at 100 TB.
    */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val stop = TrainPrep.stopWords
    val toks = col("toks")
    val nWords = size(toks).cast("double")
    val rawStop = graft.functions.MarkerHits.markerHits(toks, stop)
      .cast("double") / nWords
    // native codepoint-class counts (== the regex_extract_all sizes,
    // pinned in CharStatsSpec)
    val rawPunct = graft.functions.CharStats.punctCount(col("text"))
      .cast("double") / length(col("text"))
    val rawCaps = graft.functions.CharStats.upperCount(col("text"))
      .cast("double") / length(col("text"))
    // w·x + b, written in one fixed association order (left fold) so
    // both engines evaluate the identical double expression
    val logit = lit(6.0) * rawStop + lit(0.02) * nWords -
      lit(8.0) * rawPunct - lit(4.0) * rawCaps - lit(1.5)
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        round(rawStop, 6).as("stop_ratio"),
        round(rawPunct, 6).as("punct_ratio"),
        round(rawCaps, 6).as("caps_ratio"),
        round(lit(1.0) / (lit(1.0) + exp(-logit)), 6).as("quality_prob"),
        when(logit > 0, lit(1L)).otherwise(lit(0L)).as("keep_flag"))
  }

  /** One-row corpus profile — the summary a pipeline reports after
    * every stage: doc/token/source/lang counts, vocabulary size,
    * English share, average doc length (exact integer micro-units, no
    * float lattice). Two scalar aggregates (per-doc stats; distinct
    * vocabulary over one explode) joined as 1-row broadcasts. The
    * exact `countDistinct` terms is the honest small-scale form; at
    * 100 TB swap `approx_count_distinct` (documented trade — profile
    * numbers tolerate HLL error, the gate query does not).
    */
  def corpusProfile(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("nt"))
    val agg1 = per.agg(
      count(lit(1)).as("n_docs"),
      sum(col("nt")).as("n_tokens"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      floor(lit(1000000.0) * sum((col("lang") === "en").cast("long")) /
        count(lit(1))).cast("long").as("en_ppm"))
    val vocab = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("vocab_size"))
    agg1.crossJoin(broadcast(vocab))
      .withColumn("avg_doc_len_micro",
        floor(lit(1000000.0) * col("n_tokens") / col("n_docs")).cast("long"))
  }

  /** One iteration of BPE vocabulary induction: the top-20 adjacent
    * character pairs by corpus frequency — the merge candidates a
    * tokenizer trainer would fuse next. The BPE-shaped insight for
    * scale: pair counting NEVER touches the corpus per iteration —
    * the word-frequency table (vocabulary-sized, one keyed agg of the
    * token explode) carries all multiplicity, and pairs explode off
    * DISTINCT words weighted by f. A full BPE trainer loops this
    * exact query, re-segmenting only the (bounded) vocabulary between
    * iterations; the corpus is read once, ever. Ordering
    * (n desc, pair asc) is total, so the top-20 cut is
    * engine-independent; counts are exact integers.
    */
  def bpeMergeStep(s: SparkSession, d: String): DataFrame = {
    val wf = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 2)
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
    wf.select(col("f"),
        explode(expr("transform(sequence(1, length(t) - 1)," +
          " i -> substring(t, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** Leakage-aware train/val/test split (90/5/5): the split hash is
    * keyed on the document's near-dup CLUSTER label, not its own id, so
    * every member of an LSH near-dup family lands in the same split —
    * a near-copy of a training document can never leak into val/test.
    * Singleton documents (no near-dup) hash their own id.
    *
    * Shape: the cluster labels come from the same LSH-band candidate
    * graph + connected components the dedup tier runs (bounded keyed
    * joins throughout); attaching them back is a LEFT join of the
    * corpus against the (much smaller) clustered subset. The split
    * decision itself is one narrow md5 projection — at 100 TB the
    * cluster labels are a persisted artifact of the dedup pass and
    * this operator is a single broadcast-or-keyed join over it.
    */
  def trainSplit(s: SparkSession, d: String): DataFrame = {
    val labels = Dedup.connectedComponents(
      Dedup.lshPairsCached(s, d).select(col("doc_a"), col("doc_b")))
      .select(col("doc").as("doc_id"), col("lbl"))
    val bucket = pmod(
      graft.functions.Hash60.hash60(
        concat(lit("split"), col("split_key").cast("string"))), lit(20L))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("lbl"), col("doc_id")))
      .withColumn("bucket", bucket)
      .select(col("doc_id"), col("source"), col("split_key"),
        when(col("bucket") < 18, "train")
          .when(col("bucket") === 18, "val")
          .otherwise("test").as("split"))
  }

  /** Naive-Bayes domain attribution — classify every document against
    * K=4 domain language models and report the confusion census, the
    * mechanism behind domain-weighted corpus mixing (CCNet-style LM
    * routing: train one LM per domain, assign each doc to its argmax
    * domain, then weight domains in the mixture). Domains here are a
    * stable hash bucket of `source` (a stand-in for a real taxonomy;
    * K is a model hyperparameter, NOT data-driven — the class count
    * stays 4 no matter how the corpus grows, so the doc x class
    * expansion is a constant factor, never a scale term).
    *
    * Lane: add-one-smoothed negative log-likelihood per (domain,
    * term), quantized to integer nanonats in the K x V model table
    * (bigram_lm_score discipline — two ln calls on integer-valued
    * doubles, one rounding); per-doc scores are exact long sums of
    * tf * nll, argmin by (score, domain) struct — engine-independent.
    *
    * Plan: ONE corpus tokenize -> (doc, term) tf aggregate (the only
    * data-sized shuffle, checkpointed for the model + scoring reads);
    * the model is dimension-tiny and broadcasts; scoring is a
    * broadcast join + two hash aggregates keyed by doc.
    */
  def nbDomainAttribution(s: SparkSession, d: String): DataFrame = {
    val K = 4
    // read by the model build AND the scorer
    val tfc = Share(Tables.documents(s, d)
      .select(col("doc_id"),
        pmod(graft.functions.Hash60.hash60(col("source")), lit(K.toLong))
          .as("dom_true"),
        explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("dom_true"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val cnt = tfc.groupBy(col("dom_true").as("dom"), col("term"))
      .agg(sum(col("tf")).as("c"))
    // literal bounds so the model cross-expansion is provably finite
    // (PlanGuardSpec BNLJ lint): dom is 0..3 by pmod construction,
    // vocab capped at the top-4096 terms by corpus count (a no-op on
    // this corpus; the cap-plus-OOV-bucket discipline at scale)
    val tot = cnt.groupBy(col("dom")).agg(sum(col("c")).as("t"))
      .filter(col("dom").between(0, 3))
    val vocab = cnt.groupBy(col("term")).agg(sum(col("c")).as("cw"))
      .agg(graft.functions.TopKAgg.collectTopK(
        struct((lit(0L) - col("cw")).as("neg"), col("term")), 4096,
        reverse = true).as("top"))
      .select(explode(col("top")).as("x"))
      .select(col("x.term").as("term"))
    val v = vocab.agg(count(lit(1)).as("v"))
    val model = tot.crossJoin(vocab).crossJoin(broadcast(v))
      .join(cnt, Seq("dom", "term"), "left")
      .select(col("dom"), col("term"),
        round((log((col("t") + col("v")).cast("double")) -
          log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double"))) *
          lit(1e9)).cast("long").as("nll_n"))
    // WIDE model (one row per term, K nll columns): the score join
    // keeps the tf row count flat instead of multiplying it by K, and
    // all K scores ride ONE hash aggregate keyed by doc (measured
    // 6.5 s -> see PLANS.md; the K-row form paid a 4x exchange).
    val nllCols = (0 until K).map(k =>
      sum(when(col("dom") === k, col("nll_n"))).as(s"nll_$k"))
    val wide = model.groupBy(col("term")).agg(nllCols.head, nllCols.tail: _*)
    val sCols = (0 until K).map(k =>
      sum(col("tf") * col(s"nll_$k")).as(s"s_$k"))
    val scored = tfc.join(broadcast(wide), Seq("term"))
      .groupBy(col("doc_id"), col("dom_true"))
      .agg(sCols.head, sCols.tail: _*)
    // argmin with lowest-domain tie-break: array_position finds the
    // FIRST index holding the min
    val arr = array((0 until K).map(k => col(s"s_$k")): _*)
    scored
      .select(col("dom_true"),
        (array_position(arr, array_min(arr)) - 1L).as("dom_pred"))
      .groupBy(col("dom_true"), col("dom_pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** DSIR-style importance resampling toward a target domain: re-weight
    * every document by how much its token mix resembles the target
    * distribution (domain 0 of the md5(source)%4 split — the same
    * domain framing nbDomainAttribution trains against), then keep it
    * with probability proportional to that weight via a deterministic
    * hash draw. The full DSIR likelihood-ratio exponent needs ln (not
    * correctly-rounded cross-engine — the HLL lesson), so the score is
    * the LINEAR contrast: per token, target-ppm minus corpus-ppm rate
    * (integer floor divisions), per doc the tf-weighted mean of those
    * contrasts. Positive score = token mix over-represented in the
    * target; the acceptance weight maps score into [0, 1e6] ppm around
    * a 50% base rate with a fixed gain of 100 (a tuning constant — on
    * this synthetic near-uniform corpus scores sit within ±‰, on a
    * real power-law corpus the gain is fit to the desired budget).
    *
    * Exactness: everything before the accept test is long/floor-div
    * arithmetic. The per-doc mean uses the shift trick
    * `(sw + dl·1e6) div dl − 1e6` so the numerator is provably
    * non-negative — Spark `div` truncates toward zero while DuckDB
    * `//` floors, and they only agree on non-negative operands.
    *
    * Shape: one (doc, term) tf aggregate materialized once (it feeds
    * the vocabulary build AND the scoring join — the persisted-LM
    * pattern of unigramLmScore); vocabulary aggregate keyed on term;
    * scoring join keyed on term (vocabulary-sized, never broadcast);
    * totals are one broadcast scalar row. The accept filter is
    * per-row, shuffle-free. At 100 TB the vocabulary/totals are built
    * on the target+sample once and reused across daily drops.
    */
  def importanceResample(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        (pmod(graft.functions.Hash60.hash60(col("source")), lit(4L)) === 0L)
          .as("tgt"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("tgt"),
        size(col("toks")).cast("long").as("dl"), explode(col("toks")).as("term"))
    val tf = Share(base.groupBy(col("doc_id"), col("tgt"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val vocab = tf.groupBy(col("term")).agg(
      sum(when(col("tgt"), col("tf")).otherwise(0L)).as("tc"),
      sum(col("tf")).as("rc"))
    val tot = vocab.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
    val scored = tf.join(vocab, Seq("term")).crossJoin(broadcast(tot))
      .select(col("doc_id"), col("dl"),
        (col("tf") * (expr("tc * 1000000 div tt") - expr("rc * 1000000 div rt")))
          .as("w"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(col("w")).as("sw"))
      .select(col("doc_id"),
        (expr("(sw + dl * 1000000) div dl") - lit(1000000L)).as("score_ppm"))
    scored
      .select(col("doc_id"), col("score_ppm"),
        least(lit(1000000L),
          greatest(lit(0L), lit(500000L) + lit(100L) * col("score_ppm")))
          .as("weight_ppm"))
      .filter(pmod(graft.functions.Hash60.hash60(
        concat(lit("rs"), col("doc_id").cast("string"))), lit(1000000L))
        < col("weight_ppm"))
  }

  /** HELD-OUT unigram negative log-likelihood — the methodologically
    * honest twin of unigramLmScore (which trains on the full corpus,
    * so every scored doc has leaked into its own model): the LM trains
    * on the EVEN-doc split only and scores the ODD docs, add-one
    * smoothed over the training vocabulary so out-of-vocabulary
    * held-out terms get the finite ln(T+V) penalty instead of a
    * crash. This is the eval a curation pipeline actually runs to
    * compare LM quality signals.
    *
    * Exactness lane: per-term NLL in integer NANONATS — round((ln(T+V)
    * − ln(c+1))·1e9), two ln calls on integer-valued doubles with ONE
    * rounding (the bigram_lm_score discipline) — then per-doc exact
    * long sums over token OCCURRENCES (no per-(doc, term) tf stage;
    * the occurrence left-join ≡ Σ tf·nll). Only the final avg divides, with one 6dp rounding.
    *
    * Shape: training counts aggregate keyed on term (vocabulary-
    * sized); scalars T, V, and the OOV penalty ride ONE broadcast
    * row; the scoring join is keyed on term; the per-doc sum is one
    * map-side-combining aggregate.
    */
  def heldoutNll(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 2 === 0).as("train"),
        explode(tokens(col("text"))).as("term"))
    val cnt = base.filter(col("train"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
      .select(col("t"), col("v"),
        round(log(col("t").cast("double") + col("v")) * 1e9)
          .cast("long").as("oov_n"))
    val model = cnt.crossJoin(broadcast(tot))
      .select(col("term"),
        round((log(col("t").cast("double") + col("v"))
          - log(col("c").cast("double") + 1)) * 1e9).cast("long").as("nll_n"))
    base.filter(!col("train"))
      .join(model, Seq("term"), "left")
      .crossJoin(broadcast(tot.select(col("oov_n"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("nll_n"), col("oov_n"))).as("sn"),
        sum(when(col("nll_n").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("sn").cast("double") / 1e9 / col("n_tokens"), 6)
          .as("avg_nll"))
  }

  /** Temperature-based mixture weighting — the multilingual sampling
    * recipe (upweight low-resource languages by flattening the size
    * distribution: w_l ∝ share_l^τ, τ < 1): per language, the sample
    * allocation a fixed 1M-draw budget gets at τ ∈ {1/4, 1/2, 3/4, 1},
    * plus the implied epochs over the language's own pool in ppm
    * (epochs > 1M ppm == the language will repeat — the overfitting
    * signal τ trades against diversity).
    *
    * Cross-engine exactness by construction, no rounding tolerance
    * anywhere: powers are computed ONLY via IEEE-correctly-rounded ops
    * — share = n/N (one divide), share^(1/2) = sqrt, share^(1/4) =
    * sqrt(sqrt), share^(3/4) = sqrt * sqrt(sqrt) (each op correctly
    * rounded, so both engines produce bit-identical doubles; a libm
    * pow() would not be) — then immediately quantized to integer
    * nano-units (floor(w * 1e9)), so the normalizing sums are EXACT
    * integer sums (float summation order across languages can differ
    * an ulp between engines; integer sums cannot). Allocations are
    * integer division on the quantized weights. One groupBy(lang) and
    * a broadcast 1-row total — bounded by |languages| at any scale.
    */
  def temperatureMixture(s: SparkSession, d: String): DataFrame = {
    val counts = graft.Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("n_total"))
    val share = col("n_docs").cast("double") / col("n_total").cast("double")
    val w = counts.crossJoin(broadcast(total))
      .withColumn("w025", floor(sqrt(sqrt(share)) * 1e9).cast("long"))
      .withColumn("w050", floor(sqrt(share) * 1e9).cast("long"))
      .withColumn("w075", floor(sqrt(share) * sqrt(sqrt(share)) * 1e9).cast("long"))
      .withColumn("w100", floor(share * 1e9).cast("long"))
    val sums = w.agg(sum(col("w025")).as("s025"), sum(col("w050")).as("s050"),
      sum(col("w075")).as("s075"), sum(col("w100")).as("s100"))
    def alloc(wc: String, sc: String) =
      expr(s"(1000000L * $wc) div $sc")
    def epochsPpm(wc: String, sc: String) =
      expr(s"(1000000L * ((1000000L * $wc) div $sc)) div n_docs")
    w.crossJoin(broadcast(sums))
      .select(col("lang"), col("n_docs"),
        alloc("w025", "s025").as("samp_t025"),
        alloc("w050", "s050").as("samp_t050"),
        alloc("w075", "s075").as("samp_t075"),
        alloc("w100", "s100").as("samp_t100"),
        epochsPpm("w025", "s025").as("epochs_t025_ppm"),
        epochsPpm("w100", "s100").as("epochs_t100_ppm"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "temperature_mixture" -> (temperatureMixture _),
    "heldout_nll" -> (heldoutNll _),
    "importance_resample" -> ((s: SparkSession, d: String) => importanceResample(s, d)),
    "nb_domain_attribution" -> ((s: SparkSession, d: String) => nbDomainAttribution(s, d)),
    "unigram_lm_score" -> (unigramLmScore _),
    "bigram_lm_score" -> (bigramLmScore _),
    "dup_span_detect" -> (dupSpanDetect _),
    "global_shuffle" -> (globalShuffle _),
    "quality_classifier" -> (qualityClassifier _),
    "corpus_profile" -> (corpusProfile _),
    "bpe_merge_step" -> (bpeMergeStep _),
    "train_split" -> (trainSplit _),
    "global_ordinals" -> (globalOrdinals _)
  )

  private val normSql =
    "lower(trim(regexp_replace(regexp_replace(text, '[^a-zA-Z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))"

  val oracleSql: Map[String, String] = Map(
    // powers only via correctly-rounded sqrt compositions, quantized
    // to integer nano-units before any sum -> bit-stable cross-engine
    "temperature_mixture" ->
      """WITH counts AS (
        | SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents
        | GROUP BY lang),
        |tot AS (SELECT sum(n_docs) AS n_total FROM counts),
        |w AS (
        | SELECT lang, n_docs,
        |  CAST(floor(sqrt(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))) * 1e9) AS BIGINT) AS w025,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e9) AS BIGINT) AS w050,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
        |    * sqrt(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))) * 1e9) AS BIGINT) AS w075,
        |  CAST(floor((CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e9) AS BIGINT) AS w100
        | FROM counts, tot),
        |sums AS (SELECT CAST(sum(w025) AS BIGINT) AS s025,
        |  CAST(sum(w050) AS BIGINT) AS s050,
        |  CAST(sum(w075) AS BIGINT) AS s075,
        |  CAST(sum(w100) AS BIGINT) AS s100 FROM w)
        |SELECT lang, n_docs,
        | (1000000 * w025) // s025 AS samp_t025,
        | (1000000 * w050) // s050 AS samp_t050,
        | (1000000 * w075) // s075 AS samp_t075,
        | (1000000 * w100) // s100 AS samp_t100,
        | (1000000 * ((1000000 * w025) // s025)) // n_docs AS epochs_t025_ppm,
        | (1000000 * ((1000000 * w100) // s100)) // n_docs AS epochs_t100_ppm
        |FROM w, sums""".stripMargin,

    // even-split LM, add-one smoothing, nanonat per-term NLL (two ln
    // on integer-valued doubles, one rounding), exact occurrence sums
    "heldout_nll" ->
      s"""WITH base AS (
         | SELECT doc_id, (doc_id % 2 = 0) AS train,
         |  unnest(string_split($normSql, ' ')) AS term
         | FROM documents),
         |cnt AS (
         | SELECT term, CAST(count(*) AS BIGINT) AS c
         | FROM base WHERE train GROUP BY 1),
         |tot AS (
         | SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v,
         |  CAST(round(ln(CAST(sum(c) AS DOUBLE) + count(*)) * 1e9) AS BIGINT)
         |    AS oov_n
         | FROM cnt),
         |model AS (
         | SELECT term,
         |  CAST(round((ln(CAST(tot.t AS DOUBLE) + tot.v)
         |    - ln(CAST(cnt.c AS DOUBLE) + 1)) * 1e9) AS BIGINT) AS nll_n
         | FROM cnt CROSS JOIN tot)
         |SELECT b.doc_id,
         | CAST(count(*) AS BIGINT) AS n_tokens,
         | CAST(sum(CASE WHEN model.nll_n IS NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_oov,
         | round(CAST(sum(coalesce(model.nll_n, tot.oov_n)) AS DOUBLE)
         |   / 1e9 / count(*), 6) AS avg_nll
         |FROM base b
         | LEFT JOIN model ON model.term = b.term
         | CROSS JOIN tot
         |WHERE NOT b.train
         |GROUP BY 1""".stripMargin,

    // linear token-contrast lane in floor-div ppm; the shifted
    // `(sw + dl*1e6) // dl` keeps both engines on non-negative
    // division (Spark div truncates, DuckDB // floors)
    "importance_resample" ->
      s"""WITH base AS (
         | SELECT doc_id,
         |  (('0x' || substr(md5(source), 1, 15))::BIGINT % 4 = 0) AS tgt,
         |  string_split($normSql, ' ') AS w
         | FROM documents),
         |b2 AS (
         | SELECT doc_id, tgt, CAST(len(w) AS BIGINT) AS dl,
         |  unnest(w) AS term
         | FROM base),
         |tf AS (
         | SELECT doc_id, tgt, dl, term, CAST(count(*) AS BIGINT) AS tf
         | FROM b2 GROUP BY 1, 2, 3, 4),
         |vocab AS (
         | SELECT term,
         |  CAST(sum(CASE WHEN tgt THEN tf ELSE 0 END) AS BIGINT) AS tc,
         |  CAST(sum(tf) AS BIGINT) AS rc
         | FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt,
         |        CAST(sum(rc) AS BIGINT) AS rt FROM vocab),
         |sc AS (
         | SELECT tf.doc_id, tf.dl,
         |  CAST(sum(tf.tf * (vocab.tc * 1000000 // tot.tt
         |                    - vocab.rc * 1000000 // tot.rt)) AS BIGINT) AS sw
         | FROM tf JOIN vocab USING (term) CROSS JOIN tot
         | GROUP BY 1, 2),
         |wt AS (
         | SELECT doc_id,
         |  CAST((sw + dl * 1000000) // dl - 1000000 AS BIGINT) AS score_ppm
         | FROM sc)
         |SELECT doc_id, score_ppm,
         | CAST(least(1000000, greatest(0, 500000 + 100 * score_ppm))
         |   AS BIGINT) AS weight_ppm
         |FROM wt
         |WHERE ('0x' || substr(md5('rs' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |   % 1000000
         |  < least(1000000, greatest(0, 500000 + 100 * score_ppm))""".stripMargin,

    // K x V model table with per-(domain, term) nanonat NLL (two ln
    // calls on integer-valued doubles, one rounding — identical both
    // engines); per-doc scores exact long sums; argmin ties on domain
    "nb_domain_attribution" ->
      s"""WITH toks AS (
         | SELECT doc_id,
         |  ('0x' || substr(md5(source), 1, 15))::BIGINT % 4 AS dom_true,
         |  unnest(string_split($normSql, ' ')) AS term
         | FROM documents),
         |tfc AS (
         | SELECT doc_id, dom_true, term, CAST(count(*) AS BIGINT) AS tf
         | FROM toks GROUP BY 1, 2, 3),
         |cnt AS (SELECT dom_true AS dom, term, CAST(sum(tf) AS BIGINT) AS c
         |        FROM tfc GROUP BY 1, 2),
         |tot AS (SELECT dom, CAST(sum(c) AS BIGINT) AS t FROM cnt
         |        GROUP BY 1 HAVING dom BETWEEN 0 AND 3),
         |vocab AS (
         | SELECT term FROM (
         |  SELECT term, row_number() OVER (ORDER BY CAST(sum(c) AS BIGINT) DESC, term) AS vrk
         |  FROM cnt GROUP BY 1) WHERE vrk <= 4096),
         |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
         |model AS (
         | SELECT tot.dom, vocab.term,
         |  CAST(round((ln(CAST(tot.t + vv.v AS DOUBLE))
         |    - ln(CAST(coalesce(cnt.c, 0) + 1 AS DOUBLE))) * 1e9) AS BIGINT)
         |   AS nll_n
         | FROM tot CROSS JOIN vocab CROSS JOIN vv
         | LEFT JOIN cnt ON cnt.dom = tot.dom AND cnt.term = vocab.term),
         |scored AS (
         | SELECT tfc.doc_id, tfc.dom_true, model.dom AS dom_cand,
         |  CAST(sum(tfc.tf * model.nll_n) AS BIGINT) AS score
         | FROM tfc JOIN model ON model.term = tfc.term
         | GROUP BY 1, 2, 3),
         |pred AS (
         | SELECT doc_id, dom_true, dom_cand AS dom_pred FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score, dom_cand) AS rn FROM scored) WHERE rn = 1)
         |SELECT dom_true, dom_pred, CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred GROUP BY 1, 2""".stripMargin,

    // per-BIGRAM term quantized to integer nanonats in the <=V^2 model
    // table (identical rounding both engines); per-occurrence long sum
    // is exact and order-free; sum cast BIGINT (DuckDB widens)
    "bigram_lm_score" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |bgx AS (
         | SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         |  unnest(CASE WHEN len(w) >= 2
         |   THEN list_transform(range(0, len(w) - 1),
         |     i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 2 AS INT)], ' '))
         |   ELSE [] END) AS bg
         | FROM toks WHERE len(w) >= 2),
         |cbg AS (SELECT bg, count(*) AS cbg FROM bgx GROUP BY 1),
         |c1 AS (
         | SELECT split_part(bg, ' ', 1) AS t1, sum(cbg) AS c1
         | FROM cbg GROUP BY 1),
         |vv AS (SELECT count(*) AS v FROM c1),
         |lm AS (
         | SELECT bg,
         |  CAST(round((ln(CAST(c1.c1 + vv.v AS DOUBLE))
         |    - ln(CAST(cbg.cbg + 1 AS DOUBLE))) * 1e9) AS BIGINT) AS term_n
         | FROM cbg
         |  JOIN c1 ON c1.t1 = split_part(cbg.bg, ' ', 1)
         |  CROSS JOIN vv),
         |per AS (
         | SELECT doc_id, dl, CAST(sum(term_n) AS BIGINT) AS sn
         | FROM bgx JOIN lm USING (bg) GROUP BY 1, 2)
         |SELECT doc_id, dl AS n_tokens,
         | round(CAST(sn AS DOUBLE) / 1e9 / (dl - 1), 6) AS avg_nll
         |FROM per""".stripMargin,

    "unigram_lm_score" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |base AS (
         | SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term FROM toks),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM base GROUP BY 1, 2, 3),
         |vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS t FROM vocab),
         |per AS (
         | SELECT tf.doc_id, tf.dl,
         |  list_sum(list_transform(
         |    list(struct_pack(term := tf.term, tf := tf.tf, cnt := vocab.cnt) ORDER BY tf.term),
         |    x -> CAST(x.tf AS DOUBLE) * ln(CAST(x.cnt AS DOUBLE)))) AS s
         | FROM tf JOIN vocab USING (term) GROUP BY 1, 2)
         |SELECT per.doc_id, dl AS n_tokens,
         | round(ln(CAST(t AS DOUBLE)) - s / dl, 6) AS avg_nll
         |FROM per CROSS JOIN tot""".stripMargin,

    "dup_span_detect" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |g AS (
         | SELECT doc_id,
         |  ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
         | FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= 8
         |   THEN list_transform(range(0, len(w) - 7),
         |         i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' '))
         |   ELSE [] END) AS gram
         |  FROM toks)),
         |occ AS (SELECT h, count(DISTINCT doc_id) AS span_docs FROM g GROUP BY 1),
         |per AS (
         | SELECT g.doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN occ.span_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
         | FROM g JOIN occ USING (h) GROUP BY 1)
         |SELECT doc_id, n_spans, n_dup_spans,
         | CAST(floor(1000000.0 * n_dup_spans / n_spans) AS BIGINT) AS dup_span_ppm
         |FROM per""".stripMargin,

    "corpus_profile" ->
      s"""WITH per AS (
         | SELECT lang, source,
         |  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS nt
         | FROM documents),
         |a AS (
         | SELECT count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  count(DISTINCT source) AS n_sources, count(DISTINCT lang) AS n_langs,
         |  CAST(floor(1000000.0 * sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |    / count(*)) AS BIGINT) AS en_ppm
         | FROM per),
         |v AS (
         | SELECT count(DISTINCT t) AS vocab_size
         | FROM (SELECT unnest(string_split($normSql, ' ')) AS t FROM documents))
         |SELECT a.*, v.vocab_size,
         | CAST(floor(1000000.0 * n_tokens / n_docs) AS BIGINT) AS avg_doc_len_micro
         |FROM a CROSS JOIN v""".stripMargin,

    "bpe_merge_step" ->
      s"""WITH toks AS (
         | SELECT string_split($normSql, ' ') AS w FROM documents),
         |words AS (SELECT unnest(w) AS t FROM toks),
         |wf AS (SELECT t, count(*) AS f FROM words WHERE len(t) >= 2 GROUP BY 1),
         |idx AS (SELECT t, f, unnest(range(1, len(t))) AS i FROM wf),
         |pairs AS (SELECT substr(t, CAST(i AS INT), 2) AS pair, f FROM idx),
         |agg AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM pairs GROUP BY 1)
         |SELECT pair, n FROM agg ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "global_shuffle" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  ('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 32 AS shard
        | FROM documents)
        |SELECT doc_id, source, shard,
        | row_number() OVER (PARTITION BY shard ORDER BY
        |  ('0x' || substr(md5('ord' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS shard_pos
        |FROM t""".stripMargin,

    "quality_classifier" ->
      s"""WITH t AS (
         | SELECT doc_id, text, string_split($normSql, ' ') AS toks FROM documents),
         |f AS (
         | SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','on','for'], x))) AS DOUBLE) / len(toks) AS raw_stop,
         |  CAST(len(toks) AS DOUBLE) AS n_words,
         |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text) AS raw_punct,
         |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / length(text) AS raw_caps
         | FROM t),
         |z AS (
         | SELECT doc_id, raw_stop, raw_punct, raw_caps,
         |  6.0 * raw_stop + 0.02 * n_words - 8.0 * raw_punct - 4.0 * raw_caps - 1.5 AS logit
         | FROM f)
         |SELECT doc_id,
         | round(raw_stop, 6) AS stop_ratio,
         | round(raw_punct, 6) AS punct_ratio,
         | round(raw_caps, 6) AS caps_ratio,
         | round(1.0 / (1.0 + exp(-logit)), 6) AS quality_prob,
         | CAST(CASE WHEN logit > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
         |FROM z""".stripMargin,

    "train_split" ->
      s"""${Dedup.clusterCompCte},
         |keyed AS (
         | SELECT d.doc_id, d.source,
         |  coalesce(comp.cluster_id, d.doc_id) AS split_key
         | FROM documents d LEFT JOIN comp ON comp.doc = d.doc_id),
         |b AS (
         | SELECT doc_id, source, split_key,
         |  ('0x' || substr(md5('split' || CAST(split_key AS VARCHAR)), 1, 15))::BIGINT % 20 AS bucket
         | FROM keyed)
         |SELECT doc_id, source, split_key,
         | CASE WHEN bucket < 18 THEN 'train'
         |      WHEN bucket = 18 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM b""".stripMargin,

    "global_ordinals" ->
      """SELECT doc_id, n_chars,
        | row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS ordinal
        |FROM documents""".stripMargin
  )
}
