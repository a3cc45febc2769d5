package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Corpus quality / curation operators beyond the basic text-analysis
  * set: Gopher-style repetition signals, PII detection + redaction,
  * character-entropy scoring, training-sequence packing, weighted
  * source mixing, and cluster-blocked semantic dedup (SemDeDup shape).
  *
  * Scale design: everything except `sequence_pack`'s per-source window
  * and `semantic_dedup`'s blocked pair join is a narrow per-row
  * projection — zero shuffle, scan-speed at 100 TB, column pruning
  * reaches the parquet reader. Ratio outputs are integer parts-per-
  * million (`floor(1e6*k/n)`) rather than rounded doubles: exact on
  * both engines, no float-lattice rounding ties (see
  * docs/PLANS.md rounding notes).
  */
object QualityFilters {

  /** floor(1e6 * k / tot) as an exact long ppm; 0 when tot = 0.
    * floor-after-double is safe here: k*1e6 < 2^53 and the true
    * rational is never within an ulp of an integer it isn't equal to
    * (denominators are token counts ≤ ~1e5).
    */
  private def ppm(k: Column, tot: Column): Column =
    when(tot > 0, floor(lit(1000000.0) * k / tot).cast("long")).otherwise(lit(0L))

  /** Most-frequent-element count = longest run in a SORTED array —
    * O(n log n) total. The naive form (transform over distinct x
    * filter over the array) is O(d x n) nested-lambda work AND a time
    * bomb under predicate pushdown: a filter on the output substitutes
    * the whole tree into the inner lambda, re-evaluating the tokenizer
    * per element per element. Bound to the native [[RunLengthMax]]
    * kernel (pinned equal to the expression fold in RunLengthMaxSpec);
    * the fold form allocated a 3-field struct per element.
    */
  private def maxRunLength(sorted: Column): Column =
    graft.functions.RunLengthMax.runLengthMax(sorted)

  /** Gopher-style repetition filter (Rae et al. 2021 §A1.1, adapted to
    * word level — this corpus has no line structure): most-frequent-
    * word fraction, duplicate word-2-gram fraction, duplicate
    * word-3-gram fraction, each as exact ppm, plus the pass flag at
    * the (fixed-hyperparameter) 20% top-word / 30% dup-trigram
    * thresholds. Pure narrow projection — the O(n log n) top-word
    * count stays inside one row, no shuffle anywhere.
    */
  def repetitionFilter(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        array_sort(col("toks")).as("stoks"),
        // hashed grams: only sizes/distinct-sizes are consumed, so the
        // native kernel's long arrays replace gram strings outright
        gramHashes(col("toks"), 2).as("bg"),
        gramHashes(col("toks"), 3).as("tg"))
    val n = size(col("toks")).cast("long")
    val topCnt = maxRunLength(col("stoks"))
    val nbg = size(col("bg")).cast("long")
    val dbg = size(array_distinct(col("bg"))).cast("long")
    val ntg = size(col("tg")).cast("long")
    val dtg = size(array_distinct(col("tg"))).cast("long")
    base
      .select(col("doc_id"), n.as("n_tokens"),
        ppm(topCnt, n).as("top_word_ppm"),
        ppm(nbg - dbg, nbg).as("dup_bigram_ppm"),
        ppm(ntg - dtg, ntg).as("dup_trigram_ppm"))
      .withColumn("passes_repetition",
        when(col("top_word_ppm") <= 200000 && col("dup_trigram_ppm") <= 300000,
          lit(1L)).otherwise(lit(0L)))
  }

  // The PII patterns live in graft.functions.PiiScan (native scan,
  // pinned == these regexes); the oracle SQL below carries the same
  // dialect-neutral regex text (no lookarounds/backrefs — RE2-safe).

  /** Deterministic PII injection (the synthetic corpus has none): one
    * expression shared by piiRedact and curationPipeline — it must
    * stay byte-identical to the oracle-side `augSql` fragment.
    */
  private[graft] def augPii: Column =
    when(pmod(col("doc_id"), lit(7)) === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com now")))
      .when(pmod(col("doc_id"), lit(11)) === 0,
        concat(col("text"), lit(" from 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit(".1 port")))
      .otherwise(col("text"))

  /** PII detection + redaction (emails, IPv4). The synthetic corpus
    * carries no PII, so a deterministic injection (doc_id % 7 -> an
    * email, else doc_id % 11 -> an IP) makes the redaction observable
    * and oracle-checkable; the injection is plain string concat
    * replayed identically by the oracle. Narrow projection: two regex
    * counts + two regex rewrites per row, zero shuffle — this is the
    * C4/Gopher-style scrub that runs at scan speed over 100 TB.
    */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val aug = augPii
    // native scans (pinned == the regex forms in PiiScanSpec): the 4
    // regex passes were the last regex hot spot in the honest profile
    Tables.documents(s, d)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        graft.functions.PiiScan.countEmails(col("aug")).as("n_emails"),
        graft.functions.PiiScan.countIps(col("aug")).as("n_ips"),
        graft.functions.PiiScan.redact(col("aug")).as("redacted"))
  }

  /** round(ln(n) - Σr·ln(r)/n, 6) over the codepoints of a normalized
    * string, n = codepoint count. The Σ r·ln r term is the native
    * [[graft.functions.CharStats]] kernel — one O(n) counting pass per
    * row in ascending-codepoint order (the exact term sequence the
    * oracle's list_sum over sorted distinct chars produces). The
    * expression-tree form (per-char array + sort + fold) measured
    * 42.8 s at sf1; the kernel is ~50x cheaper and, being a leaf call,
    * is also immune to predicate-pushdown tree substitution.
    */
  private def entropyOfNorm(norm: Column): Column = {
    val n = length(norm).cast("double")
    when(length(norm) > 0,
      round(log(n) - graft.functions.CharStats.charRlnR(norm) / n, 6))
      .otherwise(lit(0.0))
  }

  def charEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        graft.functions.CharStats.charDistinct(col("norm")).as("n_distinct_chars"),
        entropyOfNorm(col("norm")).as("char_entropy"))

  private val CtxLen = 512L

  /** Training-sequence packing: concatenate documents in deterministic
    * order and split into fixed 512-token contexts — each doc is
    * assigned the context window its first token lands in plus its
    * offset inside it (concat-then-chunk semantics; docs may straddle
    * boundaries). Packing is per `source` shard: one keyed window
    * (running sum of token counts), which is exactly how the 100 TB
    * version parallelizes — shards pack independently, no global sort.
    * 512 = 2^9, so pack id/offset are shift/mask — exact on both
    * engines.
    */
  def sequencePack(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        shiftright(col("start_tok"), 9).as("pack_id"),
        pmod(col("start_tok"), lit(CtxLen)).as("pack_offset"))
  }

  /** Weighted source mixing: each source gets a deterministic target
    * keep-rate (hash of the source name -> 100..999 permille — a
    * stand-in for the mixture-weights table a real run broadcasts),
    * and rows are kept by an independent content-hash bucket. Pure
    * narrow filter, zero shuffle, reproducible on any partitioning —
    * the scalable form of "sample source X at rate w_X".
    */
  def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val weight = pmod(hash60(col("source")), lit(900L)) + lit(100L)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("weight_permille", weight)
      .filter(pmod(hash60(concat(lit("mix"), col("doc_id").cast("string"))),
        lit(1000L)) < col("weight_permille"))
  }

  /** Cluster-blocked semantic dedup (the SemDeDup shape, Abbas et al.
    * 2023): assign every embedding to its nearest k-means centroid
    * (k = 16, FIXED — see docs/PLANS.md rule 1), then mark rows that
    * have a lower-id neighbor above the similarity threshold within
    * the same cluster; survivors are `keep_flag = 1`. The threshold
    * (0.30) is a hyperparameter tuned to this synthetic corpus's
    * cosine range — real near-dup corpora run 0.95+.
    *
    * Scale shape: centroids are a broadcast constant, assignment is a
    * narrow map, the only pair work is within a cluster block (keyed
    * equi-join on cluster_id), and the assignment table is
    * materialized ONCE (eager localCheckpoint) because three branches
    * consume it — otherwise each branch replays the corpus × k scoring
    * (self-join recompute).
    */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    val cent = e
      .select(pmod(col("label"), lit(16)).as("seed"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("seed"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("seed"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        p => p.getField("m")).as("c"))
      .select(col("seed").as("cluster_id"), col("c"))
    val score = round(dot(col("c"), col("c")) - lit(2) * dot(col("v"), col("c")), 6)
    val assigned = Share(e.join(broadcast(cent))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cluster_id"), col("v")),
        struct(score.as("score"), col("cluster_id"))).as("best"))
      .select(col("vec_id"), col("best.cluster_id").as("cluster_id"), col("best.v").as("v"))
      .withColumn("nrm", norm2(col("v"))))
    // bucketed self-join (r14, guide §2.2 — the embeddingCosineNeardup
    // rationale): joined on cluster_id alone the pair stage runs on at
    // most k=16 partitions and AQE coalesces them further (JobProbe:
    // 10.3 s of scoring on 3 tasks at the 10x corpus); salting the
    // counted side by vec_id % B and replicating the probe side keeps
    // the pair set identical and the per-vec_id count co-located
    val B = Relational.pairBuckets(s)
    val a = assigned.select(col("cluster_id"),
      pmod(col("vec_id"), lit(B)).as("bkt"), col("vec_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cluster_id"),
      explode(sequence(lit(0L), lit(B - 1L))).as("bkt"),
      col("vec_id").as("bid"), col("v").as("vb"), col("nrm").as("nb"))
    val cos = round(graft.functions.Cleaning.safeDiv(
      dot(col("va"), col("vb")), col("na") * col("nb")), 6)
    // pinned repartition on both sides: exempt from AQE's byte-based
    // coalescing, which would fold the small-byte bucket partitions
    // back together before the quadratic explosion (see
    // embeddingCosineNeardup)
    val par = s.sparkContext.defaultParallelism
    val sim = a.repartition(par, col("cluster_id"), col("bkt"))
      .join(b.repartition(par, col("cluster_id"), col("bkt")),
        Seq("cluster_id", "bkt"))
      .filter(col("bid") < col("vec_id"))
      .select(col("vec_id"), cos.as("cos"))
      .filter(col("cos") >= 0.3)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_similar_smaller"))
    assigned.select(col("vec_id"), col("cluster_id"))
      .join(sim, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("n_similar_smaller"), lit(0L)).as("n_similar_smaller"),
        when(col("n_similar_smaller").isNull, lit(1L)).otherwise(lit(0L))
          .as("keep_flag"))
  }

  /** End-to-end curation pipeline — the composed "prepare a training
    * shard" shape, analogous to dedup_pipeline for dedup:
    *
    *   quality gate (repetition ppm + char entropy)
    *     -> decontamination drop (>= 2 shared benchmark 3-grams)
    *     -> PII redaction
    *     -> weighted mixture sampling
    *     -> per-source sequence packing of the survivors.
    *
    * Scale shape: ONE narrow corpus scan computes every per-row signal
    * (folds over sorted arrays — linear even if a predicate pushdown
    * inlines them); the only shuffles are the decontamination gram
    * join (keyed on the gram hash, never doc x doc), the left-anti
    * drop (keyed on doc_id), and the per-source packing window.
    * Thresholds are fixed hyperparameters (20% top-word, 30%
    * dup-trigram, entropy >= 2.7 nats, >= 2 shared grams).
    */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val aug = augPii
    val sig = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"), aug.as("aug"))
      .select(col("doc_id"), col("source"), col("aug"),
        tokens(col("text")).as("toks"), normText(col("text")).as("norm"))
      .select(col("doc_id"), col("source"), col("aug"), col("toks"), col("norm"),
        array_sort(col("toks")).as("stoks"),
        gramHashes(col("toks"), 3).as("tg"))
    val n = size(col("toks")).cast("long")
    val topPpm = ppm(maxRunLength(col("stoks")), n)
    val ntg = size(col("tg")).cast("long")
    val triPpm = ppm(ntg - size(array_distinct(col("tg"))).cast("long"), ntg)
    val ent = entropyOfNorm(col("norm"))
    val redTokens = size(tokens(graft.functions.PiiScan.redact(col("aug"))))
      .cast("long")
    val weight = pmod(hash60(col("source")), lit(900L)) + lit(100L)
    val contaminated = Corpus.decontamination(s, d)
      .filter(col("n_shared") >= 2).select(col("doc_id"))
    // Materialize the narrow signal table BEFORE filtering (eager
    // localCheckpoint = the stage boundary a 100 TB run writes to
    // parquet). Without the barrier, the threshold predicate pushes
    // below these projections and substitutes the regex/normalization
    // trees into the shingle lambdas — re-evaluated per element
    // (measured: the pipeline went from unbounded (>5 min at sf0.01)
    // to 3 s with the barrier).
    val kept = Share(sig
      .select(col("doc_id"), col("source"), topPpm.as("top_ppm"),
        triPpm.as("tri_ppm"), ent.as("ent"), redTokens.as("n_tokens")))
      .filter(col("top_ppm") <= 200000 && col("tri_ppm") <= 300000 &&
        col("ent") >= 2.7 && pmod(col("doc_id"), lit(97)) =!= 0 &&
        pmod(hash60(concat(lit("mix"), col("doc_id").cast("string"))),
          lit(1000L)) < weight)
      .join(contaminated, Seq("doc_id"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    kept
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        shiftright(col("start_tok"), 9).as("pack_id"),
        pmod(col("start_tok"), lit(CtxLen)).as("pack_offset"))
  }

  /** Boilerplate detection (the C4/CCNet line-dedup step adapted to
    * this corpus's word 3-grams): a gram is boilerplate within a
    * `source` when at least half of that source's documents contain
    * it — navigation chrome, headers, template text. Output: per doc,
    * how many of its distinct grams are boilerplate, as count + exact
    * ppm (the downstream rewrite drops those spans).
    *
    * Scale shape: distinct (source, doc, gram-hash) explode → ONE
    * keyed agg on (source, hash) for within-source document frequency
    * (map-side combine), a broadcast of per-source doc counts (a
    * source-cardinality table), and a join back on (source, hash).
    * Everything is keyed on bounded keys; never doc × doc, and the
    * gram table is materialized once for its two consumers.
    */
  def boilerplateDetect(s: SparkSession, d: String): DataFrame = {
    val grams = Share(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(gramHashes(col("toks"), 3))).as("h")))
    val srcDocs = Tables.documents(s, d)
      .groupBy(col("source")).agg(countDistinct(col("doc_id")).as("n_docs"))
    val gramDf = grams.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("df")) // grams are per-doc distinct already
    val boiler = gramDf.join(broadcast(srcDocs), Seq("source"))
      .filter(col("df") * 2 >= col("n_docs"))
      .select(col("source"), col("h"))
    grams.join(boiler.withColumn("hit", lit(1L)), Seq("source", "h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_boiler_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_boiler_grams"),
        floor(lit(1000000.0) * col("n_boiler_grams") / col("n_grams"))
          .cast("long").as("boiler_ppm"))
  }

  /** Reliability census of the cheap linear quality classifier against
    * the rule-based curation gate (repetition + entropy thresholds) —
    * the eval that answers "can the 4-feature logit replace the
    * expensive gate at ingest": per predicted-probability decile, how
    * many docs the gate actually keeps (observed keep rate in ppm) vs
    * the decile's mean predicted probability. A well-calibrated
    * classifier puts gate_keep_ppm ≈ mean_prob_micro per bucket; a
    * decile where they diverge is where the cheap model mis-prices
    * the gate. Same confusion-census spirit as dedup_eval.
    *
    * One scan computes BOTH models' signals per doc (the classifier's
    * marker/charclass kernels and the gate's run-length/gram/entropy
    * kernels share the tokenization), then one ≤10-group aggregate.
    * Cross-engine exactness: prob is rounded to 6 dp first (the
    * already-pinned quality_classifier value); bucket floor and the
    * micro conversion operate on that identical double, and the
    * per-bucket means are integer floor divisions of exact long sums.
    */
  def classifierCalibration(s: SparkSession, d: String): DataFrame = {
    val sig = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"),
        normText(col("text")).as("norm"))
      .select(col("doc_id"), col("text"), col("toks"), col("norm"),
        array_sort(col("toks")).as("stoks"),
        gramHashes(col("toks"), 3).as("tg"))
    val n = size(col("toks")).cast("long")
    val topPpm = ppm(maxRunLength(col("stoks")), n)
    val ntg = size(col("tg")).cast("long")
    val triPpm = ppm(ntg - size(array_distinct(col("tg"))).cast("long"), ntg)
    val ent = entropyOfNorm(col("norm"))
    val nWords = size(col("toks")).cast("double")
    val rawStop = graft.functions.MarkerHits
      .markerHits(col("toks"), TrainPrep.stopWords).cast("double") / nWords
    val rawPunct = graft.functions.CharStats.punctCount(col("text"))
      .cast("double") / length(col("text"))
    val rawCaps = graft.functions.CharStats.upperCount(col("text"))
      .cast("double") / length(col("text"))
    val logit = lit(6.0) * rawStop + lit(0.02) * nWords -
      lit(8.0) * rawPunct - lit(4.0) * rawCaps - lit(1.5)
    val prob = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
    sig
      .select(
        least(floor(prob * 10).cast("long"), lit(9L)).as("bucket"),
        round(prob * 1000000).cast("long").as("prob_micro"),
        when(topPpm <= 200000 && triPpm <= 300000 && ent >= 2.7, 1L)
          .otherwise(0L).as("gate_keep"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("gate_keep")).as("n_gate_keep"),
        sum(col("prob_micro")).as("sum_prob"))
      .select(col("bucket"), col("n_docs"),
        expr("n_gate_keep * 1000000 div n_docs").as("gate_keep_ppm"),
        expr("sum_prob div n_docs").as("mean_prob_micro"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "classifier_calibration" -> (classifierCalibration _),
    "boilerplate_detect" -> (boilerplateDetect _),
    "repetition_filter" -> (repetitionFilter _),
    "pii_redact" -> (piiRedact _),
    "char_entropy" -> (charEntropy _),
    "sequence_pack" -> (sequencePack _),
    "mixture_sample" -> (mixtureSample _),
    "semantic_dedup" -> (semanticDedup _),
    "curation_pipeline" -> (curationPipeline _),
    "pack_efficiency" -> (packEfficiency _)
  )

  /** Packing-efficiency report over the sequencePack layout — the
    * sanity numbers a training run reads before shipping shards: per
    * source, packs used, fill ratio (integer ppm of CtxLen x packs),
    * and how many documents straddle a pack boundary (each straddle is
    * a truncation-or-continuation decision downstream). Everything
    * derives from sequencePack's own output columns in one bounded
    * aggregate — integer arithmetic end to end.
    */
  def packEfficiency(s: SparkSession, d: String): DataFrame = {
    val p = sequencePack(s, d)
    p.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("pack_offset") + col("n_tokens") > CtxLen, 1L)
          .otherwise(0L)).as("boundary_straddlers"))
      .withColumn("n_packs",
        floor((col("total_tokens") + CtxLen - 1).cast("double") / CtxLen)
          .cast("long"))
      .select(col("source"), col("n_docs"), col("total_tokens"), col("n_packs"),
        floor(col("total_tokens").cast("double") * 1e6 / (col("n_packs") * CtxLen))
          .cast("long").as("fill_ppm"),
        col("boundary_straddlers"))
  }

  private def normSqlOf(e: String): String =
    s"lower(trim(regexp_replace(regexp_replace($e, '[^a-zA-Z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))"
  private val normSql = normSqlOf("text")

  // DuckDB fragments shared by the standalone queries and the pipeline
  private val trigramSql =
    "CASE WHEN len(w) >= 3 THEN list_transform(range(0, len(w) - 2), i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ')) ELSE [] END"
  // H = ln(n) - (Σ r·ln r)/n, same term order as the Spark-side fold
  private val entropySql =
    """CASE WHEN len(chars) > 0 THEN round(ln(len(chars)) - list_sum(list_transform(list_sort(list_distinct(chars)),
      |   ch -> CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)
      |     * ln(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)))) / len(chars), 6)
      |  ELSE 0.0 END""".stripMargin
  private val augSql =
    """CASE WHEN doc_id % 7 = 0
      |    THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      |   WHEN doc_id % 11 = 0
      |    THEN text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 port'
      |   ELSE text END""".stripMargin
  private val redactedSql =
    """regexp_replace(
      |   regexp_replace(aug, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
      |   '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g')""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // one doc-level CTE computes both models' signals; the 6dp-rounded
    // prob is the shared double both engines bucket and micro-scale
    "classifier_calibration" ->
      s"""WITH t AS (
         | SELECT doc_id, text, string_split($normSql, ' ') AS w,
         |  $normSql AS norm
         | FROM documents),
         |sig AS (
         | SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n,
         |  list_max(list_transform(list_sort(list_distinct(w)),
         |    x -> len(list_filter(w, tk -> tk = x)))) AS topc,
         |  len($trigramSql) AS ntg,
         |  len(list_distinct($trigramSql)) AS dtg,
         |  list_transform(range(0, length(norm)),
         |    i -> substring(norm, CAST(i + 1 AS INT), 1)) AS chars,
         |  CAST(len(list_filter(w, x -> list_contains(['the','a','and','of','to','in','is','it','on','for'], x))) AS DOUBLE) / len(w) AS raw_stop,
         |  CAST(len(w) AS DOUBLE) AS n_words,
         |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text) AS raw_punct,
         |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / length(text) AS raw_caps
         | FROM t),
         |per AS (
         | SELECT doc_id,
         |  CAST(floor(1000000.0 * topc / n) AS BIGINT) AS top_ppm,
         |  CASE WHEN ntg > 0 THEN CAST(floor(1000000.0 * (ntg - dtg) / ntg) AS BIGINT) ELSE 0 END AS tri_ppm,
         |  $entropySql AS ent,
         |  round(1.0 / (1.0 + exp(-(6.0 * raw_stop + 0.02 * n_words
         |    - 8.0 * raw_punct - 4.0 * raw_caps - 1.5))), 6) AS prob
         | FROM sig),
         |b AS (
         | SELECT least(CAST(floor(prob * 10) AS BIGINT), 9) AS bucket,
         |  CAST(round(prob * 1000000) AS BIGINT) AS prob_micro,
         |  CASE WHEN top_ppm <= 200000 AND tri_ppm <= 300000 AND ent >= 2.7
         |   THEN 1 ELSE 0 END AS gk
         | FROM per)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(gk) * 1000000 // count(*) AS BIGINT) AS gate_keep_ppm,
         | CAST(sum(prob_micro) // count(*) AS BIGINT) AS mean_prob_micro
         |FROM b GROUP BY 1""".stripMargin,

    "boilerplate_detect" ->
      s"""WITH toks AS (
         | SELECT doc_id, source, string_split($normSql, ' ') AS w FROM documents),
         |g AS (
         | SELECT DISTINCT doc_id, source,
         |  ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
         | FROM (
         |  SELECT doc_id, source, unnest(CASE WHEN len(w) >= 3
         |   THEN list_transform(range(0, len(w) - 2),
         |         i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))
         |   ELSE [] END) AS gram
         |  FROM toks)),
         |sd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM documents GROUP BY 1),
         |gd AS (SELECT source, h, count(*) AS df FROM g GROUP BY 1, 2),
         |boiler AS (
         | SELECT gd.source, gd.h FROM gd JOIN sd USING (source)
         | WHERE gd.df * 2 >= sd.n_docs),
         |per AS (
         | SELECT g.doc_id,
         |  count(*) AS n_grams,
         |  count(*) FILTER (WHERE boiler.h IS NOT NULL) AS n_boiler_grams
         | FROM g LEFT JOIN boiler ON g.source = boiler.source AND g.h = boiler.h
         | GROUP BY 1)
         |SELECT doc_id, n_grams, n_boiler_grams,
         | CAST(floor(1000000.0 * n_boiler_grams / n_grams) AS BIGINT) AS boiler_ppm
         |FROM per""".stripMargin,

    "repetition_filter" ->
      s"""WITH t AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |b AS (
         | SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
         |  CASE WHEN len(w) >= 2 THEN list_transform(range(0, len(w) - 1),
         |    i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 2 AS INT)], ' ')) ELSE [] END AS bg,
         |  CASE WHEN len(w) >= 3 THEN list_transform(range(0, len(w) - 2),
         |    i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ')) ELSE [] END AS tg
         | FROM t),
         |m AS (
         | SELECT doc_id, n,
         |  list_max(list_transform(list_sort(list_distinct(w)),
         |    x -> len(list_filter(w, tk -> tk = x)))) AS topc,
         |  len(bg) AS nbg, len(list_distinct(bg)) AS dbg,
         |  len(tg) AS ntg, len(list_distinct(tg)) AS dtg
         | FROM b),
         |r AS (
         | SELECT doc_id, n AS n_tokens,
         |  CAST(floor(1000000.0 * topc / n) AS BIGINT) AS top_word_ppm,
         |  CASE WHEN nbg > 0 THEN CAST(floor(1000000.0 * (nbg - dbg) / nbg) AS BIGINT) ELSE 0 END AS dup_bigram_ppm,
         |  CASE WHEN ntg > 0 THEN CAST(floor(1000000.0 * (ntg - dtg) / ntg) AS BIGINT) ELSE 0 END AS dup_trigram_ppm
         | FROM m)
         |SELECT doc_id, n_tokens, top_word_ppm, dup_bigram_ppm, dup_trigram_ppm,
         | CAST(CASE WHEN top_word_ppm <= 200000 AND dup_trigram_ppm <= 300000
         |  THEN 1 ELSE 0 END AS BIGINT) AS passes_repetition
         |FROM r""".stripMargin,

    "pii_redact" ->
      """WITH a AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |    THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |   WHEN doc_id % 11 = 0
        |    THEN text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 port'
        |   ELSE text END AS aug
        | FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(aug, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS n_emails,
        | len(regexp_extract_all(aug, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS n_ips,
        | regexp_replace(
        |   regexp_replace(aug, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
        |   '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g') AS redacted
        |FROM a""".stripMargin,

    "char_entropy" ->
      s"""WITH t AS (SELECT doc_id, $normSql AS norm FROM documents),
         |c AS (
         | SELECT doc_id, list_transform(range(0, length(norm)),
         |   i -> substring(norm, CAST(i + 1 AS INT), 1)) AS chars
         | FROM t),
         |d AS (
         | SELECT doc_id, chars, list_sort(list_distinct(chars)) AS dchars FROM c)
         |SELECT doc_id,
         | CAST(len(chars) AS BIGINT) AS n_chars_norm,
         | CAST(len(dchars) AS BIGINT) AS n_distinct_chars,
         | CASE WHEN len(chars) > 0 THEN round(ln(len(chars)) - list_sum(list_transform(dchars,
         |   ch -> CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)
         |     * ln(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)))) / len(chars), 6)
         |  ELSE 0.0 END AS char_entropy
         |FROM d""".stripMargin,

    "sequence_pack" ->
      s"""WITH t AS (
         | SELECT doc_id, source,
         |  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens
         | FROM documents),
         |c AS (
         | SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_tok
         | FROM t)
         |SELECT doc_id, source, n_tokens,
         | CAST(start_tok // 512 AS BIGINT) AS pack_id,
         | CAST(start_tok % 512 AS BIGINT) AS pack_offset
         |FROM c""".stripMargin,

    "pack_efficiency" ->
      s"""WITH t AS (
         | SELECT doc_id, source,
         |  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens
         | FROM documents),
         |c AS (
         | SELECT doc_id, source, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
         | FROM t),
         |per AS (
         | SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN start_tok % 512 + n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS boundary_straddlers
         | FROM c GROUP BY 1)
         |SELECT source, n_docs, total_tokens,
         | (total_tokens + 511) // 512 AS n_packs,
         | CAST(floor(CAST(total_tokens AS DOUBLE) * 1e6
         |   / (((total_tokens + 511) // 512) * 512)) AS BIGINT) AS fill_ppm,
         | boundary_straddlers
         |FROM per""".stripMargin,

    "mixture_sample" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  ('0x' || substr(md5(source), 1, 15))::BIGINT % 900 + 100 AS weight_permille
        | FROM documents)
        |SELECT doc_id, source, weight_permille FROM t
        |WHERE ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
        |  < weight_permille""".stripMargin,

    "semantic_dedup" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (
        | SELECT seed AS cluster_id, list(m ORDER BY dim) AS c FROM (
        |  SELECT seed, dim, avg(x) AS m
        |  FROM (SELECT label % 16 AS seed, unnest(v) AS x,
        |        unnest(range(1, len(v) + 1)) AS dim FROM e)
        |  GROUP BY seed, dim)
        | GROUP BY seed),
        |scored AS (
        | SELECT e.vec_id, e.v, cent.cluster_id,
        |  round(list_dot_product(cent.c, cent.c)
        |   - 2 * list_dot_product(e.v, cent.c), 6) AS score
        | FROM e, cent),
        |assigned AS (
        | SELECT vec_id, v, cluster_id FROM (
        |  SELECT vec_id, v, cluster_id,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY score, cluster_id) AS rn
        |  FROM scored) WHERE rn = 1),
        |p AS (
        | SELECT a.vec_id,
        |  round(list_dot_product(a.v, b.v)
        |   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        | FROM assigned a JOIN assigned b
        |  ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id),
        |simc AS (
        | SELECT vec_id, count(*) AS n_similar_smaller FROM p
        | WHERE cos >= 0.3 GROUP BY vec_id)
        |SELECT a.vec_id, a.cluster_id,
        | coalesce(s.n_similar_smaller, 0) AS n_similar_smaller,
        | CAST(CASE WHEN s.n_similar_smaller IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
        |FROM assigned a LEFT JOIN simc s USING (vec_id)""".stripMargin,

    "curation_pipeline" ->
      s"""WITH t AS (
         | SELECT doc_id, source, text, $normSql AS norm FROM documents),
         |tok AS (
         | SELECT doc_id, source, text, norm, string_split(norm, ' ') AS w FROM t),
         |q AS (
         | SELECT doc_id, source, w, CAST(len(w) AS BIGINT) AS n,
         |  list_max(list_transform(list_sort(list_distinct(w)),
         |    x -> len(list_filter(w, tk -> tk = x)))) AS topc,
         |  $trigramSql AS tg,
         |  list_transform(range(0, length(norm)),
         |    i -> substring(norm, CAST(i + 1 AS INT), 1)) AS chars
         | FROM tok),
         |q2 AS (
         | SELECT doc_id, source,
         |  CAST(floor(1000000.0 * topc / n) AS BIGINT) AS top_ppm,
         |  CASE WHEN len(tg) > 0 THEN CAST(floor(1000000.0 * (len(tg) - len(list_distinct(tg))) / len(tg)) AS BIGINT) ELSE 0 END AS tri_ppm,
         |  $entropySql AS ent
         | FROM q),
         |sh AS (SELECT doc_id, $trigramSql AS shingles FROM tok),
         |g AS (
         | SELECT DISTINCT doc_id, ('0x' || substr(md5(s2), 1, 15))::BIGINT AS h
         | FROM (SELECT doc_id, unnest(shingles) AS s2 FROM sh)),
         |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0),
         |contam AS (
         | SELECT g.doc_id FROM g JOIN bench USING (h)
         | WHERE g.doc_id % 97 <> 0
         | GROUP BY g.doc_id HAVING count(DISTINCT g.h) >= 2),
         |red AS (
         | SELECT doc_id,
         |  CAST(len(string_split(${normSqlOf(redactedSql)}, ' ')) AS BIGINT) AS n_tokens
         | FROM (SELECT doc_id, $augSql AS aug FROM documents) a0),
         |kept AS (
         | SELECT q2.doc_id, q2.source, red.n_tokens
         | FROM q2 JOIN red USING (doc_id)
         | WHERE top_ppm <= 200000 AND tri_ppm <= 300000 AND ent >= 2.7
         |  AND doc_id % 97 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM contam)
         |  AND ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
         |      < ('0x' || substr(md5(source), 1, 15))::BIGINT % 900 + 100),
         |c AS (
         | SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_tok
         | FROM kept)
         |SELECT doc_id, source, n_tokens,
         | CAST(start_tok // 512 AS BIGINT) AS pack_id,
         | CAST(start_tok % 512 AS BIGINT) AS pack_offset
         |FROM c""".stripMargin
  )
}
