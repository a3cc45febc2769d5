package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Adversarial evaluation corpus — VERDICT r6's top-ranked ask.
  *
  * Three round-6 readouts proved the driver's synthetic documents
  * table too uniform to exercise the operators it grades: lang labels
  * carry no textual signal (lang_id_eval accuracy == the en prior),
  * the 31-token vocabulary saturates Heaps' curve in decile 0, and
  * the degenerate vocabulary made every PPJoin posting list useless.
  * The driver corpus is READ-ONLY, so the fix is a corpus the engine
  * DERIVES: a deterministic, pure-integer text generator over the
  * existing documents keys (doc_id, lang) that any engine reproduces
  * bit-for-bit — the DuckDB oracle carries the same generator as a
  * CTE, so the strict hash gate still applies end-to-end.
  *
  * Generator design (all arithmetic < 2^47, safe under ANSI int64):
  *  - per word j of doc: a 2-step MINSTD LCG seeded by (doc_id, j);
  *  - 1-in-5 words is a language MARKER drawn from the same 5-word
  *    stopword lists the lang-ID heuristic scores (so labels now
  *    carry real signal; zh markers are CJK codepoints, exercising
  *    the char-class channel);
  *  - the rest are Zipf(s≈1) types: a uniform band b in 0..15 and a
  *    uniform pick inside band [2^b, 2^b+2^b) — P(rank w) ∝ 1/w in
  *    expectation, ~65k types per language (the power-law vocabulary
  *    with the long tail the round-6 corpus lacked);
  *  - the type's surface form maps its hex digits through a
  *    PER-LANGUAGE 16-letter alphabet (latin langs 'x'-prefixed so no
  *    surface ever collides with a marker; zh surfaces are pure CJK,
  *    which the ascii tokenizer honestly cannot see — the char-class
  *    score is what identifies them, exactly as on a real crawl);
  *  - a power-law `host` key via the same band trick (8 bands): the
  *    top host holds ~1/8 of the corpus — the skewed join/group key
  *    the uniform corpus never produced.
  *
  * Scale: generation is a narrow per-row projection over the
  * documents scan — no shuffle, no state, no RNG service; at 100 TB
  * it costs one codegen'd pass and the downstream operators see the
  * realistic frequency structure their scale paths (prefix filters,
  * salting, AQE skew splits) are built for.
  */
object AdvCorpus {

  private val Hex = "0123456789ABCDEF"
  // 16-letter per-language alphabets (distinct frequency profiles);
  // zh is 16 CJK codepoints so surfaces exercise the char-class lane
  private val Alpha = Map(
    "en" -> "etaonihsrdlcumwf",
    "es" -> "eaosrnidlctumpbg",
    "de" -> "enisratdhulcgmob",
    "fr" -> "esaitnrulodcmpvq",
    "zh" -> "一二三四五六七八九十百千万上中下")
  // the exact marker lists the lang-ID heuristic scores
  // (TextAnalysis.langScores); zh markers are common CJK chars
  private val Markers = Map(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "los", "de", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "est", "une"),
    "zh" -> Seq("的", "了", "是", "不", "在"))
  private val Langs = Seq("en", "es", "de", "fr", "zh")

  /** Quote docs — the containment-positive structure the PPJoin
    * operator needs: every doc_id ≡ 5 (mod 16) regenerates a short
    * SLICE of the word stream of doc_id-5 (its "parent"): same seed,
    * positions joff..joff+nw-1, 12-18 words vs the parent's 30-70.
    * Rendered in the quote's OWN language, so the pair is a true
    * containment dup (cont = 1.0, jaccard < 0.5 — invisible to the
    * Jaccard channels) exactly when the langs coincide (~27% of
    * quotes), and a hard negative otherwise.
    */
  private val IsQuote = "doc_id % 16 = 5 AND doc_id >= 16"
  private val SidExpr =
    s"CASE WHEN $IsQuote THEN doc_id - 5 ELSE doc_id END"
  private val JoffExpr =
    s"CASE WHEN $IsQuote THEN doc_id % 10 ELSE CAST(0 AS BIGINT) END"
  private val NwCase =
    s"CASE WHEN $IsQuote THEN CAST(12 + doc_id % 7 AS BIGINT) ELSE CAST(30 + doc_id % 41 AS BIGINT) END"

  /** Build the per-word expression in either dialect. The arithmetic
    * core is shared text; only `div`, shift, list-index, hex, and
    * concat syntax differ — keeping the two generators provably
    * congruent line-by-line.
    */
  private def wordExpr(duck: Boolean): String = {
    val x = "((sid % 1048576) * 69069 + (j + joff) * 97 + 12345) % 2147483647"
    val r = s"((($x) * 48271) % 2147483647)"
    val r2 = s"((($r) * 48271) % 2147483647)"
    val b = s"(($r2) % 16)"
    val p =
      if (duck) s"(CAST(1 AS BIGINT) << CAST($b AS INT))"
      else s"shiftleft(CAST(1 AS BIGINT), CAST($b AS INT))"
    val w = s"(($p) + (($r) % ($p)))"
    val hexW = if (duck) s"to_hex($w)" else s"hex($w)"
    def marker(lang: String): String = {
      val lst = Markers(lang).map(m => s"'$m'").mkString(", ")
      val idx = s"CAST(1 + (($r2) % 5) AS INT)"
      if (duck) s"([$lst])[$idx]" else s"element_at(array($lst), $idx)"
    }
    def surface(lang: String): String = {
      val t = s"translate($hexW, '$Hex', '${Alpha(lang)}')"
      if (lang == "zh") t
      else if (duck) s"('x' || $t)"
      else s"concat('x', $t)"
    }
    val markerCase = Langs.map(l => s"WHEN '$l' THEN ${marker(l)}").mkString(" ")
    val surfaceCase = Langs.map(l => s"WHEN '$l' THEN ${surface(l)}").mkString(" ")
    s"""CASE WHEN (($r) % 5) = 0
       | THEN CASE lang $markerCase END
       | ELSE CASE lang $surfaceCase END END""".stripMargin
  }

  private def textExpr(duck: Boolean): String =
    if (duck)
      s"array_to_string(list_transform(range(0, nw), j -> ${wordExpr(duck = true)}), ' ')"
    else
      s"array_join(transform(sequence(CAST(0 AS BIGINT), nw - 1), j -> ${wordExpr(duck = false)}), ' ')"

  /** Power-law host: band b in 0..7 uniform, uniform pick in
    * [2^b, 2^b+2^b) — host 'h1' holds ~1/8 of all docs. */
  private def hostExpr(duck: Boolean): String = {
    val hr = "(((doc_id % 1048576) * 48271 + 11) % 2147483647)"
    val hb = s"($hr % 8)"
    val hp =
      if (duck) s"(CAST(1 AS BIGINT) << CAST($hb AS INT))"
      else s"shiftleft(CAST(1 AS BIGINT), CAST($hb AS INT))"
    val hid =
      if (duck) s"(($hp) + (($hr // 8) % ($hp)))"
      else s"(($hp) + (($hr div 8) % ($hp)))"
    if (duck) s"('h' || CAST($hid AS VARCHAR))"
    else s"concat('h', CAST($hid AS STRING))"
  }

  /** The derived adversarial corpus: (doc_id, lang, host, text) —
    * the raw generator projection (narrow, expression-only). */
  private[operators] def deriveAdvDocuments(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr(SidExpr).as("sid"), expr(JoffExpr).as("joff"),
        expr(NwCase).as("nw"))
      .withColumn("text", expr(textExpr(duck = false)))
      .withColumn("host", expr(hostExpr(duck = false)))
      .select(col("doc_id"), col("lang"), col("host"), col("text"))

  /** Fingerprint of the GENERATOR itself — the full Spark-dialect
    * derivation expressions hashed, so any future edit to Alpha /
    * Markers / wordExpr / hostExpr / the quote-slice cases invalidates
    * the disk cache automatically instead of silently serving text
    * derived by the old code (the stale-cache hazard ADVICE r7
    * flagged: Bench would measure the old corpus and Verify would fail
    * confusingly until target/adv_cache was hand-deleted). */
  private lazy val genFingerprint: String = {
    val src = Seq(textExpr(duck = false), hostExpr(duck = false),
      SidExpr, JoffExpr, NwCase).mkString("\u0000")
    val dig = java.security.MessageDigest.getInstance("SHA-256")
      .digest(src.getBytes("UTF-8"))
    dig.take(12).map("%02x".format(_)).mkString
  }

  /** The derived adversarial corpus, cached ON DISK per source dir —
    * four registered queries consume it, and at the 10x corpus the
    * generator projection alone costs ~4 s per query (docs/PLANS.md
    * r7 bench note). One derive+write, then each query is a plain
    * parquet scan. Deliberately NOT an in-session DataFrame cache:
    * Bench/TimeOne unpersist every persistent RDD between queries to
    * keep per-query timings independent, and an unpersisted
    * localCheckpoint is unrecoverable (its lineage is truncated).
    * Safety (the r6 ScaleUp self-derive incident's lesson): the cache
    * lives under the repo's own target/adv_cache — never inside the
    * source dir — with a src != dst refusal BEFORE any write, a
    * (path, fingerprint) marker gating reuse, and a temp-dir +
    * atomic-rename publish so a killed build never leaves a torn
    * cache behind a valid marker.
    */
  def advDocuments(s: SparkSession, d: String): DataFrame =
    LaneCache.cached(s, d, "adv_docs", genFingerprint, Seq("documents"),
      cacheRoot = "target/adv_cache") {
      deriveAdvDocuments(s, d)
    }

  /** The same generator as a DuckDB CTE (named adv_docs). */
  val AdvDocsCte: String =
    s"""adv_docs AS (
       | SELECT doc_id, lang,
       |  ${textExpr(duck = true)} AS text,
       |  ${hostExpr(duck = true)} AS host
       | FROM (SELECT doc_id, lang, $SidExpr AS sid, $JoffExpr AS joff,
       |   $NwCase AS nw FROM documents))""".stripMargin

  /** Lang-ID confusion census on the adversarial corpus — the same
    * heuristic and census as lang_id_eval, now graded against labels
    * that carry textual signal. Readout: accuracy ≈ 100% vs the 43.6%
    * majority prior on the driver corpus (the only misses are the
    * ~0.8^nw zero-marker docs falling to the 'en' tie default).
    */
  def advLangIdEval(s: SparkSession, d: String): DataFrame = {
    val (sEn, sEs, sDe, sFr, sZh) = TextAnalysis.langScores
    val per = advDocuments(s, d)
      .select(col("lang").as("lang_true"), col("text"),
        tokens(col("text")).as("toks"))
      .select(col("lang_true"),
        TextAnalysis.langPredOf(sEn, sEs, sDe, sFr, sZh).as("lang_pred"))
    TextAnalysis.confusionCensus(per)
  }

  /** Heaps-law curve on the power-law corpus — same first-occurrence
    * decomposition as vocab_growth; the readout is a genuine Heaps
    * curve (every decile contributes new types) instead of decile-0
    * saturation.
    */
  def advVocabGrowth(s: SparkSession, d: String): DataFrame =
    CorpusAnalytics.vocabGrowthFrom(
      advDocuments(s, d).select(col("doc_id"), tokens(col("text")).as("toks")))

  /** Per-host census over the skewed host key. The aggregation is
    * associative (count/sum), so Spark's map-side partial aggregation
    * absorbs the h1 hot key before the exchange — the plan note a
    * skewed GROUP BY needs (a skewed JOIN instead takes AQE's skew
    * split or a salt; see functions/Salting.scala).
    */
  def advHostStats(s: SparkSession, d: String): DataFrame =
    advDocuments(s, d)
      .select(col("host"), tokens(col("text")).as("toks"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))

  /** PPJoin-style prefix-filtered containment join — the scale path
    * dedup_containment's scaladoc designs and VERDICT r6 item #2 asks
    * for as code, runnable here because the power-law corpus finally
    * gives prefix filtering something to prune with (the r6 corpus's
    * 31-token vocabulary put every token in ~76% of blocks, so the
    * posting lists covered everything and the filter was measured
    * useless — docs/PLANS.md).
    *
    * Algorithm (exact, global — NO blocking key, unlike the
    * per-source merge-walk): order each doc's distinct token hashes
    * by global document frequency ascending (rarest first; ties by
    * hash — any fixed total order is correct, df-order minimizes
    * candidates); a pair with containment >= 0.8 of the smaller side
    * (the 5i >= 4m gate) has at most floor(m/5) of the smaller doc's
    * m tokens outside the intersection, so its first floor(m/5)+1
    * tokens in ANY fixed order must hit the other doc — probing every
    * doc's rare-token prefix against the full posting index therefore
    * finds every true pair. Candidates are verified with the same
    * exact merge-walk intersect + integer gate as dedup_containment.
    *
    * Scale: candidate volume = sum over prefix entries of df(token) —
    * prefix tokens are the RAREST per doc, so on any Zipfian corpus
    * the posting lists probed are the short tail ones; every stage is
    * an equi-join or a per-doc (≤ doc-length) window; nothing is
    * quadratic in the corpus. The DuckDB oracle runs the SAME
    * prefix-filter plan, so the strict gate stays feasible at the 10x
    * corpus (a brute-force oracle would be 2.5G pairs there).
    */
  def advContainmentPpjoin(s: SparkSession, d: String): DataFrame = {
    val base = Share(advDocuments(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_sort(array_distinct(graft.functions.TextFunctions
          .gramHashes(col("toks"), 1))).as("uni"))
      .select(col("doc_id"), col("uni"), size(col("uni")).cast("long").as("nu"))
      // min-set-size gate: sub-5-type docs make containment vacuous
      // (the ascii tokenizer collapses pure-CJK docs to one empty
      // token, which would pair every zh doc with every other at
      // cont=1.0 — 2775 junk pairs at sf0.01); the standard dedup
      // practice is a minimum-content gate, applied identically in
      // the oracle
      .filter(col("nu") >= 5))
    val postings = base.select(col("doc_id"), col("nu"),
      explode(col("uni")).as("tok"))
    val dfreq = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val prefix = postings.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= expr("nu div 5") + 1)
      .select(col("doc_id").as("p_doc"), col("nu").as("p_nu"), col("tok"))
    // only the SMALLER side's probe is required for coverage (the
    // prefix bound is on min(|A|,|B|)), so drop probes against
    // shorter docs — halves the candidate volume, changes nothing
    // downstream (both engines apply the same rule)
    val cand = prefix
      .join(postings.select(col("doc_id").as("q_doc"),
        col("nu").as("q_nu"), col("tok")), "tok")
      .filter(col("p_doc") =!= col("q_doc") && col("p_nu") <= col("q_nu"))
      .select(least(col("p_doc"), col("q_doc")).as("doc_a"),
        greatest(col("p_doc"), col("q_doc")).as("doc_b"))
      .distinct()
    val av = base.select(col("doc_id").as("doc_a"), col("uni").as("uni_a"),
      col("nu").as("nu_a"))
    val bv = base.select(col("doc_id").as("doc_b"), col("uni").as("uni_b"),
      col("nu").as("nu_b"))
    cand.join(av, "doc_a").join(bv, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("nu_a"), col("nu_b"),
        graft.functions.IntersectCount
          .intersectCount(col("uni_a"), col("uni_b")).cast("long").as("n_shared"))
      .filter(col("nu_a") > 0 && col("nu_b") > 0 &&
        col("n_shared") * 5 >= least(col("nu_a"), col("nu_b")) * 4)
      .select(col("doc_a"), col("doc_b"), col("nu_a"), col("nu_b"),
        col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("nu_a"), col("nu_b")), 6).as("containment"),
        round(col("n_shared").cast("double") /
          (col("nu_a") + col("nu_b") - col("n_shared")), 6).as("jaccard"))
  }

  /** The four (bands, rows) splits evaluated, and per split the list
    * of sig_arr index ranges forming each band — shared by the Spark
    * and DuckDB band-key generators so the two plans stay congruent
    * by construction. */
  private val BandConfigs: Seq[(String, Int, Int)] =
    Seq((8, 1), (4, 2), (2, 4), (1, 8)).map { case (b, r) => (s"b${b}_r$r", b, r) }

  /** Dense-corpus LSH banding evaluation — `lsh_band_eval` without the
    * share-a-shingle universe (VERDICT r7 "Next round" #2). On a corpus
    * that densifies, |U| = pairs sharing >= 1 shingle grows
    * super-linearly (it IS the (8,1) candidate set plus every
    * one-shared-shingle pair); this form never builds it. Instead the
    * confusion matrix is assembled from its two non-trivial parts:
    *
    *  - TRUTH positives (shingle-hash Jaccard >= 0.5) via a PPJoin
    *    prefix filter in hv space — adv_containment_ppjoin's machinery
    *    with the Jaccard bound: for J(A,B) >= 1/2 the smaller side m
    *    has >= ceil(2m/3) tokens in the intersection, so its first
    *    floor(m/3)+1 tokens in ANY fixed global order (df asc, hv asc
    *    here) must hit the other doc. Probing only the smaller side's
    *    prefix against the full posting index is therefore complete;
    *    candidates are verified with the exact merge-walk intersect.
    *  - BAND candidates per (b, r) config via the production band-key
    *    equi-join (group on the concatenated band signature — exactly
    *    the join an LSH dedup at 100 TB runs), NOT via filtering a
    *    pair universe. Candidate volume is each config's own honest
    *    LSH candidate volume, Zipf-tail bounded like any bucketed join.
    *
    * Every band candidate outside the verified truth set is an FP by
    * construction (the prefix filter is complete for positives), so
    * tp = |C ∩ P|, fp = |C| - tp, fn = |P| - tp, and tn is arithmetic
    * from n(n-1)/2. n_cand is emitted per config — the measured
    * candidate-volume story the S-curve trades against recall.
    *
    * The DuckDB oracle runs the SAME dense plan (prefix filter + band
    * join) — the df-order tie-break could differ across engines but
    * only widens the verified-superset, never the output (same note as
    * adv_containment_ppjoin).
    */
  def advLshBandDense(s: SparkSession, d: String): DataFrame =
    bandEvalDense(advDocuments(s, d))

  /** The dense plan over the DRIVER documents table — the corpus that
    * is actually dense (31-token vocab => share-a-shingle |U| is 9% of
    * all pairs at sf0.01, and lsh_band_eval is the registry's #1 cost:
    * 26 s sf1 / 512 s sf10). Its tp/fp/fn/tn/precision/recall rows
    * must EQUAL lsh_band_eval's exactly — two independent plans (pair
    * universe vs prefix-truth + band-join), one matrix — so the two
    * queries cross-pin each other through the strict oracle gate. */
  def lshBandEvalDense(s: SparkSession, d: String): DataFrame =
    bandEvalDense(Tables.documents(s, d).select(col("doc_id"), col("text")))

  private def bandEvalDense(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.gramHashes
    val P = Dedup.P
    // shs materialized + checkpointed BEFORE the 8 sig transforms:
    // CollapseProject would otherwise re-inline the md5 shingle chain
    // into every signature expression (the minhashSigDf lesson —
    // measured 25x there)
    val shsDf = Share(docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), array_sort(array_distinct(
        transform(gramHashes(col("toks"), 3), h => h % P))).as("shs"))
      .filter(size(col("shs")) > 0))
    val sigArr = array((0 until 8).map { j =>
      val a = 2 * j + 3
      val b = 101 * j + 7
      array_min(transform(col("shs"), h => (h * a + b) % P))
    }: _*)
    val base = Share(shsDf
      .select(col("doc_id"), col("shs"),
        size(col("shs")).cast("long").as("ns"), sigArr.as("sig_arr")))
    val scal = base.agg(count(lit(1)).as("n"))
      .select(expr("n * (n - 1) div 2").as("total_pairs"))
    // truth lane: prefix-filtered Jaccard >= 0.5 candidates, verified
    val postings = base.select(col("doc_id"), col("ns"),
      explode(col("shs")).as("hv"))
    val dfreq = postings.groupBy(col("hv")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("hv"))
    val prefix = postings.join(dfreq, "hv")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= expr("ns div 3") + 1)
      .select(col("doc_id").as("p_doc"), col("ns").as("p_nu"), col("hv"))
    val candP = prefix
      .join(postings.select(col("doc_id").as("q_doc"),
        col("ns").as("q_nu"), col("hv")), "hv")
      .filter(col("p_doc") =!= col("q_doc") && col("p_nu") <= col("q_nu"))
      .select(least(col("p_doc"), col("q_doc")).as("doc_a"),
        greatest(col("p_doc"), col("q_doc")).as("doc_b"))
      .distinct()
    // NOT checkpointed (r14, settling VERDICT r13 #1): pos has two
    // consumers (the n_pos scalar and the tf left join), so the truth
    // lane — prefix window + postings join + intersect verification —
    // does execute twice. r13 added an eager localCheckpoint here on a
    // loaded-box A/B; the quiet-box paired rerun (10x corpus, min of
    // 4, docs/PLANS.md r14) reverses it: 9.51 s without vs 14.48 s
    // with (lsh_band_eval_dense), 7.03 vs 8.62 (adv_lsh_band_dense) —
    // matching the driver's r13 readings (both stages ~1.5x slower
    // with the checkpoint). Eagerly materializing every partition of
    // the distinct-ended lane and rescanning it as an RDD costs more
    // than the duplicated subtree: the lane's tail is a bounded
    // distinct + broadcast-verify, while the checkpoint serializes the
    // full pair list through block storage and cuts AQE/codegen across
    // the boundary.
    val pos = candP
      .join(base.select(col("doc_id").as("doc_a"), col("shs").as("ua"),
        col("ns").as("na")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shs").as("ub"),
        col("ns").as("nb")), "doc_b")
      .filter(lit(3) * graft.functions.IntersectCount
        .intersectCount(col("ua"), col("ub")) >= col("na") + col("nb"))
      .select(col("doc_a"), col("doc_b"))
    val np = pos.agg(count(lit(1)).as("n_pos"))
    // candidate lane: the production band-key equi-join, all configs
    // in one exploded pass; key = band sigs joined with '_' (decimal
    // int64 rendering is identical across engines)
    val bandEntries = BandConfigs.flatMap { case (cfg, bn, r) =>
      (0 until bn).map { k =>
        struct(lit(cfg).as("config"), lit(k).as("bid"),
          concat_ws("_", (0 until r).map(j =>
            element_at(col("sig_arr"), k * r + j + 1)): _*).as("bkey"))
      }
    }
    val bands = base
      .select(col("doc_id"), explode(array(bandEntries: _*)).as("b"))
      .select(col("doc_id"), col("b.config").as("config"),
        col("b.bid").as("bid"), col("b.bkey").as("bkey"))
    val cands = bands.as("x")
      .join(bands.as("y"), Seq("config", "bid", "bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("config"), col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .distinct()
    val tf = cands
      .join(pos.withColumn("p", lit(true)), Seq("doc_a", "doc_b"), "left")
      .groupBy(col("config"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("p"), 1L).otherwise(0L)).as("tp"))
    def ppm(num: Column, den: Column): Column =
      when(den > 0, floor(num.cast("double") * 1e6 / den).cast("long"))
    val cfgs = {
      val sess = docs.sparkSession
      import sess.implicits._
      BandConfigs.map(_._1).toDF("config")
    }
    cfgs.join(tf, Seq("config"), "left")
      .crossJoin(broadcast(np)).crossJoin(broadcast(scal))
      .select(col("config"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        col("n_pos"), col("total_pairs"))
      .select(col("config"), col("n_cand"), col("tp"),
        (col("n_cand") - col("tp")).as("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        (col("total_pairs") - col("n_pos") - (col("n_cand") - col("tp"))).as("tn"),
        ppm(col("tp"), col("n_cand")).as("precision_ppm"),
        ppm(col("tp"), col("n_pos")).as("recall_ppm"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "adv_lang_id_eval" -> (advLangIdEval _),
    "adv_vocab_growth" -> (advVocabGrowth _),
    "adv_host_stats" -> (advHostStats _),
    "adv_containment_ppjoin" -> (advContainmentPpjoin _),
    "adv_lsh_band_dense" -> ((s: SparkSession, d: String) => advLshBandDense(s, d)),
    "lsh_band_eval_dense" -> ((s: SparkSession, d: String) => lshBandEvalDense(s, d))
  )

  private[operators] val normSql =
    "lower(trim(regexp_replace(regexp_replace(text, '[^a-zA-Z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))"

  val oracleSql: Map[String, String] = Map(
    "adv_lang_id_eval" ->
      s"""WITH $AdvDocsCte,
         |t AS (
         | SELECT lang AS lang_true, text, string_split($normSql, ' ') AS toks
         | FROM adv_docs),
         |sc AS (
         | SELECT lang_true,
         |  round(CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','is'], x))) AS DOUBLE) / len(toks), 6) AS s_en,
         |  round(CAST(len(list_filter(toks, x -> list_contains(['el','la','los','de','que'], x))) AS DOUBLE) / len(toks), 6) AS s_es,
         |  round(CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS DOUBLE) / len(toks), 6) AS s_de,
         |  round(CAST(len(list_filter(toks, x -> list_contains(['le','les','et','est','une'], x))) AS DOUBLE) / len(toks), 6) AS s_fr,
         |  round(CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE) / length(text), 6) AS s_zh
         | FROM t),
         |per AS (
         | SELECT lang_true,
         |  CASE WHEN s_zh > 0.05 THEN 'zh'
         |   WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
         |   WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
         |   WHEN s_de >= s_fr THEN 'de'
         |   ELSE 'fr' END AS lang_pred
         | FROM sc),
         |conf AS (
         | SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
         | FROM per GROUP BY 1, 2)
         |SELECT lang_true, lang_pred, n,
         | CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang_true)
         |   AS BIGINT) AS true_share_ppm,
         | CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang_pred)
         |   AS BIGINT) AS pred_share_ppm
         |FROM conf""".stripMargin,

    "adv_vocab_growth" ->
      s"""WITH $AdvDocsCte,
         |docs AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM adv_docs),
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

    "adv_host_stats" ->
      s"""WITH $AdvDocsCte
         |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(len(string_split($normSql, ' '))) AS BIGINT) AS n_tokens,
         | CAST(sum(length(text)) AS BIGINT) AS n_chars
         |FROM adv_docs GROUP BY 1""".stripMargin,

    // the SAME prefix-filter plan as the Spark side (token strings
    // here, hash60 on the Spark side — counts identical; the df-order
    // tie-break differs across engines, which changes only the
    // candidate superset, never the verified output)
    "adv_containment_ppjoin" ->
      s"""WITH $AdvDocsCte,
         |base AS (
         | SELECT doc_id, uni FROM (
         |  SELECT doc_id, list_distinct(string_split($normSql, ' ')) AS uni
         |  FROM adv_docs) WHERE len(uni) >= 5),
         |post AS (SELECT doc_id, CAST(len(uni) AS BIGINT) AS nu,
         |         unnest(uni) AS tok FROM base),
         |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
         |        FROM post GROUP BY 1),
         |pre AS (
         | SELECT doc_id AS p_doc, nu AS p_nu, tok
         | FROM (SELECT post.doc_id, post.nu, post.tok,
         |         row_number() OVER (PARTITION BY post.doc_id
         |           ORDER BY dfq.df, post.tok) AS rn
         |       FROM post JOIN dfq USING (tok))
         | WHERE rn <= nu // 5 + 1),
         |cand AS (
         | SELECT DISTINCT least(pre.p_doc, post.doc_id) AS doc_a,
         |  greatest(pre.p_doc, post.doc_id) AS doc_b
         | FROM pre JOIN post ON pre.tok = post.tok
         |  AND pre.p_doc <> post.doc_id AND pre.p_nu <= post.nu),
         |v AS (
         | SELECT doc_a, doc_b,
         |  CAST(len(x.uni) AS BIGINT) AS nu_a,
         |  CAST(len(y.uni) AS BIGINT) AS nu_b,
         |  CAST(len(list_intersect(x.uni, y.uni)) AS BIGINT) AS n_shared
         | FROM cand
         |  JOIN base x ON x.doc_id = doc_a
         |  JOIN base y ON y.doc_id = doc_b)
         |SELECT doc_a, doc_b, nu_a, nu_b, n_shared,
         | round(CAST(n_shared AS DOUBLE) / least(nu_a, nu_b), 6) AS containment,
         | round(CAST(n_shared AS DOUBLE) / (nu_a + nu_b - n_shared), 6) AS jaccard
         |FROM v
         |WHERE nu_a > 0 AND nu_b > 0
         | AND n_shared * 5 >= least(nu_a, nu_b) * 4""".stripMargin,

    // the SAME dense plan as the Spark side: prefix-filtered truth +
    // band-key equi-join candidates, tn arithmetic — never the
    // share-a-shingle universe (infeasible on a dense corpus in
    // either engine)
    "adv_lsh_band_dense" -> bandEvalDenseSql(s"WITH $AdvDocsCte,", "adv_docs"),
    // driver corpus: must reproduce lsh_band_eval's matrix exactly
    "lsh_band_eval_dense" -> bandEvalDenseSql("WITH", "documents")
  )

  /** The dense band-eval plan as DuckDB SQL over any (doc_id, text)
    * relation — code-generated from the same BandConfigs table as the
    * Spark side. */
  private def bandEvalDenseSql(cteHeader: String, rel: String): String = {
      val p = graft.operators.Dedup.P
      val sigSel = (0 until 8).map { j =>
        val a = 2 * j + 3
        val b = 101 * j + 7
        s"list_min(list_transform(hv, h -> (h * $a + $b) % $p)) AS sig$j"
      }.mkString(",\n ")
      val entries = BandConfigs.flatMap { case (cfg, bn, r) =>
        (0 until bn).map { k =>
          val key = (0 until r)
            .map(j => s"CAST(sig_arr[${k * r + j + 1}] AS VARCHAR)")
            .mkString(" || '_' || ")
          (cfg, k, key)
        }
      }
      val cfgList = BandConfigs.map(c => s"'${c._1}'").mkString(", ")
      s"""$cteHeader
         |toks AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM $rel),
         |sh AS (
         | SELECT doc_id, CASE WHEN len(w) >= 3
         |  THEN list_transform(range(0, len(w) - 2),
         |        i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))
         |  ELSE [] END AS shingles FROM toks),
         |hs AS (
         | SELECT doc_id, list_transform(shingles,
         |   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $p) AS hv FROM sh
         | WHERE len(shingles) > 0),
         |sig AS (SELECT doc_id, $sigSel FROM hs),
         |base AS (
         | SELECT hs.doc_id, list_sort(list_distinct(hv)) AS shs,
         |  CAST(len(list_distinct(hv)) AS BIGINT) AS ns,
         |  [sig0,sig1,sig2,sig3,sig4,sig5,sig6,sig7] AS sig_arr
         | FROM hs JOIN sig ON sig.doc_id = hs.doc_id),
         |scal AS (
         | SELECT CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS total_pairs
         | FROM base),
         |post AS (SELECT doc_id, ns, unnest(shs) AS hv FROM base),
         |dfq AS (SELECT hv, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
         |pre AS (
         | SELECT doc_id AS p_doc, ns AS p_nu, hv
         | FROM (SELECT post.doc_id, post.ns, post.hv,
         |         row_number() OVER (PARTITION BY post.doc_id
         |           ORDER BY dfq.df, post.hv) AS rn
         |       FROM post JOIN dfq USING (hv))
         | WHERE rn <= ns // 3 + 1),
         |candp AS (
         | SELECT DISTINCT least(pre.p_doc, post.doc_id) AS doc_a,
         |  greatest(pre.p_doc, post.doc_id) AS doc_b
         | FROM pre JOIN post ON pre.hv = post.hv
         |  AND pre.p_doc <> post.doc_id AND pre.p_nu <= post.ns),
         |pos AS (
         | SELECT doc_a, doc_b FROM candp
         |  JOIN base a ON a.doc_id = doc_a
         |  JOIN base b ON b.doc_id = doc_b
         | WHERE 3 * len(list_intersect(a.shs, b.shs)) >= a.ns + b.ns),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pos FROM pos),
         |bands AS (
         | SELECT doc_id,
         |  unnest([${entries.map(e => s"'${e._1}'").mkString(", ")}]) AS config,
         |  unnest([${entries.map(_._2).mkString(", ")}]) AS bid,
         |  unnest([${entries.map(_._3).mkString(",\n   ")}]) AS bkey
         | FROM base),
         |cb AS (
         | SELECT DISTINCT a.config, a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.config = b.config
         |  AND a.bid = b.bid AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |tf AS (
         | SELECT cb.config, CAST(count(*) AS BIGINT) AS n_cand,
         |  CAST(sum(CASE WHEN pos.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp
         | FROM cb LEFT JOIN pos
         |  ON pos.doc_a = cb.doc_a AND pos.doc_b = cb.doc_b
         | GROUP BY 1),
         |cfg AS (SELECT unnest([$cfgList]) AS config)
         |SELECT cfg.config,
         | coalesce(tf.n_cand, 0) AS n_cand,
         | coalesce(tf.tp, 0) AS tp,
         | coalesce(tf.n_cand, 0) - coalesce(tf.tp, 0) AS fp,
         | np.n_pos - coalesce(tf.tp, 0) AS fn,
         | scal.total_pairs - np.n_pos
         |   - (coalesce(tf.n_cand, 0) - coalesce(tf.tp, 0)) AS tn,
         | CASE WHEN coalesce(tf.n_cand, 0) > 0
         |  THEN CAST(floor(CAST(coalesce(tf.tp, 0) AS DOUBLE) * 1e6
         |    / coalesce(tf.n_cand, 0)) AS BIGINT) END AS precision_ppm,
         | CASE WHEN np.n_pos > 0
         |  THEN CAST(floor(CAST(coalesce(tf.tp, 0) AS DOUBLE) * 1e6
         |    / np.n_pos) AS BIGINT) END AS recall_ppm
         |FROM cfg LEFT JOIN tf USING (config)
         | CROSS JOIN np CROSS JOIN scal""".stripMargin
  }
}
