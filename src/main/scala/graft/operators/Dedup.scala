package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for the training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band ->
  * bucket equi-join), SimHash (bit-majority sketch), n-gram Jaccard
  * (blocked pairwise), and embedding-cosine near-dup.
  *
  * Scale design: nothing here is all-pairs. Every candidate-pair step
  * goes through an equi-join on a blocking key (LSH band hash, source
  * block, embedding label) so the shuffle is keyed and bounded; the
  * only quadratic work is within a block. At 100 TB the knobs are the
  * number of bands/planes and the block key — the plan shape (scan ->
  * narrow sketch projection -> keyed shuffle -> within-bucket pairs)
  * stays the same.
  */
object Dedup {

  private[graft] val P = 2147483647L // 2^31 - 1; keeps (a*h + b) well under 2^63

  /** Exact dedup: content-hash groupBy, survivor = min doc_id.
    * Pure partial-aggregatable hash aggregate — one shuffle on the
    * 128-bit content hash, no skew (hashes are uniform).
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  /** MinHash signature columns sig0..sig7 over word 3-gram shingles.
    * Permutation j is (a_j*h + b_j) mod P with small fixed a_j, b_j so
    * the arithmetic is oracle-reproducible and overflow-free.
    *
    * Shape: explode shingles -> one md5 per shingle -> groupBy doc with
    * 8 min-aggregates. The aggregation is a hard optimizer boundary, so
    * the md5 pipeline runs ONCE per shingle; the array-expression
    * formulation (array_min over 8 transforms of an inlined hash array)
    * lets CollapseProject re-inline the md5 chain into every signature
    * and band expression — measured 25x slower at sf0.1. The exploded
    * form is also the scalable one: partial min-aggregation map-side,
    * one keyed shuffle on doc_id.
    */
  /** The 8 minhash signature aggregates over the exploded `hv` column —
    * shared by minhashSigDf and the lane-cache generator fingerprint
    * (their .sql text IS the fingerprint, so a recipe edit invalidates
    * any cached lane automatically). */
  private def sigCols: Seq[Column] = (0 until 8).map { j =>
    val a = 2 * j + 3
    val b = 101 * j + 7
    min((col("hv") * a + b) % P).as(s"sig$j")
  }

  private[graft] def minhashSigDf(s: SparkSession, d: String): DataFrame =
    minhashSigOf(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** MinHash signatures over an ARBITRARY (doc_id, text) corpus — the
    * published-snapshot / incoming-batch sides of the catalog's
    * near-dup screen are not the `documents` table, so the kernel
    * takes the corpus as input. Same plan as ever: explode shingles,
    * one keyed shuffle, 8 partial-aggregated mins. */
  private[operators] def minhashSigOf(docs: DataFrame): DataFrame = {
    val hv = docs
      .select(col("doc_id"), tokens(col("text")).as("toks")) // materialize: see wordShingles contract
      .select(col("doc_id"), explode(gramHashes(col("toks"), 3)).as("h"))
      .select(col("doc_id"), (col("h") % P).as("hv"))
    val cols = sigCols
    val sig = hv.groupBy(col("doc_id")).agg(cols.head, cols.tail: _*)
    // keep zero-shingle docs as null-signature rows (oracle parity)
    docs.select(col("doc_id")).join(sig, Seq("doc_id"), "left")
  }

  /** LSH band rows (doc_id, bid, bh) of a signature table — THE band
    * derivation, shared by every LSH consumer (candidate pairs,
    * incremental screen, near-dup corpus screen). Null-signature docs
    * (< 3 tokens, zero shingles) are excluded from banding: they carry
    * no shingle evidence, and their band hash would otherwise collapse
    * every short doc into one shared bucket (and the engines disagree
    * on NULL concat semantics — Spark concat_ws skips nulls, DuckDB
    * md5(NULL) is NULL). */
  private[operators] def bandsOf(sig: DataFrame): DataFrame =
    sig.filter(col("sig0").isNotNull)
      .select(col("doc_id"), posexplode(bandHashCols).as(Seq("bid", "bh")))

  /** ASYMMETRIC near-dup screen (the incremental-crawl shape,
    * generalized off the `documents` residue split): for every doc of
    * `newDocs`, its best MinHash estimate against `base`, found via
    * LSH band probes — new-bands x base-bands only, so cost scales
    * with the batch, never corpus x corpus. Returns one row per new
    * doc: (doc_id, best_est), best_est NULL when no band collides
    * (including zero-shingle docs). At 100 TB the base side's band
    * table is a precomputed artifact the batch probes. */
  private[operators] def neardupBest(newDocs: DataFrame, base: DataFrame): DataFrame = {
    val arr = array((0 until 8).map(j => col(s"sig$j")): _*)
    // each side feeds a band join AND a signature attach: materialize
    // once (the 100 TB version writes the signature table between jobs)
    val sigN = Share(minhashSigOf(newDocs).withColumn("sig_arr", arr))
    val sigB = Share(minhashSigOf(base).withColumn("sig_arr", arr))
    val cand = bandsOf(sigN).select(col("doc_id").as("new_id"), col("bid"), col("bh"))
      .join(bandsOf(sigB).select(col("doc_id").as("old_id"), col("bid"), col("bh")),
        Seq("bid", "bh"))
      .select(col("new_id"), col("old_id")).distinct()
    val est = aggregate(
      zip_with(col("sig_n"), col("sig_o"), (x, y) => (x === y).cast("int")),
      lit(0), (acc, x) => acc + x).cast("double") / 8
    val best = cand
      .join(sigN.select(col("doc_id").as("new_id"), col("sig_arr").as("sig_n")), Seq("new_id"))
      .join(sigB.select(col("doc_id").as("old_id"), col("sig_arr").as("sig_o")), Seq("old_id"))
      .select(col("new_id"), round(est, 6).as("est"))
      .groupBy(col("new_id")).agg(max(col("est")).as("best_est"))
    newDocs.select(col("doc_id"))
      .join(best.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
  }

  def minhashSignature(s: SparkSession, d: String): DataFrame =
    minhashSigDf(s, d)

  /** LSH band-join candidate pairs plus the cached signature table.
    * Shared by dedupMinhashLsh (which attaches signatures for the
    * estimate) and dedupClusters / dedupPipeline (which only need the
    * pair set — keeping the signature-attach joins out of their plans).
    */
  /** The 4 x (2-sig) band hashes — shared by lshCandidates and the
    * lane-cache generator fingerprint. */
  private def bandHashCols: Column = array((0 until 4).map { b =>
    md5(concat_ws("_", col(s"sig${2 * b}"), col(s"sig${2 * b + 1}")))
  }: _*)

  /** The LSH candidate-pair graph as a DISK-MATERIALIZED lane
    * (doc_a, doc_b, shared_bands) — the shared artifact the graph tier
    * (similarity_pagerank, triangle_count, k_core, label_propagation,
    * degree_census), train_split, and the dedup cluster family all
    * consume. At 100 TB this is a stage output written to the
    * warehouse between jobs, not a subplan six jobs recompute; here it
    * is a fingerprinted parquet artifact (LaneCache) rebuilt whenever
    * the source corpus or the generator expressions change. The
    * lane-defining query dedup_minhash_lsh still computes live, so the
    * build cost itself stays measured per round.
    */
  private[operators] def lshPairsCached(s: SparkSession, d: String): DataFrame = {
    val genFp = LaneCache.fp(
      (sigCols.map(_.toString) :+ bandHashCols.toString): _*)
    LaneCache.cached(s, d, "lsh_pairs", genFp, Seq("documents")) {
      lshCandidates(s, d)._1
    }
  }

  /** The verified containment pair table as the SECOND disk-
    * materialized lane (VERDICT r13 next #4): [[dedupContainment]]'s
    * output is a shared channel artifact — the overlap census
    * (dedup_channel_overlap) consumes the same pair set the registered
    * query emits, exactly the lsh_pairs situation. The lane-DEFINING
    * query dedup_containment still computes live (its blocked
    * quadratic stays a measured line item); consumers read plain
    * parquet. Same stamp discipline as lsh_pairs: the generator
    * fingerprint hashes the defining set/gate expressions, so an edit
    * to the tokenizer, the unigram set build, or the 0.8 gate
    * invalidates the cache automatically.
    */
  private[operators] def containmentPairsCached(s: SparkSession, d: String): DataFrame = {
    val genFp = LaneCache.fp("containment_pairs",
      array_sort(array_distinct(gramHashes(tokens(col("text")), 1))).toString,
      (graft.functions.IntersectCount.intersectCount(col("uni_a"), col("uni_b"))
        .cast("long") * 5 >= least(col("nu_a"), col("nu_b")) * 4).toString)
    LaneCache.cached(s, d, "containment_pairs", genFp, Seq("documents")) {
      dedupContainment(s, d)
    }
  }

  /** The exact-shared-span pair table as the THIRD lane — the
    * remaining inline channel of dedup_channel_overlap after
    * containment moved to a lane (VERDICT r13 #4's residual: the
    * overlap census recomputed the postings join + islands collapse
    * that the registered cross_doc_spans query already measures
    * live). Same policy: cross_doc_spans stays the live lane-defining
    * query; the census reads the published pair table.
    */
  private[operators] def spanPairsCached(s: SparkSession, d: String): DataFrame = {
    val genFp = LaneCache.fp("span_pairs",
      gramHashes(tokens(col("text")), 8).toString,
      col("cd").between(2, 50).toString,
      "islands: grp = pa - row_number over (doc_a, doc_b, pa - pb) order pa")
    LaneCache.cached(s, d, "span_pairs", genFp, Seq("documents")) {
      crossDocSpans(s, d)
    }
  }

  private[operators] def lshCandidates(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // Materialize the signature table ONCE before candidate generation:
    // it feeds three downstream reads (two band-join sides + the
    // signature attach), and recomputing the shingle->md5->min pipeline
    // per read dominated the runtime. Eager localCheckpoint, not
    // cache(): nothing outlives the query in the cacheManager (honest
    // re-run timings, no session-long accumulation). The 100 TB version
    // of this is writing the signature table to parquet between stages.
    val sig = Share(minhashSigDf(s, d)
      .withColumn("sig_arr", array((0 until 8).map(j => col(s"sig$j")): _*)))

    // slim candidate generation: only (doc_id, band) through the join
    val bands = bandsOf(sig)
    val pairs = bands.select(col("doc_id").as("doc_a"), col("bid"), col("bh"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bid"), col("bh")),
        Seq("bid", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_bands"))
    (pairs, sig)
  }

  /** LSH candidate pairs: 4 bands of 2 signatures; docs sharing any
    * band hash become a pair; est_jaccard = matching sigs / 8.
    */
  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame = {
    val (pairs, sig) = lshCandidates(s, d)
    // attach signatures to the (much smaller) pair set for the estimate
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => (x === y).cast("int")),
      lit(0), (acc, x) => acc + x).cast("double") / 8
    // attach via plain shuffle joins on doc_a/doc_b: `sig` has one row
    // per DOCUMENT, so broadcasting it would ship the corpus to every
    // executor. AQE still turns these into broadcasts when the table is
    // genuinely small; at 100 TB they stay keyed shuffles.
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig_arr").as("sig_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig_arr").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), round(est, 6).as("est_jaccard"),
        col("shared_bands"))
  }

  /** Incremental dedup — the daily-crawl shape: screen a NEW batch
    * (doc_id % 10 == 9 stands in for today's arrivals) against the
    * EXISTING corpus (the rest) and emit one row per new doc with its
    * best existing match and a keep/drop flag (sig-estimate >= 0.5
    * drops). The candidate join is ASYMMETRIC — new-bands x
    * existing-bands only — so the incremental cost scales with the
    * batch, never corpus x corpus; at 100 TB the existing side's band
    * table is a precomputed artifact the batch probes (here both
    * derive from one signature pass, materialized once).
    * Zero-shingle new docs carry no band evidence and surface as
    * keep_flag = 1 with null match columns.
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    // two band sides + two attach joins
    val sig = Share(minhashSigDf(s, d)
      .withColumn("sig_arr", array((0 until 8).map(j => col(s"sig$j")): _*)))
    val bands = bandsOf(sig)
    val cand = bands.filter(pmod(col("doc_id"), lit(10)) === 9)
      .select(col("doc_id").as("new_id"), col("bid"), col("bh"))
      .join(bands.filter(pmod(col("doc_id"), lit(10)) =!= 9)
        .select(col("doc_id").as("old_id"), col("bid"), col("bh")), Seq("bid", "bh"))
      .select(col("new_id"), col("old_id")).distinct()
    val est = aggregate(
      zip_with(col("sig_n"), col("sig_o"), (x, y) => (x === y).cast("int")),
      lit(0), (acc, x) => acc + x).cast("double") / 8
    val scored = cand
      .join(sig.select(col("doc_id").as("new_id"), col("sig_arr").as("sig_n")), Seq("new_id"))
      .join(sig.select(col("doc_id").as("old_id"), col("sig_arr").as("sig_o")), Seq("old_id"))
      .select(col("new_id"), col("old_id"), round(est, 6).as("est"))
      .filter(col("est") >= 0.5)
    // best match per new doc as ONE hash aggregate (count + lexicographic
    // struct-min), not a count window plus a rank window: partials
    // combine map-side, and the candidate stream is never re-sorted.
    // (est desc, old_id asc) encoded ascending as (-est, old_id);
    // `0.0 - neg` recovers est without a -0.0 artifact.
    val best = scored
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(struct((lit(0.0) - col("est")).as("neg"), col("old_id"))).as("b"))
      .select(col("new_id"), col("n_matches"),
        (lit(0.0) - col("b.neg")).as("best_est"), col("b.old_id").as("best_match"))
    Tables.documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 9)
      .select(col("doc_id").as("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_est"), col("best_match"),
        when(col("best_est").isNull, lit(1L)).otherwise(lit(0L)).as("keep_flag"))
  }

  /** 60-bit SimHash: per-token 60-bit hash, per-bit majority vote over
    * token occurrences (60 bits, not 64, so the fingerprint stays a
    * non-negative signed BIGINT on both engines).
    */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    // The fingerprint is a PURE PER-DOCUMENT function, computed by the
    // native SimHash60 fold (r14): the previous explode → 60-sum
    // groupBy form materialized one row per token and paid a
    // corpus-wide (doc_id) exchange to reassemble row-local data
    // (JobProbe: the build stage was the query's single biggest wall
    // chunk). Value-identical, SimHash60 scaladoc. The size filter
    // preserves the exploded form's semantics exactly: a token-less
    // document generated no rows, so it was absent from the output.
    Tables.documents(s, d)
      .select(col("doc_id"), gramHashes(tokens(col("text")), 1).as("gh"))
      .filter(size(col("gh")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHash60.simhash60(col("gh")).as("simhash"),
        size(col("gh")).cast("long").as("n_tokens"))
  }

  /** SimHash near-dup pairs, band-blocked: the 60-bit fingerprint
    * splits into 4 bands of 15 bits; candidates are pairs sharing at
    * least one exact band, verified with full hamming <= 16. The
    * blocking key is derived from the fingerprint itself, so bucket
    * sizes stay bounded at any corpus size (unlike a metadata key such
    * as `source`, which is unbounded-cardinality-per-value). Recall is
    * probabilistic: a pair at hamming h survives iff its bit diffs
    * miss one band entirely (guaranteed only for h <= 3; pigeonhole
    * spreads 16 diffs over 4 bands otherwise) — the standard
    * bands+verify trade; add bands/permuted band sets for higher
    * recall. Hamming distance is a single codegen'd expression:
    * bit_count(a XOR b) — no custom Expression needed (Spark and
    * DuckDB both ship bit_count).
    */
  def dedupSimhashPairs(s: SparkSession, d: String): DataFrame = {
    // materialize once (both self-join sides read it); localCheckpoint
    // not cache() — see lshCandidates. The pinned repartition spreads
    // the checkpointed table across the session's cores: the kernelized
    // dedupSimhash is exchange-free (r14), so without it the checkpoint
    // inherits the documents SCAN's partition count (2 at the 10x
    // corpus) and the band explode + self-join map side runs 2-wide —
    // measured as a x0.6 regression before this line. The fingerprint
    // table is narrow (doc_id, simhash), so this exchange is a fraction
    // of the (doc_id) exchange the pre-kernel groupBy form paid anyway.
    val fp = Share(dedupSimhash(s, d).select(col("doc_id"), col("simhash"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
    val bandArr = array((0 until 4).map { b =>
      shiftright(col("simhash"), 15 * b).bitwiseAND(lit(0x7FFFL))
    }: _*)
    val bands = fp.select(col("doc_id"), col("simhash"),
      posexplode(bandArr).as(Seq("bid", "bv")))
    val a = bands.select(col("bid"), col("bv"), col("doc_id").as("doc_a"),
      col("simhash").as("fp_a"))
    val b = bands.select(col("bid"), col("bv"), col("doc_id").as("doc_b"),
      col("simhash").as("fp_b"))
    val hamming = bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long")
    a.join(b, Seq("bid", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
      .filter(col("hamming") <= 16)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("hamming")).as("hamming"),
        count(lit(1)).as("shared_bands"))
  }

  /** Exact connected components over an undirected edge list by
    * min-label propagation with pointer-halving. Per iteration, ONE
    * materializing job:
    *   lbl'(u) = min(lbl(u), min_{v~u} lbl(v), lbl(lbl(u)))
    * where the third term (the shortcut through the PREVIOUS label
    * table) compresses label chains like pointer jumping, cutting the
    * iteration count from O(diameter) toward O(log diameter). The
    * change flag rides along in the same pass, so detecting the
    * fixpoint is a sub-millisecond sum over the freshly checkpointed
    * (in-memory) label table — not a second join replaying the
    * iteration. Each label table is checkpointed, which truncates
    * lineage so iteration N never replays 1..N-1. The pair set and
    * every label table go through [[Share.loopState]], eager in lineage
    * mode too: the trip count depends on the data, so a lazy form would
    * grow the plan by one join round per iteration, and every
    * iteration would recompute the pair set.
    *
    * Correctness: labels only decrease, every label is a node id from
    * the same component (induction: neighbor labels and
    * label-of-label both stay in-component), and at the fixpoint two
    * adjacent nodes cannot hold different labels — so every component
    * converges to exactly its min node id, matching the recursive-CTE
    * oracle. A non-converged exit is a hard error, not a silent
    * wrong answer.
    */
  private[operators] def connectedComponents(pairsIn: DataFrame): DataFrame = {
    // one up-front job materializes the (typically expensive) pair set
    val pairs = Share.loopState(pairsIn)
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .withColumnsRenamed(Map("doc_a" -> "src", "doc_b" -> "dst"))
    // Seed lbl = min(doc, min neighbor) instead of the identity: the
    // groupBy costs the same shuffle the distinct() would, and it IS
    // iteration 1's output (identity seeds make the first neighbor-min
    // pass a no-op shortcut) — one fewer full join+agg round trip.
    var labels = Share.loopState(
      edges.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("doc"), least(col("src"), col("mn")).as("lbl")))
    var changed = 1L
    var iter = 0
    val maxIter = 25
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc").as("dst"), col("lbl").as("nbr_lbl")), Seq("dst"))
        .groupBy(col("src").as("doc"))
        .agg(min(col("nbr_lbl")).as("min_nbr"))
      val prop = labels.join(nbrMin, Seq("doc"), "left")
        .select(col("doc"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("min_nbr"), col("lbl"))).as("l1"))
      // shortcut through the previous (checkpointed) labels: no
      // recompute of `prop`, still a valid in-component upper bound
      val next = Share.loopState(prop
        .join(labels.select(col("lbl").as("l2"), col("doc").as("l1")), Seq("l1"), "left")
        .select(col("doc"),
          least(col("l1"), coalesce(col("l2"), col("l1"))).as("lbl"),
          (least(col("l1"), coalesce(col("l2"), col("l1"))) =!= col("old")).as("chg")))
      changed = next.agg(coalesce(sum(col("chg").cast("long")), lit(0L)))
        .first().getLong(0)
      labels = next.select(col("doc"), col("lbl"))
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents: not converged after $maxIter iterations")
    labels
  }

  /** Connected-component clustering over the LSH candidate pairs —
    * the "pick one canonical document per near-dup cluster" step of a
    * dedup pipeline. Same shape as GraphX's connected components, but
    * pure DataFrame (see connectedComponents for the iteration math).
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val labels = connectedComponents(
      lshPairsCached(s, d).select(col("doc_a"), col("doc_b")))
    val sizes = labels.groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /** End-to-end dedup pipeline — the composed shape a production 100 TB
    * dedup actually runs, instead of re-blocking on raw metadata keys:
    *
    *   LSH band candidates  ->  exact unigram-Jaccard verify (>= 0.5)
    *     ->  connected components over verified edges
    *     ->  canonical pick (min doc_id per cluster) over ALL documents
    *
    * Each stage is keyed: the verify join only touches the candidate
    * pair set (not all within-block pairs), components run on verified
    * edges only, and the final canonical pick is a left join of the
    * corpus against the (much smaller) clustered subset — singleton
    * documents become their own cluster without ever entering a
    * pairwise stage. This is the scale path for dedupNgramJaccard's
    * documented within-block quadratic: the exact-Jaccard work is
    * bounded by LSH recall, not block size.
    */
  /** The LSH-gated exact-verify stage shared by dedupPipeline (and by
    * the DedupPipelineSpec parity pin against the blocked quadratic):
    * LSH band candidates -> exact unigram Jaccard -> keep >= 0.5.
    * Exact unigram sets for the verify stage; set SIZES projected in a
    * second select (CollapseProject re-inlines aliased non-cheap
    * expressions — see wordShingles contract). Sets carried as sorted
    * distinct HASHES (gramHashes k=1 = hash60 per token): long merge
    * walks + long distinct, no string compares in the pairwise stage;
    * counts identical (md5 injective on the distinct token set). */
  private[operators] def lshVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    val (pairs, _) = lshCandidates(s, d)
    val uni = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), array_sort(array_distinct(gramHashes(col("toks"), 1))).as("uni"))
      .select(col("doc_id"), col("uni"), size(col("uni")).as("nu"))
    val cand = pairs.select(col("doc_a"), col("doc_b"))
      .join(uni.select(col("doc_id").as("doc_a"), col("uni").as("uni_a"),
        col("nu").as("nu_a")), Seq("doc_a"))
      .join(uni.select(col("doc_id").as("doc_b"), col("uni").as("uni_b"),
        col("nu").as("nu_b")), Seq("doc_b"))
    val i = graft.functions.IntersectCount.intersectCount(col("uni_a"), col("uni_b"))
    val jac = round(i.cast("double") / (col("nu_a") + col("nu_b") - i), 6)
    cand.select(col("doc_a"), col("doc_b"), jac.as("jac1"))
      .filter(col("jac1") >= 0.5)
  }

  def dedupPipeline(s: SparkSession, d: String): DataFrame = {
    val verified = lshVerifiedPairs(s, d).select(col("doc_a"), col("doc_b"))
    val labels = connectedComponents(verified)
    val withLbl = Tables.documents(s, d).select(col("doc_id"))
      .join(labels.select(col("doc").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    val sizes = withLbl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    withLbl.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /** Blocked pairwise n-gram Jaccard: candidate pairs limited to the
    * same `source` block (the blocking key a real pipeline would pick:
    * crawl shard, domain, near-dup cluster). jac1 = unigram set
    * Jaccard, jac3 = word-3-gram set Jaccard; keep jac1 >= 0.5.
    */
  /** Shared per-doc set base for the ngram-Jaccard pair: sorted
    * distinct unigram/trigram hash sets + sizes, materialized ONCE
    * (eager localCheckpoint — 50 k rows of set arrays, the per-stage
    * artifact a 100 TB run writes to parquet). Two projections: sets
    * from the materialized token attribute, then set SIZES from the
    * set attributes (never reference an aliased non-cheap expression
    * twice in one later select — CollapseProject re-inlines it; see
    * wordShingles contract). Sets are SORTED so the per-pair
    * intersection is a native merge walk (IntersectCount) over
    * primitive longs; counts identical (md5 injective on the distinct
    * sets). */
  private def ngramBase(s: SparkSession, d: String): DataFrame =
    Share(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(gramHashes(col("toks"), 1))).as("uni"),
        array_sort(array_distinct(gramHashes(col("toks"), 3))).as("tri"))
      .select(col("doc_id"), col("source"), col("uni"), col("tri"),
        size(col("uni")).as("nu"), size(col("tri")).as("nt")))

  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val base = ngramBase(s, d)
    // |A ∪ B| = |A| + |B| - |A ∩ B| for sets: ONE set-op per jaccard
    // instead of two, value-identical to intersect/union sizes.
    def jac(x: Column, y: Column, nx: Column, ny: Column) = {
      val i = graft.functions.IntersectCount.intersectCount(x, y)
      round(i.cast("double") / (nx + ny - i), 6)
    }
    // (A size-ratio prefilter — jac <= min|A|,|B| / max|A|,|B| — is the
    // standard skip for heterogeneous corpora; measured a net LOSS here
    // because synthetic doc sizes are homogeneous and it prunes ~0.)
    //
    // Pair-join payload discipline: the ALL-candidate-pairs join (sf1:
    // 41 M pairs from 4.4 M survivors) carries ONLY the unigram sets
    // the jac1 gate needs (~0.8 KB/pair); the 3x-larger trigram sets
    // re-attach by doc key AFTER the gate, so the tri merge walk and
    // the tri payload bytes are paid for ~10% of pairs. Carrying both
    // sets through every candidate pair measured 2.5x slower (the row
    // churn, not the walks, dominates).
    val a = base.select(col("source"), col("doc_id").as("doc_a"),
      col("uni").as("uni_a"), col("nu").as("nu_a"))
    val b = base.select(col("source"), col("doc_id").as("doc_b"),
      col("uni").as("uni_b"), col("nu").as("nu_b"))
    val survivors = a.join(b, Seq("source"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("source"), col("doc_a"), col("doc_b"),
        jac(col("uni_a"), col("uni_b"), col("nu_a"), col("nu_b")).as("jac1"))
      .filter(col("jac1") >= 0.5)
    survivors
      .join(base.select(col("doc_id").as("doc_a"), col("tri").as("tri_a"),
        col("nt").as("nt_a")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("tri").as("tri_b"),
        col("nt").as("nt_b")), Seq("doc_b"))
      .select(col("source"), col("doc_a"), col("doc_b"), col("jac1"),
        jac(col("tri_a"), col("tri_b"), col("nt_a"), col("nt_b")).as("jac3"))
  }

  /** PPJoin-prefix twin of [[dedupNgramJaccard]] — IDENTICAL output
    * (the registry gates both against the SAME oracle SQL), with the
    * all-pairs candidate stage replaced by prefix filtering (VERDICT
    * r9 #3, the lsh_band_eval_dense treatment): J(A,B) >= 0.5 implies
    * |A∩B| >= ceil(0.5·max(|A|,|B|)) =: α, and two sets whose overlap
    * is >= α must share an element within their first |X| - α + 1
    * elements under ANY fixed global order — so prefixes of length
    * |X| - ceil(0.5·|X|) + 1 (>= the needed length, since
    * ceil(0.5|X|) <= α) ordered by global document frequency
    * ascending (rarest first, ties by hash; df-order minimizes
    * candidates, any order is correct) generate a candidate superset
    * with FULL recall by construction. Candidates then pass the same
    * exact merge-walk jac1 gate and trigram re-attach as the
    * quadratic, so the outputs are equal row-for-row.
    *
    * Scale: every stage is an equi-join — postings, a bounded
    * vocabulary aggregate, a per-doc window (state = one doc's
    * tokens), the (source, tok) prefix self-join, keyed set
    * re-attaches. Nothing is quadratic in the block size; candidate
    * volume is sum over prefix tokens of C(df_in_source, 2), which
    * df-ascending ordering pushes onto the rare tail. The quadratic
    * stays registered as the sf0.01/sf0.1 truth lane; this plan
    * carries the at-scale bench (DedupPipelineSpec pins frame
    * equality at both spec scales).
    */
  def dedupNgramPrefix(s: SparkSession, d: String): DataFrame = {
    val base = ngramBase(s, d)
    def jac(x: Column, y: Column, nx: Column, ny: Column) = {
      val i = graft.functions.IntersectCount.intersectCount(x, y)
      round(i.cast("double") / (nx + ny - i), 6)
    }
    val postings = base.select(col("source"), col("doc_id"), col("nu"),
      explode(col("uni")).as("tok"))
    val dfreq = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val prefix = postings.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("nu") - expr("(nu + 1) div 2") + 1)
      .select(col("source"), col("tok"), col("doc_id"))
    val cand = prefix.select(col("source"), col("tok"), col("doc_id").as("doc_a"))
      .join(prefix.select(col("source"), col("tok"), col("doc_id").as("doc_b")),
        Seq("source", "tok"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("source"), col("doc_a"), col("doc_b"))
      .distinct()
    // same payload discipline as the quadratic: slim pairs first, uni
    // sets re-attach for the jac1 gate, tri sets only for survivors
    val survivors = cand
      .join(base.select(col("doc_id").as("doc_a"), col("uni").as("uni_a"),
        col("nu").as("nu_a")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("uni").as("uni_b"),
        col("nu").as("nu_b")), Seq("doc_b"))
      .select(col("source"), col("doc_a"), col("doc_b"),
        jac(col("uni_a"), col("uni_b"), col("nu_a"), col("nu_b")).as("jac1"))
      .filter(col("jac1") >= 0.5)
    survivors
      .join(base.select(col("doc_id").as("doc_a"), col("tri").as("tri_a"),
        col("nt").as("nt_a")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("tri").as("tri_b"),
        col("nt").as("nt_b")), Seq("doc_b"))
      .select(col("source"), col("doc_a"), col("doc_b"), col("jac1"),
        jac(col("tri_a"), col("tri_b"), col("nt_a"), col("nt_b")).as("jac3"))
  }

  /** Embedding near-dup: top-3 cosine neighbors within the same label
    * block (label = the cluster/partition key; at scale this is the
    * IVF coarse centroid assignment).
    */
  def embeddingCosineNeardup(s: SparkSession, d: String): DataFrame = {
    // Precompute each vector's norm BEFORE the pair join: per-pair work
    // drops from 3 dot products to 1 (3x at sf0.1, more at scale).
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("v")) // raw float vecs: dot widens in-kernel, half the pair-join bytes
      .withColumn("nrm", norm2(col("v")))
    // Bucketed self-join (r14, guide §2.2): joined on `label` alone,
    // the pair stage's parallelism is AT MOST the label count — and
    // AQE coalesces the label partitions (tiny pre-join bytes) into
    // ONE task that then explodes quadratically (JobProbe at the 10x
    // corpus: the whole O(block^2) scoring ran 6.5 s on a single
    // task). Salting the QUERY side by vec_id % B and replicating the
    // probe side to all B buckets keeps the pair set identical (each
    // (qid, nid) meets exactly once, in qid's bucket) while giving the
    // exchange label x B partitions; the top-k heap still compresses
    // map-side because every qid's pairs are co-located in its bucket.
    // Replication cost = B x the (tiny) vector table through the
    // exchange — bytes bought for quadratic-stage parallelism. B is a
    // parallelism knob (conf, default 8), NOT recall-relevant.
    val B = graft.operators.Relational.pairBuckets(s)
    val a = e.select(col("label"), pmod(col("vec_id"), lit(B)).as("bkt"),
      col("vec_id").as("qid"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("label"),
      explode(sequence(lit(0L), lit(B - 1L))).as("bkt"),
      col("vec_id").as("nid"), col("v").as("vb"), col("nrm").as("nb"))
    val cos = round(graft.functions.Cleaning.safeDiv(
      dot(col("va"), col("vb")), col("na") * col("nb")), 6)
    // Top-3 selection as a bounded-heap aggregate, not a window: the
    // scored pair stream is already co-located by label (the join
    // key), and every qid lives in exactly one label block — so the
    // map-side partial aggregate reduces each partition to <= 3 rows
    // per qid BEFORE any exchange, instead of re-shuffling and sorting
    // the full O(block^2) pair table the window form pays for.
    // (cos desc, nid asc) is encoded ascending as (-cos, nid);
    // `0.0 - neg` recovers cos without a -0.0 artifact.
    // explicit REPARTITION_BY_NUM on both sides: AQE's byte-based
    // coalescing would fold these small-byte partitions back into one
    // BEFORE the quadratic explosion (the pre-join bytes are tiny; the
    // post-join work is not) — a pinned user repartition is exempt
    // from coalescing, and defaultParallelism tracks the session's
    // core count, so the c8 scaling stage gets 8-way, not 32
    val par = s.sparkContext.defaultParallelism
    a.repartition(par, col("label"), col("bkt"))
      .join(b.repartition(par, col("label"), col("bkt")), Seq("label", "bkt"))
      .filter(col("qid") =!= col("nid"))
      .select(col("label"), col("qid"), col("nid"), cos.as("cos"))
      .groupBy(col("label"), col("qid"))
      .agg(graft.functions.TopKAgg.collectTopK(
        struct((lit(0.0) - col("cos")).as("neg"), col("nid")), 3,
        reverse = true).as("top"))
      .select(col("label"), col("qid"),
        posexplode(array_sort(col("top"))).as(Seq("idx", "t")))
      .select(col("label"), col("qid"), col("t.nid").as("nid"),
        (lit(0.0) - col("t.neg")).as("cos"),
        (col("idx") + 1).cast("long").as("rn"))
  }

  /** Sketch-quality evaluation — the sample-based tuning run a
    * production dedup does before picking MinHash band/row parameters:
    * on a deterministic 1-in-5 document sample, compare the 8-perm
    * signature-agreement estimate against exact unigram Jaccard and
    * emit the confusion matrix + precision/recall (integer ppm) at
    * every possible agreement threshold t/8.
    *
    * Determinism discipline: ground truth "jaccard >= 0.5" is decided
    * in pure integers (3*|A∩B| >= |A|+|B| is algebraically equivalent)
    * — no float compare anywhere. Scale shape: the sample keeps the
    * within-source pair quadratic at 1/25 of the corpus's; everything
    * downstream of the pair join is one 8-row aggregate.
    */
  def dedupEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(gramHashes(col("toks"), 1))).as("uni"))
      .select(col("doc_id"), col("source"), col("uni"), size(col("uni")).as("nu"))
    val sig = minhashSigDf(s, d)
      .filter(pmod(col("doc_id"), lit(5)) === 0 && col("sig0").isNotNull)
      .select(col("doc_id"),
        array((0 until 8).map(j => col(s"sig$j")): _*).as("sig_arr"))
    val base = Share(docs.join(sig, Seq("doc_id")))
    val a = base.select(col("source"), col("doc_id").as("doc_a"),
      col("uni").as("ua"), col("nu").as("na"), col("sig_arr").as("sa"))
    val b = base.select(col("source"), col("doc_id").as("doc_b"),
      col("uni").as("ub"), col("nu").as("nb"), col("sig_arr").as("sb"))
    val m = aggregate(zip_with(col("sa"), col("sb"),
      (x, y) => (x === y).cast("int")), lit(0), (acc, x) => acc + x)
    val inter = graft.functions.IntersectCount.intersectCount(col("ua"), col("ub"))
    val pairs = a.join(b, Seq("source"))
      .filter(col("doc_a") < col("doc_b"))
      .select(m.as("m"), (lit(3) * inter >= col("na") + col("nb")).as("pos"))
    def ppm(num: Column, den: Column): Column =
      when(den > 0, floor(num.cast("double") * 1e6 / den).cast("long"))
    pairs.select(explode(sequence(lit(1), lit(8))).as("t"), col("m"), col("pos"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("m") >= col("t") && col("pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("m") >= col("t") && !col("pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("m") < col("t") && col("pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("m") < col("t") && !col("pos"), 1L).otherwise(0L)).as("tn"))
      .select(col("t").cast("long").as("threshold_eighths"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        ppm(col("tp"), col("tp") + col("fp")).as("precision_ppm"),
        ppm(col("tp"), col("tp") + col("fn")).as("recall_ppm"))
  }

  /** LSH banding-parameter evaluation — the (bands, rows) S-curve
    * measured, not asserted. dedupEval sweeps the OR-construction
    * threshold (>= t of 8 sigs matching); the candidate rule an LSH
    * join ACTUALLY uses is banded — candidate iff some band of r
    * consecutive sigs matches ENTIRELY — and the (b, r) choice trades
    * recall against candidate volume along the S-curve
    * P(cand) = 1 - (1 - s^r)^b. All four splits of 8 sigs are
    * evaluated over the FULL corpus against SHINGLE-HASH-space Jaccard
    * truth — deliberately different from dedupEval's 1-in-5-sampled
    * unigram truth (the inner comment records why; the banded rules
    * were vacuously silent against text-level truth): (8,1) is the
    * recall ceiling (any sig
    * agreement fires), (1,8) the precision ceiling (all must agree),
    * and the production (4,2) sits on the knee. Pure integer
    * decisions; the rollup is a 4-row aggregate.
    */
  def lshBandEval(s: SparkSession, d: String): DataFrame = {
    // truth = Jaccard >= 0.5 in SHINGLE-HASH space — the set the
    // MinHash sigs actually sketch (dedup_eval's unigram truth is a
    // different, deliberately text-level question; against it the
    // banded rules were vacuously silent — measured before this truth
    // channel was chosen). Evaluation universe = pairs sharing >= 1
    // shingle hash, which is COMPLETE for both sides of the confusion
    // matrix: J >= 0.5 needs a shared element, and sig_j(A) = sig_j(B)
    // forces a shared hv because the permutation (a*h+b) mod P is
    // injective. Every outside pair is therefore a true negative for
    // every config and is counted arithmetically (n(n-1)/2 - |U|) —
    // the full matrix without the all-pairs quadratic (124,750 pairs
    // collapse to 11,533 at sf0.01).
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_sort(array_distinct(
          transform(gramHashes(col("toks"), 3), h => h % P))).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), col("shs"), size(col("shs")).cast("long").as("ns"))
    val sig = minhashSigDf(s, d)
      .filter(col("sig0").isNotNull)
      .select(col("doc_id"),
        array((0 until 8).map(j => col(s"sig$j")): _*).as("sig_arr"))
    val base = Share(docs.join(sig, Seq("doc_id")))
    val scal = base.agg(count(lit(1)).as("n"))
      .select(expr("n * (n - 1) div 2").as("total_pairs"))
    val edges = base.select(col("doc_id"), explode(col("shs")).as("g"))
    // |A∩B| falls out of the SAME postings self-join that defines the
    // universe (r14, guide §2.3 "shuffle keys, not payloads"): shs is
    // distinct per doc, so each shared hash contributes exactly one
    // (g, doc_a, doc_b) row and count-per-pair == intersectCount(ua, ub).
    // The previous shape aggregated the identical join output into a
    // DISTINCT pair list (same exchange, same partial-agg), then
    // re-attached both docs' FULL shingle arrays — the corpus's
    // heaviest payload — to every universe pair and re-derived the
    // intersection with a per-pair merge walk. Now only (ns, sig_arr)
    // — 9 longs — ride the re-attach joins and the walk is gone.
    val u = edges.select(col("g"), col("doc_id").as("doc_a"))
      .join(edges.select(col("g"), col("doc_id").as("doc_b")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val withSets = u
      .join(base.select(col("doc_id").as("doc_a"),
        col("ns").as("na"), col("sig_arr").as("sa")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"),
        col("ns").as("nb"), col("sig_arr").as("sb")), Seq("doc_b"))
    val inter = col("inter")
    def sEq(i: Int): Column =
      element_at(col("sa"), i + 1) === element_at(col("sb"), i + 1)
    def cand(bands: Int, r: Int): Column =
      (0 until bands).map(k =>
        (0 until r).map(j => sEq(k * r + j)).reduce(_ && _)).reduce(_ || _)
    val configs = array(Seq((8, 1), (4, 2), (2, 4), (1, 8)).map {
      case (bn, r) => struct(lit(s"b${bn}_r$r").as("config"),
        cand(bn, r).as("cand"))
    }: _*)
    def ppm(num: Column, den: Column): Column =
      when(den > 0, floor(num.cast("double") * 1e6 / den).cast("long"))
    withSets
      .select(explode(configs).as("c"),
        (lit(3) * inter >= col("na") + col("nb")).as("pos"))
      .select(col("c.config").as("config"), col("c.cand").as("cand"), col("pos"))
      .groupBy(col("config"))
      .agg(count(lit(1)).as("n_u"),
        sum(when(col("cand") && col("pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("cand") && !col("pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("cand") && col("pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("cand") && !col("pos"), 1L).otherwise(0L)).as("tn_u"))
      .crossJoin(broadcast(scal))
      .select(col("config"), col("tp"), col("fp"), col("fn"),
        (col("tn_u") + col("total_pairs") - col("n_u")).as("tn"),
        ppm(col("tp"), col("tp") + col("fp")).as("precision_ppm"),
        ppm(col("tp"), col("tp") + col("fn")).as("recall_ppm"))
  }

  /** Containment-blindness evaluation — dedupEval's third panel: on
    * the same 1-in-5 sample, how well does MinHash signature agreement
    * (a JACCARD estimator) detect CONTAINMENT-positive pairs
    * (5·|A∩B| >= 4·min(|A|,|B|), the dedup_containment gate)? The
    * asym_* columns isolate the pairs that are containment-positive
    * but NOT Jaccard-positive (3·i < na+nb) — the short-doc-inside-
    * long-doc shape. Their recall (asym_recall_ppm) is the measured
    * justification for running dedup_containment as its own channel:
    * a Jaccard sketch can only find these by accident. All decisions
    * in pure integers; the per-threshold rollup is an 8-row aggregate.
    */
  def containmentEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(gramHashes(col("toks"), 1))).as("uni"))
      .select(col("doc_id"), col("source"), col("uni"), size(col("uni")).as("nu"))
    val sig = minhashSigDf(s, d)
      .filter(pmod(col("doc_id"), lit(5)) === 0 && col("sig0").isNotNull)
      .select(col("doc_id"),
        array((0 until 8).map(j => col(s"sig$j")): _*).as("sig_arr"))
    val base = Share(docs.join(sig, Seq("doc_id")))
    val a = base.select(col("source"), col("doc_id").as("doc_a"),
      col("uni").as("ua"), col("nu").as("na"), col("sig_arr").as("sa"))
    val m = aggregate(zip_with(col("sa"), col("sb"),
      (x, y) => (x === y).cast("int")), lit(0), (acc, x) => acc + x)
    val inter = graft.functions.IntersectCount.intersectCount(col("ua"), col("ub"))
    val pairs = a.join(
        base.select(col("source"), col("doc_id").as("doc_b"),
          col("uni").as("ub"), col("nu").as("nb"), col("sig_arr").as("sb")),
        Seq("source"))
      .filter(col("doc_a") < col("doc_b") && col("na") > 0 && col("nb") > 0)
      .select(m.as("m"), inter.as("i"), col("na"), col("nb"))
      .select(col("m"),
        (lit(5) * col("i") >= lit(4) * least(col("na"), col("nb"))).as("pos"),
        (lit(3) * col("i") >= col("na") + col("nb")).as("jpos"))
    def ppm(num: Column, den: Column): Column =
      when(den > 0, floor(num.cast("double") * 1e6 / den).cast("long"))
    pairs.select(explode(sequence(lit(1), lit(8))).as("t"),
        col("m"), col("pos"), col("jpos"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("m") >= col("t") && col("pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("m") >= col("t") && !col("pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("m") < col("t") && col("pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("pos") && !col("jpos"), 1L).otherwise(0L)).as("asym_pos"),
        sum(when(col("m") >= col("t") && col("pos") && !col("jpos"), 1L)
          .otherwise(0L)).as("asym_tp"))
      .select(col("t").cast("long").as("threshold_eighths"),
        col("tp"), col("fp"), col("fn"), col("asym_pos"), col("asym_tp"),
        ppm(col("tp"), col("tp") + col("fn")).as("recall_ppm"),
        ppm(col("asym_tp"), col("asym_pos")).as("asym_recall_ppm"))
  }

  /** Incremental containment screening — the daily-crawl twin of
    * dedup_containment: every NEW doc is probed
    * against the standing corpus within its source block, and any
    * corpus doc that contains >= 80% of the new doc's tokens (or vice
    * versa — gate on the smaller side, 5i >= 4·min, pure integers)
    * flags it. Emits one row per new doc with the match census and the
    * best (highest-containment, then lowest old_id) corpus match —
    * the keep/drop signal a crawl-ingest pipeline consumes. The pair
    * join is asymmetric batch×corpus (1/10 × 9/10 of each block),
    * never corpus×corpus; the best-match pick is one hash aggregate
    * (lexicographic struct-min), not a window.
    */
  // batch split: doc_id % 7 == 3, NOT dedupIncremental's % 10 == 9 —
  // the synthetic generator's duplicate pairs preserve doc_id mod 10,
  // so a %10 boundary has ZERO cross-boundary containment pairs at
  // every sf (measured); %7 breaks the alignment (1.2k+ matches).
  private[graft] val IncrMod = 7
  private[graft] val IncrRem = 3

  def containmentIncremental(s: SparkSession, d: String): DataFrame = {
    val base = Share(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(gramHashes(col("toks"), 1))).as("uni"))
      .select(col("doc_id"), col("source"), col("uni"),
        size(col("uni")).cast("long").as("nu")))
    val batch = base.filter(pmod(col("doc_id"), lit(IncrMod)) === IncrRem)
      .select(col("source"), col("doc_id").as("new_id"),
        col("uni").as("un"), col("nu").as("nn"))
    val corpus = base.filter(pmod(col("doc_id"), lit(IncrMod)) =!= IncrRem)
      .select(col("source"), col("doc_id").as("old_id"),
        col("uni").as("uo"), col("nu").as("no"))
    val i = graft.functions.IntersectCount
      .intersectCount(col("un"), col("uo")).cast("long")
    val matches = batch.join(corpus, Seq("source"))
      .select(col("new_id"), col("old_id"), col("nn"), col("no"), i.as("i"))
      .filter(col("nn") > 0 && col("no") > 0 &&
        col("i") * 5 >= least(col("nn"), col("no")) * 4)
      .select(col("new_id"), col("old_id"),
        round(col("i").cast("double") / least(col("nn"), col("no")), 6)
          .as("cont"))
    val best = matches
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(struct((lit(0.0) - col("cont")).as("neg"), col("old_id"))).as("b"))
      .select(col("new_id"), col("n_matches"),
        (lit(0.0) - col("b.neg")).as("best_cont"), col("b.old_id").as("best_match"))
    batch.select(col("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_cont"), col("best_match"),
        when(col("best_cont").isNull, lit(1L)).otherwise(lit(0L)).as("keep_flag"))
  }

  /** Per-document n-gram novelty of an incoming crawl batch against the
    * standing corpus — the prioritization metric an incremental crawler
    * scores every fetched page with ("how much of this have we already
    * got?"). Batch = doc_id % 10 == 9 (dedupIncremental's daily-crawl
    * split); for each batch doc, the fraction of its DISTINCT word
    * trigrams absent from the corpus-side distinct trigram set, in
    * integer ppm.
    *
    * Shape: one tokenize pass feeds both sides; the corpus side
    * collapses to its distinct gram set (partial-agg'd — the exchange
    * carries gram VOCABULARY, sub-linear in corpus tokens), then one
    * equi-join on the 60-bit gram hash and a per-doc count aggregate.
    * Nothing is ever all-pairs. At 100 TB the exact form stays viable
    * because both join sides are hash-partitioned on `g`; when
    * approximate novelty suffices, a corpus-gram bloom filter
    * (functions.BloomJoin) replaces the join with a narrow map-side
    * probe at the cost of a bounded false-"seen" rate.
    */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    // reduce mod P like the oracle's hv list: the gram VALUE (not just
    // per-engine counts) must agree cross-engine — raw-60-bit on one
    // side vs mod-P on the other diverges once the corpus is large
    // enough for a mod collision (expected ~1 at ~150k grams)
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(gramHashes(col("toks"), 3)).as("g0"))
      .select(col("doc_id"), pmod(col("g0"), lit(P)).as("g"))
      .distinct()
    val corpus = grams.filter(pmod(col("doc_id"), lit(10)) =!= 9)
      .select(col("g")).distinct()
    grams.filter(pmod(col("doc_id"), lit(10)) === 9)
      .join(corpus.withColumn("seen", lit(1)), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        floor(col("n_novel").cast("double") * lit(1000000.0) /
          col("n_grams").cast("double")).cast("long").as("novelty_ppm"))
  }

  /** Bloom-filter membership eval — the measured-FP-rate census for
    * the bloom-prune decision (functions.BloomJoin prunes a big join's
    * probe side with exactly this math; this operator pins the math
    * cross-engine and reports the realized false-positive rate on this
    * corpus). Filter: k = 4 salted hash60 functions into one
    * m = 131072-bit array, built over the corpus-side (doc_id%10 != 9)
    * DISTINCT trigram set; probes are the batch side's distinct
    * trigrams. A true member can never miss (one-sided error —
    * `n_false_neg` is emitted and must be 0 on both engines); a
    * non-member hits only when all 4 of its buckets collide —
    * `fp_ppm` is the measured rate the prune's selectivity model
    * feeds on.
    *
    * Shape: the bit array IS a distinct-bucket table (<= m rows, KBs)
    * — set-bit membership is an equi-join on the bucket id, and the
    * per-probe all-4-buckets conjunction is a count aggregate. At
    * 100 TB the bits table broadcasts and the probe pass is map-side
    * (the BloomJoin layout); here it stays an explicit join so the
    * oracle can replay it.
    */
  def bloomEval(s: SparkSession, d: String): DataFrame = {
    val m = 131072L
    def buckets(g: Column): Column = array((0 until 4).map { j =>
      pmod(graft.functions.TextFunctions.hash60(
        concat(lit(s"bf${j}_"), g.cast("string"))), lit(m))
    }: _*)
    // mod-P gram values (see ngramNovelty) — here the VALUE feeds the
    // salted bucket hashes, so cross-engine equality is load-bearing
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(gramHashes(col("toks"), 3)).as("g0"))
      .select(col("doc_id"), pmod(col("g0"), lit(P)).as("g"))
    val corpus = grams.filter(pmod(col("doc_id"), lit(10)) =!= 9)
      .select(col("g")).distinct()
    val bits = corpus.select(explode(buckets(col("g"))).as("bucket")).distinct()
    val probes = grams.filter(pmod(col("doc_id"), lit(10)) === 9)
      .select(col("g")).distinct()
    val probed = probes
      .join(corpus.withColumn("member", lit(1)), Seq("g"), "left")
      .select(col("g"), col("member"), posexplode(buckets(col("g"))).as(Seq("j", "bucket")))
      .join(bits.withColumn("hit", lit(1)), Seq("bucket"), "left")
      .groupBy(col("g"), col("member"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .select(col("member").isNotNull.as("is_member"),
        (col("n_hits") === 4).as("bloom_hit"))
    probed.agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("is_member"), 1L).otherwise(0L)).as("n_members"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
        sum(when(col("is_member") && !col("bloom_hit"), 1L).otherwise(0L)).as("n_false_neg"),
        sum(when(!col("is_member") && col("bloom_hit"), 1L).otherwise(0L)).as("n_false_pos"))
      .select(col("n_probes"), col("n_members"), col("n_bloom_hits"),
        col("n_false_neg"), col("n_false_pos"),
        when(col("n_probes") > col("n_members"),
          floor(col("n_false_pos").cast("double") * lit(1000000.0) /
            (col("n_probes") - col("n_members")).cast("double")).cast("long"))
          .as("fp_ppm"))
  }

  /** Blocked pairwise set CONTAINMENT — the asymmetric near-dup case
    * Jaccard misses: a short doc quoted wholesale inside a long one
    * has |A∩B|/|A| ≈ 1 while Jaccard |A∩B|/|A∪B| ≈ |A|/|B| ≈ 0, so
    * neither the minhash-LSH bands (which estimate Jaccard) nor the
    * jac>=0.5 verifier can see it. Containment of the SMALLER side
    * (max of the two directions) is the standard containment-dedup
    * gate; kept pairs report both metrics so downstream policy can
    * distinguish subset-dups (high cont, low jac) from mutual
    * near-dups (both high).
    *
    * Gate decided in pure integers (5*i >= 4*min(|A|,|B|) ⇔
    * cont >= 0.8) — no float boundary cross-engine. Same blocked
    * verification shape as dedup_ngram_jaccard (per-source block;
    * within-block pairs over sorted distinct token-hash sets, native
    * merge-walk intersect), but unigram sets only — no trigram stage.
    * Scale path: this is the exact-verification operator; at 100 TB
    * candidates come from a partial-signature index (index the
    * smaller side's min-k token hashes; a containment>=t pair shares
    * one of ~k/t of them) feeding the same merge-walk verify, the
    * dedup_pipeline discipline.
    */
  def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val base = Share(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(gramHashes(col("toks"), 1))).as("uni"))
      .select(col("doc_id"), col("source"), col("uni"),
        size(col("uni")).cast("long").as("nu")))
    val a = base.select(col("source"), col("doc_id").as("doc_a"),
      col("uni").as("uni_a"), col("nu").as("nu_a"))
    val b = base.select(col("source"), col("doc_id").as("doc_b"),
      col("uni").as("uni_b"), col("nu").as("nu_b"))
    val i = graft.functions.IntersectCount
      .intersectCount(col("uni_a"), col("uni_b")).cast("long")
    a.join(b, Seq("source"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("source"), col("doc_a"), col("doc_b"),
        col("nu_a"), col("nu_b"), i.as("n_shared"))
      .filter(col("nu_a") > 0 && col("nu_b") > 0 &&
        col("n_shared") * 5 >= least(col("nu_a"), col("nu_b")) * 4)
      .select(col("source"), col("doc_a"), col("doc_b"),
        col("nu_a"), col("nu_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("nu_a"), col("nu_b")), 6).as("containment"),
        round(col("n_shared").cast("double") /
          (col("nu_a") + col("nu_b") - col("n_shared")), 6).as("jaccard"))
  }

  /** Exact shared-span extraction across documents — the substring-
    * level dedup channel (the "exact substring deduplication" of Lee
    * et al.'s dedup study, re-expressed relationally). Jaccard/LSH see
    * bag-of-shingle overlap; THIS finds verbatim runs: for every doc
    * pair sharing at least one 8-token window it reports how many
    * maximal shared runs exist, the longest run (in tokens), and the
    * total shared-window mass.
    *
    * Plan: positional 8-gram hashes (posexplode of the ShingleHash60
    * kernel — no gram strings); document-frequency prune keeps only
    * grams seen in 2..50 docs (df=1 cannot match; df>50 is boilerplate
    * that would blow the join quadratically — the suffix-array
    * pipelines drop those same super-common windows); equi-join on the
    * gram hash; then the classic islands trick — within (pair,
    * diagonal pa-pb), consecutive positions collapse via
    * pa - row_number() — one window + one aggregate.
    *
    * Scale: postings-list join, linear in surviving postings; the
    * only quadratic term is per-gram (df <= 50, bounded). The window
    * partitions on (doc_a, doc_b, diag) — high cardinality, no skew.
    * At 100 TB the df band is the knob; the plan shape is fixed.
    */
  def crossDocSpans(s: SparkSession, d: String): DataFrame = {
    val K = 8
    val toksDf = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // shared by the df-prune AND both join sides
    val grams = Share(toksDf
      .select(col("doc_id"), posexplode(gramHashes(col("toks"), K)))
      .toDF("doc_id", "pos", "h"))
    val keep = grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("cd"))
      .filter(col("cd").between(2, 50)).select(col("h"))
    val gk = grams.join(keep, Seq("h"))
    val m = gk.select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(gk.select(col("h"), col("doc_id").as("doc_b"), col("pos").as("pb")),
        Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("pa") - col("pb"))
      .orderBy(col("pa"))
    m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("pa") - col("pb")).as("diag"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_spans"),
        (max(col("run_len")) + lit(K - 1).cast("long")).as("max_span_tokens"),
        sum(col("run_len")).as("shared_grams"))
  }

  /** Blocked fuzzy-match census — record-linkage screening by EDIT
    * distance, the channel none of the token/bit sketches cover
    * (typo-level variation preserves shingle sets poorly and char
    * order entirely; Levenshtein sees both). Candidate pairs are
    * blocked on (source, length-bucket of 16 chars) — near-identical
    * records land in the same bucket — and each pair is scored by
    * levenshtein over the 48-char normalized prefix (bounded cost per
    * pair, the standard linkage trick). Emits a per-source census
    * (pair volume, close matches at distance <= 24, the minimum
    * distance seen) so the output hash pins EVERY pair's distance in
    * aggregate, not just the matches.
    *
    * Scale: quadratic only within a (source, bucket) block; block
    * size is data-bounded (length histogram), and at 100 TB the
    * blocking key widens (e.g. + simhash band) before block size
    * grows — the LSH operators here compose as a pre-filter.
    */
  def fuzzyMatchCensus(s: SparkSession, d: String): DataFrame = {
    val base = Share(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        substring(normText(col("text")), 1, 48).as("pfx"),
        (col("n_chars") / 16).cast("long").as("lb")))
    val a = base.select(col("source"), col("lb"),
      col("doc_id").as("doc_a"), col("pfx").as("pfx_a"))
    val b = base.select(col("source"), col("lb"),
      col("doc_id").as("doc_b"), col("pfx").as("pfx_b"))
    val pairs = a.join(b, Seq("source", "lb"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("source"),
        levenshtein(col("pfx_a"), col("pfx_b")).cast("long").as("dist"))
    val perSource = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lb")).as("n_blocks"))
    perSource.join(
        pairs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("dist") <= 24, 1L).otherwise(0L)).as("n_close"),
            min(col("dist")).as("min_dist")),
        Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_blocks"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_close"), lit(0L)).as("n_close"), col("min_dist"))
  }

  /** Fuzzy match with the COMPOSED blocking key — the 100 TB fix the
    * fuzzy_match_census scaladoc designs, shipped as pinned behavior
    * (VERDICT r6 optional item #8): widen (source, length-bucket)
    * with a SimHash band over the compared prefix itself, so block
    * size is bounded by similarity structure rather than metadata
    * cardinality. Per doc: 60-bit SimHash by bit-majority over the
    * char 4-grams of the 48-char normalized prefix; 4 bands of 15
    * bits; candidate pairs must share (source, lb, band) for at least
    * one band, then levenshtein decides as before. Recall is the
    * bands+verify trade: prefixes within a few edits differ in a few
    * grams, so most bands stay identical (guaranteed survival only
    * for pairs whose bit diffs miss one band; the census pairs this
    * operator drops are the far ones the distance gate would reject
    * anyway — the measured n_close retention vs fuzzy_match_census is
    * the honest readout and is pinned in FuzzyBlockedSpec).
    *
    * Scale: everything before the pair join is per-doc, linear; the
    * pair join is an equi-join on the composed key whose block sizes
    * no longer grow with per-source volume — the property that keeps
    * the within-block quadratic bounded at any corpus size.
    */
  def fuzzyMatchBlocked(s: SparkSession, d: String): DataFrame = {
    val base = Share(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        substring(normText(col("text")), 1, 48).as("pfx"),
        (col("n_chars") / 16).cast("long").as("lb")))
    val grams = base
      .select(col("doc_id"), charShingles(col("pfx"), 4).as("chs"))
      .select(col("doc_id"), explode(col("chs")).as("g"))
      .select(col("doc_id"), hash60(col("g")).as("hv"))
    val bitSums = (0 until 60).map { bit =>
      sum(shiftright(col("hv"), bit).bitwiseAND(1) * 2 - 1).as(s"s$bit")
    }
    val fpExpr = (0 until 60).map { bit =>
      when(col(s"s$bit") > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)
    val fpT = grams.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fpExpr.as("simhash"))
    // left join + coalesce: a sub-4-char prefix has no grams and must
    // still participate (fingerprint 0), not vanish from the census
    val sim = base.join(fpT, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("pfx"), col("lb"),
        coalesce(col("simhash"), lit(0L)).as("simhash"))
    val bandArr = array((0 until 4).map { b =>
      shiftright(col("simhash"), 15 * b).bitwiseAND(lit(0x7FFFL))
    }: _*)
    val bands = sim.select(col("doc_id"), col("source"), col("pfx"), col("lb"),
      posexplode(bandArr).as(Seq("bid", "bv")))
    val a = bands.select(col("source"), col("lb"), col("bid"), col("bv"),
      col("doc_id").as("doc_a"), col("pfx").as("pfx_a"))
    val b2 = bands.select(col("source"), col("lb"), col("bid"), col("bv"),
      col("doc_id").as("doc_b"), col("pfx").as("pfx_b"))
    val cand = a.join(b2, Seq("source", "lb", "bid", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("source"), col("doc_a"), col("doc_b"),
        col("pfx_a"), col("pfx_b"))
      .distinct()
    val pairs = cand.select(col("source"),
      levenshtein(col("pfx_a"), col("pfx_b")).cast("long").as("dist"))
    val perSource = bands.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(concat_ws(":", col("lb"), col("bid"), col("bv")))
          .as("n_blocks"))
    perSource.join(
        pairs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("dist") <= 24, 1L).otherwise(0L)).as("n_close"),
            min(col("dist")).as("min_dist")),
        Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_blocks"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_close"), lit(0L)).as("n_close"), col("min_dist"))
  }

  /** Duplicate-span COVERAGE screening for crawl ingest — the
    * incremental sibling of [[crossDocSpans]], and the shape that
    * actually runs at 100 TB: instead of enumerating pairs, each new
    * document is scored by how much of it is covered by 8-token
    * windows already present anywhere in the corpus (a crawl filter
    * drops or trims docs above a coverage threshold). Split follows
    * containment_incremental (doc_id % 7 == 3 stands in for today's
    * arrivals; the generator's duplicate pairs preserve mod 10, so a
    * mod-10 split would never cross the batch boundary).
    *
    * Plan: ONE tokenize pass shared by both sides ([[Share]]);
    * the corpus side collapses to a DISTINCT gram-hash set; the batch
    * side keeps positions; membership is an equi-join (semi by
    * construction — the right side is distinct), then covered token
    * positions are the distinct union of each hit's 8-wide window.
    * No pair enumeration anywhere — cost is linear in corpus grams +
    * batch hits. At 100 TB the distinct corpus set partitions by hash
    * (uniform, no skew) and composes with bloom_prune_join's sketch
    * screen to skip the shuffle for miss-dominated batches.
    */
  def spanCoverageIncremental(s: SparkSession, d: String): DataFrame = {
    val K = 8
    // shared: corpus set, batch grams, batch totals
    val base = Share(Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        gramHashes(col("toks"), K).as("gh")))
    val corpus = base.filter(pmod(col("doc_id"), lit(IncrMod)) =!= IncrRem)
      .select(explode(col("gh")).as("h")).distinct()
    // NOT the dup_span_rewrite interval kernel: an r14 paired A/B at
    // the 10x corpus read the sorted-starts interval-union form a
    // consistent ~10% SLOWER (min-of-8 2.76 s vs 3.06 s) — the
    // partial countDistinct already dedups the 8-wide windows
    // map-side (covered positions overlap heavily), so the exchange
    // carries ~covered ints either way and the collect_list +
    // sort_array object aggregate only adds cost. Kept as the
    // explode + countDistinct the measurement favors.
    val hits = base.filter(pmod(col("doc_id"), lit(IncrMod)) === IncrRem)
      .select(col("doc_id"), posexplode(col("gh")))
      .toDF("doc_id", "pos", "h")
      .join(corpus, Seq("h"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(K - 1))).as("p"))
    val cov = hits.groupBy(col("doc_id"))
      .agg(countDistinct(col("p")).as("covered"))
    base.filter(pmod(col("doc_id"), lit(IncrMod)) === IncrRem)
      .select(col("doc_id"), col("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        expr("(1000000 * coalesce(covered, 0)) div n_tokens").as("covered_ppm"))
  }

  /** Duplicate-span REWRITE — the transform the span detectors feed:
    * every token position covered by an 8-token window that appears in
    * MORE THAN ONE document is dropped, and the retained sequence is
    * emitted as a count + md5 fingerprint (the downstream writer joins
    * the fingerprint table back to rebuild text; carrying full rewritten
    * text through the gate would just re-test the tokenizer).
    * Conservative variant of Lee et al.'s exact-substring dedup: BOTH
    * copies of a duplicated span are dropped, not all-but-one — no
    * survivor election, so the rewrite stays embarrassingly parallel
    * (survivor election is dedup_pipeline's job at the doc level).
    *
    * Plan: same postings spine as span coverage (positional gram
    * hashes -> df>1 gram set), then the duplicated window starts are
    * collected per doc and the covered-position union, the survivor
    * selection and the ordered fingerprint are all per-doc array
    * arithmetic on the document's own row. Every join is keyed on
    * doc_id or the gram hash — nothing pairwise, and the token
    * strings never enter a shuffle.
    */
  def dupSpanRewrite(s: SparkSession, d: String): DataFrame = {
    val K = 8
    val toksDf = Share(Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks")))
    val grams = toksDf
      .select(col("doc_id"), posexplode(gramHashes(col("toks"), K)))
      .toDF("doc_id", "pos", "h")
    // df > 1 needs only min(doc_id) != max(doc_id), not the distinct
    // count — one map-side-combined exchange of (h, min, max) instead
    // of the two full-gram-set exchanges the countDistinct form
    // planned (r14, guide §2.3; dupSpanDetect got the same rewrite).
    // crossDocSpans keeps its countDistinct: its 2..50 band needs the
    // exact count.
    val occ = grams.groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select(col("h"))
    // duplicated window STARTS per doc — one int per hit through the
    // aggregate exchange. The covered-position union, the anti-join
    // of token positions and the ordered kept-token collect all
    // collapse to per-doc array arithmetic below (r14, guide §2.3/§4):
    // the token strings never leave their document row, and the
    // 8-wide window explode + DISTINCT + anti-join + collect_list
    // exchanges (all carrying doc_id-keyed rows, two of them token
    // strings) disappear.
    val starts = grams.join(occ, Seq("h"))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("starts"))
    val n = size(col("toks"))
    val covered = flatten(transform(col("starts"),
      st => sequence(st, st + lit(K - 1))))
    // array_except hash-sets the right side (duplicate covered
    // positions are free) and keeps the LEFT argument's order, so
    // kept_idx is ascending — same order the anti-join form got from
    // array_sort(collect_list(struct(idx, tok)))
    val keptIdx = array_except(
      when(n > lit(0), sequence(lit(0), n - lit(1)))
        .otherwise(array().cast("array<int>")),
      covered)
    toksDf.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"), n.cast("long").as("n_tokens"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .select(col("doc_id"), col("n_tokens"), col("toks"),
        keptIdx.as("kept_idx"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept_idx")).cast("long").as("n_kept"),
        // NULL when nothing survives — matches the anti-join form,
        // where a fully-covered (or empty) doc has no kept group
        when(size(col("kept_idx")) > 0,
          md5(array_join(transform(col("kept_idx"),
            i => element_at(col("toks"), i + lit(1))), " "))).as("kept_fp"))
  }

  /** Channel-agreement Venn across three dedup channels — the eval a
    * curation team runs before trusting any single sketch: every
    * candidate pair is tagged with the channels that found it
    * (bit 1 = MinHash-LSH band pairs, bit 2 = set containment,
    * bit 4 = exact shared spans) and the mask census shows which
    * channels are redundant and which see pairs nothing else sees.
    * Pure composition: the three registered operators' pair outputs,
    * one union, two keyed aggregates.
    *
    * The LSH channel reads the shared `lsh_pairs` LANE (the same
    * disk-materialized artifact the graph tier, train_split and the
    * cluster family consume) rather than re-deriving signatures and
    * the band join inline: the lane IS lshCandidates._1, and
    * dedupMinhashLsh's signature-attach joins are inner joins on keys
    * that always match, so the (doc_a, doc_b) set is identical — only
    * the est_jaccard column (unused here) needed the signatures. The
    * lane-defining query dedup_minhash_lsh still computes live.
    *
    * The containment and span channels read the `containment_pairs` /
    * `span_pairs` lanes the same way (r14, VERDICT r13 next #4): each
    * lane IS the defining query's output, the census drops every
    * column but the pair, and the lane-defining queries
    * dedup_containment / cross_doc_spans still compute live every
    * round. At 100 TB each channel's pair table is a stage output in
    * the warehouse; the Venn census is a downstream reader, not a
    * recomputation of all three channels.
    */
  def dedupChannelOverlap(s: SparkSession, d: String): DataFrame = {
    val lsh = lshPairsCached(s, d)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("m"))
    val cont = containmentPairsCached(s, d)
      .select(col("doc_a"), col("doc_b"), lit(2L).as("m"))
    val sp = spanPairsCached(s, d)
      .select(col("doc_a"), col("doc_b"), lit(4L).as("m"))
    lsh.unionByName(cont).unionByName(sp)
      .groupBy(col("doc_a"), col("doc_b")).agg(sum(col("m")).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n_pairs"))
  }

  /** Survivor election per near-duplicate cluster — the canonical-pick
    * stage production dedup actually publishes: dedup_clusters' min-id
    * pick is an ID accident; the curation rule is KEEP THE LONGEST
    * member (the C4/RefinedWeb practice — near-dup clusters usually
    * contain one full document plus truncated or boilerplate-wrapped
    * copies, and min-id happily elects a stub). Election is exact
    * integer and portable: per-cluster max token count, then min
    * doc_id among ties — deliberately NOT max_by/arg_max on a struct,
    * whose tie semantics are engine-defined. Emits the full rewrite
    * mapping (every clustered doc -> its survivor), which is what a
    * downstream keep-filter or redirect table joins on.
    *
    * Shape: components + a keyed join of the clustered subset against
    * the per-doc token counts; the election is two aggregates over the
    * cluster-member table (bounded by the LSH pair graph, far below
    * corpus size), then one keyed join back. Singleton docs never
    * enter any stage — at 100 TB the mapping table is proportional to
    * the DUPLICATED subset, not the corpus.
    */
  def dedupSurvivors(s: SparkSession, d: String): DataFrame = {
    val labels = connectedComponents(
      lshPairsCached(s, d).select(col("doc_a"), col("doc_b")))
    val toks = Tables.documents(s, d).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    survivorElection(
      labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
        .join(toks, Seq("doc_id")))
  }

  /** The survivor mapping applied as a keep-filter, audited per
    * language — the number a curation run actually publishes: how
    * many documents and tokens survive near-dup collapse, per lang.
    * Docs outside every cluster are kept by definition (left join,
    * coalesce TRUE), so the join's build side is the mapping table —
    * proportional to the duplicated subset, never the corpus — and
    * the census is one exact-integer groupBy on lang.
    */
  def dedupKeepStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(dedupSurvivors(s, d).select(col("doc_id"), col("is_survivor")),
        Seq("doc_id"), "left_outer")
      .select(col("lang"), col("n_tokens"),
        coalesce(col("is_survivor"), lit(true)).as("keep"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum((!col("keep")).cast("long")).as("n_dropped"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("keep"), col("n_tokens")).otherwise(lit(0L)))
          .as("tokens_kept"),
        sum(when(col("keep"), lit(0L)).otherwise(col("n_tokens")))
          .as("tokens_dropped"))

  /** Election core over (doc_id, cluster_id, n_tokens) — unit-tested
    * on hand clusters with ties and stub members (SurvivorSpec). */
  private[operators] def survivorElection(m: DataFrame): DataFrame = {
    val best = m.groupBy(col("cluster_id")).agg(max(col("n_tokens")).as("mt"))
    val surv = m.join(best, Seq("cluster_id"))
      .filter(col("n_tokens") === col("mt"))
      .groupBy(col("cluster_id")).agg(min(col("doc_id")).as("survivor_doc"))
    m.join(surv, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_tokens"),
        col("survivor_doc"),
        (col("doc_id") === col("survivor_doc")).as("is_survivor"))
  }

  /** Content-defined chunking (the gear/FastCDC discipline, over
    * normalized tokens): token i ends a chunk when hash60(token) mod
    * 16 == 0 — a pure function of LOCAL content, so an edit near the
    * head of a document shifts only the chunks up to the next
    * boundary and everything after re-synchronizes byte-identically.
    * Fixed-stride chunking (doc_chunk) loses ALL alignment after an
    * insertion; this is why backup/dedup systems (LBFS, Venti,
    * restic) and crawl-level near-dup stores chunk by content, not
    * offset. No min/max clamp: the boundary rule stays a per-position
    * predicate (embarrassingly parallel, whole-stage codegen) instead
    * of a sequential scan; expected chunk length is the divisor (16).
    *
    * Emits (doc_id, chunk_text, chunk_hash, n_tokens); every token
    * lands in exactly one chunk (end-of-doc anchor boundary).
    */
  private[graft] def contentChunks(docs: DataFrame): DataFrame = {
    val D = 16
    val h60 = graft.functions.Hash60.hash60 _
    val bp = filter(sequence(lit(1), col("n")), i =>
      (pmod(h60(element_at(col("w"), i)), lit(D)) === 0) || (i === col("n")))
    // Chunk texts are assembled INSIDE one per-doc projection (transform
    // over the boundary array) and only the narrow (chunk_text, len)
    // structs are exploded. The previous shape posexploded the boundary
    // array first and sliced `w` per generated row, which carried the
    // FULL token array (and `bp`) on every chunk row through the
    // Generate — O(chunks x doc_len) bytes materialized per document vs
    // O(doc_len) here (guide §2.3: project before the explosion).
    val chunks = transform(col("bp"), (b, k) => {
      val prev = when(k === 0, lit(0)).otherwise(element_at(col("bp"), k))
      struct(
        array_join(slice(col("w"), prev + 1, b - prev), " ").as("chunk_text"),
        (b - prev).cast("long").as("n_tokens"))
    })
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("w"), bp.as("bp"))
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_text").as("chunk_text"),
        h60(col("c.chunk_text")).as("chunk_hash"),
        col("c.n_tokens").as("n_tokens"))
  }

  /** Corpus-wide duplication spectrum of the content-defined chunks:
    * per occurrence-count band, how many distinct chunks, how many
    * appear in more than one document, and the exact token volume a
    * chunk-level dedup would reclaim (len x (freq - 1), integer).
    * Shape at 100 TB: the chunk table is ~tokens/16 rows feeding ONE
    * map-side-combining groupBy on chunk_hash, then a spectrum agg
    * over the (bounded, distinct-frequency) bands — the
    * token_freq_spectrum scan discipline at chunk granularity.
    */
  def contentChunkDedup(s: SparkSession, d: String): DataFrame =
    chunkSpectrum(chunkPairCounts(
      Tables.documents(s, d).select(col("doc_id"), col("text"))))

  /** Per-(chunk_hash, doc_id) instance counts — a sum-mergeable lane
    * (Spark's own count-distinct rewrite builds this same pair
    * grouping internally, so splitting it out costs nothing).
    */
  private[graft] def chunkPairCounts(docs: DataFrame): DataFrame =
    contentChunks(docs)
      .groupBy(col("chunk_hash"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"), min(col("n_tokens")).as("len"))

  /** Spectrum readout over the pair-count lane. */
  private[graft] def chunkSpectrum(pairCounts: DataFrame): DataFrame =
    pairCounts
      .groupBy(col("chunk_hash"))
      .agg(sum(col("cnt")).as("chunk_freq"),
        count(lit(1)).as("n_docs"), min(col("len")).as("len"))
      .groupBy(col("chunk_freq"))
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("n_docs") > 1).cast("long")).as("n_multi_doc_chunks"),
        sum(col("len") * (col("chunk_freq") - 1)).as("dup_tokens"))

  val queries: Map[String, Relational.Q] = Map(
    "content_chunk_dedup" -> (contentChunkDedup _),
    "dedup_survivors" -> (dedupSurvivors _),
    "dedup_keep_stats" -> (dedupKeepStats _),
    "lsh_band_eval" -> (lshBandEval _),
    "dedup_channel_overlap" -> ((s: SparkSession, d: String) => dedupChannelOverlap(s, d)),
    "dup_span_rewrite" -> ((s: SparkSession, d: String) => dupSpanRewrite(s, d)),
    "cross_doc_spans" -> ((s: SparkSession, d: String) => crossDocSpans(s, d)),
    "span_coverage_incremental" -> ((s: SparkSession, d: String) => spanCoverageIncremental(s, d)),
    "fuzzy_match_census" -> ((s: SparkSession, d: String) => fuzzyMatchCensus(s, d)),
    "fuzzy_match_blocked" -> (fuzzyMatchBlocked _),
    "dedup_exact" -> (dedupExact _),
    "dedup_containment" -> (dedupContainment _),
    "minhash_signature" -> (minhashSignature _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash_pairs" -> (dedupSimhashPairs _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_pipeline" -> (dedupPipeline _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_ngram_prefix" -> (dedupNgramPrefix _),
    "embedding_cosine_neardup" -> (embeddingCosineNeardup _),
    "dedup_eval" -> (dedupEval _),
    "simhash_eval" -> (simhashEval _),
    "ngram_novelty" -> (ngramNovelty _),
    "bloom_eval" -> (bloomEval _),
    "containment_eval" -> (containmentEval _),
    "containment_incremental" -> (containmentIncremental _)
  )

  /** SimHash-quality evaluation — dedupEval's sibling for the bit
    * sketch: on the same 1-in-5 sample, sweep the hamming-distance
    * cutoff (8/12/16/20/24 of 60 bits) and report the confusion
    * matrix + precision/recall (integer ppm) against exact TRIGRAM
    * Jaccard >= 0.5 decided in pure integers (3*|A∩B| >= |A|+|B|).
    * Hamming is the codegen'd bit_count(xor); everything downstream
    * of the blocked pair join is one 5-row aggregate. This is the
    * tuning table that picks dedup_simhash_pairs' production cutoff.
    */
  def simhashEval(s: SparkSession, d: String): DataFrame = {
    val fps = dedupSimhash(s, d)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("simhash"))
    val docs = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(gramHashes(col("toks"), 3))).as("tri"))
      .select(col("doc_id"), col("source"), col("tri"), size(col("tri")).as("nt"))
    val base = Share(docs.join(fps, Seq("doc_id")))
    val a = base.select(col("source"), col("doc_id").as("doc_a"),
      col("tri").as("ta"), col("nt").as("na"), col("simhash").as("fa"))
    val b = base.select(col("source"), col("doc_id").as("doc_b"),
      col("tri").as("tb"), col("nt").as("nb"), col("simhash").as("fb"))
    val ham = bit_count(col("fa").bitwiseXOR(col("fb")))
    val inter = graft.functions.IntersectCount.intersectCount(col("ta"), col("tb"))
    val pairs = a.join(b, Seq("source"))
      .filter(col("doc_a") < col("doc_b"))
      .select(ham.cast("long").as("h"),
        (lit(3) * inter >= col("na") + col("nb")).as("pos"))
    def ppm(num: Column, den: Column): Column =
      when(den > 0, floor(num.cast("double") * 1e6 / den).cast("long"))
    pairs.select(explode(sequence(lit(8), lit(24), lit(4))).as("t"),
        col("h"), col("pos"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("h") <= col("t") && col("pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("h") <= col("t") && !col("pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("h") > col("t") && col("pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("h") > col("t") && !col("pos"), 1L).otherwise(0L)).as("tn"))
      .select(col("t").cast("long").as("hamming_cutoff"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        ppm(col("tp"), col("tp") + col("fp")).as("precision_ppm"),
        ppm(col("tp"), col("tp") + col("fn")).as("recall_ppm"))
  }

  // ---- oracle SQL (DuckDB dialect; partially code-generated) ----

  private[operators] val normSql =
    "lower(trim(regexp_replace(regexp_replace(text, '[^a-zA-Z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))"

  /** Shared CTE prefix: word tokens + 3-gram shingle hashes mod P. */
  private[operators] val shingleHashCte =
    s"""WITH toks AS (
       | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |sh AS (
       | SELECT doc_id, CASE WHEN len(w) >= 3
       |  THEN list_transform(range(0, len(w) - 2),
       |        i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))
       |  ELSE [] END AS shingles FROM toks),
       |hs AS (
       | SELECT doc_id, list_transform(shingles,
       |   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $P) AS hv FROM sh)""".stripMargin

  private[operators] val sigSelect = (0 until 8).map { j =>
    val a = 2 * j + 3
    val b = 101 * j + 7
    s"list_min(list_transform(hv, h -> (h * $a + $b) % $P)) AS sig$j"
  }.mkString(",\n ")

  /** Shared CTE chain: shingle hashes -> minhash sigs -> LSH band
    * pairs -> recursive connected components, ending in
    * `comp(doc, cluster_id)`. Reused by dedup_clusters here and by
    * TrainPrep's leakage-aware train_split oracle.
    */
  /** Full survivor-election oracle — standalone, so dedup_keep_stats
    * can nest it as a subquery (the annEvalSql nested-WITH pattern). */
  private lazy val survivorsSql: String =
    s"""$clusterCompCte,
       |dlen AS (
       | SELECT doc_id,
       |  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens
       | FROM documents),
       |m AS (
       | SELECT comp.doc AS doc_id, comp.cluster_id, dlen.n_tokens
       | FROM comp JOIN dlen ON dlen.doc_id = comp.doc),
       |best AS (SELECT cluster_id, max(n_tokens) AS mt FROM m GROUP BY 1),
       |surv AS (
       | SELECT m.cluster_id, min(m.doc_id) AS survivor_doc
       | FROM m JOIN best ON m.cluster_id = best.cluster_id
       |  AND m.n_tokens = best.mt
       | GROUP BY 1)
       |SELECT m.doc_id, m.cluster_id, m.n_tokens, surv.survivor_doc,
       | m.doc_id = surv.survivor_doc AS is_survivor
       |FROM m JOIN surv ON m.cluster_id = surv.cluster_id""".stripMargin

  private[operators] val clusterCompCte =
    s"""${shingleHashCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sig AS (SELECT doc_id, $sigSelect FROM hs),
       |bands AS (
       | SELECT doc_id,
       |  unnest([0, 1, 2, 3]) AS bid,
       |  unnest([
       |   md5(concat(CAST(sig0 AS VARCHAR), '_', CAST(sig1 AS VARCHAR))),
       |   md5(concat(CAST(sig2 AS VARCHAR), '_', CAST(sig3 AS VARCHAR))),
       |   md5(concat(CAST(sig4 AS VARCHAR), '_', CAST(sig5 AS VARCHAR))),
       |   md5(concat(CAST(sig6 AS VARCHAR), '_', CAST(sig7 AS VARCHAR)))]) AS bh
       | FROM sig WHERE sig0 IS NOT NULL),
       |pairs AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bands a JOIN bands b ON a.bid = b.bid AND a.bh = b.bh
       |  AND a.doc_id < b.doc_id),
       |edges AS (
       | SELECT doc_a AS src, doc_b AS dst FROM pairs
       | UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc, lbl) AS (
       | SELECT DISTINCT src, src FROM edges
       | UNION
       | SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc),
       |comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc)""".stripMargin

  private val simhashBitSums = (0 until 60)
    .map(bit => s"sum(((hv >> $bit) & 1) * 2 - 1) AS s$bit").mkString(",\n ")
  private val simhashFp = (0 until 60)
    .map(bit => s"(CASE WHEN s$bit > 0 THEN (1::BIGINT << $bit) ELSE 0::BIGINT END)")
    .mkString(" + ")

  private val baseOracleSql: Map[String, String] = Map(
    // positional 8-gram hashes (raw hash60 — equality-joined only, no
    // second derivation, so no mod-P reduction needed); df band 2..50;
    // islands via pos - row_number per (pair, diagonal); counts cast
    // BIGINT (DuckDB widens sum to HUGEINT)
    "cross_doc_spans" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |g AS (
         | SELECT doc_id,
         |  unnest(CASE WHEN len(w) >= 8 THEN range(0, len(w) - 7) ELSE [] END) AS pos,
         |  unnest(CASE WHEN len(w) >= 8
         |   THEN list_transform(range(0, len(w) - 7),
         |     i -> ('0x' || substr(md5(array_to_string(
         |            w[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')), 1, 15))::BIGINT)
         |   ELSE [] END) AS h
         | FROM toks),
         |keep AS (
         | SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS cd FROM g GROUP BY 1)
         | WHERE cd BETWEEN 2 AND 50),
         |gk AS (SELECT g.doc_id, g.pos, g.h FROM g JOIN keep USING (h)),
         |m AS (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
         | FROM gk a JOIN gk b ON a.h = b.h AND a.doc_id < b.doc_id),
         |runs AS (
         | SELECT doc_a, doc_b, count(*) AS run_len
         | FROM (SELECT doc_a, doc_b, pa - pb AS diag, pa,
         |        pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
         |                                ORDER BY pa) AS grp
         |       FROM m)
         | GROUP BY doc_a, doc_b, diag, grp)
         |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_spans,
         | CAST(max(run_len) + 7 AS BIGINT) AS max_span_tokens,
         | CAST(sum(run_len) AS BIGINT) AS shared_grams
         |FROM runs GROUP BY 1, 2""".stripMargin,

    // covered positions from df>1 grams; ANTI join keeps survivors;
    // fingerprint = md5 of the space-joined retained sequence (NULL
    // when everything was covered — no kept group survives the join)
    "dup_span_rewrite" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |g AS (
         | SELECT doc_id,
         |  unnest(CASE WHEN len(w) >= 8 THEN range(0, len(w) - 7) ELSE [] END) AS pos,
         |  unnest(CASE WHEN len(w) >= 8
         |   THEN list_transform(range(0, len(w) - 7),
         |     i -> ('0x' || substr(md5(array_to_string(
         |            w[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')), 1, 15))::BIGINT)
         |   ELSE [] END) AS h
         | FROM toks),
         |occ AS (
         | SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS cd FROM g GROUP BY 1)
         | WHERE cd > 1),
         |cov AS (SELECT DISTINCT g.doc_id, unnest(range(g.pos, g.pos + 8)) AS p
         |        FROM g JOIN occ USING (h)),
         |tok_rows AS (SELECT doc_id, unnest(w) AS tok,
         |             unnest(range(0, len(w))) AS idx FROM toks),
         |kept AS (
         | SELECT t.doc_id, t.tok, t.idx FROM tok_rows t
         | LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.idx
         | WHERE c.p IS NULL),
         |fp AS (
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |  md5(string_agg(tok, ' ' ORDER BY idx)) AS kept_fp
         | FROM kept GROUP BY 1),
         |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks)
         |SELECT b.doc_id, b.n_tokens, coalesce(f.n_kept, 0) AS n_kept, f.kept_fp
         |FROM base b LEFT JOIN fp f USING (doc_id)""".stripMargin,

    // membership (not pairs): DISTINCT corpus gram set, batch-side
    // positional grams, covered = distinct union of 8-wide hit windows;
    // mod-7 split per containment_incremental (dup pairs preserve mod 10)
    "span_coverage_incremental" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |g AS (
         | SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  unnest(CASE WHEN len(w) >= 8 THEN range(0, len(w) - 7) ELSE [] END) AS pos,
         |  unnest(CASE WHEN len(w) >= 8
         |   THEN list_transform(range(0, len(w) - 7),
         |     i -> ('0x' || substr(md5(array_to_string(
         |            w[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')), 1, 15))::BIGINT)
         |   ELSE [] END) AS h
         | FROM toks),
         |corpus AS (SELECT DISTINCT h FROM g WHERE doc_id % $IncrMod <> $IncrRem),
         |hits AS (
         | SELECT g.doc_id, unnest(range(g.pos, g.pos + 8)) AS p
         | FROM g JOIN corpus USING (h) WHERE g.doc_id % $IncrMod = $IncrRem),
         |cov AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS covered
         |        FROM hits GROUP BY 1),
         |batch AS (
         | SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks
         | WHERE doc_id % $IncrMod = $IncrRem)
         |SELECT b.doc_id, b.n_tokens,
         | coalesce(c.covered, 0) AS covered_tokens,
         | CAST((1000000 * coalesce(c.covered, 0)) // b.n_tokens AS BIGINT)
         |  AS covered_ppm
         |FROM batch b LEFT JOIN cov c USING (doc_id)""".stripMargin,

    // blocked levenshtein over 48-char normalized prefixes; census per
    // source so the hash pins every pair distance; LEFT JOIN keeps
    // pairless sources (n_pairs 0, min_dist NULL)
    "fuzzy_match_census" ->
      s"""WITH b AS (
         | SELECT doc_id, source, substr($normSql, 1, 48) AS pfx,
         |  n_chars // 16 AS lb
         | FROM documents),
         |p AS (
         | SELECT a.source, levenshtein(a.pfx, b2.pfx) AS dist
         | FROM b a JOIN b b2 ON a.source = b2.source AND a.lb = b2.lb
         |  AND a.doc_id < b2.doc_id),
         |ps AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT lb) AS BIGINT) AS n_blocks
         | FROM b GROUP BY 1),
         |agg AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN dist <= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
         |  CAST(min(dist) AS BIGINT) AS min_dist
         | FROM p GROUP BY 1)
         |SELECT ps.source, ps.n_docs, ps.n_blocks,
         | coalesce(agg.n_pairs, 0) AS n_pairs,
         | coalesce(agg.n_close, 0) AS n_close, agg.min_dist
         |FROM ps LEFT JOIN agg USING (source)""".stripMargin,

    // composed-key census: same base as fuzzy_match_census plus a
    // 60-bit char-4-gram SimHash over the prefix (bit-majority:
    // 2*ones > n_grams), banded 4 x 15 bits into the blocking key
    "fuzzy_match_blocked" -> {
      val fpTerms = (0 until 60).map { bit =>
        s"(CASE WHEN 2 * coalesce(list_sum(list_transform(hv, h -> (h >> $bit) & 1)), 0) > len(hv) THEN (CAST(1 AS BIGINT) << $bit) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      s"""WITH b AS (
         | SELECT doc_id, source, substr($normSql, 1, 48) AS pfx,
         |  n_chars // 16 AS lb
         | FROM documents),
         |gh AS (
         | SELECT doc_id, CASE WHEN length(pfx) >= 4
         |  THEN list_transform(range(0, length(pfx) - 3),
         |    i -> ('0x' || substr(md5(substr(pfx, CAST(i + 1 AS INT), 4)), 1, 15))::BIGINT)
         |  ELSE [] END AS hv
         | FROM b),
         |fp AS (SELECT doc_id, $fpTerms AS simhash FROM gh),
         |bands AS (
         | SELECT b.doc_id, b.source, b.pfx, b.lb, t.bid,
         |  (fp.simhash >> (15 * t.bid)) & 32767 AS bv
         | FROM b JOIN fp USING (doc_id)
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bid) t),
         |cand AS (
         | SELECT DISTINCT a.source, a.doc_id AS doc_a, c.doc_id AS doc_b,
         |  a.pfx AS pfx_a, c.pfx AS pfx_b
         | FROM bands a JOIN bands c ON a.source = c.source AND a.lb = c.lb
         |  AND a.bid = c.bid AND a.bv = c.bv AND a.doc_id < c.doc_id),
         |p AS (SELECT source, levenshtein(pfx_a, pfx_b) AS dist FROM cand),
         |ps AS (
         | SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT lb || ':' || bid || ':' || bv) AS BIGINT) AS n_blocks
         | FROM bands GROUP BY 1),
         |agg AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN dist <= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
         |  CAST(min(dist) AS BIGINT) AS min_dist
         | FROM p GROUP BY 1)
         |SELECT ps.source, ps.n_docs, ps.n_blocks,
         | coalesce(agg.n_pairs, 0) AS n_pairs,
         | coalesce(agg.n_close, 0) AS n_close, agg.min_dist
         |FROM ps LEFT JOIN agg USING (source)""".stripMargin
    },

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    "minhash_signature" ->
      s"""$shingleHashCte
         |SELECT doc_id, $sigSelect FROM hs""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$shingleHashCte,
         |sig AS (SELECT doc_id, $sigSelect FROM hs),
         |bands AS (
         | SELECT doc_id, [sig0,sig1,sig2,sig3,sig4,sig5,sig6,sig7] AS sig_arr,
         |  unnest([0, 1, 2, 3]) AS bid,
         |  unnest([
         |   md5(concat(CAST(sig0 AS VARCHAR), '_', CAST(sig1 AS VARCHAR))),
         |   md5(concat(CAST(sig2 AS VARCHAR), '_', CAST(sig3 AS VARCHAR))),
         |   md5(concat(CAST(sig4 AS VARCHAR), '_', CAST(sig5 AS VARCHAR))),
         |   md5(concat(CAST(sig6 AS VARCHAR), '_', CAST(sig7 AS VARCHAR)))]) AS bh
         | FROM sig WHERE sig0 IS NOT NULL)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | round(CAST(len(list_filter(range(0, 8),
         |   i -> a.sig_arr[CAST(i + 1 AS INT)] = b.sig_arr[CAST(i + 1 AS INT)])) AS DOUBLE) / 8, 6) AS est_jaccard,
         | count(*) AS shared_bands
         |FROM bands a JOIN bands b ON a.bid = b.bid AND a.bh = b.bh
         | AND a.doc_id < b.doc_id
         |GROUP BY 1, 2, 3""".stripMargin,

    "dedup_incremental" ->
      s"""$shingleHashCte,
         |sig AS (SELECT doc_id, $sigSelect FROM hs),
         |sa AS (
         | SELECT doc_id, [sig0,sig1,sig2,sig3,sig4,sig5,sig6,sig7] AS sig_arr
         | FROM sig),
         |bands AS (
         | SELECT doc_id,
         |  unnest([0, 1, 2, 3]) AS bid,
         |  unnest([
         |   md5(concat(CAST(sig0 AS VARCHAR), '_', CAST(sig1 AS VARCHAR))),
         |   md5(concat(CAST(sig2 AS VARCHAR), '_', CAST(sig3 AS VARCHAR))),
         |   md5(concat(CAST(sig4 AS VARCHAR), '_', CAST(sig5 AS VARCHAR))),
         |   md5(concat(CAST(sig6 AS VARCHAR), '_', CAST(sig7 AS VARCHAR)))]) AS bh
         | FROM sig WHERE sig0 IS NOT NULL),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         | FROM bands a JOIN bands b ON a.bid = b.bid AND a.bh = b.bh
         | WHERE a.doc_id % 10 = 9 AND b.doc_id % 10 <> 9),
         |scored AS (
         | SELECT c.new_id, c.old_id,
         |  round(CAST(len(list_filter(range(0, 8),
         |    i -> sn.sig_arr[CAST(i + 1 AS INT)] = so.sig_arr[CAST(i + 1 AS INT)])) AS DOUBLE) / 8, 6) AS est
         | FROM cand c
         | JOIN sa sn ON sn.doc_id = c.new_id
         | JOIN sa so ON so.doc_id = c.old_id),
         |kept AS (SELECT * FROM scored WHERE est >= 0.5),
         |best AS (
         | SELECT new_id, old_id AS best_match, est AS best_est,
         |  count(*) OVER (PARTITION BY new_id) AS n_matches,
         |  row_number() OVER (PARTITION BY new_id ORDER BY est DESC, old_id) AS rn
         | FROM kept)
         |SELECT d.doc_id AS new_id,
         | coalesce(b.n_matches, 0) AS n_matches, b.best_est, b.best_match,
         | CAST(CASE WHEN b.best_est IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH t AS (
         | SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM documents),
         |h AS (
         | SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM t),
         |s AS (
         | SELECT doc_id, $simhashBitSums, count(*) AS n_tokens
         | FROM h GROUP BY doc_id)
         |SELECT doc_id, $simhashFp AS simhash, n_tokens FROM s""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH t AS (
         | SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM documents),
         |h AS (
         | SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM t),
         |sb AS (
         | SELECT doc_id, $simhashBitSums
         | FROM h GROUP BY doc_id),
         |fp AS (
         | SELECT doc_id, $simhashFp AS simhash FROM sb),
         |bands AS (
         | SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS bid,
         |  unnest([(simhash >> 0) & 32767, (simhash >> 15) & 32767,
         |          (simhash >> 30) & 32767, (simhash >> 45) & 32767]) AS bv
         | FROM fp)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
         | count(*) AS shared_bands
         |FROM bands a JOIN bands b ON a.bid = b.bid AND a.bv = b.bv
         | AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 16
         |GROUP BY 1, 2, 3""".stripMargin,

    "dedup_clusters" ->
      s"""$clusterCompCte,
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
         |SELECT comp.doc AS doc_id, comp.cluster_id, sizes.cluster_size,
         | comp.doc = comp.cluster_id AS is_canonical
         |FROM comp JOIN sizes USING (cluster_id)""".stripMargin,

    // gear-style content-defined chunking: boundary when the 60-bit
    // token hash is 0 mod 16 (plus the end anchor); spectrum exits
    // cast away DuckDB's HUGEINT sums
    "content_chunk_dedup" ->
      s"""WITH t AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |b AS (
         | SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM t
         | WHERE len(w) > 0),
         |bps AS (
         | SELECT doc_id, w,
         |  list_filter(range(1, n + 1), i ->
         |   ('0x' || substr(md5(w[CAST(i AS INT)]), 1, 15))::BIGINT % 16 = 0
         |    OR i = n) AS bp
         | FROM b),
         |c AS (
         | SELECT doc_id, w, bp, unnest(range(1, len(bp) + 1)) AS k FROM bps),
         |ch AS (
         | SELECT doc_id,
         |  CASE WHEN k = 1 THEN CAST(0 AS BIGINT)
         |       ELSE bp[CAST(k - 1 AS INT)] END AS prev,
         |  bp[CAST(k AS INT)] AS bnd, w
         | FROM c),
         |h AS (
         | SELECT doc_id,
         |  ('0x' || substr(md5(
         |    array_to_string(w[CAST(prev + 1 AS INT):CAST(bnd AS INT)], ' ')
         |   ), 1, 15))::BIGINT AS chunk_hash,
         |  bnd - prev AS n_tokens
         | FROM ch),
         |per AS (
         | SELECT chunk_hash, CAST(count(*) AS BIGINT) AS chunk_freq,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(n_tokens) AS len
         | FROM h GROUP BY 1)
         |SELECT chunk_freq, CAST(count(*) AS BIGINT) AS n_chunks,
         | CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_multi_doc_chunks,
         | CAST(sum(len * (chunk_freq - 1)) AS BIGINT) AS dup_tokens
         |FROM per GROUP BY 1""".stripMargin,

    // keep-the-longest election: max token count then min doc_id among
    // ties — two aggregates, no engine-defined arg_max tie semantics
    "dedup_survivors" -> survivorsSql,

    // survivor mapping applied as a keep-filter census: docs outside
    // any cluster are kept by definition (left join, coalesce TRUE);
    // HUGEINT sums cast at the exits
    "dedup_keep_stats" ->
      s"""WITH sv AS (
         | SELECT doc_id, is_survivor FROM ($survivorsSql)),
         |d AS (
         | SELECT doc_id, lang,
         |  CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens
         | FROM documents),
         |j AS (
         | SELECT d.lang, d.n_tokens,
         |  coalesce(sv.is_survivor, TRUE) AS keep
         | FROM d LEFT JOIN sv ON sv.doc_id = d.doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         | CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
         | CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
         |  AS tokens_kept,
         | CAST(sum(CASE WHEN keep THEN 0 ELSE n_tokens END) AS BIGINT)
         |  AS tokens_dropped
         |FROM j GROUP BY 1""".stripMargin,

    "dedup_pipeline" ->
      s"""${shingleHashCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sig AS (SELECT doc_id, $sigSelect FROM hs),
         |bands AS (
         | SELECT doc_id,
         |  unnest([0, 1, 2, 3]) AS bid,
         |  unnest([
         |   md5(concat(CAST(sig0 AS VARCHAR), '_', CAST(sig1 AS VARCHAR))),
         |   md5(concat(CAST(sig2 AS VARCHAR), '_', CAST(sig3 AS VARCHAR))),
         |   md5(concat(CAST(sig4 AS VARCHAR), '_', CAST(sig5 AS VARCHAR))),
         |   md5(concat(CAST(sig6 AS VARCHAR), '_', CAST(sig7 AS VARCHAR)))]) AS bh
         | FROM sig WHERE sig0 IS NOT NULL),
         |pairs AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.bid = b.bid AND a.bh = b.bh
         |  AND a.doc_id < b.doc_id),
         |uni AS (
         | SELECT doc_id, list_distinct(string_split($normSql, ' ')) AS uni
         | FROM documents),
         |ver AS (
         | SELECT p.doc_a, p.doc_b
         | FROM pairs p
         |  JOIN uni a ON a.doc_id = p.doc_a
         |  JOIN uni b ON b.doc_id = p.doc_b
         | WHERE round(CAST(len(list_intersect(a.uni, b.uni)) AS DOUBLE)
         |   / (len(a.uni) + len(b.uni) - len(list_intersect(a.uni, b.uni))), 6) >= 0.5),
         |edges AS (
         | SELECT doc_a AS src, doc_b AS dst FROM ver
         | UNION ALL SELECT doc_b, doc_a FROM ver),
         |reach(doc, lbl) AS (
         | SELECT DISTINCT src, src FROM edges
         | UNION
         | SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc),
         |comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |alld AS (
         | SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
         | FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id),
         |sizes AS (
         | SELECT cluster_id, count(*) AS cluster_size FROM alld GROUP BY cluster_id)
         |SELECT a.doc_id, a.cluster_id, s.cluster_size,
         | a.doc_id = a.cluster_id AS is_canonical
         |FROM alld a JOIN sizes s USING (cluster_id)""".stripMargin,

    // asymmetric batch x corpus probe; containment gate in pure
    // integers; best match replayed with a window (== struct-min)
    "containment_incremental" ->
      s"""WITH base AS (
         | SELECT doc_id, source,
         |  list_distinct(string_split($normSql, ' ')) AS uni
         | FROM documents),
         |m AS (
         | SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         |  CAST(len(n.uni) AS BIGINT) AS nn,
         |  CAST(len(o.uni) AS BIGINT) AS nold,
         |  CAST(len(list_intersect(n.uni, o.uni)) AS BIGINT) AS i
         | FROM base n JOIN base o ON n.source = o.source
         | WHERE n.doc_id % 7 = 3 AND o.doc_id % 7 <> 3),
         |f AS (
         | SELECT new_id, old_id,
         |  round(CAST(i AS DOUBLE) / least(nn, nold), 6) AS cont
         | FROM m
         | WHERE nn > 0 AND nold > 0 AND i * 5 >= least(nn, nold) * 4),
         |best AS (
         | SELECT new_id, old_id AS best_match, cont AS best_cont,
         |  count(*) OVER (PARTITION BY new_id) AS n_matches,
         |  row_number() OVER (PARTITION BY new_id ORDER BY cont DESC, old_id) AS rn
         | FROM f)
         |SELECT d.doc_id AS new_id,
         | coalesce(b.n_matches, 0) AS n_matches, b.best_cont, b.best_match,
         | CAST(CASE WHEN b.best_cont IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) d
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id""".stripMargin,

    // token strings here, hashes on the Spark side: counts identical
    // (md5 injective on the distinct token sets); gate in pure integers
    "dedup_containment" ->
      s"""WITH base AS (
         | SELECT doc_id, source,
         |  list_distinct(string_split($normSql, ' ')) AS uni
         | FROM documents),
         |p AS (
         | SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(a.uni) AS BIGINT) AS nu_a,
         |  CAST(len(b.uni) AS BIGINT) AS nu_b,
         |  CAST(len(list_intersect(a.uni, b.uni)) AS BIGINT) AS n_shared
         | FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT source, doc_a, doc_b, nu_a, nu_b, n_shared,
         | round(CAST(n_shared AS DOUBLE) / least(nu_a, nu_b), 6) AS containment,
         | round(CAST(n_shared AS DOUBLE) / (nu_a + nu_b - n_shared), 6) AS jaccard
         |FROM p
         |WHERE nu_a > 0 AND nu_b > 0
         | AND n_shared * 5 >= least(nu_a, nu_b) * 4""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH base AS (
         | SELECT doc_id, source,
         |  list_distinct(string_split($normSql, ' ')) AS uni,
         |  list_distinct(CASE WHEN len(string_split($normSql, ' ')) >= 3
         |   THEN list_transform(range(0, len(string_split($normSql, ' ')) - 2),
         |     i -> array_to_string((string_split($normSql, ' '))[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))
         |   ELSE [] END) AS tri
         | FROM documents)
         |SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
         | round(CAST(len(list_intersect(a.uni, b.uni)) AS DOUBLE)
         |   / len(list_distinct(list_concat(a.uni, b.uni))), 6) AS jac1,
         | round(CAST(len(list_intersect(a.tri, b.tri)) AS DOUBLE)
         |   / len(list_distinct(list_concat(a.tri, b.tri))), 6) AS jac3
         |FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE round(CAST(len(list_intersect(a.uni, b.uni)) AS DOUBLE)
         |   / len(list_distinct(list_concat(a.uni, b.uni))), 6) >= 0.5""".stripMargin,

    "embedding_cosine_neardup" ->
      """WITH e AS (
        | SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        | SELECT a.label, a.vec_id AS qid, b.vec_id AS nid,
        |  round(list_dot_product(a.v, b.v)
        |   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        | FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (
        | SELECT label, qid, nid, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        | FROM p)
        |SELECT label, qid, nid, cos, rn FROM r WHERE rn <= 3""".stripMargin,

    // ground truth in pure integers (3*|A∩B| >= |A|+|B| <=> J >= 0.5);
    // sums cast BIGINT (DuckDB int sums widen to HUGEINT)
    "dedup_eval" ->
      s"""$shingleHashCte,
         |sig AS (SELECT doc_id, $sigSelect FROM hs),
         |sa AS (
         | SELECT doc_id, [sig0,sig1,sig2,sig3,sig4,sig5,sig6,sig7] AS sig_arr
         | FROM sig WHERE sig0 IS NOT NULL AND doc_id % 5 = 0),
         |uni AS (
         | SELECT doc_id, source,
         |  list_distinct(string_split($normSql, ' ')) AS uni
         | FROM documents WHERE doc_id % 5 = 0),
         |base AS (
         | SELECT u.doc_id, u.source, u.uni, len(u.uni) AS nu, s.sig_arr
         | FROM uni u JOIN sa s USING (doc_id)),
         |p AS (
         | SELECT
         |  len(list_filter(range(0, 8),
         |    i -> a.sig_arr[CAST(i + 1 AS INT)] = b.sig_arr[CAST(i + 1 AS INT)])) AS m,
         |  3 * len(list_intersect(a.uni, b.uni)) >= a.nu + b.nu AS pos
         | FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id),
         |t AS (SELECT unnest(range(1, 9)) AS t),
         |agg AS (
         | SELECT t,
         |  CAST(sum(CASE WHEN m >= t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN m >= t AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN m < t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN m < t AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
         | FROM t CROSS JOIN p GROUP BY t)
         |SELECT t AS threshold_eighths, tp, fp, fn, tn,
         | CASE WHEN tp + fp > 0
         |  THEN CAST(floor(CAST(tp AS DOUBLE) * 1e6 / (tp + fp)) AS BIGINT) END AS precision_ppm,
         | CASE WHEN tp + fn > 0
         |  THEN CAST(floor(CAST(tp AS DOUBLE) * 1e6 / (tp + fn)) AS BIGINT) END AS recall_ppm
         |FROM agg""".stripMargin,

    // banded candidate rule per (b, r) split of the 8 sigs, same
    // exact-Jaccard truth and sample as dedup_eval
    "lsh_band_eval" -> {
      def candSql(bands: Int, r: Int): String =
        (0 until bands).map { k =>
          (0 until r).map(j =>
            s"a.sig_arr[${k * r + j + 1}] = b.sig_arr[${k * r + j + 1}]")
            .mkString("(", " AND ", ")")
        }.mkString("(", " OR ", ")")
      def arm(bands: Int, r: Int): String =
        s"""SELECT 'b${bands}_r$r' AS config, CAST(count(*) AS BIGINT) AS n_u,
           | CAST(sum(CASE WHEN c_b${bands}_r$r AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           | CAST(sum(CASE WHEN c_b${bands}_r$r AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           | CAST(sum(CASE WHEN NOT c_b${bands}_r$r AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           | CAST(sum(CASE WHEN NOT c_b${bands}_r$r AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS tn_u
           |FROM p""".stripMargin
      s"""$shingleHashCte,
         |sig AS (SELECT doc_id, $sigSelect FROM hs),
         |sa AS (
         | SELECT doc_id, [sig0,sig1,sig2,sig3,sig4,sig5,sig6,sig7] AS sig_arr
         | FROM sig WHERE sig0 IS NOT NULL),
         |shsets AS (
         | SELECT doc_id, list_distinct(hv) AS shs FROM hs
         | WHERE len(hv) > 0),
         |base AS (
         | SELECT s.doc_id, u.shs, CAST(len(u.shs) AS BIGINT) AS ns, s.sig_arr
         | FROM sa s JOIN shsets u ON u.doc_id = s.doc_id),
         |scal AS (
         | SELECT CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS total_pairs
         | FROM base),
         |e AS (SELECT doc_id, unnest(shs) AS g FROM base),
         |u AS (
         | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         | FROM e x JOIN e y ON x.g = y.g AND x.doc_id < y.doc_id),
         |p AS (
         | SELECT
         |  ${candSql(8, 1)} AS c_b8_r1,
         |  ${candSql(4, 2)} AS c_b4_r2,
         |  ${candSql(2, 4)} AS c_b2_r4,
         |  ${candSql(1, 8)} AS c_b1_r8,
         |  3 * len(list_intersect(a.shs, b.shs)) >= a.ns + b.ns AS pos
         | FROM u
         |  JOIN base a ON a.doc_id = u.doc_a
         |  JOIN base b ON b.doc_id = u.doc_b),
         |agg AS (
         | ${arm(8, 1)}
         | UNION ALL ${arm(4, 2)}
         | UNION ALL ${arm(2, 4)}
         | UNION ALL ${arm(1, 8)})
         |SELECT config, tp, fp, fn,
         | tn_u + scal.total_pairs - n_u AS tn,
         | CASE WHEN tp + fp > 0
         |  THEN CAST(floor(CAST(tp AS DOUBLE) * 1e6 / (tp + fp)) AS BIGINT) END AS precision_ppm,
         | CASE WHEN tp + fn > 0
         |  THEN CAST(floor(CAST(tp AS DOUBLE) * 1e6 / (tp + fn)) AS BIGINT) END AS recall_ppm
         |FROM agg CROSS JOIN scal""".stripMargin
    },

    // truth = the dedup_containment gate (5i >= 4min); asym_* isolates
    // containment-positives that are NOT jaccard-positive
    "containment_eval" ->
      s"""$shingleHashCte,
         |sig AS (SELECT doc_id, $sigSelect FROM hs),
         |sa AS (
         | SELECT doc_id, [sig0,sig1,sig2,sig3,sig4,sig5,sig6,sig7] AS sig_arr
         | FROM sig WHERE sig0 IS NOT NULL AND doc_id % 5 = 0),
         |uni AS (
         | SELECT doc_id, source,
         |  list_distinct(string_split($normSql, ' ')) AS uni
         | FROM documents WHERE doc_id % 5 = 0),
         |base AS (
         | SELECT u.doc_id, u.source, u.uni, len(u.uni) AS nu, s.sig_arr
         | FROM uni u JOIN sa s USING (doc_id)),
         |p AS (
         | SELECT
         |  len(list_filter(range(0, 8),
         |    i -> a.sig_arr[CAST(i + 1 AS INT)] = b.sig_arr[CAST(i + 1 AS INT)])) AS m,
         |  5 * len(list_intersect(a.uni, b.uni)) >= 4 * least(a.nu, b.nu) AS pos,
         |  3 * len(list_intersect(a.uni, b.uni)) >= a.nu + b.nu AS jpos
         | FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id
         | WHERE a.nu > 0 AND b.nu > 0),
         |t AS (SELECT unnest(range(1, 9)) AS t),
         |agg AS (
         | SELECT t,
         |  CAST(sum(CASE WHEN m >= t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN m >= t AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN m < t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN pos AND NOT jpos THEN 1 ELSE 0 END) AS BIGINT) AS asym_pos,
         |  CAST(sum(CASE WHEN m >= t AND pos AND NOT jpos THEN 1 ELSE 0 END) AS BIGINT) AS asym_tp
         | FROM t CROSS JOIN p GROUP BY t)
         |SELECT t AS threshold_eighths, tp, fp, fn, asym_pos, asym_tp,
         | CASE WHEN tp + fn > 0
         |  THEN CAST(floor(CAST(tp AS DOUBLE) * 1e6 / (tp + fn)) AS BIGINT) END AS recall_ppm,
         | CASE WHEN asym_pos > 0
         |  THEN CAST(floor(CAST(asym_tp AS DOUBLE) * 1e6 / asym_pos) AS BIGINT) END AS asym_recall_ppm
         |FROM agg""".stripMargin,

    "simhash_eval" ->
      s"""WITH tk AS (
         | SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
         | FROM documents),
         |h AS (
         | SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tk),
         |sb AS (
         | SELECT doc_id, $simhashBitSums FROM h GROUP BY doc_id),
         |fp AS (
         | SELECT doc_id, $simhashFp AS simhash FROM sb WHERE doc_id % 5 = 0),
         |tri AS (
         | SELECT doc_id, source,
         |  list_distinct(CASE WHEN len(string_split($normSql, ' ')) >= 3
         |   THEN list_transform(range(0, len(string_split($normSql, ' ')) - 2),
         |     i -> array_to_string((string_split($normSql, ' '))[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))
         |   ELSE [] END) AS tri
         | FROM documents WHERE doc_id % 5 = 0),
         |base AS (
         | SELECT t.doc_id, t.source, t.tri, len(t.tri) AS nt, f.simhash
         | FROM tri t JOIN fp f USING (doc_id)),
         |p AS (
         | SELECT bit_count(xor(a.simhash, b.simhash)) AS h2,
         |  3 * len(list_intersect(a.tri, b.tri)) >= a.nt + b.nt AS pos
         | FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id),
         |t AS (SELECT unnest([8, 12, 16, 20, 24]) AS t),
         |agg AS (
         | SELECT t,
         |  CAST(sum(CASE WHEN h2 <= t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN h2 <= t AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN h2 > t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN h2 > t AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
         | FROM t CROSS JOIN p GROUP BY t)
         |SELECT t AS hamming_cutoff, tp, fp, fn, tn,
         | CASE WHEN tp + fp > 0
         |  THEN CAST(floor(CAST(tp AS DOUBLE) * 1e6 / (tp + fp)) AS BIGINT) END AS precision_ppm,
         | CASE WHEN tp + fn > 0
         |  THEN CAST(floor(CAST(tp AS DOUBLE) * 1e6 / (tp + fn)) AS BIGINT) END AS recall_ppm
         |FROM agg""".stripMargin,

    // same md5-%P trigram hashes as the Spark side's gramHashes(_, 3)
    "ngram_novelty" ->
      s"""$shingleHashCte,
         |g AS (SELECT doc_id, unnest(hv) AS g FROM hs),
         |dg AS (SELECT DISTINCT doc_id, g FROM g),
         |corpus AS (SELECT DISTINCT g FROM dg WHERE doc_id % 10 <> 9),
         |batch AS (SELECT doc_id, g FROM dg WHERE doc_id % 10 = 9)
         |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN c.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(FLOOR(CAST(SUM(CASE WHEN c.g IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    * 1000000.0 / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS novelty_ppm
         |FROM batch b LEFT JOIN corpus c ON b.g = c.g
         |GROUP BY b.doc_id""".stripMargin,

    // same salted md5 bucket hashes, same distinct-bucket bit table,
    // same all-4-buckets conjunction
    "bloom_eval" ->
      s"""$shingleHashCte,
         |g0 AS (SELECT doc_id, unnest(hv) AS g FROM hs),
         |dg AS (SELECT DISTINCT doc_id, g FROM g0),
         |corpus AS (SELECT DISTINCT g FROM dg WHERE doc_id % 10 <> 9),
         |jj AS (SELECT unnest([0, 1, 2, 3]) AS j),
         |bits AS (
         | SELECT DISTINCT ('0x' || substr(md5('bf' || j || '_' || g), 1, 15))::BIGINT % 131072 AS bucket
         | FROM corpus CROSS JOIN jj),
         |probes AS (SELECT DISTINCT g FROM dg WHERE doc_id % 10 = 9),
         |pr AS (
         | SELECT p.g, (c.g IS NOT NULL) AS is_member,
         |   SUM(CASE WHEN b.bucket IS NOT NULL THEN 1 ELSE 0 END) = 4 AS bloom_hit
         | FROM probes p
         | LEFT JOIN corpus c ON p.g = c.g
         | CROSS JOIN jj
         | LEFT JOIN bits b ON b.bucket =
         |   ('0x' || substr(md5('bf' || jj.j || '_' || p.g), 1, 15))::BIGINT % 131072
         | GROUP BY p.g, c.g)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
         |  CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
         |  CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
         |  CAST(SUM(CASE WHEN is_member AND NOT bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
         |  CAST(SUM(CASE WHEN NOT is_member AND bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
         |  CASE WHEN COUNT(*) > SUM(CASE WHEN is_member THEN 1 ELSE 0 END)
         |    THEN CAST(FLOOR(SUM(CASE WHEN NOT is_member AND bloom_hit THEN 1 ELSE 0 END) * 1000000.0
         |      / (COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END))) AS BIGINT) END AS fp_ppm
         |FROM pr""".stripMargin
  )

  val oracleSql: Map[String, String] = baseOracleSql +
    // channel-agreement Venn: reuses the three channel oracles verbatim
    // as subqueries (DuckDB allows WITH inside a parenthesized subquery)
    ("dedup_channel_overlap" ->
      s"""WITH lsh AS (SELECT doc_a, doc_b FROM (${baseOracleSql("dedup_minhash_lsh")})),
         |cont AS (SELECT doc_a, doc_b FROM (${baseOracleSql("dedup_containment")})),
         |sp AS (SELECT doc_a, doc_b FROM (${baseOracleSql("cross_doc_spans")})),
         |u AS (
         | SELECT doc_a, doc_b, 1 AS m FROM lsh
         | UNION ALL SELECT doc_a, doc_b, 2 FROM cont
         | UNION ALL SELECT doc_a, doc_b, 4 FROM sp),
         |mm AS (SELECT doc_a, doc_b, CAST(sum(m) AS BIGINT) AS mask
         |       FROM u GROUP BY 1, 2)
         |SELECT mask, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM mm GROUP BY 1""".stripMargin) +
    // the prefix plan is answer-identical to the quadratic BY CONTRACT,
    // so it is gated against the SAME oracle SQL — the strict compare
    // is the cross-engine proof the prefix filter loses no pair
    ("dedup_ngram_prefix" -> baseOracleSql("dedup_ngram_jaccard"))
}
