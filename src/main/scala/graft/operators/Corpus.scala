package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Corpus-curation operators for the training-data pipeline: content-
  * hash sampling (the reproducible way to subsample a 100 TB crawl),
  * per-stratum top-k sampling, TF-IDF salient-term extraction, and
  * BM25 keyword relevance scoring.
  *
  * Scale design: sampling is a pure narrow filter on a hash of the
  * primary key — no shuffle, no RNG state, identical output on any
  * cluster size or partitioning (unlike `df.sample`, whose result
  * depends on partition layout). TF-IDF is two keyed aggregations
  * (term-frequency, document-frequency) joined on `term` — the join is
  * vocabulary-sized, NOT corpus-sized, and stays a shuffle join so it
  * cannot OOM an executor at 100 TB. BM25 against a fixed query-term
  * set never explodes tokens at all: per-document term counts are
  * narrow array expressions, and the global stats (N, avgdl, df) are
  * one scalar aggregate broadcast back over the corpus.
  */
object Corpus {

  /** Deterministic stratified sampling by content hash: down-sample
    * the dominant language (en -> 30%) and keep the long tail whole —
    * the standard rebalancing step before training-data mixing.
    * `bucket` is stable: hash60 of a salted doc_id, mod 100; the
    * filter is a narrow scan predicate with zero shuffle.
    */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(hash60(concat(lit("smp"), col("doc_id").cast("string"))), lit(100))
    val keepBelow = when(col("lang") === "en", lit(30)).otherwise(lit(100))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        bucket.as("bucket"))
      .filter(col("bucket") < keepBelow)
  }

  /** Uniform k-per-stratum sample (k=5 per `source`): rank rows inside
    * each stratum by a content hash and keep the first k. One shuffle
    * on the stratum key; the per-group state is a single counter, so
    * group size never pressures memory. The distributed analogue of
    * reservoir sampling with a deterministic "random" order.
    */
  def sampleTopkPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(hash60(concat(lit("tk"), col("doc_id").cast("string"))), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= 5)
  }

  /** The same k-per-stratum sample as sampleTopkPerGroup, computed as
    * a bounded-heap AGGREGATE instead of a window: CollectTopK keeps
    * at most k (hash, doc_id) structs per group, partial-aggregates
    * map-side (each input partition ships <= k rows per stratum), and
    * the final array_sort orders only the k survivors. The window form
    * shuffles and sorts the whole corpus; this one's shuffle is
    * k x strata rows — the 100 TB shape. Output is identical
    * (same oracle SQL; equality also pinned in CorpusSpec).
    */
  def sampleTopkPerGroupHeap(s: SparkSession, d: String): DataFrame = {
    val kv = struct(
      hash60(concat(lit("tk"), col("doc_id").cast("string"))).as("hk"),
      col("doc_id").as("doc_id"))
    Tables.documents(s, d)
      .select(col("source"), kv.as("kv"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg.collectTopK(col("kv"), 5, reverse = true).as("top"))
      .select(col("source"), posexplode(array_sort(col("top"))).as(Seq("idx", "kv")))
      .select(col("kv.doc_id").as("doc_id"), col("source"),
        (col("idx") + 1).cast("long").as("sample_rank"))
  }

  /** Top-5 salient terms per document by smoothed TF-IDF:
    * tfidf(t, d) = (tf / dl) * (ln((N + 1) / (df + 1)) + 1).
    *
    * Shape: explode -> one (doc, term) agg carrying dl through the
    * groupBy (dl is functionally dependent on doc_id — no second
    * shuffle and no corpus self-join to re-attach it); df is a
    * vocabulary-sized agg of that table; N is a broadcast scalar. The
    * final per-doc top-k is one window on doc_id. Ties order by term
    * so ranking is engine-independent.
    */
  def tfidfTopterms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    // Materialize tf ONCE: it feeds BOTH the document-frequency agg
    // and the final scoring join — without it each branch replays the
    // corpus explode+groupBy (self-join recompute; the 100 TB version
    // is a parquet checkpoint between stages). Eager localCheckpoint,
    // NOT cache(): nothing outlives the query in the cacheManager, so
    // a re-run pays full cost (honest bench) and a long session never
    // accumulates stale InMemoryRelations.
    val tf = Share(base.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val idf = log((col("n_docs") + 1).cast("double") / (col("df_t") + 1)) + 1.0
    val tfidf = col("tf").cast("double") / col("dl") * idf
    // Final per-doc top-5 as a bounded-heap aggregate, not a window:
    // the scored (doc, term) table never re-shuffles — partials cap at
    // 5 structs per doc map-side (see TopKAgg). Ordering (tfidf desc,
    // term asc) is encoded as ascending (-tfidf, term); `0.0 - neg`
    // (not unary minus) recovers the score so a 0.0 never resurfaces
    // as -0.0.
    tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("raw_tfidf", tfidf)
      .groupBy(col("doc_id"))
      .agg(graft.functions.TopKAgg.collectTopK(
        struct((lit(0.0) - col("raw_tfidf")).as("neg"), col("term"), col("tf")),
        5, reverse = true).as("top"))
      .select(col("doc_id"), posexplode(array_sort(col("top"))).as(Seq("idx", "t")))
      .select(col("doc_id"), col("t.term").as("term"), col("t.tf").as("tf"),
        round(lit(0.0) - col("t.neg"), 6).as("tfidf"),
        (col("idx") + 1).cast("long").as("term_rank"))
  }

  private val bm25Terms = Seq("spark", "join", "window")

  /** BM25 relevance of every document against a fixed query-term set.
    * Zero explode: per-term tf and dl are narrow array expressions on
    * the materialized token array; corpus stats (N, avgdl, per-term
    * df) come from ONE scalar aggregate of that narrow projection,
    * broadcast back with a 1-row cross join. Two passes over the
    * corpus total — the minimum any corpus-normalized score needs —
    * and both are scan-speed.
    */
  def bm25Score(s: SparkSession, d: String): DataFrame = {
    // Materialize the narrow per-doc stats ONCE: they feed both the
    // global-stats aggregate and the final scoring pass — otherwise
    // each branch re-tokenizes the raw corpus (self-join recompute).
    // Eager localCheckpoint, not cache(): see tfidfTopterms.
    val per = Share(Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        Seq(col("doc_id"), size(col("toks")).cast("long").as("dl")) ++
          bm25Terms.map(t =>
            size(filter(col("toks"), x => x === lit(t))).cast("long").as(s"tf_$t")): _*))
    val aggCols = Seq(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs")) ++
      bm25Terms.map(t =>
        sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = per.agg(aggCols.head, aggCols.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    // literals written out (2.2, 0.25) rather than derived (k1+1,
    // 1-b): scalac folds Double arithmetic whose last-ulp rounding
    // need not match the SQL literal the oracle parses — and the
    // rounded 6-dp score must be bit-equal across engines.
    def contrib(t: String): Column = {
      val tf = col(s"tf_$t").cast("double")
      val idf = log(lit(1.0) +
        ((col("n_docs") - col(s"df_$t")).cast("double") + 0.5) /
          (col(s"df_$t").cast("double") + 0.5))
      idf * (tf * 2.2) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    }
    val score = bm25Terms.map(contrib).reduce(_ + _)
    per.crossJoin(broadcast(stats))
      .filter(bm25Terms.map(t => col(s"tf_$t")).reduce(_ + _) > 0)
      .select(
        Seq(col("doc_id"), col("dl")) ++ bm25Terms.map(t => col(s"tf_$t")) :+
          round(score, 6).as("bm25"): _*)
  }

  private val ChunkSize = 32
  private val Stride = 24

  /** Fixed-size token chunking with overlap (32-token windows, stride
    * 24) — the standard LLM-preprocessing split. Pure narrow explode:
    * chunk count per doc is ceil((n - size)/stride) + 1 (every token
    * covered, last window anchored so it never runs past a short
    * tail), zero shuffle, output is (doc, chunk) keyed for downstream
    * tokenize/pack stages. Integer chunk-index arithmetic is written
    * `(n - 9) div 24` so Spark's truncating div and DuckDB's flooring
    * `//` agree after the greatest(0, _) clamp.
    */
  def docChunk(s: SparkSession, d: String): DataFrame = {
    val lastStart = greatest(lit(0L),
      expr(s"(n - ${ChunkSize - Stride + 1}) div $Stride"))
    // explode-then-slice, NOT transform-then-explode (r14, reverting
    // the r13 narrowing): this Generate sits inside a whole-stage
    // codegen span where the carried `toks` is a loop variable, so the
    // pre-narrowing form never materializes it per chunk row — while
    // the per-doc transform form allocates the full chunk-struct array
    // (every chunk's text) per document before exploding. Quiet
    // interleaved A/B at the 10x corpus (min of 4 per arm,
    // docs/PLANS.md r14): 0.53 s exploded vs 0.75-1.23 s transformed —
    // the narrowing was a measured LOSS here, unlike
    // content_chunk_dedup, whose Generate runs interpreted (HOF child)
    // and re-pinned at x6.4.
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), lastStart)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("toks"),
          (col("chunk_id") * Stride + 1).cast("int"), lit(ChunkSize)), " ").as("chunk_text"),
        least(col("n") - col("chunk_id") * Stride, lit(ChunkSize.toLong)).as("n_tokens"))
  }

  private val IndexLists = 8
  private val EmbDims = 4

  /** hash-derived value on the exact [-1, 1) 1e-3 lattice — both
    * engines compute the identical double from the identical md5.
    */
  private def latticeVal(seed: Column): Column =
    (pmod(hash60(seed), lit(2000L)) - 1000L).cast("double") / 1000.0

  /** Chunk → featurize → route: the RAG/index ingest composite. Every
    * 32-token chunk gets a deterministic pseudo-embedding (stand-in
    * for the model call — the container has no model; the hash-lattice
    * values exercise the exact arithmetic the real path would) and is
    * routed to its nearest of 8 fixed centroids (IVF list assignment).
    *
    * The scale shape is the point: chunking, featurizing, and routing
    * compose into ONE narrow scan pass — zero shuffles, no
    * materialized intermediate — because the centroids are plan-time
    * constants (rule 1: anything crossed with the corpus must be a
    * fixed hyperparameter). The downstream index build is then a
    * write partitioned by `list_id`. Distance ties break on list id
    * via the (dist, cid) struct min — engine-independent because every
    * double derives from the same exact lattice.
    */
  def chunkIndexPipeline(s: SparkSession, d: String): DataFrame = {
    val chunks = docChunk(s, d)
    val emb = (0 until EmbDims).map(i =>
      latticeVal(concat(lit(s"e${i}_"), col("chunk_text"))).as(s"v$i"))
    val withEmb = chunks.select(
      Seq(col("doc_id"), col("chunk_id"), col("n_tokens")) ++ emb: _*)
    // centroid constants: hash-lattice of literal seeds — identical
    // literals in the oracle SQL
    val dists = (0 until IndexLists).map { c =>
      val d2 = (0 until EmbDims).map { j =>
        val cv = latticeVal(lit(s"c${c}_$j"))
        (col(s"v$j") - cv) * (col(s"v$j") - cv)
      }.reduce(_ + _)
      struct(d2.as("d2"), lit(c.toLong).as("cid"))
    }
    val best = array_min(array(dists: _*))
    withEmb.select(col("doc_id"), col("chunk_id"), col("n_tokens"),
      best.getField("cid").as("list_id"),
      round(best.getField("d2"), 6).as("dist2"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * word 3-gram with the held-out set (doc_id % 97 == 0 stands in
    * for the benchmark corpus). The shape that scales: explode to
    * distinct (doc, gram-hash), keyed join against the (small)
    * benchmark gram set, count per doc — one shuffle on the hash,
    * never a doc x doc comparison.
    */
  def decontamination(s: SparkSession, d: String): DataFrame = {
    // gramHashes: grams never exist as strings — the native kernel
    // digests each 3-token window straight off the token array, and
    // the distinct runs on primitive longs (same value as distinct-
    // then-hash: md5 is injective on distinct grams)
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(gramHashes(col("toks"), 3))).as("h"))
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("h")).distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(bench, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
  }

  /** Inverted-index construction — the retrieval-side artifact every
    * corpus pipeline eventually builds: per term, document frequency,
    * corpus frequency, and the doc_id:tf postings list in doc_id
    * order. Shape: one explode → (term, doc) partial agg → one keyed
    * agg on term; output is vocabulary-sized. Postings are emitted as
    * a joined string (the gate's row compare needs scalar cells); a
    * real 100 TB index additionally BLOCKS each posting list (fixed-
    * size runs, one row per block keyed (term, block_id)) so no single
    * row carries a stopword's full postings — the blocking is a
    * `floor(rank/B)` column on this exact plan, not a different shape.
    */
  def invertedIndex(s: SparkSession, d: String): DataFrame = {
    val post = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    post.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("tf")))),
            p => concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ",").as("postings"))
  }

  private val PmiWindow = 4 // co-occurrence lookahead (window size 5)

  /** Windowed co-occurrence statistics with PMI — the corpus-analysis
    * signal behind collocation mining and embedding evaluation: count
    * ordered token pairs (x before y, gap <= 4), then
    * pmi = ln(c_xy · Nt² / (Np · c_x · c_y)).
    *
    * Shape: the pair explode is narrow and bounded (≤ 4 pairs per
    * token position — never doc × doc); pair counts are one keyed agg;
    * unigram counts join vocabulary-sized; Nt/Np are one broadcast
    * scalar row. The ln is computed per OUTPUT row from exact integer
    * counts — no float aggregation anywhere, so no summation-order
    * divergence. Emitted pairs are bounded by the c_xy >= 5 support
    * threshold (standard collocation floor).
    */
  def pmiCooccur(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.documents(s, d)
      .select(tokens(col("text")).as("toks"))
      .select(col("toks"), posexplode(col("toks")).as(Seq("i", "x")))
      .select(col("x"),
        explode(slice(col("toks"), col("i") + 2, lit(PmiWindow))).as("y"))
    // both tables are vocabulary-sized but have multiple consumers
    // (the scalar totals AND the scoring joins) — materialize once so
    // the corpus-wide explodes never replay (eager localCheckpoint,
    // not cache(): see tfidfTopterms)
    val cxy = Share(pairs.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy")))
    val uni = Share(Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c")))
    val tot = uni.agg(sum(col("c")).as("nt")).crossJoin(
      cxy.agg(sum(col("c_xy")).as("np")))
    val pmi = log(col("c_xy").cast("double") * col("nt") * col("nt") /
      (col("np").cast("double") * col("c_x") * col("c_y")))
    cxy.filter(col("c_xy") >= 5)
      .join(uni.select(col("t").as("x"), col("c").as("c_x")), Seq("x"))
      .join(uni.select(col("t").as("y"), col("c").as("c_y")), Seq("y"))
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
        round(pmi, 6).as("pmi"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "sample_stratified" -> (sampleStratified _),
    "sample_topk_per_group" -> (sampleTopkPerGroup _),
    "topk_per_group_heap" -> (sampleTopkPerGroupHeap _),
    "tfidf_topterms" -> (tfidfTopterms _),
    "bm25_score" -> (bm25Score _),
    "doc_chunk" -> (docChunk _),
    "decontamination" -> (decontamination _),
    "inverted_index" -> (invertedIndex _),
    "pmi_cooccur" -> (pmiCooccur _),
    "chunk_index_pipeline" -> (chunkIndexPipeline _)
  )

  private val normSql =
    "lower(trim(regexp_replace(regexp_replace(text, '[^a-zA-Z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))"

  val oracleSql: Map[String, String] = Map(
    "sample_stratified" ->
      """WITH b AS (
        | SELECT doc_id, lang, source,
        |  ('0x' || substr(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        | FROM documents)
        |SELECT doc_id, lang, source, bucket FROM b
        |WHERE bucket < (CASE WHEN lang = 'en' THEN 30 ELSE 100 END)""".stripMargin,

    "sample_topk_per_group" ->
      """WITH r AS (
        | SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY
        |   ('0x' || substr(md5('tk' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS sample_rank
        | FROM documents)
        |SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 5""".stripMargin,

    // identical semantics to sample_topk_per_group — the heap-aggregate
    // form must produce the exact same rows as the window form
    "topk_per_group_heap" ->
      """WITH r AS (
        | SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY
        |   ('0x' || substr(md5('tk' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS sample_rank
        | FROM documents)
        |SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 5""".stripMargin,

    "tfidf_topterms" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |base AS (
         | SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM toks),
         |tf AS (
         | SELECT doc_id, dl, term, count(*) AS tf FROM base GROUP BY 1, 2, 3),
         |dft AS (
         | SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         | SELECT tf.doc_id, tf.term, tf.tf,
         |  CAST(tf.tf AS DOUBLE) / tf.dl
         |    * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (dft.df_t + 1)) + 1.0) AS raw_tfidf
         | FROM tf JOIN dft USING (term) CROSS JOIN n),
         |ranked AS (
         | SELECT doc_id, term, tf, raw_tfidf,
         |  row_number() OVER (PARTITION BY doc_id
         |    ORDER BY raw_tfidf DESC, term) AS term_rank
         | FROM scored)
         |SELECT doc_id, term, tf, round(raw_tfidf, 6) AS tfidf, term_rank
         |FROM ranked WHERE term_rank <= 5""".stripMargin,

    "bm25_score" ->
      s"""WITH per AS (
         | SELECT doc_id, len(w) AS dl,
         |  len(list_filter(w, x -> x = 'spark')) AS tf_spark,
         |  len(list_filter(w, x -> x = 'join')) AS tf_join,
         |  len(list_filter(w, x -> x = 'window')) AS tf_window
         | FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents)),
         |stats AS (
         | SELECT sum(dl) AS sum_dl, count(*) AS n_docs,
         |  sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
         |  sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
         |  sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
         | FROM per)
         |SELECT doc_id, dl, tf_spark, tf_join, tf_window,
         | round(
         |   ln(1.0 + (CAST(n_docs - df_spark AS DOUBLE) + 0.5) / (CAST(df_spark AS DOUBLE) + 0.5))
         |     * (CAST(tf_spark AS DOUBLE) * 2.2)
         |     / (CAST(tf_spark AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs))))
         | + ln(1.0 + (CAST(n_docs - df_join AS DOUBLE) + 0.5) / (CAST(df_join AS DOUBLE) + 0.5))
         |     * (CAST(tf_join AS DOUBLE) * 2.2)
         |     / (CAST(tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs))))
         | + ln(1.0 + (CAST(n_docs - df_window AS DOUBLE) + 0.5) / (CAST(df_window AS DOUBLE) + 0.5))
         |     * (CAST(tf_window AS DOUBLE) * 2.2)
         |     / (CAST(tf_window AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs)))), 6) AS bm25
         |FROM per CROSS JOIN stats
         |WHERE tf_spark + tf_join + tf_window > 0""".stripMargin,

    "doc_chunk" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |b AS (
         | SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM toks),
         |c AS (
         | SELECT doc_id, n, w,
         |  unnest(range(0, greatest((n - 9) // 24, 0) + 1)) AS chunk_id
         | FROM b)
         |SELECT doc_id, chunk_id,
         | array_to_string(w[CAST(chunk_id * 24 + 1 AS INT):CAST(chunk_id * 24 + 32 AS INT)], ' ') AS chunk_text,
         | least(n - chunk_id * 24, 32) AS n_tokens
         |FROM c""".stripMargin,

    "inverted_index" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |post AS (
         | SELECT term, doc_id, count(*) AS tf
         | FROM (SELECT doc_id, unnest(w) AS term FROM toks)
         | GROUP BY 1, 2)
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
         | string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR), ','
         |   ORDER BY doc_id) AS postings
         |FROM post GROUP BY term""".stripMargin,

    "pmi_cooccur" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |idx AS (
         | SELECT doc_id, w, unnest(range(0, len(w) - 1)) AS i FROM toks
         | WHERE len(w) >= 2),
         |pairs AS (
         | SELECT w[CAST(i + 1 AS INT)] AS x,
         |  unnest(w[CAST(i + 2 AS INT):CAST(least(i + 5, len(w)) AS INT)]) AS y
         | FROM idx),
         |cxy AS (SELECT x, y, count(*) AS c_xy FROM pairs GROUP BY 1, 2),
         |uni AS (
         | SELECT t, count(*) AS c
         | FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
         |tot AS (
         | SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS nt,
         |        (SELECT CAST(sum(c_xy) AS BIGINT) FROM cxy) AS np)
         |SELECT cxy.x, cxy.y, cxy.c_xy, ux.c AS c_x, uy.c AS c_y,
         | round(ln(CAST(cxy.c_xy AS DOUBLE) * nt * nt
         |   / (CAST(np AS DOUBLE) * ux.c * uy.c)), 6) AS pmi
         |FROM cxy
         |JOIN uni ux ON ux.t = cxy.x
         |JOIN uni uy ON uy.t = cxy.y
         |CROSS JOIN tot
         |WHERE cxy.c_xy >= 5""".stripMargin,

    "chunk_index_pipeline" -> {
      def lat(seed: String) =
        s"(('0x' || substr(md5($seed), 1, 15))::BIGINT % 2000 - 1000)::DOUBLE / 1000.0"
      val embCols = (0 until EmbDims)
        .map(j => s"${lat(s"'e${j}_' || chunk_text")} AS v$j").mkString(", ")
      val structs = (0 until IndexLists).map { c =>
        val d2 = (0 until EmbDims)
          .map(j => s"(v$j - ${lat(s"'c${c}_$j'")}) * (v$j - ${lat(s"'c${c}_$j'")})")
          .mkString(" + ")
        s"{'d2': $d2, 'cid': CAST($c AS BIGINT)}"
      }.mkString(", ")
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |b AS (
         | SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM toks),
         |c AS (
         | SELECT doc_id, n, w,
         |  unnest(range(0, greatest((n - 9) // 24, 0) + 1)) AS chunk_id
         | FROM b),
         |ch AS (
         | SELECT doc_id, chunk_id,
         |  array_to_string(w[CAST(chunk_id * 24 + 1 AS INT):CAST(chunk_id * 24 + 32 AS INT)], ' ') AS chunk_text,
         |  least(n - chunk_id * 24, 32) AS n_tokens
         | FROM c),
         |e AS (
         | SELECT doc_id, chunk_id, n_tokens, $embCols FROM ch),
         |m AS (
         | SELECT doc_id, chunk_id, n_tokens, list_min([$structs]) AS best FROM e)
         |SELECT doc_id, chunk_id, n_tokens,
         | best.cid AS list_id, round(best.d2, 6) AS dist2
         |FROM m""".stripMargin
    },

    "decontamination" ->
      s"""WITH toks AS (
         | SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
         |sh AS (
         | SELECT doc_id, CASE WHEN len(w) >= 3
         |  THEN list_transform(range(0, len(w) - 2),
         |        i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))
         |  ELSE [] END AS shingles FROM toks),
         |g AS (
         | SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
         | FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
         |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0)
         |SELECT g.doc_id, count(DISTINCT g.h) AS n_shared
         |FROM g JOIN bench USING (h)
         |WHERE g.doc_id % 97 <> 0
         |GROUP BY g.doc_id""".stripMargin
  )
}
