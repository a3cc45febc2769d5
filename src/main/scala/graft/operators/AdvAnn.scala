package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.functions.TextFunctions.tokens

/** Adversarial embedding corpus + ANN recall eval (VERDICT r7 "Next
  * round" #7): the driver embeddings are synthetic-uniform, so
  * `ann_eval`'s recall numbers cannot expose clustered-hub failure
  * modes — on a uniform corpus every partitioning looks equally fine.
  * This derives a corpus with ENGINEERED near-neighbor structure and
  * grades two candidate-generation strategies against brute-force
  * truth on it.
  *
  * Generator (pure integer arithmetic, same dialect-congruent style as
  * AdvCorpus — the DuckDB oracle carries it as a CTE):
  *  - each vec_id draws a CLUSTER id by the power-law band trick
  *    (band b uniform in 0..7, uniform pick in [2^b, 2^b + 2^b)):
  *    cluster 1 holds ~1/8 of the corpus (the hub), band-7 clusters
  *    are near-singletons — the size spectrum a crawl's near-dup
  *    clusters actually have;
  *  - the cluster centroid is a deterministic hash of (cid, dim) in
  *    [-1000, 1000] milli-units; each member adds +-100 milli jitter
  *    from its own (vec_id, dim) hash. Intra-cluster cosine ~0.99,
  *    cross-cluster ~0 — real near-neighbor geometry, not noise;
  *  - the existing `label` column is kept UNCHANGED, so it is
  *    independent of the engineered geometry.
  *
  * The eval (`adv_ann_eval`) grades, per query-cluster size band:
  *  - `lsh`: the production 4-hyperplane bucket join (Ann.bucketCol) —
  *    geometry-AWARE partitioning: same-cluster members share sign
  *    patterns, so recall stays high; the hub band's n_cand column
  *    shows the bucket-skew cost (one bucket holds the whole hub);
  *  - `ivf_label`: IVF with the metadata `label` as cells (the exact
  *    shape ann_ivf_topk uses, where it is fine because the driver
  *    corpus clusters BY label) — geometry-BLIND partitioning here:
  *    a cluster's members spread uniformly over 10 label cells, so
  *    1-probe recall collapses toward 1/10. The contrast is the
  *    measured lesson: partition by geometry, not metadata, or an ANN
  *    index on a clustered corpus silently loses its neighbors.
  *
  * Determinism: cosines are rounded to 6 dp BEFORE ranking (the
  * cross-engine rank discipline), ties break by neighbor id; IVF
  * centroids come from exact integer milli sums. All decisions integer
  * or correctly-rounded-double — strict hash gate holds end-to-end.
  */
object AdvAnn {

  private val Dim = 64
  private val NQueries = 40

  /** Power-law cluster id over vec_id (band 0..7). */
  private val HrExpr =
    "(((vec_id % 1048576) * 48271 + 13) % 2147483647)"
  private def bandExpr(duck: Boolean): String =
    if (duck) s"CAST(($HrExpr % 8) AS BIGINT)"
    else s"CAST(($HrExpr % 8) AS BIGINT)"
  private def cidExpr(duck: Boolean): String = {
    val hb = s"($HrExpr % 8)"
    val hp =
      if (duck) s"(CAST(1 AS BIGINT) << CAST($hb AS INT))"
      else s"shiftleft(CAST(1 AS BIGINT), CAST($hb AS INT))"
    val pick =
      if (duck) s"(($HrExpr // 8) % ($hp))"
      else s"(($HrExpr div 8) % ($hp))"
    s"(($hp) + $pick)"
  }

  /** Per-dim value in milli-units: centroid(cid, d) +- jitter(vec_id, d). */
  private def dimExpr(duck: Boolean): String = {
    val cm = s"(((cid * 2654435761) + (d * 40503) + 97) % 2147483647)"
    val cent = s"(($cm % 2001) - 1000)"
    val jm = s"(((vec_id % 1048576) * 69069 + d * 101 + 3) % 2147483647)"
    val jr = s"((($jm) * 48271) % 2147483647)"
    val jit = s"(($jr % 201) - 100)"
    s"CAST($cent + $jit AS DOUBLE) / 1000.0"
  }

  private def vecExpr(duck: Boolean): String =
    if (duck)
      s"list_transform(range(0, $Dim), d -> ${dimExpr(duck = true)})"
    else
      s"transform(sequence(CAST(0 AS BIGINT), CAST(${Dim - 1} AS BIGINT)), d -> ${dimExpr(duck = false)})"

  /** The derived adversarial embeddings, disk-materialized (LaneCache):
    * (vec_id, label, band, cid, v: array<double>). */
  def advEmbeddings(s: SparkSession, d: String): DataFrame = {
    val genFp = LaneCache.fp(vecExpr(duck = false), cidExpr(duck = false),
      bandExpr(duck = false))
    LaneCache.cached(s, d, "adv_emb", genFp, Seq("embeddings")) {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"))
        .withColumn("cid", expr(cidExpr(duck = false)))
        .select(col("vec_id"), col("label"),
          expr(bandExpr(duck = false)).as("band"), col("cid"),
          expr(vecExpr(duck = false)).as("v"))
    }
  }

  /** The same generator as a DuckDB CTE (named adv_emb). */
  val AdvEmbCte: String =
    s"""adv_emb AS (
       | SELECT vec_id, label, ${bandExpr(duck = true)} AS band, cid,
       |  ${vecExpr(duck = true)} AS v
       | FROM (SELECT vec_id, label, ${cidExpr(duck = true)} AS cid
       |       FROM embeddings))""".stripMargin

  private def topk(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.collectTopK(
        struct((lit(0.0) - col("cos")).as("neg"), col("nid")), k,
        reverse = true).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.nid").as("nid"))

  def advAnnEval(s: SparkSession, d: String): DataFrame = {
    val e = Share(advEmbeddings(s, d)
      .select(col("vec_id"), col("label"), col("band"), col("v"))
      .withColumn("nv", norm2(col("v"))))
    val q = Share(e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("band").as("qband"),
        col("label").as("qlabel"), col("v").as("vq"), col("nv").as("nq")))
    val cos = round(cosinePre(col("vq"), col("nq"), col("v"), col("nv")), 6)

    // brute-force truth: exact top-3 per query over the full corpus
    val truth = Share(topk(
      e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"), cos.as("cos")), 3))

    // lsh: candidates share the production 4-bit hyperplane bucket
    val eb = e.withColumn("bkt", Ann.bucketCol(col("v")))
    val qb = q.withColumn("bkt", Ann.bucketCol(col("vq")))
    val lshCand = Share(qb.join(eb, Seq("bkt"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos")))

    // ivf_label: cells = the metadata label column; centroids from
    // exact integer milli sums; 1-probe the nearest cell by cosine
    val cent = e
      .select(col("label"), posexplode(
        transform(col("v"), x => round(x * 1000).cast("long"))).as(Seq("dim", "xm")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("xm")).as("sm"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("sm"), col("n")))),
        t => t.getField("sm").cast("double") / t.getField("n") / 1000.0).as("c"))
      .withColumn("nc", norm2(col("c")))
    // the broadcast side is the pinned 40-row query set, bounded by
    // its literal filter; the centroid table is bounded only by the
    // label count, which the plan cannot show
    val probe = broadcast(q).crossJoin(cent)
      .select(col("qid"), col("label"),
        round(cosinePre(col("vq"), col("nq"), col("c"), col("nc")), 6).as("ccos"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("ccos").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("qid"), col("label"))
    val ivfCand = Share(probe
      .join(q.select(col("qid"), col("vq"), col("nq")), "qid")
      .join(e.select(col("label"), col("vec_id"), col("v"), col("nv")), "label")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos")))

    // per-(method, band) rollup as ONE tagged-union DAG (r14, guide
    // §1.4/§5 — the advHybridRrf rationale): the per-method form ran
    // two branches x four keyed rollups + three broadcast joins each;
    // tagging the candidate sets computes the same 16 rows in a
    // single collect. Per-method values are identical — every
    // aggregate below groups by the method tag.
    val qBand = q.select(col("qid"), col("qband"))
    val cands = lshCand.withColumn("method", lit("lsh"))
      .unionByName(ivfCand.withColumn("method", lit("ivf_label")))
    val nCand = cands.join(qBand, "qid")
      .groupBy(col("method"), col("qband")).agg(count(lit(1)).as("n_cand"))
    // topk per (method, qid): same heap, method rides the group key
    val retrieved = cands
      .groupBy(col("method"), col("qid"))
      .agg(graft.functions.TopKAgg.collectTopK(
        struct((lit(0.0) - col("cos")).as("neg"), col("nid")), 3,
        reverse = true).as("top"))
      .select(col("method"), col("qid"), explode(col("top")).as("t"))
      .select(col("method"), col("qid"), col("t.nid").as("nid"))
    val hits = retrieved.join(truth, Seq("qid", "nid"))
      .join(qBand, "qid")
      .groupBy(col("method"), col("qband")).agg(count(lit(1)).as("n_hits"))
    val truthN = truth.join(qBand, "qid")
      .groupBy(col("qband")).agg(count(lit(1)).as("n_truth"))
    val nq = qBand.groupBy(col("qband")).agg(count(lit(1)).as("n_queries"))
    // literal local table as the broadcast side (see laneNames note)
    val methods = s.createDataFrame(
      java.util.Arrays.asList(Seq("lsh", "ivf_label")
        .map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("method",
          org.apache.spark.sql.types.StringType, nullable = false))))
    nq.crossJoin(broadcast(methods))
      .join(truthN, Seq("qband"), "left")
      .join(nCand, Seq("method", "qband"), "left")
      .join(hits, Seq("method", "qband"), "left")
      .select(col("method"), col("qband").as("band"),
        col("n_queries"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_truth"), lit(0L)) > 0,
          floor(coalesce(col("n_hits"), lit(0L)).cast("double") * 1e6
            / col("n_truth")).cast("long")).as("recall_ppm"))
  }

  /** Adversarial hybrid-retrieval eval — the hybrid_rrf half of
    * VERDICT r7 #7. The two derived corpora carry INDEPENDENT
    * engineered relevance structures over the same id space:
    *  - LEXICAL truth: quote docs (doc_id ≡ 5 mod 16) regenerate a
    *    word slice of their parent (doc_id - 5) — when the langs
    *    coincide (and the lang is tokenizer-visible, i.e. not zh) the
    *    parent is reachable through shared rare surface types and
    *    through nothing else;
    *  - SEMANTIC truth: the query's brute-force top-3 cosine
    *    neighbors in the clustered embedding corpus — reachable
    *    through vector similarity and (cid being independent of the
    *    text generator) through nothing else.
    *
    * Three lanes are graded on BOTH truth channels at top-10:
    * `lex` (integer-idf retrieval over rare shared types, weight =
    * (N*1000) div df over df<=100 terms — pure integers, no
    * cross-engine log), `sem` (cosine top-10), and their `rrf` fusion
    * (1/(60+rank) over the two lane top-10s). The designed readout —
    * each single lane recalls only its own channel, the fusion recalls
    * both — is the measured justification for hybrid_rrf's existence,
    * which the uniform driver corpus could never provide.
    */
  def advHybridRrf(s: SparkSession, d: String): DataFrame = {
    val K = 10
    val docs = AdvCorpus.advDocuments(s, d)
    // query set: quote docs with an embedding row at every scale
    val isQuote = col("doc_id") % 16 === 5 && col("doc_id") >= 16 &&
      col("doc_id") < 320
    // lexical lane: distinct-token postings, rare-term integer idf
    val postings = Share(docs
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qterms = postings.filter(isQuote)
      .select(col("doc_id").as("qid"), col("tok"))
      .join(dfreq, "tok").filter(col("df") <= 100)
      .crossJoin(broadcast(nDocs))
      .select(col("qid"), col("tok"),
        expr("(n_docs * 1000) div df").as("w"))
    val lexRanked = Share(qterms
      .join(postings.select(col("doc_id").as("nid"), col("tok")), "tok")
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("w")).as("score"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.collectTopK(
        struct((lit(0L) - col("score")).as("neg"), col("nid")), K,
        reverse = true).as("top"))
      .select(col("qid"), posexplode(array_sort(col("top"))).as(Seq("i", "t")))
      .select(col("qid"), col("t.nid").as("nid"),
        (col("i") + 1).cast("long").as("lex_rank")))
    // semantic lane: cosine top-10 over the clustered embeddings
    val e = Share(advEmbeddings(s, d)
      .select(col("vec_id"), col("v")).withColumn("nv", norm2(col("v"))))
    val qv = e.filter(col("vec_id") % 16 === 5 && col("vec_id") >= 16 &&
        col("vec_id") < 320)
      .select(col("vec_id").as("qid"), col("v").as("vq"), col("nv").as("nq"))
    val cos = round(cosinePre(col("vq"), col("nq"), col("v"), col("nv")), 6)
    val semScored = Share(e.join(broadcast(qv), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), cos.as("cos")))
    def semTop(k: Int, rankName: String): DataFrame = semScored
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.collectTopK(
        struct((lit(0.0) - col("cos")).as("neg"), col("nid")), k,
        reverse = true).as("top"))
      .select(col("qid"), posexplode(array_sort(col("top"))).as(Seq("i", "t")))
      .select(col("qid"), col("t.nid").as("nid"),
        (col("i") + 1).cast("long").as(rankName))
    val semRanked = Share(semTop(K, "sem_rank"))
    // rrf fusion over the two lane top-10s
    val rrfScore =
      coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0))
    val rrfRanked = lexRanked.join(semRanked, Seq("qid", "nid"), "full_outer")
      .select(col("qid"), col("nid"), rrfScore.as("r"))
      .withColumn("rrf_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("r").desc, col("nid"))))
      .filter(col("rrf_rank") <= K)
      .select(col("qid"), col("nid"))
    // truth channels
    val parentTruth = Share(docs.filter(isQuote && col("lang") =!= "zh")
      .select(col("doc_id").as("qid"), col("lang").as("qlang"),
        (col("doc_id") - 5).as("nid"))
      .join(docs.select(col("doc_id").as("nid"), col("lang").as("plang")), "nid")
      .filter(col("qlang") === col("plang"))
      .select(col("qid"), col("nid")))
    val knnTruth = Share(semTop(3, "rn").select(col("qid"), col("nid")))
    // rollup: lanes x channels as ONE tagged-union DAG (r14, guide
    // §1.4/§5 — count the jobs): the per-(lane, channel) form ran 6
    // branches x (truth count + broadcast hits count) ≈ a dozen tiny
    // driver-bound jobs over <= 40-row tables; tagging the three lane
    // top-10s and two truth sets and joining ONCE computes the same 6
    // rows in a single collect. Missing (lane, channel) hit pairs
    // zero-fill exactly as the old empty-input count() did.
    val lanes = lexRanked.select(col("qid"), col("nid"), lit("lex").as("lane"))
      .unionByName(semRanked.select(col("qid"), col("nid"),
        lit("sem").as("lane")))
      .unionByName(rrfRanked.select(col("qid"), col("nid"),
        lit("rrf").as("lane")))
    val truths = parentTruth.select(col("qid"), col("nid"),
        lit("parent").as("channel"))
      .unionByName(knnTruth.select(col("qid"), col("nid"),
        lit("knn3").as("channel")))
    val hits = lanes.join(truths, Seq("qid", "nid"))
      .groupBy(col("lane"), col("channel")).agg(count(lit(1)).as("n_hits"))
    val nTruth = truths.groupBy(col("channel")).agg(count(lit(1)).as("n_truth"))
    // literal local table (LocalTableScan) as the broadcast side: the
    // PlanGuard BNLJ lint requires the broadcast subtree to be
    // literally bounded
    val laneNames = s.createDataFrame(
      java.util.Arrays.asList(Seq("lex", "sem", "rrf")
        .map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lane",
          org.apache.spark.sql.types.StringType, nullable = false))))
    nTruth.crossJoin(broadcast(laneNames))
      .join(hits, Seq("lane", "channel"), "left")
      .select(col("lane"), col("channel"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_truth") > 0,
          floor(coalesce(col("n_hits"), lit(0L)).cast("double") * 1e6
            / col("n_truth")).cast("long")).as("recall_ppm"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "adv_ann_eval" -> (advAnnEval _),
    "adv_hybrid_rrf" -> (advHybridRrf _)
  )

  private val planeCaseSql: String = Ann.bucketSql

  /** Same plan in DuckDB: integer-idf lex lane, cosine sem lane, rrf
    * fusion of the two top-10s, both truth channels. */
  private val advHybridRrfSql: String = {
    val norm = AdvCorpus.normSql
    val isQ = "doc_id % 16 = 5 AND doc_id >= 16 AND doc_id < 320"
    val arms = for {
      (lane, res) <- Seq("lex" -> "lexr", "sem" -> "semr", "rrf" -> "rrfr")
      (channel, truth) <- Seq("parent" -> "ptruth", "knn3" -> "ktruth")
    } yield
      s"""SELECT '$lane' AS lane, '$channel' AS channel,
         | (SELECT CAST(count(*) AS BIGINT) FROM $truth) AS n_truth,
         | (SELECT CAST(count(*) AS BIGINT) FROM $res r
         |   JOIN $truth t ON t.qid = r.qid AND t.nid = r.nid) AS n_hits""".stripMargin
    s"""WITH ${AdvCorpus.AdvDocsCte},
       |$AdvEmbCte,
       |post AS (
       | SELECT doc_id, tok FROM (
       |  SELECT doc_id, unnest(list_distinct(string_split($norm, ' '))) AS tok
       |  FROM adv_docs)
       | WHERE length(tok) > 0),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM adv_docs),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
       |qt AS (
       | SELECT post.doc_id AS qid, post.tok, (nd.n_docs * 1000) // df AS w
       | FROM post JOIN dfq USING (tok) CROSS JOIN nd
       | WHERE $isQ AND df <= 100),
       |lexr AS (
       | SELECT qid, nid, lex_rank FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS lex_rank
       |  FROM (SELECT qt.qid, p2.doc_id AS nid, sum(w) AS score
       |        FROM qt JOIN post p2 USING (tok)
       |        WHERE p2.doc_id <> qt.qid GROUP BY 1, 2))
       | WHERE lex_rank <= 10),
       |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM adv_emb),
       |q AS (SELECT vec_id AS qid, v AS vq, nv AS nq FROM e
       |      WHERE vec_id % 16 = 5 AND vec_id >= 16 AND vec_id < 320),
       |sems AS (
       | SELECT q.qid, e.vec_id AS nid,
       |  round(list_dot_product(q.vq, e.v) / (q.nq * e.nv), 6) AS cos
       | FROM q JOIN e ON e.vec_id <> q.qid),
       |semr AS (
       | SELECT qid, nid, sem_rank FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS sem_rank
       |  FROM sems)
       | WHERE sem_rank <= 10),
       |ktruth AS (
       | SELECT qid, nid FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
       |  FROM sems)
       | WHERE rn <= 3),
       |rrfr AS (
       | SELECT qid, nid FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY r DESC, nid) AS rr
       |  FROM (
       |   SELECT coalesce(l.qid, s.qid) AS qid, coalesce(l.nid, s.nid) AS nid,
       |    coalesce(1.0 / (60 + l.lex_rank), 0) +
       |     coalesce(1.0 / (60 + s.sem_rank), 0) AS r
       |   FROM lexr l FULL OUTER JOIN semr s
       |    ON l.qid = s.qid AND l.nid = s.nid))
       | WHERE rr <= 10),
       |ptruth AS (
       | SELECT q.doc_id AS qid, q.doc_id - 5 AS nid
       | FROM adv_docs q JOIN adv_docs p ON p.doc_id = q.doc_id - 5
       | WHERE q.doc_id % 16 = 5 AND q.doc_id >= 16 AND q.doc_id < 320
       |  AND q.lang <> 'zh' AND q.lang = p.lang),
       |arms AS (
       | ${arms.mkString("\n UNION ALL\n ")})
       |SELECT lane, channel, n_truth, n_hits,
       | CASE WHEN n_truth > 0
       |  THEN CAST(floor(CAST(n_hits AS DOUBLE) * 1e6 / n_truth) AS BIGINT)
       | END AS recall_ppm
       |FROM arms""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "adv_hybrid_rrf" -> advHybridRrfSql,
    "adv_ann_eval" ->
      s"""WITH $AdvEmbCte,
         |e AS (SELECT vec_id, label, band, v,
         |       sqrt(list_dot_product(v, v)) AS nv FROM adv_emb),
         |q AS (SELECT vec_id AS qid, band AS qband, label AS qlabel,
         |       v AS vq, nv AS nq FROM e WHERE vec_id < $NQueries),
         |truth AS (
         | SELECT qid, nid FROM (
         |  SELECT q.qid, e.vec_id AS nid,
         |   row_number() OVER (PARTITION BY q.qid ORDER BY
         |    round(list_dot_product(q.vq, e.v) / (q.nq * e.nv), 6) DESC,
         |    e.vec_id) AS rn
         |  FROM q JOIN e ON e.vec_id <> q.qid)
         | WHERE rn <= 3),
         |eb AS (SELECT *, $planeCaseSql AS bkt FROM e),
         |qb AS (SELECT qid, qband, vq, nq,
         |       $planeCaseSql AS bkt
         |       FROM (SELECT qid, qband, vq, nq, vq AS v FROM q)),
         |lsh_cand AS (
         | SELECT qb.qid, eb.vec_id AS nid,
         |  round(list_dot_product(qb.vq, eb.v) / (qb.nq * eb.nv), 6) AS cos
         | FROM qb JOIN eb ON qb.bkt = eb.bkt AND eb.vec_id <> qb.qid),
         |cent AS (
         | SELECT label, list(cm ORDER BY dim) AS c FROM (
         |  SELECT label, dim,
         |   CAST(sum(xm) AS DOUBLE) / count(*) / 1000.0 AS cm
         |  FROM (SELECT label, unnest(range(0, $Dim)) AS dim,
         |         unnest(list_transform(v, x -> CAST(round(x * 1000) AS BIGINT))) AS xm
         |        FROM e)
         |  GROUP BY label, dim)
         | GROUP BY label),
         |probe AS (
         | SELECT qid, label FROM (
         |  SELECT q.qid, cent.label,
         |   row_number() OVER (PARTITION BY q.qid ORDER BY
         |    round(list_dot_product(q.vq, cent.c)
         |     / (q.nq * sqrt(list_dot_product(cent.c, cent.c))), 6) DESC,
         |    cent.label) AS rn
         |  FROM q CROSS JOIN cent)
         | WHERE rn = 1),
         |ivf_cand AS (
         | SELECT q.qid, e.vec_id AS nid,
         |  round(list_dot_product(q.vq, e.v) / (q.nq * e.nv), 6) AS cos
         | FROM probe JOIN q ON q.qid = probe.qid
         |  JOIN e ON e.label = probe.label AND e.vec_id <> q.qid),
         |qband AS (SELECT qid, qband FROM q),
         |cands AS (
         | SELECT 'lsh' AS method, qid, nid, cos FROM lsh_cand
         | UNION ALL
         | SELECT 'ivf_label', qid, nid, cos FROM ivf_cand),
         |retrieved AS (
         | SELECT method, qid, nid FROM (
         |  SELECT method, qid, nid,
         |   row_number() OVER (PARTITION BY method, qid
         |     ORDER BY cos DESC, nid) AS rn
         |  FROM cands)
         | WHERE rn <= 3),
         |ncand AS (
         | SELECT method, qband, CAST(count(*) AS BIGINT) AS n_cand
         | FROM cands JOIN qband USING (qid) GROUP BY 1, 2),
         |hits AS (
         | SELECT method, qband, CAST(count(*) AS BIGINT) AS n_hits
         | FROM retrieved JOIN truth USING (qid, nid)
         |  JOIN qband USING (qid)
         | GROUP BY 1, 2),
         |truthn AS (
         | SELECT qband, CAST(count(*) AS BIGINT) AS n_truth
         | FROM truth JOIN qband USING (qid) GROUP BY 1),
         |nq AS (
         | SELECT qband, CAST(count(*) AS BIGINT) AS n_queries
         | FROM qband GROUP BY 1),
         |m AS (SELECT unnest(['lsh', 'ivf_label']) AS method)
         |SELECT m.method, nq.qband AS band, nq.n_queries,
         | coalesce(truthn.n_truth, 0) AS n_truth,
         | coalesce(ncand.n_cand, 0) AS n_cand,
         | coalesce(hits.n_hits, 0) AS n_hits,
         | CASE WHEN coalesce(truthn.n_truth, 0) > 0
         |  THEN CAST(floor(CAST(coalesce(hits.n_hits, 0) AS DOUBLE) * 1e6
         |    / truthn.n_truth) AS BIGINT) END AS recall_ppm
         |FROM m CROSS JOIN nq
         | LEFT JOIN truthn ON truthn.qband = nq.qband
         | LEFT JOIN ncand ON ncand.method = m.method AND ncand.qband = nq.qband
         | LEFT JOIN hits ON hits.method = m.method AND hits.qband = nq.qband""".stripMargin
  )
}
