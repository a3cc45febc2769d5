package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Graph analytics over the document-similarity graph — the iterative-
  * propagation class beyond connected components (Dedup.scala). Crawl
  * pipelines use link/similarity centrality as a quality prior (pages
  * reachable from many well-connected pages are likelier keepers), and
  * the canonical-pick step of a dedup pass can prefer the most central
  * member of a cluster instead of min-id.
  *
  * `similarity_pagerank` runs a FIXED-ITERATION (3) damped PageRank
  * over the undirected MinHash-LSH candidate graph (same pair table as
  * dedup_clusters — reused via [[Dedup.lshCandidates]]):
  *
  *   pr_0(v)   = 1.0
  *   pr_t+1(v) = 0.15 + 0.85 * sum over neighbors u of pr_t(u)/deg(u)
  *
  * Scale shape: the (src, dst, deg) edge table is materialized ONCE
  * ([[Share]] — it feeds every iteration) and each
  * iteration is one keyed join edges-to-ranks plus one groupBy(dst)
  * aggregation — the same "one shuffle per superstep" discipline as
  * connectedComponents, with corpus-sized sides always on keyed
  * shuffles (never broadcast). Fixed iteration count keeps the plan
  * depth static; a convergence-driven variant would materialize ranks
  * per iteration exactly like connectedComponents does.
  *
  * Exactness: the fixpoint runs entirely in integer MICRO-units
  * (rank 1.0 = 1,000,000; per-edge share = prm div deg; damping =
  * (85 * inflow) div 100). Long sums are order-independent, so both
  * engines produce bit-identical ranks — per-iteration float rounding
  * was tried first and a 50k-doc sweep found one row landing on a
  * 6-dp half-boundary where the engines' summation orders disagree.
  * The div quantization costs < 1e-6 per edge per iteration vs real
  * PageRank — noise against the damping factor — and buys a
  * deterministic oracle for an iterative computation.
  */
object Graph {

  /** The iteration core over an explicit node set (`docs`: doc_id) and
    * undirected pair set (`pairs`: doc_a, doc_b) — unit-testable against
    * hand-computed ranks (GraphSpec). Both multiply-consumed inputs
    * are shared (the (src, dst, deg) edge table feeds every superstep;
    * the doc_id node set feeds every left join — without the
    * checkpoint each iteration would re-scan documents and re-derive
    * all earlier ranks through lineage).
    */
  private[operators] def pagerank(docs: DataFrame, pairs: DataFrame, iters: Int): DataFrame = {
    val und = pairs.select(col("doc_a"), col("doc_b"))
    val edges = und.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(und.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = Share(edges.join(deg, Seq("src")))
    val ids = Share(docs.select(col("doc_id")))

    var r = ids.withColumn("prm", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = ed
        .join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(expr("prm div deg")).as("inflow"))
      // left join: isolated docs (no candidate pairs) hold the teleport
      // mass 0.15 — they stay in the result, not silently dropped
      r = ids.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(150000L) + expr("(85 * coalesce(inflow, 0)) div 100")).as("prm"))
    }
    // exact: prm <= n * 1e6 stays far below 2^53
    r.select(col("doc_id"), (col("prm") / lit(1000000.0)).as("pr"))
  }

  def similarityPagerank(s: SparkSession, d: String, iters: Int = 3): DataFrame =
    pagerank(Tables.documents(s, d), Dedup.lshPairsCached(s, d), iters)

  /** Triangle enumeration core over an undirected pair set (`pairs`:
    * doc_a, doc_b, one row per edge). Degree orientation: every edge
    * points from its lower-(degree, id) endpoint to the higher one,
    * turning the graph into a DAG where each triangle appears exactly
    * once as u->v, v->w, u->w. The wedge join (e1.dst = e2.src) then
    * expands each node's OUT-edges only, and out-degree under degree
    * orientation is O(sqrt(m)) — the classic bound that keeps the
    * wedge blow-up survivable on power-law similarity graphs, where
    * id-ordered enumeration explodes on hub nodes. All three joins are
    * keyed equi-joins (no broadcast of anything corpus-sized); the
    * oriented edge table materializes once (it feeds both sides of the
    * wedge join and the closing probe).
    */
  private[operators] def triangles(pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("doc_a"), col("doc_b"))
      .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val deg = und.groupBy(col("doc_a").as("v")).agg(count(lit(1)).as("dg"))
    val oriented = Share(und
      .join(deg.select(col("v").as("doc_a"), col("dg").as("deg_a")), Seq("doc_a"))
      .join(deg.select(col("v").as("doc_b"), col("dg").as("deg_b")), Seq("doc_b"))
      .filter(col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("doc_a") < col("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val tri = oriented.as("e1")
      .join(oriented.select(col("src").as("mid"), col("dst").as("w")),
        col("e1.dst") === col("mid"))
      .join(oriented.select(col("src").as("u2"), col("dst").as("w2")),
        col("e1.src") === col("u2") && col("w") === col("w2"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("w").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
  }

  /** Per-node triangle counts over the MinHash-LSH candidate graph —
    * local clustering density as a dedup/quality prior (a document in
    * many triangles sits in a tight near-duplicate clique, not a
    * chance collision). Nodes in no triangle are absent (count 0).
    */
  def triangleCount(s: SparkSession, d: String): DataFrame =
    triangles(Dedup.lshPairsCached(s, d))

  /** Rounds-bounded k-core peel over an undirected pair set: each
    * synchronized round recomputes degrees within the surviving
    * subgraph and drops vertices below `k`; survivors after `rounds`
    * peels emit with their within-subgraph degree. The true k-core is
    * the fixpoint; a FIXED round count keeps the oracle replayable as
    * unrolled CTEs (the pagerank discipline), and GraphSpec pins that
    * 4 rounds already reach the fixpoint on the spec corpus (round 5
    * changes nothing). Dedup/quality use: the 2-core separates tight
    * near-duplicate cliques from chance single-collision pairs — a
    * pendant doc that LSH-collided once peels away, a clique member
    * never does.
    *
    * Scale shape: the edge table materializes once and each round is
    * two keyed semi-join-shaped equi-joins plus one groupBy — one
    * shuffle per superstep, alive-set monotonically shrinking, nothing
    * corpus-sized broadcast. Peel depth on real similarity graphs is
    * small (most vertices die in round 1-2); a convergence-driven
    * variant would iterate until alive-count stabilizes, exactly like
    * connectedComponents.
    */
  private[graft] def kCore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = pairs.select(col("doc_a"), col("doc_b"))
    val edges = Share(und.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(und.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    def aliveDeg(alive: DataFrame): DataFrame = edges
      .join(alive.select(col("v").as("src")), Seq("src"))
      .join(alive.select(col("v").as("dst")), Seq("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var alive = edges.select(col("src").as("v")).distinct()
    for (_ <- 1 to rounds) {
      alive = Share(aliveDeg(alive).filter(col("deg") >= k)
        .select(col("src").as("v")))
    }
    aliveDeg(alive).select(col("src").as("doc_id"), col("deg"))
  }

  /** 2-core of the MinHash-LSH candidate graph after 4 peel rounds. */
  def kCoreDocs(s: SparkSession, d: String, k: Int = 2, rounds: Int = 4): DataFrame =
    kCore(Dedup.lshPairsCached(s, d), k, rounds)

  /** Rounds-bounded synchronous majority label propagation — community
    * detection over an undirected pair set. label_0(v) = v; each round
    * every vertex adopts the most frequent label among its neighbors,
    * ties broken by SMALLEST label (the deterministic stand-in for the
    * random tiebreak in Raghavan et al. 2007 — a random break would be
    * unreplayable cross-engine). Distinct from connected components
    * (dedup_clusters): CC merges everything reachable, LP keeps densely
    * intra-connected regions separate even when a thin bridge joins
    * them — the right granularity for "near-duplicate community" when
    * one chance LSH collision links two genuinely different cliques.
    *
    * Scale shape: the symmetric edge table materializes once; each
    * round is ONE keyed join (edges to labels, on src) + one
    * (v, lab) count aggregate + one per-v top-1 pick. The pick runs as
    * a bounded window ONLY because a vertex's candidate label count is
    * bounded by its degree — it is a max-by over per-key aggregates,
    * never a corpus sort. Fixed rounds keep the plan depth static and
    * the oracle replayable as unrolled CTEs (the pagerank discipline).
    */
  private[graft] def labelPropagation(pairs: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = pairs.select(col("doc_a"), col("doc_b"))
    val edges = Share(und.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(und.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    var lab = edges.select(col("src").as("v")).distinct()
      .withColumn("lab", col("v"))
    val pick = Window.partitionBy(col("v"))
      .orderBy(col("c").desc, col("lab").asc)
    for (_ <- 1 to rounds) {
      // every vertex has >= 1 neighbor by construction (it came off the
      // edge list), so the majority pick covers the whole node set
      lab = Share(edges
        .join(lab.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst").as("v"), col("lab")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("v"), col("lab")))
    }
    lab.select(col("v").as("doc_id"), col("lab").as("community"))
  }

  /** 3-round majority-LP communities of the MinHash-LSH candidate
    * graph — one row per graph vertex with its community label.
    */
  def communityLabels(s: SparkSession, d: String, rounds: Int = 3): DataFrame =
    labelPropagation(Dedup.lshPairsCached(s, d), rounds)

  /** Resource-allocation link prediction over an undirected pair set:
    * for every wedge-closed NON-edge (a, b), the RA index
    * sum_z 1/deg(z) over common neighbors z — the classic
    * common-neighbor predictor that beats raw counts by discounting
    * promiscuous middles. Exact integer lane: ra_ppm = sum of
    * 1000000 div deg(z) (non-negative, so Spark's truncating div and
    * DuckDB's flooring // agree). The wedge join expands middles
    * only; middles with deg > 64 are EXCLUDED — principled twice
    * over: their per-wedge contribution is <= 15625 ppm (negligible
    * by construction of the index) and they are exactly the hubs
    * whose deg^2 wedge blow-up kills the join at scale. The existing
    * edge set is removed with a keyed anti-join.
    */
  private[operators] def linkPrediction(pairs: DataFrame,
      maxDeg: Int = 64): DataFrame = {
    val und = pairs.select(col("doc_a"), col("doc_b"))
    val edges = Share(und.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(und.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val w = edges.as("e1")
      .join(edges.as("e2"), col("e1.src") === col("e2.src"))
      .filter(col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("z"), col("e1.dst").as("a"),
        col("e2.dst").as("b"))
      .join(deg.select(col("src").as("z"), col("deg")), Seq("z"))
      .filter(col("deg") <= maxDeg)
    w.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000 div deg")).as("ra_ppm"))
      .join(und.select(col("doc_a").as("a"), col("doc_b").as("b")),
        Seq("a", "b"), "left_anti")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("common_neighbors"), col("ra_ppm"))
  }

  /** Registered over the mutual-kNN similarity graph, NOT the LSH
    * near-dup graph: near-dup clusters are cliques by construction,
    * so every wedge there is already closed and the predictor has
    * nothing to say (measured: 0 rows at sf0.01). The kNN graph's
    * mutuality constraint leaves open wedges — the structure link
    * prediction exists for.
    */
  def linkPredictionDocs(s: SparkSession, d: String): DataFrame =
    linkPrediction(VectorOps.knnGraphCached(s, d)
      .select(col("src_id").as("doc_a"), col("dst_id").as("doc_b")))

  /** Degree census with exact integer CCDF for BOTH similarity
    * graphs — the profile every wedge-expanding operator's cost
    * model rests on (triangle_count's degree orientation,
    * link_prediction's deg <= 64 middle cap, k_core's peel volume all
    * assume a specific hub structure; this measures it). Per graph
    * and degree: vertex count and ccdf_ppm = share of vertices with
    * degree >= d, exact (n_ge * 1e6 div n_total). The corpus-sized
    * work is the two degree aggregates; the CCDF windows run over the
    * BOUNDED distinct-degree tables.
    */
  private[operators] def degreeCensusOf(pairs: DataFrame,
      name: String): DataFrame = {
    val und = pairs.select(col("doc_a"), col("doc_b"))
    val edges = und.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(und.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val hist = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))
    val ge = Window.orderBy(col("deg").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("n_ge", sum(col("n_vertices")).over(ge))
      .withColumn("n_total", sum(col("n_vertices")).over(all))
      .select(lit(name).as("graph"), col("deg"), col("n_vertices"),
        expr("n_ge * 1000000 div n_total").as("ccdf_ppm"))
  }

  def degreeCensus(s: SparkSession, d: String): DataFrame =
    degreeCensusOf(Dedup.lshPairsCached(s, d), "lsh")
      .unionByName(degreeCensusOf(
        VectorOps.knnGraphCached(s, d)
          .select(col("src_id").as("doc_a"), col("dst_id").as("doc_b")),
        "knn"))

  val queries: Map[String, Relational.Q] = Map(
    "similarity_pagerank" -> ((s, d) => similarityPagerank(s, d)),
    "triangle_count" -> ((s, d) => triangleCount(s, d)),
    "k_core" -> ((s, d) => kCoreDocs(s, d)),
    "label_propagation" -> ((s, d) => communityLabels(s, d)),
    "link_prediction" -> (linkPredictionDocs _),
    "degree_census" -> (degreeCensus _)
  )

  // one oracle iteration in integer micro-units (// = floor division,
  // == truncation here: every quantity is non-negative)
  private def iterCte(prev: String, out: String): String =
    s"""$out AS (
       | SELECT d.doc_id,
       |  150000 + (85 * coalesce(sum($prev.prm // dg.deg), 0)) // 100 AS prm
       | FROM documents d
       |  LEFT JOIN edges e ON e.dst = d.doc_id
       |  LEFT JOIN $prev ON $prev.doc_id = e.src
       |  LEFT JOIN deg dg ON dg.src = e.src
       | GROUP BY d.doc_id)""".stripMargin

  // shared oracle prefix: the MinHash-LSH candidate pair graph (doc_a <
  // doc_b), same construction as the dedup/pagerank oracles
  private val pairsCtes: String =
    s"""${Dedup.shingleHashCte},
       |sig AS (SELECT doc_id, ${Dedup.sigSelect} FROM hs),
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
       |  AND a.doc_id < b.doc_id)""".stripMargin

  // one synchronized peel round: degrees within the alive subgraph,
  // survivors are vertices holding >= k (k = 2) neighbors
  private def peelCte(prev: String, out: String): String =
    s"""$out AS (
       | SELECT e.src AS v FROM edges e
       |  JOIN $prev x ON x.v = e.src
       |  JOIN $prev y ON y.v = e.dst
       | GROUP BY e.src HAVING count(*) >= 2)""".stripMargin

  // one synchronous majority-LP round: per-(vertex, neighbor-label)
  // counts, top-1 by (count DESC, label ASC) — the deterministic
  // tiebreak the Spark window uses
  private def lpCte(prev: String, out: String): String =
    s"""$out AS (
       | SELECT v, lab FROM (
       |  SELECT e.dst AS v, l.lab, count(*) AS c,
       |   row_number() OVER (PARTITION BY e.dst
       |                      ORDER BY count(*) DESC, l.lab ASC) AS rn
       |  FROM edges e JOIN $prev l ON l.v = e.src
       |  GROUP BY e.dst, l.lab)
       | WHERE rn = 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "label_propagation" ->
      (pairsCtes + ",\n" +
        s"""edges AS (
           | SELECT doc_a AS src, doc_b AS dst FROM pairs
           | UNION ALL SELECT doc_b, doc_a FROM pairs),
           |l0 AS (SELECT DISTINCT src AS v, src AS lab FROM edges),
           |${lpCte("l0", "l1")},
           |${lpCte("l1", "l2")},
           |${lpCte("l2", "l3")}
           |SELECT v AS doc_id, lab AS community FROM l3""".stripMargin),

    "k_core" ->
      (pairsCtes + ",\n" +
        s"""edges AS (
           | SELECT doc_a AS src, doc_b AS dst FROM pairs
           | UNION ALL SELECT doc_b, doc_a FROM pairs),
           |a0 AS (SELECT DISTINCT src AS v FROM edges),
           |${peelCte("a0", "a1")},
           |${peelCte("a1", "a2")},
           |${peelCte("a2", "a3")},
           |${peelCte("a3", "a4")}
           |SELECT e.src AS doc_id, CAST(count(*) AS BIGINT) AS deg
           |FROM edges e
           | JOIN a4 x ON x.v = e.src
           | JOIN a4 y ON y.v = e.dst
           |GROUP BY e.src""".stripMargin),

    // per-graph degree histogram + exact CCDF over the bounded
    // distinct-degree table; knn side nests the knn_graph oracle
    "degree_census" ->
      (pairsCtes + ",\n" +
        s"""kg AS (
           | SELECT src_id AS doc_a, dst_id AS doc_b
           | FROM (${VectorOps.oracleSql("knn_graph")})),
           |census AS (
           | SELECT 'lsh' AS graph, doc_a, doc_b FROM pairs
           | UNION ALL SELECT 'knn', doc_a, doc_b FROM kg),
           |edges AS (
           | SELECT graph, doc_a AS src FROM census
           | UNION ALL SELECT graph, doc_b FROM census),
           |degs AS (
           | SELECT graph, src, CAST(count(*) AS BIGINT) AS deg
           | FROM edges GROUP BY 1, 2),
           |hist AS (
           | SELECT graph, deg, CAST(count(*) AS BIGINT) AS n_vertices
           | FROM degs GROUP BY 1, 2)
           |SELECT graph, deg, n_vertices,
           | CAST(sum(n_vertices) OVER (PARTITION BY graph ORDER BY deg DESC
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
           |  // sum(n_vertices) OVER (PARTITION BY graph) AS BIGINT) AS ccdf_ppm
           |FROM hist""".stripMargin),

    // RA index on the integer ppm lane over the nested knn_graph
    // oracle; middle-degree cap mirrored; // == div since every
    // quantity is non-negative
    "link_prediction" ->
      (s"""WITH pairs AS (
           | SELECT src_id AS doc_a, dst_id AS doc_b
           | FROM (${VectorOps.oracleSql("knn_graph")})),
           |edges AS (
           | SELECT doc_a AS src, doc_b AS dst FROM pairs
           | UNION ALL SELECT doc_b, doc_a FROM pairs),
           |deg AS (
           | SELECT src, CAST(count(*) AS BIGINT) AS deg
           | FROM edges GROUP BY 1),
           |w AS (
           | SELECT e1.src AS z, e1.dst AS a, e2.dst AS b, d.deg
           | FROM edges e1
           |  JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
           |  JOIN deg d ON d.src = e1.src
           | WHERE d.deg <= 64),
           |sc AS (
           | SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
           |  CAST(sum(1000000 // deg) AS BIGINT) AS ra_ppm
           | FROM w GROUP BY 1, 2)
           |SELECT a AS doc_a, b AS doc_b, common_neighbors, ra_ppm
           |FROM sc
           |WHERE NOT EXISTS (
           | SELECT 1 FROM pairs p WHERE p.doc_a = sc.a AND p.doc_b = sc.b)""".stripMargin),

    "similarity_pagerank" ->
      (pairsCtes + ",\n" +
        s"""edges AS (
           | SELECT doc_a AS src, doc_b AS dst FROM pairs
           | UNION ALL SELECT doc_b, doc_a FROM pairs),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |r0 AS (SELECT doc_id, 1000000::BIGINT AS prm FROM documents),
           |${iterCte("r0", "r1")},
           |${iterCte("r1", "r2")},
           |${iterCte("r2", "r3")}
           |SELECT doc_id, prm / 1000000.0 AS pr FROM r3""".stripMargin),

    // id-ordered enumeration: with doc_a < doc_b on every pair row, the
    // three-way join emits each triangle once as a<b<c — the same
    // triangle SET the degree-oriented Spark plan enumerates (the
    // orientation changes the join cost, never the result).
    "triangle_count" ->
      (pairsCtes + ",\n" +
        """tri AS (
          | SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
          | FROM pairs e1
          | JOIN pairs e2 ON e2.doc_a = e1.doc_b
          | JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
          |SELECT doc_id, count(*) AS n_tri
          |FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
          |GROUP BY doc_id""".stripMargin)
  )
}
