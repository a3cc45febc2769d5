package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** PageRank over the similarity graph: hand-computed ranks on a known
  * path graph, isolated-node teleport mass, and full-corpus sanity
  * (one row per doc, ranks bounded below by the teleport term). The
  * DuckDB oracle re-checks the full composition cross-engine.
  */
class GraphSpec extends SparkTestBase {

  test("pagerank matches hand-computed ranks on the path graph 1-2-3 (+isolated 4)") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Graph.pagerank(docs, pairs, 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // integer micro-unit fixpoint. deg: 1->1, 2->2, 3->1; r0 = 1000000.
    // r1 = (575000, 1850000, 575000); r2 = (936250, 1127500, 936250)
    // r3: v1 inflow = 1127500 div 2 = 563750; (85*563750) div 100
    //     truncates 479187.5 -> 479187; prm = 629187. v2 = 1741625.
    assert(got(1L) == 629187 / 1e6)
    assert(got(2L) == 1741625 / 1e6)
    assert(got(3L) == 629187 / 1e6)
    assert(got(4L) == 150000 / 1e6)
  }

  test("triangles: hand graph — one triangle + pendant, clique of 4") {
    import spark.implicits._
    // triangle {1,2,3} with pendant 4: each triangle member counts 1,
    // the pendant is absent (0 triangles)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = Share.lineage(Graph.triangles(tri).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // K4: C(3,2) = 3 triangles through every node
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val got4 = Share.lineage(Graph.triangles(k4).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangle_count: every count positive; membership closed under the pair graph") {
    val rows = Graph.triangleCount(spark, sf).collect()
    assert(rows.forall(_.getLong(1) > 0))
    // triangle members must be nodes of the candidate graph
    val nodes = Dedup.lshCandidates(spark, sf)._1.collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(rows.forall(r => nodes.contains(r.getLong(0))))
  }

  test("similarity_pagerank: one row per doc, teleport lower bound, centrality varies") {
    val docs = graft.Tables.documents(spark, sf)
    val n = docs.count()
    val rows = Graph.similarityPagerank(spark, sf).collect()
    assert(rows.length == n)
    assert(rows.forall(_.getDouble(1) >= 0.15 - 1e-9))
    // the similarity graph is non-trivial on this corpus: some docs
    // must be strictly more central than the teleport floor
    assert(rows.exists(_.getDouble(1) > 0.15 + 1e-6))
  }

  test("kCore peels the pendant chain, keeps the clique; deg is within-core") {
    import spark.implicits._
    // triangle {1,2,3} with chain 3-4-5: round 1 drops 5 (deg 1),
    // round 2 drops the now-pendant 4; the triangle survives at deg 2
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val got = Share.lineage(Graph.kCore(g, k = 2, rounds = 4).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // a 4-cycle is its own 2-core: nothing peels even though no
    // triangle exists — k-core sees density coarser than triangles
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("doc_a", "doc_b")
    val gotC = Share.lineage(Graph.kCore(cyc, k = 2, rounds = 4).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotC == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("k_core: 4 rounds reach the fixpoint on the corpus graph (round 5 is a no-op)") {
    val r4 = Graph.kCoreDocs(spark, sf, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r5 = Graph.kCoreDocs(spark, sf, rounds = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r4 == r5)
    // every survivor holds >= k neighbors inside the core by definition
    assert(r4.forall(_._2 >= 2L))
  }

  test("labelPropagation separates two triangles across a bridge (hand-traced)") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by bridge 3-4. Hand trace
    // (majority, min-label ties): l1 = (2,1,1,3,4,4);
    // l2 = (1,1,1,4,3,3); l3 = (1,1,1,3,3,3) — the bridge never merges
    // the cliques (CC would collapse all six into one cluster).
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = Share.lineage(Graph.labelPropagation(g, rounds = 3).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("label_propagation: one label per graph vertex; intra-community density") {
    val pairs = Dedup.lshCandidates(spark, sf)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val lab = Graph.communityLabels(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab.keySet == nodes)
    // LP refines (or equals) connectivity: it never assigns more
    // communities than vertices and at least one pair agrees
    val intra = pairs.count(p => lab(p._1) == lab(p._2))
    assert(intra > 0)
    // a community label is itself a member's doc_id-rooted label chain;
    // sanity: labels come from the node set
    assert(lab.values.toSet.subsetOf(nodes))
  }
}
