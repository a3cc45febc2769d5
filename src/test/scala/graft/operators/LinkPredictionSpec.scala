package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** RA link prediction: hand graphs with closed-form scores (path,
  * square, triangle), the middle-degree cap, and a full in-memory
  * replay over the corpus kNN graph.
  */
class LinkPredictionSpec extends SparkTestBase {

  private def run(edges: Seq[(Long, Long)], maxDeg: Int = 64) = {
    import spark.implicits._
    Share.lineage(Graph.linkPrediction(edges.toDF("doc_a", "doc_b"), maxDeg)
      .collect())
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("path predicts its endpoints; square closes both diagonals; triangle predicts nothing") {
    // path 1-2-3: middle 2 has deg 2 -> ra = 1e6 div 2
    assert(run(Seq((1L, 2L), (2L, 3L))) == Map((1L, 3L) -> ((1L, 500000L))))
    // square 1-2-3-4: each diagonal closed by TWO deg-2 middles
    val sq = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    assert(sq == Map((1L, 3L) -> ((2L, 1000000L)), (2L, 4L) -> ((2L, 1000000L))))
    // triangle: every wedge-closed pair is already an edge
    assert(run(Seq((1L, 2L), (2L, 3L), (1L, 3L))).isEmpty)
  }

  test("high-degree middles are excluded by the cap") {
    // star: center 0 connects 1..5 (deg 5); with maxDeg 4 no wedge
    // survives; with the default cap all 10 leaf pairs are predicted
    val star = (1L to 5L).map(l => (0L, l))
    assert(run(star, maxDeg = 4).isEmpty)
    val full = run(star)
    assert(full.size == 10)
    assert(full.values.forall(_ == ((1L, 200000L)))) // 1e6 div 5
  }

  test("corpus kNN graph: output == in-memory wedge replay") {
    val edges = VectorOps.knnGraph(spark, sf)
      .select(col("src_id"), col("dst_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2).toSet }
    val deg = adj.map { case (v, ns) => v -> ns.size.toLong }
    val edgeSet = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val expected = adj.toSeq.filter { case (_, ns) => ns.size <= 64 }
      .flatMap { case (z, ns) =>
        val s = ns.toSeq.sorted
        for (i <- s.indices; j <- (i + 1) until s.length)
          yield ((s(i), s(j)), deg(z))
      }
      .groupBy(_._1)
      .collect { case (pair, contribs) if !edgeSet.contains(pair) =>
        pair -> ((contribs.size.toLong, contribs.map(c => 1000000L / c._2).sum))
      }.toMap
    val got = Share.lineage(Graph.linkPrediction(
      VectorOps.knnGraph(spark, sf)
        .select(col("src_id").as("doc_a"), col("dst_id").as("doc_b"))).collect())
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
