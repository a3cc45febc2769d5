package graft.operators

import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.{Harness, SparkTestBase}

/** Semantics + plan pins for the embedding feature-engineering tier:
  * z-score moments land on (0, 1) per dimension, the kNN graph is
  * genuinely mutual, and the stats/pair joins take the shapes the
  * 100 TB story needs (broadcast stats, label-keyed pair join).
  */
class VectorOpsSpec extends SparkTestBase {

  test("embedding_standardize: per-dim z mean ~ 0 and std ~ 1") {
    val stats = VectorOps.embeddingStandardize(spark, sf)
      .groupBy(col("dim"))
      .agg(avg(col("z")).as("m"), stddev_pop(col("z")).as("s"), count(lit(1)).as("n"))
      .collect()
    assert(stats.length == 64)
    stats.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-6, s"dim ${r.getLong(0)} mean ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-5, s"dim ${r.getLong(0)} std ${r.getDouble(2)}")
    }
  }

  test("embedding_standardize plan: stats join broadcasts (no shuffle on the big side)") {
    val plan = Harness.flatten(
      VectorOps.embeddingStandardize(spark, sf).queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
  }

  test("knn_graph: edges are mutual top-k, canonical, cos in [-1, 1]") {
    val rows = VectorOps.knnGraph(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0)
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 3)
      assert(r.getLong(4) >= 1 && r.getLong(4) <= 3)
    }
    // unordered pairs unique
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == pairs.toSet.size)
  }

  test("knn_graph matches a brute-force mutual-kNN on the sampled block") {
    val e = graft.Tables.embeddings(spark, sf)
      .filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("label"), col("vec_id"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val knn = e.toSeq.groupBy(_._1).values.flatMap { block =>
      block.flatMap { case (_, aid, va) =>
        block.filter(_._2 != aid)
          .map { case (_, bid, vb) => (aid, bid, cos(va, vb)) }
          .sortBy { case (_, bid, c) => (-c, bid) }
          .take(3).zipWithIndex.map { case ((s2, d2, c), i) => ((s2, d2), (c, i + 1L)) }
      }
    }.toMap
    val expect = knn.collect {
      case ((a, b), (c, ra)) if a < b && knn.contains((b, a)) =>
        (a, b, c, ra, knn((b, a))._2)
    }.toSet
    val got = VectorOps.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expect)
  }

  test("embedding_quantize: q in [-127,127], max dim hits 127, err within half-step") {
    val out = VectorOps.embeddingQuantize(spark, sf).cache()
    assert(out.filter(abs(col("q")) > 127).count() === 0)
    // the max-|x| dimension of every vector quantizes to exactly +/-127
    val perVec = out.groupBy(col("vec_id"))
      .agg(max(abs(col("q"))).as("qmax"), count(lit(1)).as("n"))
    assert(perVec.filter(col("qmax") =!= 127).count() === 0)
    assert(perVec.filter(col("n") =!= 64).count() === 0)
    // reconstruction error bound: |x - q*maxm/127| <= maxm/254 per dim
    // (half a quantization step); recompute maxm from the source table
    val maxm = graft.Tables.embeddings(spark, sf).select(col("vec_id"),
        greatest(array_max(transform(col("embedding"),
          x => abs(round(x.cast("double") * 1e6).cast("long")))), lit(1L)).as("maxm"))
    val viol = out.join(maxm, Seq("vec_id"))
      .filter(col("err_um") > col("maxm").cast("double") / 254.0 + 0.001)
      .count()
    assert(viol === 0)
    out.unpersist()
  }

  test("embedding_pca_step: equals exact integer driver replay; v1 unit-norm") {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(x => math.round(x.toDouble * 1e6)).toArray)
    val dims = vecs.head.length
    val wU = Array.fill(dims)(0L)
    vecs.foreach { xm =>
      val dotU = xm.sum
      var j = 0
      while (j < dims) {
        // HALF_UP, not math.round: exact ±.5 is reachable on the
        // integer lane and math.round sends -0.5 the wrong way
        wU(j) += BigDecimal(dotU.toDouble * xm(j) / 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        j += 1
      }
    }
    val s2 = wU.map(w => BigInt(w) * BigInt(w)).sum
    val nrm = math.sqrt(BigDecimal(s2).toDouble)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = wU.zipWithIndex
      .map { case (w, j) => (j.toLong, w, r6(w / nrm)) }.toSet
    val got = VectorOps.embeddingPcaStep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    assert(got.size == dims)
    // the emitted direction is unit-norm up to per-dim rounding
    val norm1 = math.sqrt(got.toSeq.map { case (_, _, v) => v * v }.sum)
    assert(math.abs(norm1 - 1.0) < 1e-3)
  }

  test("cluster_representatives equals an exact integer driver replay") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> cast(round(cast(x as double) * 1e6) as bigint)) as xm")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    val expected = vecs.groupBy(_._2).map { case (label, members) =>
      val n = members.length.toLong
      val sv = members.map(_._3).transpose.map(_.sum)
      val best = members.map { case (id, _, xm) =>
        val xx = xm.map(v => v * v).sum
        val xs = xm.zip(sv).map { case (a, b) => a * b }.sum
        (n * xx - 2L * xs, id)
      }.min
      label.toLong -> ((n, best._2, best._1))
    }
    val got = VectorOps.clusterRepresentatives(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // the representative really is a member of its cluster
    val membership = vecs.map(v => (v._2.toLong, v._1)).toSet
    assert(got.forall { case (l, (_, rep, _)) => membership((l, rep)) })
  }
}
