package graft.operators

import graft.{SparkEntry, SparkTestBase}

/** `Share`: lineage mode changes plans, never rows, and no checkpoint
  * in `src/main` escapes it. */
class ShareSpec extends SparkTestBase {

  test("lineage mode gives the same rows as the shared form") {
    // the 23 queries whose full lineage the plan lints once saw only
    // through hand-kept lazy twins
    val names = Seq("adv_lsh_band_dense", "ann_eval", "cmsketch_eval", "cross_doc_spans",
      "dup_span_rewrite", "embedding_outliers", "fuzzy_match_census", "heavy_hitters",
      "hll_distinct", "hll_union", "importance_resample", "join_size_estimate", "k_core",
      "label_propagation", "lsh_band_eval_dense", "nb_domain_attribution",
      "similarity_pagerank", "source_divergence", "source_overlap",
      "span_coverage_incremental", "theil_sen_trend", "triangle_count", "vocab_coverage")
    def rows(n: String) = SparkEntry.queries(n)(spark, sf).collect().map(_.toString).sorted.toSeq
    val diffs = names.filter { n =>
      val shared = rows(n)
      assert(shared.nonEmpty, s"$n is empty at $sf: the comparison would prove nothing")
      shared != Share.lineage(rows(n))
    }
    assert(diffs.isEmpty, s"rows differ between the modes: $diffs")
  }

  test("Share checkpoints by default and returns the frame in lineage mode") {
    val df = spark.range(3).toDF("x")
    assert(Share(df).queryExecution.analyzed.toString.contains("LogicalRDD"))
    assert(Share.lineage(Share(df)) eq df)
    assert(!Share.inLineage)
  }

  test("src/main has one localCheckpoint call, in Share, and no materialize flag") {
    import scala.jdk.CollectionConverters._
    import scala.jdk.StreamConverters._
    val files = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")))(
      _.toScala(Seq)).filter(_.toString.endsWith(".scala"))
    val flag = "materialize" + ": Boolean" // split, so a grep for the flag skips this guard
    val hits = files.flatMap(f => java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
      case (l, i) if l.contains(".localCheckpoint(") || l.contains(flag) =>
        s"$f:${i + 1}: ${l.trim}"
    })
    assert(hits.size == 1 && hits.head.startsWith("src/main/scala/graft/operators/Share.scala:"),
      "every checkpoint goes through Share, and no materialize flag:\n" + hits.mkString("\n"))
  }
}
