package graft.operators

import graft.{Harness, SparkTestBase}
import org.apache.spark.sql.functions._

/** Structural invariants for the corpus-curation operators (the value
  * parity vs DuckDB is the driver's oracle gate; these pin the
  * engine-independent semantics).
  */
class CorpusSpec extends SparkTestBase {

  test("sample_stratified: deterministic, bucket-bounded, en downsampled") {
    val a = Corpus.sampleStratified(spark, sf)
    val b = Corpus.sampleStratified(spark, sf)
    // content-hash sampling is a pure filter: two runs are identical
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(a.filter(col("bucket") < 0 || col("bucket") >= 100).count() == 0)
    // non-en strata keep every row; en keeps ~30%
    val docs = graft.Tables.documents(spark, sf)
    val nonEn = docs.filter(col("lang") =!= "en").count()
    assert(a.filter(col("lang") =!= "en").count() == nonEn)
    val enTotal = docs.filter(col("lang") === "en").count()
    val enKept = a.filter(col("lang") === "en").count()
    assert(enKept < enTotal && enKept > 0)
  }

  test("sample_topk_per_group: at most k per stratum, ranks contiguous from 1") {
    val s = Corpus.sampleTopkPerGroup(spark, sf)
    val per = s.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), max(col("sample_rank")).as("mx"),
        min(col("sample_rank")).as("mn"))
    assert(per.filter(col("n") > 5 || col("mx") > 5 || col("mn") =!= 1 ||
      col("mx") =!= col("n")).count() == 0)
    // every stratum with >=5 docs yields exactly 5
    val big = graft.Tables.documents(spark, sf)
      .groupBy(col("source")).count().filter(col("count") >= 5)
    val full = per.join(big, "source").filter(col("n") =!= 5)
    assert(full.count() == 0)
  }

  test("tfidf_topterms: per-doc ranks 1..<=5, score non-increasing with rank") {
    val t = Corpus.tfidfTopterms(spark, sf)
    assert(t.filter(col("term_rank") < 1 || col("term_rank") > 5).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("term_rank"))
    val bad = t.withColumn("prev", lag(col("tfidf"), 1).over(w))
      .filter(col("prev").isNotNull && col("tfidf") > col("prev"))
    assert(bad.count() == 0)
    // ranks contiguous: a doc with max rank r has exactly r rows
    val per = t.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), max(col("term_rank")).as("mx"))
    assert(per.filter(col("n") =!= col("mx")).count() == 0)
  }

  test("doc_chunk: contiguous ids from 0, full token coverage, bounded windows") {
    val c = Corpus.docChunk(spark, sf)
    // per doc: ids 0..max contiguous, and the last window reaches n
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
    val per = c.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), max(col("chunk_id")).as("mx"),
        min(col("chunk_id")).as("mn"), max(col("n_tokens")).as("max_win"))
    assert(per.filter(col("mn") =!= 0 || col("mx") =!= col("n_chunks") - 1).count() == 0)
    assert(c.filter(col("n_tokens") < 1 || col("n_tokens") > 32).count() == 0)
    val uncovered = per.join(docs, "doc_id")
      .filter(col("mx") * 24 + 32 < col("n"))
    assert(uncovered.count() == 0)
    // every document chunks (even short ones -> exactly one window)
    assert(per.count() == docs.count())
  }

  test("decontamination: benchmark docs never flagged, counts positive") {
    val dc = Corpus.decontamination(spark, sf)
    assert(dc.filter(col("doc_id") % 97 === 0).count() == 0)
    assert(dc.filter(col("n_shared") < 1).count() == 0)
    assert(dc.count() > 0)
  }

  test("inverted_index: postings account for every token, df <= cf") {
    val ix = Corpus.invertedIndex(spark, sf).cache()
    assert(ix.filter(col("df") > col("cf")).count() == 0)
    // Σ cf over the index == total token count in the corpus
    val cfSum = ix.agg(sum(col("cf"))).head.getLong(0)
    val tokTotal = graft.Tables.documents(spark, sf)
      .select(size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .agg(sum(col("n"))).head.getLong(0)
    assert(cfSum === tokTotal)
    // postings are doc_id-ascending and df-many
    val bad = ix.filter(size(split(col("postings"), ",")) =!= col("df")).count()
    assert(bad === 0)
    ix.unpersist()
  }

  test("pmi_cooccur: symmetric-count sanity and exact pair accounting") {
    val p = Corpus.pmiCooccur(spark, sf).cache()
    assert(p.count() > 0)
    assert(p.filter(col("c_xy") < 5).count() == 0)
    // a pair can never co-occur more often than its rarer member occurs
    assert(p.filter(col("c_xy") > least(col("c_x"), col("c_y")) * 4).count() == 0)
    p.unpersist()
  }

  test("chunk_index_pipeline: one row per chunk, bounded lists, zero shuffles") {
    val r = Corpus.chunkIndexPipeline(spark, sf).cache()
    assert(r.count() === Corpus.docChunk(spark, sf).count())
    assert(r.filter(col("list_id") < 0 || col("list_id") > 7).count() === 0)
    assert(r.filter(col("dist2") < 0).count() === 0)
    // chunks spread over multiple lists (routing actually discriminates)
    assert(r.select(col("list_id")).distinct().count() > 1)
    // the composed ingest pass is shuffle-free: chunk, featurize, and
    // route are all narrow (centroids are plan-time constants)
    val shuffles = Corpus.chunkIndexPipeline(spark, sf)
      .queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(shuffles.isEmpty)
    r.unpersist()
  }

  test("bm25_score: only matching docs, positive scores, tf consistency") {
    val b = Corpus.bm25Score(spark, sf)
    assert(b.count() > 0)
    assert(b.filter(col("tf_spark") + col("tf_join") + col("tf_window") <= 0)
      .count() == 0)
    assert(b.filter(col("bm25") <= 0).count() == 0)
    // tf from the operator == naive token count from the raw text
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(filter(col("toks"), x => x === lit("spark"))).cast("long").as("naive_tf"))
    val joined = b.join(docs, "doc_id").filter(col("tf_spark") =!= col("naive_tf"))
    assert(joined.count() == 0)
  }

  test("topk_per_group_heap == the window form, via an ObjectHashAggregate not a window sort") {
    val heap = Corpus.sampleTopkPerGroupHeap(spark, sf)
    val window = Corpus.sampleTopkPerGroup(spark, sf)
    assert(heap.collect().toSet == window.collect().toSet)
    val plan = Harness.flatten(heap.queryExecution.executedPlan)
    assert(plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
  }
}
