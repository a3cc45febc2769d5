package graft.operators

import graft.SparkTestBase
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.functions._

/** Semantic invariants for the r6 evaluation/census operators (exact
  * values are pinned by the DuckDB oracles; these pin the contracts).
  */
class EvalOpsSpec extends SparkTestBase {

  test("containment_eval: positives equal a set replay; counters monotone; asym subset real") {
    val got = Dedup.containmentEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to 8L))
    // (tp + fn) is the positive count — constant across thresholds
    val nPos = got.head._2 + got.head._4
    got.foreach { case (_, tp, _, fn, asymPos, asymTp) =>
      assert(tp + fn == nPos)
      assert(asymPos == got.head._5)
      assert(asymTp <= tp)
    }
    // tp non-increasing as the agreement threshold tightens
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._6 <= a._6)
    case _ => ()
    }
    // replay the truth counts from raw token sets (sampled docs)
    def toks(t: String): Set[String] =
      t.replaceAll("[^a-zA-Z0-9\\s]", " ").replaceAll("\\s+", " ")
        .trim.toLowerCase.split(" ").toSet
    val docs = graft.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), toks(r.getString(2))))
    // the sig join keeps docs with >= 3 raw tokens (sig0 non-null
    // needs a word trigram); mirror it via the engine tokenizer
    val rawLen = graft.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), size(tokens(col("text"))).as("n")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val eligible = docs.filter(d => d._3.nonEmpty && rawLen(d._1) >= 3)
    def pairsOf(ds: Array[(Long, String, Set[String])]) = for {
      a <- ds; b <- ds
      if a._2 == b._2 && a._1 < b._1
    } yield (a._3, b._3)
    val truth = pairsOf(eligible).map { case (ua, ub) =>
      val i = (ua & ub).size
      (5 * i >= 4 * math.min(ua.size, ub.size),
        3 * i >= ua.size + ub.size)
    }
    assert(truth.count(_._1) == nPos)
    assert(truth.count(t => t._1 && !t._2) == got.head._5)
    // the asymmetric case must actually exist on this corpus for the
    // eval to be evidence of anything
    assert(got.head._5 > 0)
  }

  test("ann_eval: one row per method, hits bounded by truth and retrieved") {
    val ev = Ann.annEval(spark, sf).collect()
    assert(ev.map(_.getString(0)).sorted.toSeq == Seq("ivf", "lsh", "pq_adc"))
    ev.foreach { r =>
      val (nTruth, nRetr, nHits, ppm) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nHits <= nTruth && nHits <= nRetr)
      assert(ppm >= 0L && ppm <= 1000000L)
      assert(ppm == 1000000L * nHits / nTruth)
    }
  }

  test("ann_eval: lane-read result equals the full inline recompute") {
    // the registered form reads the four ANN lanes (r14); in lineage
    // mode every component recomputes inline and no lane is read —
    // they must agree row-for-row, which also proves each lane IS its
    // defining operator's output on this corpus
    val (lane, live) = (Ann.annEval(spark, sf), Share.lineage(Ann.annEval(spark, sf)))
    assert(lane.inputFiles.exists(_.contains("lane_cache")))
    assert(!live.inputFiles.exists(_.contains("lane_cache")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.toString).sorted.toSeq
    assert(rows(lane) == rows(live))
  }

  test("vocab_coverage: OOV bounded, totals reconcile with the tokenizer") {
    val vc = CorpusAnalytics.vocabCoverage(spark, sf)
    vc.collect().foreach { r =>
      assert(r.getAs[Long]("n_oov_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_distinct_oov") <= r.getAs[Long]("n_distinct"))
    }
    val total = vc.agg(sum(col("n_tokens"))).head().getLong(0)
    val direct = graft.Tables.documents(spark, sf)
      .select(size(tokens(col("text"))).cast("long").as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(total == direct,
      "vocab_coverage occurrence totals must reconcile with the tokenizer")
  }

  test("bloom_eval: no false negatives ever; counts reconcile; FP a small minority") {
    val r = Dedup.bloomEval(spark, sf).head()
    val (probes, members, hits, fn, fp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(fn == 0L, "bloom filters have one-sided error — a member can never miss")
    assert(hits == members + fp, "hits must be exactly members + false positives")
    assert(members <= probes && fp <= probes - members)
    if (probes > members) {
      val ppm = r.getLong(5)
      assert(ppm == math.floor(fp.toDouble * 1000000.0 / (probes - members)).toLong)
      // k=4 / m=131072 sized for this corpus family: FP stays a tail
      assert(ppm < 250000L, s"FP rate implausibly high: $ppm ppm")
    }
  }

  test("ngram_novelty: ppm bounded, novel <= grams, batch split respected") {
    val rows = Dedup.ngramNovelty(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 10 == 9, "only batch docs are scored")
      val (n, novel, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(novel <= n && n > 0)
      assert(ppm == math.floor(novel.toDouble * 1000000.0 / n).toLong)
    }
  }

  test("embedding_outliers: row-preserving, scalar stats constant, outliers minority") {
    val out = VectorOps.embeddingOutliers(spark, sf)
    val n = out.count()
    assert(n == graft.Tables.embeddings(spark, sf).count())
    assert(out.select(col("med"), col("mad")).distinct().count() == 1)
    val flagged = out.filter(col("is_outlier") === 1).count()
    assert(flagged < n / 2, s"MAD flag must be a tail flag, got $flagged/$n")
  }

  test("lang_id_eval: confusion equals a per-doc replay; mass and shares reconcile") {
    val preds = TextAnalysis.langId(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    val truth = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = truth.toSeq
      .map { case (id, t) => (t, preds(id)) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val rows = TextAnalysis.langIdEval(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(r => (r._1, r._2) -> r._3).toMap == expected)
    // every doc lands in exactly one cell
    assert(rows.map(_._3).sum == truth.size.toLong)
    // shares replay exactly from the confusion masses
    val trueTot = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val predTot = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    rows.foreach { case (t, p, n, ts, ps) =>
      assert(ts == n * 1000000L / trueTot(t))
      assert(ps == n * 1000000L / predTot(p))
    }
  }
}
