package graft.operators

import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.{Harness, SparkTestBase}

/** Semantics + plan-shape pins for the corpus-curation analytics tier.
  * Value-level cross-engine checks live in the DuckDB gate; these pin
  * the invariants the gate can't see (set algebra, rank math, exact-
  * integer decay bounds, broadcast shapes).
  */
class CorpusAnalyticsSpec extends SparkTestBase {

  test("source_overlap: canonical pair order, Jaccard bounds, intersection <= min set") {
    val rows = CorpusAnalytics.sourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (na, nb, shared, ppm) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(a < b, s"pair not canonical: $a vs $b")
      assert(shared >= 1 && shared <= math.min(na, nb))
      assert(ppm >= 0 && ppm <= 1000000L)
      assert(ppm == math.floor(1000000.0 * shared / (na + nb - shared)).toLong)
    }
  }

  test("source_overlap: a pair appears at most once") {
    val pairs = CorpusAnalytics.sourceOverlap(spark, sf)
      .select(col("source_a"), col("source_b")).collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.length == pairs.toSet.size)
  }

  test("percentile_filter: keeps exactly floor(n/4) docs per source, the longest ones") {
    val rows = CorpusAnalytics.percentileFilter(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    rows.groupBy(_._1).foreach { case (src, g) =>
      val n = g.head._4
      assert(g.length.toLong == n)
      val kept = g.filter(_._5 == 1L)
      assert(kept.length.toLong == n / 4, s"$src kept ${kept.length} of $n")
      // every dropped doc is no longer than the shortest kept doc
      // (ties broken by doc_id can split equal lengths across the cut)
      val minKept = kept.map(_._2).min
      assert(g.filter(_._5 == 0L).forall(_._2 <= minKept))
    }
  }

  test("decay_score: weights in (0, 1e6], exact-integer sum matches brute force") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        round(col("value") * 1e6).cast("long").as("vmic")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val maxUs = ev.map(_._2).max
    val expect = ev.groupBy(_._1).map { case (u, g) =>
      u -> g.map { case (_, us, vmic) =>
        val age = (maxUs - us) / 86400000000L
        vmic * (1000000L / (1 + age))
      }.sum
    }
    val got = CorpusAnalytics.decayScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == expect)
  }

  test("token_gini: bounded in [0, 1), exact against a driver-side replay") {
    val lens = graft.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = lens.groupBy(_._1).map { case (src, g) =>
      val xs = g.sortBy(t => (t._3, t._2)).map(_._3)
      val n = xs.length.toLong
      val tot = xs.sum
      val weighted = xs.zipWithIndex.map { case (x, i) => x * (i + 1L) }.sum
      val gini = (2.0 * weighted) / (n * tot) - (n + 1.0) / n
      src -> (n, tot, BigDecimal(gini).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = CorpusAnalytics.tokenGini(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == expect)
    got.values.foreach { case (_, _, gini) => assert(gini >= 0.0 && gini < 1.0) }
  }

  test("decay_score plan: max timestamp is a broadcast scalar, one keyed agg") {
    val plan = Harness.flatten(
      CorpusAnalytics.decayScore(spark, sf).queryExecution.executedPlan)
    // no sort-merge join; the only join is the broadcast of the 1-row max
    assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
  }

  test("source_overlap plan: size lookups broadcast") {
    val plan = Harness.flatten(
      CorpusAnalytics.sourceOverlap(spark, sf).queryExecution.executedPlan)
    assert(plan.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2)
  }

  test("vocab_growth equals a driver first-occurrence replay; curve monotone") {
    import graft.functions.TextFunctions
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val nIds = docs.map(_._1).max + 1
    def dec(id: Long) = math.min(id * 10 / nIds, 9L)
    val firstDoc = scala.collection.mutable.Map.empty[String, Long]
    docs.sortBy(_._1).foreach { case (id, toks) =>
      toks.foreach(t => if (!firstDoc.contains(t)) firstDoc(t) = id)
    }
    val expNew = firstDoc.values.groupBy(dec).view.mapValues(_.size.toLong).toMap
    val expDocs = docs.groupBy(d => dec(d._1))
      .map { case (k, v) => k -> (v.size.toLong, v.map(_._2.length.toLong).sum) }
    val rows = CorpusAnalytics.vocabGrowth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    rows.foreach { case (d, nd, ntok, nt, _, _) =>
      assert((nd, ntok) == expDocs(d), s"decile $d mass")
      assert(nt == expNew.getOrElse(d, 0L), s"decile $d new terms")
    }
    // prefix sums reconcile and are monotone; final cum_terms is the
    // whole vocabulary, final cum_tokens the whole corpus
    assert(rows.last._5 == firstDoc.size.toLong)
    assert(rows.last._6 == docs.map(_._2.length.toLong).sum)
    assert(rows.map(_._5).sameElements(rows.map(_._5).sorted))
    assert(rows.map(_._4).sum == firstDoc.size.toLong)
  }
}
