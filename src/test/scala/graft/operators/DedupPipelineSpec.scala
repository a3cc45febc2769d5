package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Composed dedup pipeline (LSH candidates -> Jaccard verify -> CC ->
  * canonical pick) plus the connected-components kernel it rides on.
  */
class DedupPipelineSpec extends SparkTestBase {

  test("connectedComponents: long chain converges to min label") {
    import spark.implicits._
    // path graph 0-1-2-...-29: diameter 29 exceeds the old 20-iteration
    // naive-propagation budget; pointer-halving must still converge
    val edges = (0 until 29).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(edges)
    assert(labels.count() === 30)
    assert(labels.select("lbl").distinct().as[Long].collect().toSeq === Seq(0L))
  }

  test("connectedComponents: disjoint components get their own min labels") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(edges)
    val byDoc = labels.as[(Long, Long)].collect().toMap
    assert(byDoc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dedup_pipeline: covers the corpus with one canonical min-id per cluster") {
    val docs = graft.Tables.documents(spark, sf).count()
    val out = Dedup.dedupPipeline(spark, sf).cache()
    assert(out.count() === docs) // every document is assigned, singletons included
    val perCluster = out.groupBy("cluster_id").agg(
      sum(col("is_canonical").cast("long")).as("n_canon"),
      min("doc_id").as("min_doc"),
      first("cluster_size").as("sz"),
      count(lit(1)).as("n"))
    assert(perCluster.filter(col("n_canon") =!= 1).count() === 0)
    assert(perCluster.filter(col("min_doc") =!= col("cluster_id")).count() === 0)
    assert(perCluster.filter(col("sz") =!= col("n")).count() === 0)
    // the LSH->verify path must actually merge something at sf0.001
    assert(out.filter(col("cluster_size") > 1).count() > 0)
    out.unpersist()
  }

  test("dedup_incremental: one row per new doc, asymmetric matches, flag consistency") {
    val newIds = graft.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) === 9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = Dedup.dedupIncremental(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == newIds && rows.length == newIds.size)
    rows.foreach { r =>
      val (n, keep) = (r.getLong(1), r.getLong(4))
      if (n == 0L) {
        assert(r.isNullAt(2) && r.isNullAt(3) && keep == 1L)
      } else {
        val (est, m) = (r.getDouble(2), r.getLong(3))
        assert(est >= 0.5 && est <= 1.0 && keep == 0L)
        assert(m % 10 != 9, s"matched another new doc: $m") // never batch x batch
        assert(!newIds.contains(m))
      }
    }
    // the synthetic corpus has near-dups crossing the batch boundary
    assert(rows.exists(_.getLong(4) == 0L))
  }

  test("containment_incremental: equals string-set driver replay; asymmetric split respected") {
    def toks(t: String): Set[String] =
      t.replaceAll("[^a-zA-Z0-9\\s]", " ").replaceAll("\\s+", " ")
        .trim.toLowerCase.split(" ").toSet
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), toks(r.getString(2))))
    val batch = docs.filter(_._1 % 7 == 3)
    val corpus = docs.filter(_._1 % 7 != 3)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val matches = for {
      n <- batch; o <- corpus
      if n._2 == o._2
      nn = n._3.size.toLong; no = o._3.size.toLong
      i = (n._3 & o._3).size.toLong
      if nn > 0 && no > 0 && i * 5 >= math.min(nn, no) * 4
    } yield (n._1, o._1, r6(i.toDouble / math.min(nn, no)))
    val bestByNew = matches.groupBy(_._1).map { case (nid, g) =>
      val best = g.minBy { case (_, oid, c) => (-c, oid) }
      nid -> (g.length.toLong, best._3, best._2)
    }
    val expected = batch.map { case (nid, _, _) =>
      bestByNew.get(nid) match {
        case Some((n, c, m)) => (nid, n, Some(c), Some(m), 0L)
        case None => (nid, 0L, None, None, 1L)
      }
    }.toSet
    val got = Dedup.containmentIncremental(spark, sf).collect()
      .map { r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getLong(4))
      }.toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // cross-boundary matches exist (the %7 split breaks the
    // generator's mod-10 duplicate alignment) and a matched old_id is
    // never itself in the batch
    assert(got.exists(_._2 > 0))
    got.foreach { case (_, _, _, m, _) => m.foreach(o => assert(o % 7 != 3)) }
  }

  test("dedup_incremental: best match agrees with the full LSH pair table") {
    // project the symmetric pair table onto new-vs-existing and take the
    // same (est desc, id) argmax — the incremental path must agree
    val full = Dedup.dedupMinhashLsh(spark, sf).collect().flatMap { r =>
      val (a, b, est) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      Seq((a, b, est), (b, a, est))
    }
    val expect = full
      .filter { case (n, o, est) => n % 10 == 9 && o % 10 != 9 && est >= 0.5 }
      .groupBy(_._1).map { case (n, g) =>
        val best = g.minBy { case (_, o, est) => (-est, o) }
        n -> (g.length.toLong, best._3, best._2)
      }
    val got = Dedup.dedupIncremental(spark, sf).collect()
      .filter(_.getLong(1) > 0L)
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(got == expect)
  }

  /** The dedup_ngram_jaccard sf1-demotion parity pin (VERDICT r9 #3,
    * the lsh_band_eval_dense treatment): the blocked quadratic stays
    * in the registry as the strict-oracle-gated TRUTH at
    * sf0.01/sf0.1, and the at-scale bench is carried by the PPJoin
    * prefix twin — two independent candidate algorithms, one answer.
    * Frame equality row-for-row at both spec scales is the license;
    * the registry additionally gates both plans against the SAME
    * oracle SQL. (An equality pin against the LSH-shingle path would
    * be wrong: 3-shingle minhash measures a different similarity
    * space than unigram-vocabulary Jaccard, and this corpus's
    * template families share vocabulary without being shingle
    * near-dups — measured, not assumed.)
    */
  test("parity pin: PPJoin prefix plan == the blocked quadratic, row-for-row, both spec scales") {
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet
      val truth = rows(Dedup.dedupNgramJaccard(spark, d))
      val pref = rows(Dedup.dedupNgramPrefix(spark, d))
      assert(truth.nonEmpty, s"$d: vacuous pin — no survivor pair exists")
      val missed = truth -- pref
      val extra = pref -- truth
      assert(missed.isEmpty && extra.isEmpty,
        s"$d: prefix plan != quadratic (missed ${missed.size}, extra ${extra.size}): " +
          (missed.take(3) ++ extra.take(3)).mkString("; "))
    }
  }
}
