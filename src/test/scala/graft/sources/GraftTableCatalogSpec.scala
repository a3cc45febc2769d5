package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.etl.SnapshotCatalog

/** The DSv2 TableCatalog binding: plain SQL serves pinned snapshots
  * (by id, named ref, and commit timestamp) through the SAME file set
  * the API read scans; tables with live merge-on-read deletes either
  * resolve through the injected extension rule (row-identical to the
  * API) or fail loudly — never silently serve deleted rows.
  */
class GraftTableCatalogSpec extends SparkTestBase {

  // bare session (no extensions): the loud-failure pins assert what a session without GraftExtensions does
  override lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = new java.io.File(s"target/sqlcat_spec/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getPath
  }

  private def facts(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"k$i", i * 10L)).toDF("id", "k", "amount")

  private var n = 0
  private def register(root: String): String = {
    n += 1
    val cn = s"gtest$n"
    spark.conf.set(s"spark.sql.catalog.$cn",
      classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cn.path", root)
    cn
  }

  test("SQL reads plan exactly the snapshot's file set, with pushdown intact") {
    val root = freshDir("fileset")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 100).repartition(3)),
      statsCols = Map("t" -> Seq("id")))
    cat.append(Map("t" -> facts(101, 200).repartition(2)),
      statsCols = Map("t" -> Seq("id")))
    val cn = register(root)
    val api = cat.snapshot().read(spark, "t")
    val sql = spark.sql(s"SELECT * FROM $cn.t")
    // the identical-plan pin (VERDICT r11 next #2): same physical files
    val sqlFiles = plannedFiles(sql).map(rel).sorted
    val apiFiles = api.inputFiles.toSeq.map(rel).sorted
    assert(sqlFiles == apiFiles,
      s"SQL file set ${sqlFiles.length} != API ${apiFiles.length}")
    assert(sql.count() == 200 && api.count() == 200)
    // row parity
    assert(sql.collect().map(_.getLong(0)).sorted
      .sameElements(api.collect().map(_.getLong(0)).sorted))
    // parquet filter pushdown reaches the DSv2 scan
    val plan = spark.sql(s"SELECT id FROM $cn.t WHERE id = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(id)"),
      s"no pushdown in plan:\n$plan")
  }

  test("time travel by manifest id, named ref, and commit timestamp") {
    val root = freshDir("travel")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 10))) // m1
    cat.setRef("audit", 1, tag = true) // m2
    Thread.sleep(15) // separate the _ts stamps
    val tMid = System.currentTimeMillis()
    Thread.sleep(15)
    cat.commit(Map("t" -> facts(1, 25))) // m3
    val cn = register(root)
    assert(spark.sql(s"SELECT * FROM $cn.t").count() == 25)
    assert(spark.sql(s"SELECT * FROM $cn.t VERSION AS OF 1").count() == 10)
    assert(spark.sql(s"SELECT * FROM $cn.t VERSION AS OF 'audit'").count() == 10)
    // TIMESTAMP AS OF between m2 and m3 serves the m2 state (t from m1)
    val ts = new java.sql.Timestamp(tMid)
    assert(spark.sql(
      s"SELECT * FROM $cn.t TIMESTAMP AS OF '$ts'").count() == 10)
    // unknown table and unknown ref fail loudly
    intercept[Exception] { spark.sql(s"SELECT * FROM $cn.nope").collect() }
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cn.t VERSION AS OF 'nope'").collect()
    }
    // discovery
    assert(spark.sql(s"SHOW TABLES IN $cn").collect()
      .map(_.getString(1)).contains("t"))
  }

  test("live deletes: extension session serves delete-applied rows; bare session fails loudly") {
    val root = freshDir("deletes")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 50)))
    cat.deleteWhere(spark, "t", "id", col("id") % 5 === 0)
    val cn = register(root)
    // without the extension: loud failure, never silent resurrection
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cn.t").collect()
    }
    assert(e.getMessage.contains("row-level deletes"),
      s"wrong failure: ${e.getMessage}")
    // with GraftExtensions: the rule swaps in the merge-on-read plan
    try {
      val withExt = graft.Harness.session()
      withExt.conf.set(s"spark.sql.catalog.$cn",
        classOf[GraftTableCatalog].getName)
      withExt.conf.set(s"spark.sql.catalog.$cn.path", root)
      val got = withExt.sql(s"SELECT id FROM $cn.t")
        .collect().map(_.getLong(0)).sorted
      val want = cat.snapshot().read(withExt, "t")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(want), "SQL != API under live deletes")
      assert(got.length == 40 && !got.contains(25L))
      // aggregations and filters compose over the substituted plan
      assert(withExt.sql(
        s"SELECT sum(amount) FROM $cn.t WHERE id <= 10").head().getLong(0) ==
        (1 to 10).filter(_ % 5 != 0).map(_ * 10L).sum)
      // a delete-free snapshot in the SAME session stays a pure scan
      assert(withExt.sql(s"SELECT * FROM $cn.t VERSION AS OF 1").count() == 50)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("metadata tables: commit history and refs over plain SQL") {
    val root = freshDir("meta")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 10))) // m1
    cat.setRef("prod", 1) // m2
    cat.setRef("audit", 1, tag = true) // m3
    cat.append(Map("t" -> facts(11, 20))) // m4
    val cn = register(root)
    val snaps = spark.sql(
      s"SELECT * FROM $cn.t.snapshots ORDER BY snapshot_id").collect()
    assert(snaps.map(_.getLong(0)).sameElements(Array(1L, 2L, 3L, 4L)))
    assert(snaps.map(_.getInt(2)).sameElements(Array(1, 1, 1, 2)),
      "dir counts: carry-forward then the append")
    assert(snaps.forall(!_.isNullAt(1)), "every manifest carries _ts")
    val refs = spark.sql(
      s"SELECT name, snapshot_id, is_tag FROM $cn.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(refs.sameElements(Array(("audit", 1L, true), ("prod", 1L, false))))
    // metadata tables compose with SQL (join back to the data path)
    val latest = spark.sql(
      s"""SELECT max(snapshot_id) FROM $cn.t.snapshots""").head().getLong(0)
    assert(spark.sql(s"SELECT * FROM $cn.t VERSION AS OF $latest").count() == 20)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cn.nope.snapshots").collect()
    }
  }

  // the physical file set a query PLANS (post sidecar pruning), read
  // off the executed scan's partitions — inputFiles answers from the
  // full listing by design, so it cannot see the skip
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.toSeq.map(_.filePath.toString)
        }.flatten
    }.flatten
  private def rel(p: String): String = p.split('/').takeRight(2).mkString("/")

  test("selective SQL reads open exactly the API-pruned file set") {
    val root = freshDir("sqlprune")
    val cat = new SnapshotCatalog(root)
    // 8 files of contiguous id ranges with zone maps, blooms on k
    cat.commit(Map("t" -> facts(1, 400).repartitionByRange(8, $"id")),
      statsCols = Map("t" -> Seq("id")), bloomCols = Map("t" -> Seq("k")))
    // an appended dir WITHOUT sidecars: conservatively kept by every probe
    cat.append(Map("t" -> facts(401, 450).coalesce(1)))
    val cn = register(root)
    val snap = cat.snapshot()
    val total = plannedFiles(spark.sql(s"SELECT * FROM $cn.t")).length
    assert(total == 9)

    // range probe == API pruneFiles file set, and it actually skips
    val sqlRange = spark.sql(s"SELECT * FROM $cn.t WHERE id BETWEEN 90 AND 110")
    val apiRange = snap.pruneFiles("t", "id", 90L, 110L)._1.toSet
    assert(plannedFiles(sqlRange).map(rel).toSet == apiRange,
      "SQL range probe planned a different file set than the API")
    assert(apiRange.size < total)
    assert(sqlRange.collect().map(_.getLong(0)).sorted.toSeq == (90L to 110L))

    // Bloom point probe on the string key == API pruneFilesPoint set
    val sqlPoint = spark.sql(s"SELECT * FROM $cn.t WHERE k = 'k123'")
    val apiPoint = snap.pruneFilesPoint("t", "k", "k123")._1.toSet
    assert(plannedFiles(sqlPoint).map(rel).toSet == apiPoint,
      "SQL point probe planned a different file set than the API")
    assert(apiPoint.size < total)
    assert(sqlPoint.count() == 1)

    // conjunctive range AND point = the intersection of both channels
    val sqlBoth = spark.sql(
      s"SELECT * FROM $cn.t WHERE k = 'k123' AND id >= 100 AND id <= 200")
    val expectBoth = apiPoint.intersect(
      snap.pruneFiles("t", "id", 100L, 200L)._1.toSet)
    assert(plannedFiles(sqlBoth).map(rel).toSet == expectBoth)
    assert(sqlBoth.count() == 1)

    // provably-empty probe: only the sidecar-less dir survives, the
    // query runs (zero rows) instead of erroring
    val none = spark.sql(s"SELECT * FROM $cn.t WHERE id > 100000")
    assert(plannedFiles(none).map(rel).toSet ==
      snap.pruneFilesSql("t", Seq(("id", Some(100000L), None)), Nil)._1.toSet)
    assert(plannedFiles(none).length == 1 && none.count() == 0)

    // a predicate the extractor cannot use keeps the full listing
    val opaque = spark.sql(s"SELECT * FROM $cn.t WHERE id % 7 = 0")
    assert(plannedFiles(opaque).length == total)
    assert(opaque.count() == (1 to 450).count(_ % 7 == 0))

    // IN-lists prune as the union of their point probes
    val sqlIn = spark.sql(s"SELECT * FROM $cn.t WHERE k IN ('k3', 'k444')")
    val apiIn = snap.pruneFilesPoint("t", "k", "k3")._1.toSet ++
      snap.pruneFilesPoint("t", "k", "k444")._1.toSet
    assert(plannedFiles(sqlIn).map(rel).toSet == apiIn)
    assert(sqlIn.count() == 2)

    // aggregate pushdown still composes over the pruning index
    assert(spark.sql(s"SELECT count(*) FROM $cn.t").head().getLong(0) == 450)

    // unfiltered reads answer from the full listing
    assert(plannedFiles(spark.sql(s"SELECT * FROM $cn.t")).length == total)
  }

  test("a version committed without sidecars serves SQL filters unpruned") {
    val root = freshDir("sqlnosc")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 100).repartition(4)))
    val cn = register(root)
    val df = spark.sql(s"SELECT * FROM $cn.t WHERE id BETWEEN 10 AND 20")
    assert(plannedFiles(df).length ==
      plannedFiles(spark.sql(s"SELECT * FROM $cn.t")).length)
    assert(df.count() == 11)
  }

  test("INSERT INTO appends through the transactional API; OVERWRITE replaces") {
    val root = freshDir("sqlwrite")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 10).coalesce(1))) // m1
    val cn = register(root)
    val beforeFiles = plannedFiles(spark.sql(s"SELECT * FROM $cn.t")).map(rel).toSet
    // INSERT INTO = fast-append: new manifest, prior files untouched
    spark.sql(s"INSERT INTO $cn.t VALUES (11L, 'k11', 110L), (12L, 'k12', 120L)")
    assert(cat.currentId.contains(2))
    assert(spark.sql(s"SELECT * FROM $cn.t").count() == 12)
    assert(beforeFiles.subsetOf(
      plannedFiles(spark.sql(s"SELECT * FROM $cn.t")).map(rel).toSet),
      "append must not rewrite existing files")
    // SQL write == API write: row parity against the API read
    assert(spark.sql(s"SELECT sum(amount) FROM $cn.t").head().getLong(0) ==
      cat.snapshot().read(spark, "t").agg(sum("amount")).head().getLong(0))
    // time travel still serves the pre-insert state
    assert(spark.sql(s"SELECT * FROM $cn.t VERSION AS OF 1").count() == 10)
    // INSERT OVERWRITE = replacing snapshot
    spark.sql(s"INSERT OVERWRITE $cn.t SELECT id, concat('x', id), id FROM range(1, 4)")
    assert(spark.sql(s"SELECT * FROM $cn.t").count() == 3)
    assert(cat.currentId.contains(3))
    assert(spark.sql(s"SELECT * FROM $cn.t VERSION AS OF 2").count() == 12)
  }

  test("a failed SQL write leaves no manifest and no visible rows") {
    val root = freshDir("sqlwfail")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 10)))
    val cn = register(root)
    val bad = spark.range(0, 10, 1, 2).map { i =>
      if (i > 3) throw new RuntimeException("boom"); (i, s"k$i", i)
    }.toDF("id", "k", "amount")
    intercept[Exception] { bad.writeTo(s"$cn.t").append() }
    assert(cat.currentId.contains(1), "failed write must not commit")
    assert(spark.sql(s"SELECT * FROM $cn.t").count() == 10)
    // the aborted dir is unreferenced; the age sweep can reclaim it
    assert(cat.snapshot().dataDirs("t").size == 1)
  }

  test("writer-ledger SQL appends are exactly-once; sidecar options index the landed dir") {
    val root = freshDir("sqlwonce")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 100).repartitionByRange(4, $"id")),
      statsCols = Map("t" -> Seq("id")))
    val cn = register(root)
    def batch = facts(101, 200).repartitionByRange(4, $"id")
    batch.writeTo(s"$cn.t").option("writerId", "w1").option("batchId", "7")
      .option("statsCols", "id").append()
    // the re-delivered micro-batch is a no-op (no manifest, no rows)
    batch.writeTo(s"$cn.t").option("writerId", "w1").option("batchId", "7")
      .option("statsCols", "id").append()
    assert(spark.sql(s"SELECT count(*) FROM $cn.t").head().getLong(0) == 200)
    assert(cat.currentId.contains(2), "re-delivery must not commit")
    // the landed dir carries stats: a selective SQL read prunes ACROSS
    // both the base commit's files and the SQL-appended ones
    val probe = spark.sql(s"SELECT * FROM $cn.t WHERE id BETWEEN 120 AND 130")
    val apiKept = cat.snapshot().pruneFiles("t", "id", 120L, 130L)._1.toSet
    assert(plannedFiles(probe).map(rel).toSet == apiKept)
    assert(apiKept.size < plannedFiles(spark.sql(s"SELECT * FROM $cn.t")).length)
    assert(probe.count() == 11)
    // writerId without batchId fails loudly
    intercept[Exception] {
      facts(1, 1).writeTo(s"$cn.t").option("writerId", "w1").append()
    }
    // DDL stays routed to the commit API
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cn.nope (id BIGINT) USING parquet")
    }
  }

  test("binary-searched TIMESTAMP AS OF picks the same snapshot as a linear scan") {
    val root = freshDir("ttsearch")
    val cat = new SnapshotCatalog(root)
    (1 to 8).foreach { i =>
      cat.commit(Map("t" -> facts(1, i).coalesce(1)))
      Thread.sleep(12) // separate the _ts stamps
    }
    val cn = register(root)
    // probe midpoints between every adjacent pair, plus both edges
    val stamps = (1 to 8).map(cat.commitMs)
    assert(stamps == stamps.sorted, "commit stamps must be monotone")
    val probes = stamps.sliding(2).map(w => (w(0) + w(1)) / 2).toSeq ++
      Seq(stamps.head, stamps.last, stamps.last + 1000)
    probes.foreach { ts =>
      val linear = (1 to 8).reverse.find(k => cat.commitMs(k) <= ts).get
      assert(GraftTableCatalog.resolveTimestamp(cat, ts).contains(linear),
        s"binary search diverged from linear scan at ts=$ts")
      // and through the SQL surface end to end
      val t = new java.sql.Timestamp(ts)
      assert(spark.sql(s"SELECT * FROM $cn.t TIMESTAMP AS OF '$t'").count()
        == linear, s"SQL TIMESTAMP AS OF diverged at ts=$ts")
    }
    // before all history: loud failure, not manifest 1
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cn.t TIMESTAMP AS OF '2001-01-01'").collect()
    }
  }

  test("TIMESTAMP AS OF survives non-monotone stamps (mtime-fallback copies)") {
    val root = freshDir("ttnonmono")
    val cat = new SnapshotCatalog(root)
    (1 to 5).foreach(i => cat.commit(Map("t" -> facts(1, i).coalesce(1))))
    // simulate an object-store copy resetting a legacy prefix's
    // effective stamps: rewrite the in-body _ts out of order
    def restamp(k: Int, ts: Long): Unit = {
      val p = java.nio.file.Paths.get(root, "_manifests", s"m=$k.json")
      val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .replaceAll("\"_ts\": \"\\d+\"", "\"_ts\": \"" + ts + "\"")
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    }
    Seq(100L, 900L, 200L, 300L, 400L).zipWithIndex.foreach { case (ts, i) =>
      restamp(i + 1, ts)
    }
    // binary resolution must agree with the exhaustive newest-to-oldest
    // scan on every probe: the at-or-after-newest fast path, the
    // consistent-probes path, and the detected-inversion fallback
    Seq(500L, 250L, 150L, 950L, 400L).foreach { ts =>
      val linear = (1 to 5).reverse.find(k => cat.commitMs(k) <= ts)
      assert(GraftTableCatalog.resolveTimestamp(cat, ts) == linear,
        s"diverged from the exhaustive scan at ts=$ts")
    }
    assert(GraftTableCatalog.resolveTimestamp(cat, 50L).isEmpty)
  }

  test("segment-folded dir lists serve through SQL unchanged") {
    val root = freshDir("sqlseg")
    val cat = new SnapshotCatalog(root, segFold = 3)
    (0 to 6).foreach(i =>
      cat.append(Map("t" -> facts(i * 10 + 1, i * 10 + 10).coalesce(1))))
    assert(cat.manifest(cat.currentId.get)("t").contains("@seg="))
    val cn = register(root)
    assert(spark.sql(s"SELECT count(*) FROM $cn.t").head().getLong(0) == 70)
    assert(plannedFiles(spark.sql(s"SELECT * FROM $cn.t")).length == 7)
  }

  test("SQL DROP TABLE is a metadata commit: head forgets, history still serves") {
    val root = freshDir("droptab")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 50), "u" -> facts(1, 5))) // m1
    val cn = register(root)
    assert(spark.sql(s"SELECT * FROM $cn.t").count() == 50)
    spark.sql(s"DROP TABLE $cn.t") // m2: metadata-only
    assert(spark.sql(s"SHOW TABLES IN $cn").collect()
      .map(_.getString(1)).toSeq == Seq("u"), "head must forget t")
    intercept[Exception] { spark.sql(s"SELECT * FROM $cn.t").collect() }
    // nothing was deleted: history time-travels to the dropped table
    assert(spark.sql(s"SELECT * FROM $cn.t VERSION AS OF 1").count() == 50)
    // IF EXISTS composes; a bare drop of a missing table fails loudly
    spark.sql(s"DROP TABLE IF EXISTS $cn.nope")
    intercept[Exception] { spark.sql(s"DROP TABLE $cn.gone") }
    // dropping is idempotent under racing writers (NoOp on absence)
    assert(cat.dropTable("t") == cat.currentId.get)
    // a later commit re-creates the name as a fresh table
    cat.commit(Map("t" -> facts(1, 3)))
    assert(spark.sql(s"SELECT * FROM $cn.t").count() == 3)
  }

  test("loadTable caches by manifest value: repeats reuse, writes invalidate, deletes bypass") {
    val root = freshDir("plancache")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 20).repartition(2)))
    val cn = register(root)
    spark.sql(s"SELECT count(*) FROM $cn.t").collect() // bind the catalog
    val c = spark.sessionState.catalogManager.catalog(cn)
      .asInstanceOf[GraftTableCatalog]
    val id = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty[String], "t")
    val a = c.loadTable(id)
    assert(c.loadTable(id) eq a,
      "unchanged table must reuse the cached instance (no re-listing)")
    cat.append(Map("t" -> facts(21, 25)))
    val b = c.loadTable(id)
    assert(!(b eq a), "an append must invalidate (value-keyed)")
    assert(spark.sql(s"SELECT count(*) FROM $cn.t").head().getLong(0) == 25)
    cat.deleteWhere(spark, "t", "id", col("id") === 1L)
    val d1 = c.loadTable(id)
    assert(!(d1 eq b) && !(c.loadTable(id) eq d1),
      "delete-carrying snapshots are never cached")
  }

  test(".files inventories exactly the pinned snapshot's data files") {
    val root = freshDir("files")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 50).repartition(3))) // m1: 3 files, seq 1
    cat.append(Map("t" -> facts(51, 60).repartition(2))) // m2: +2 files, seq 2
    // a delete vector is metadata, not a data file — invisible here
    cat.deleteWhere(spark, "t", "id", col("id") === 5L)
    val cn = register(root)
    val rows = spark.sql(
      s"SELECT file, sequence, size_bytes FROM $cn.t.files ORDER BY file")
      .collect()
    assert(rows.length == 5, s"expected 5 data files, got ${rows.length}")
    assert(rows.forall(_.getLong(2) > 0), "every file has on-disk bytes")
    assert(rows.map(_.getLong(1)).sorted.sameElements(Array(1L, 1L, 1L, 2L, 2L)),
      "sequence stamps follow the append history")
    // the inventory IS the planned scan's file set (pinned snapshot)
    val planned = plannedFiles(
      spark.sql(s"SELECT * FROM $cn.t VERSION AS OF 2")).map(rel).sorted
    val listed = spark.sql(s"SELECT file FROM $cn.t.files VERSION AS OF 2")
      .collect().map(_.getString(0)).sorted
    assert(listed.sameElements(planned), "files != planned scan set")
    // time travel: snapshot 1's inventory is the original 3 files
    assert(spark.sql(s"SELECT * FROM $cn.t.files VERSION AS OF 1").count() == 3)
  }

  test("SQL DELETE FROM is a metadata position-delete: no file rewritten, API and SQL agree") {
    val root = freshDir("sqldel")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 50).repartition(3)))
    val dirsBefore = cat.snapshot().dataDirs("t")
    val cn = register(root)
    // a DELETE matching nothing commits nothing
    spark.sql(s"DELETE FROM $cn.t WHERE id > 9000")
    assert(cat.currentId.get == 1, "empty DELETE landed a commit")
    // an untranslatable predicate fails analysis — never a wrong delete
    intercept[Exception] {
      spark.sql(s"DELETE FROM $cn.t WHERE id % 5 = 0")
    }
    assert(cat.currentId.get == 1)
    // range + string-inequality predicate: exact row-level semantics
    // even though `id` repeats nowhere — position deletes don't care
    spark.sql(s"DELETE FROM $cn.t WHERE id BETWEEN 10 AND 20 AND k <> 'k15'")
    val snap = cat.snapshot()
    // metadata-only: the data dirs are untouched, a delete entry landed
    assert(snap.dataDirs("t") == dirsBefore, "DELETE rewrote data files")
    assert(snap.deletes.getOrElse("t", Nil).nonEmpty, "no delete vector landed")
    val want = (1 to 50).filterNot(i => i >= 10 && i <= 20 && i != 15)
    assert(snap.read(spark, "t").collect().map(_.getLong(0)).sorted
      .sameElements(want.map(_.toLong)), "API read disagrees with the DELETE")
    // bare session: loud failure, never silent resurrection
    val e = intercept[Exception] { spark.sql(s"SELECT * FROM $cn.t").collect() }
    assert(e.getMessage.contains("row-level deletes"))
    // time travel still serves the pre-delete rows (plain scan, no vector)
    assert(spark.sql(s"SELECT * FROM $cn.t VERSION AS OF 1").count() == 50)
  }

  test("SQL DELETE composes with the extension session and TRUNCATE empties via the vector") {
    val root = freshDir("sqldel2")
    val cat = new SnapshotCatalog(root)
    cat.commit(Map("t" -> facts(1, 30).repartition(2)))
    val cn = register(root)
    spark.sql(s"DELETE FROM $cn.t WHERE k IN ('k3', 'k7') OR id >= 28")
    try {
      val withExt = graft.Harness.session()
      withExt.conf.set(s"spark.sql.catalog.$cn",
        classOf[GraftTableCatalog].getName)
      withExt.conf.set(s"spark.sql.catalog.$cn.path", root)
      val got = withExt.sql(s"SELECT id FROM $cn.t")
        .collect().map(_.getLong(0)).sorted
      val want = (1 to 30).filterNot(i => i == 3 || i == 7 || i >= 28)
      assert(got.sameElements(want.map(_.toLong)),
        "extension-session SQL read disagrees with the SQL DELETE")
      // a second DELETE stacks on the first (vectors accumulate)
      withExt.sql(s"DELETE FROM $cn.t WHERE id <= 2")
      assert(withExt.sql(s"SELECT count(*) FROM $cn.t").head().getLong(0) ==
        want.count(_ > 2))
      // TRUNCATE = delete-everything vector, data files still in place
      val dirs = cat.snapshot().dataDirs("t")
      withExt.sql(s"TRUNCATE TABLE $cn.t")
      assert(withExt.sql(s"SELECT count(*) FROM $cn.t").head().getLong(0) == 0)
      assert(cat.snapshot().dataDirs("t") == dirs)
      // compact folds the vectors copy-on-write; reads go pure-scan again
      cat.compact(withExt, "t")
      assert(cat.snapshot().deletes.getOrElse("t", Nil).isEmpty)
      assert(withExt.sql(s"SELECT count(*) FROM $cn.t").head().getLong(0) == 0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
