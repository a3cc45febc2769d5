package graft

import java.nio.file.{Files, Paths}

/** Metadata-layer scale probe (VERDICT r11 "Next round" #1): measures
  * the catalog's per-commit manifest cost and snapshot-resolve cost as
  * a table's dir count grows to 10^4-10^5 — the regime where the r11
  * single-document design was probe-pinned to seconds of driver parse.
  * Drives the REAL production code paths (`appendDirToken` fold,
  * manifest write bytes, `manifest()` parse, `resolveDirList`
  * expansion) with synthetic dir tokens, so no parquet data is needed
  * and the numbers isolate exactly the metadata layer.
  *
  * Usage: runMain graft.MetaProbe [nDirs ...]   (default 1000 10000 100000)
  * Prints one line per n: with segments (segFold=64) vs the legacy
  * inline layout — per-append manifest bytes written, final manifest
  * size, full-history metadata bytes, manifest parse time, and full
  * dir-list resolve time.
  */
object MetaProbe {
  def main(args: Array[String]): Unit = {
    // `runMain graft.MetaProbe travel [n ...]` — the TIMESTAMP AS OF /
    // .snapshots resolution probe (VERDICT r12 next #3)
    if (args.headOption.contains("travel")) {
      val ns = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
        else Seq(10000, 100000)
      ns.foreach(travelProbe)
      return
    }
    // `runMain graft.MetaProbe plancache [nDirs nStatements]` — the
    // repeated-SQL-statement planning probe (VERDICT r12 opt #8)
    if (args.headOption.contains("plancache")) {
      planCacheProbe(
        if (args.length > 1) args(1).toInt else 256,
        if (args.length > 2) args(2).toInt else 20)
      return
    }
    val ns = if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(1000, 10000, 100000)
    ns.foreach { n =>
      // the unmaintained segmented arm still accretes O(n/64) refs
      // per manifest (sum ~ n^2/64 bytes) — measured to 2*10^5,
      // extrapolated above; the maintained arm below is the real
      // 10^6 operating mode
      val seg = if (n <= 200000) run(n, segFold = Some(64)).toString
        else f"(extrapolated) last~${n / 64 * 20}%d B total~${n.toLong * n / 64 * 20 / 2 / (1 << 20)}%d MiB"
      // the legacy arm writes Theta(n^2) manifest bytes — the very
      // cost being demonstrated; past ~2*10^4 dirs that is >4 GB of
      // probe I/O, so report it measured below and extrapolated above
      val inl = if (n <= 20000) run(n, segFold = None).toString
        else f"(extrapolated) append~${n * 20L / 2}%d B/commit(avg) total~${n.toLong * n * 20 / 2 / (1 << 20)}%d MiB"
      println(f"n=$n%7d  segmented: $seg  |  inline: $inl")
      // the recommended operating mode at scale: periodic
      // compactMetadata (every 8192 commits) bounds the manifest's
      // ref count the way rewrite_manifests does in Iceberg — this is
      // the arm that reaches 10^6 dirs
      if (n >= 100000) {
        val m = run(n, segFold = Some(64), compactEvery = 8192)
        println(f"n=$n%7d  maintained: $m")
      }
    }
  }

  /** Time `TIMESTAMP AS OF` resolution and the `.snapshots` row
    * computation on an UNRETAINED n-manifest catalog, against the
    * pre-r13 linear scan — drives the REAL production helpers
    * ([[graft.sources.GraftTableCatalog.resolveTimestamp]] /
    * `snapshotRows`), so the numbers pin exactly what a SQL
    * `TIMESTAMP AS OF` pays at 10⁵ commits. */
  /** Per-SQL-STATEMENT planning cost on a many-dir catalog table
    * (VERDICT r12 opt #8): every `spark.sql("... FROM cn.t ...")`
    * calls `loadTable`, which builds a fresh `GraftSnapshotTable` —
    * one manifest parse + dir-list resolve, then (at scan building)
    * one parquet footer read for schema inference and an eager
    * `InMemoryFileIndex` listing of every dir. This probe measures
    * that repeated-statement cost directly: N single-file dirs,
    * then M selective count statements, reporting ms/statement —
    * the number a (path, table, manifest-value)-keyed table cache
    * would have to beat. */
  private def planCacheProbe(nDirs: Int, nStmts: Int): Unit = {
    val spark = Harness.session()
    import spark.implicits._
    val root = Files.createTempDirectory("metaprobe_pc").toString
    val cat = new graft.etl.SnapshotCatalog(root)
    // one commit then appends: nDirs dirs of one small file each
    cat.commit(Map("t" -> Seq((0L, "s0")).toDF("id", "s").coalesce(1)))
    (1 until nDirs).foreach { i =>
      cat.append(Map("t" -> Seq((i.toLong, s"s$i")).toDF("id", "s").coalesce(1)))
    }
    spark.conf.set("spark.sql.catalog.pcprobe",
      classOf[graft.sources.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.pcprobe.path", root)
    def statement(i: Int): Unit =
      spark.sql(s"SELECT count(*) FROM pcprobe.t WHERE id = $i").collect()
    statement(0) // classloading/codegen warm-up, outside the timer
    val t0 = System.nanoTime()
    (1 to nStmts).foreach(statement)
    val ms = (System.nanoTime() - t0) / 1e6
    println(f"plancache: nDirs=$nDirs%d stmts=$nStmts%d" +
      f" total=${ms}%.0f ms  per-statement=${ms / nStmts}%.1f ms")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.stop()
  }

  private def travelProbe(n: Int): Unit = {
    val root = Files.createTempDirectory("metaprobe_tt").toString
    val mdir = Paths.get(root, "_manifests")
    Files.createDirectories(mdir)
    (1 to n).foreach { k =>
      val body = s"""{\n  "_ts": "${1000000L + k}",\n  "t": "u=$k@$k"\n}"""
      Files.write(mdir.resolve(s"m=$k.json"), body.getBytes("UTF-8"))
    }
    val cat = new graft.etl.SnapshotCatalog(root)
    // mid-history, never before the first stamp (n=1 edge)
    val probeTs = 1000000L + math.max(1, n / 2)
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e6)
    }
    // warm the dentry cache so both arms measure resolution, not mkfs
    cat.linkedIds
    // the ONE O(n) step is the directory listing (a single readdir —
    // the same cost currentId already pays on every commit); the
    // search itself reads ~log2(n) manifests
    val (_, listMs) = time(cat.linkedIds)
    val (got, binMs) = time(
      graft.sources.GraftTableCatalog.resolveTimestamp(cat, probeTs))
    val (lin, linMs) = time(
      (1 to n).reverse.find(k => cat.commitMs(k) <= probeTs))
    require(got == lin, s"binary $got != linear $lin")
    val (rows, snapMs) = time(
      graft.sources.GraftTableCatalog.snapshotRows(cat, root, "t", 2048))
    val (rowsAll, snapAllMs) = time(
      graft.sources.GraftTableCatalog.snapshotRows(cat, root, "t", Int.MaxValue))
    println(f"n=$n%7d  timestamp-as-of: binary=$binMs%.1f ms" +
      f" (list=$listMs%.1f ms + ~${(math.log(n) / math.log(2)).ceil.toInt}%d reads," +
      f" hit m=${got.getOrElse(-1)}%d)  linear=$linMs%.1f ms" +
      f"  |  .snapshots: window2048=$snapMs%.1f ms" +
      f" (${rows.size}%d rows)  unbounded=$snapAllMs%.1f ms (${rowsAll.size}%d rows)")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private case class Res(appendBytes: Long, lastManifest: Long,
      totalBytes: Long, parseMs: Double, resolveMs: Double) {
    override def toString: String =
      f"append=$appendBytes%d B/commit(avg) last=$lastManifest%d B total=${totalBytes / 1024}%d KiB parse=$parseMs%.2f ms resolve=$resolveMs%.1f ms"
  }

  /** Simulate n fast-appends of one table, writing a real manifest per
    * commit (the commitRaw body-write path) and folding through the
    * real appendDirToken when segFold is set; legacy mode inlines the
    * whole pipe-separated list (the pre-r12 layout). */
  private def run(n: Int, segFold: Option[Int],
      compactEvery: Int = Int.MaxValue): Res = {
    val root = Files.createTempDirectory("metaprobe").toString
    val mdir = Paths.get(root, "_manifests")
    Files.createDirectories(mdir)
    var value: Option[String] = None
    var totalBytes = 0L
    val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    (1 to n).foreach { k =>
      val tok = f"u=$k%013d@$k"
      value = Some(segFold match {
        case Some(f) =>
          graft.etl.SnapshotCatalog.appendDirToken(mdir, value, tok, f, buf)
        case None => (value.toSeq :+ tok).mkString("|")
      })
      if (k % compactEvery == 0) {
        // the compactMetadata shape: the full resolved list freezes
        // into ONE segment and the entry collapses to one reference
        val resolved = graft.etl.SnapshotCatalog.resolveDirList(root, value.get)
        val nonce = f"c$k%012d"
        val p = mdir.resolve(s"seg=$nonce.txt")
        Files.write(p, resolved.mkString("|").getBytes("UTF-8"))
        buf += p
        value = Some(s"@seg=$nonce")
      }
      val body = s"""{\n  "t": "${value.get}"\n}"""
      val p = mdir.resolve(s"m=$k.json")
      Files.write(p, body.getBytes("UTF-8"))
      totalBytes += body.length
    }
    totalBytes += buf.map(Files.size).sum
    val lastManifest = Files.size(mdir.resolve(s"m=$n.json"))
    // parse = what EVERY commit/currentId/snapshot pays; resolve = what
    // a READ of the table pays once per snapshot
    val cat = new graft.etl.SnapshotCatalog(root)
    val t0 = System.nanoTime()
    val m = cat.manifest(n)
    val parseMs = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val dirs = graft.etl.SnapshotCatalog.resolveDirList(root, m("t"))
    val resolveMs = (System.nanoTime() - t1) / 1e6
    require(dirs.size == n, s"resolved ${dirs.size} of $n dirs")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    Res(totalBytes / n, lastManifest, totalBytes, parseMs, resolveMs)
  }
}
