package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Change-data-capture shapes: applying a change set to a base table
  * (the re-crawl upsert every living corpus needs) and slowly-changing-
  * dimension (SCD2) validity intervals over an event log. Both are
  * single-shuffle plans: the merge is ONE keyed full-outer join (no
  * per-row lookups, no driver loops — the MERGE INTO shape without a
  * table format), and the interval build is ONE window over the change
  * key. At 100 TB the merge join is the canonical "big join" — keyed
  * shuffle both sides, AQE handles skew — and the window state per key
  * is a single row.
  */
object Cdc {

  /** Slot representatives for the deterministic 16-file layouts: the
    * minimal id per pmod(hash(id), 16) slot, found by evaluating the
    * SAME hash()+pmod expressions HashPartitioning plans — mapping a
    * logical bucket to its representative and repartition(16, slotkey)
    * then puts each bucket on its own shuffle partition (one bucket ==
    * one task == one file), which is what makes the per-file zone maps
    * exactly DuckDB-replayable. Planning-scalar collect (1024 rows). */
  private def sixteenSlotReps(s: SparkSession): Map[Long, Long] = {
    val reps: Map[Long, Long] = s.range(0, 1024)
      .select(col("id"), pmod(hash(col("id")), lit(16)).as("slot"))
      .collect().groupBy(_.getInt(1)).map { case (slot, rows) =>
        slot.toLong -> rows.map(_.getLong(0)).min }
    require(reps.size == 16, s"hash-slot bijection incomplete: ${reps.size}/16")
    reps
  }

  /** Deterministic synthetic change set over the documents base:
    *  - doc_id % 17 == 0 -> update (normalized-case rewrite, rev 2)
    *  - doc_id % 23 == 0 -> delete tombstone
    *  - doc_id % 31 == 0 -> insert of a NEW id beyond max(doc_id)
    * (id + stride). Update wins over delete on the overlap (% 17 and
    * % 23): precedence is part of the merge semantics under test.
    */
  private def changeSet(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
    // 1-row scalar aggregate: the insert-id stride (broadcast scalar,
    // same pattern as the corpus-stats crossJoins)
    val stride = base.agg((max(col("doc_id")) + 1L).as("stride"))
    val upd = base.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"), upper(col("text")).as("text"), lit("U").as("op"))
    val del = base.filter(col("doc_id") % 23 === 0 && col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), lit(null).cast("string").as("text"), lit("D").as("op"))
    val ins = base.filter(col("doc_id") % 31 === 0).crossJoin(broadcast(stride))
      .select((col("doc_id") + col("stride")).as("doc_id"),
        concat(lit("ins: "), col("text")).as("text"), lit("I").as("op"))
    upd.unionByName(del).unionByName(ins)
  }

  /** MERGE of the change set into the base: deletes drop, updates
    * replace text (version 2), inserts append (version 1), untouched
    * rows pass through (version 1). One full-outer join on doc_id.
    */
  def cdcUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text").as("base_text"))
    val ch = changeSet(s, d)
      .select(col("doc_id"), col("text").as("ch_text"), col("op"))
    base.join(ch, Seq("doc_id"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(
        col("doc_id"),
        coalesce(col("ch_text"), col("base_text")).as("text"),
        when(col("op") === "U", 2L).otherwise(1L).as("version"),
        coalesce(col("op"), lit("keep")).as("last_op"))
  }

  /** SCD2 validity intervals over the events log, per (user, event
    * type): each event starts a version valid until the key's next
    * event; the latest version closes at the standard far-future
    * sentinel (9999-12-31 as epoch micros) rather than NULL — the
    * warehouse convention, and a deterministic literal both engines
    * agree on. Interval edges are emitted as epoch-MICROSECOND longs
    * (`unix_micros`), not raw timestamps: the driver's events parquet
    * is TIMESTAMP(NANOS), which DuckDB keeps at nano precision while
    * Spark truncates to micros, so a raw-timestamp output can never
    * hash-match across engines (the asof_join pattern). One window
    * shuffle; the (valid_from_us, event_id) tiebreak keeps interval
    * edges engine-exact.
    */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("valid_from_us"), col("event_id"))
    // epoch_us('9999-12-31 00:00:00Z') — fixed sentinel, tz-independent
    val endOfTimeUs = 253402214400000000L
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("valid_from_us"), col("value"))
      .withColumn("next_from", lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("next_from").isNull)
      .withColumn("valid_to_us", coalesce(col("next_from"), lit(endOfTimeUs)))
      .drop("next_from")
  }

  /** The MERGE driven THROUGH the transactional catalog, end to end —
    * commit 1 = the base corpus + its row/char summary as one atomic
    * snapshot, commit 2 = the merged table + its summary, then read
    * BOTH snapshots back through their pinned manifests and emit a
    * per-op census. The strict oracle gate now covers the snapshot
    * protocol itself: a torn commit, a wrong manifest resolve, or a
    * carry-forward bug would desynchronize the counts. snap=1 rows
    * prove time travel (the pre-merge state read AFTER the merge
    * landed); snap=2 rows are the merge result read through the
    * catalog rather than from the in-flight plan.
    *
    * The catalog dir is a derived artifact under target/, UNIQUE per
    * invocation (ADVICE r8 #2: Verify under nohup and Bench run as
    * separate JVMs and may evaluate this query concurrently — a shared
    * dir keyed only by source let one process delete the other's
    * in-flight catalog mid-protocol). Fresh root -> manifest ids are
    * deterministic; the census result is eagerly materialized
    * (localCheckpoint) and the scratch catalog deleted before
    * returning, so nothing dangles and no reader ever depends on it.
    * Scale: the commits are plain parquet writes of the merge output
    * (the sink a 100 TB upsert performs anyway); the census is two
    * scans of the written files.
    */
  def cdcSnapshotRoundtrip(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot(d, "cdcrt")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    def summarize(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        sum(length(col("text"))).as("n_chars"))
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    cat.commit(Map("docs" -> base, "docs_summary" -> summarize(base)))
    val s1 = cat.snapshot()
    val merged = cdcUpsert(s, d)
    cat.commit(Map("docs" -> merged.select(col("doc_id"), col("text")),
      "docs_summary" -> summarize(merged)))
    val s2 = cat.snapshot()
    require(s1.id == 1 && s2.id == 2, s"manifest ids ${s1.id}/${s2.id}")
    val pre = s1.read(s, "docs")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
      .select(lit(1L).as("snap"), lit("base").as("last_op"),
        col("n_docs"), col("n_chars"))
    // group the POST-merge snapshot by op, via a keyed join back to
    // the change ops (the snapshot holds only (doc_id, text))
    val ops = merged.select(col("doc_id"), col("last_op"))
    val post = s2.read(s, "docs").join(ops, "doc_id")
      .groupBy(col("last_op"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
      .select(lit(2L).as("snap"), col("last_op"), col("n_docs"), col("n_chars"))
    // cross-snapshot audit: the summary table committed WITH each
    // snapshot must equal the census of its docs table — one atomic
    // pair, or the strict gate fails
    val sums = s1.read(s, "docs_summary")
      .select(lit(1L).as("snap"), lit("summary").as("last_op"),
        col("n_rows").as("n_docs"), col("n_chars"))
      .unionByName(s2.read(s, "docs_summary")
        .select(lit(2L).as("snap"), lit("summary").as("last_op"),
          col("n_rows").as("n_docs"), col("n_chars")))
    finishScratch(pre.unionByName(post).unionByName(sums), root)
    }
  }

  /** A per-invocation scratch catalog root: source-dir key + UUID, so
    * concurrent JVMs (Verify under nohup vs Bench) can never collide,
    * plus fresh-root determinism for the manifest-id asserts. */
  private def scratchRoot(d: String, tag: String): String = {
    val key = new java.io.File(d).getCanonicalPath.stripPrefix("/")
      .replaceAll("[^A-Za-z0-9._-]", "_")
    s"target/snapcat/${tag}_${key}_${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** Eagerly materialize a bounded (census-sized) result and drop the
    * scratch catalog it was computed from: the returned frame must not
    * lazily re-scan a directory this invocation owns and deletes.
    * Driver-side rebuild, NOT localCheckpoint (ADVICE r9 #2): a
    * checkpoint truncates lineage but its blocks remain EVICTABLE
    * under memory pressure, and once the scratch root is deleted an
    * evicted block cannot be recomputed — the returned frame would
    * fail unrecoverably at consumption time. These results are census
    * tables of <= a dozen rows, so the collect is metadata traffic
    * (the same class as currentId), not a driver-side data path. */
  private def finishScratch(out: DataFrame, root: String): DataFrame = {
    val rows = out.collect()
    val local = out.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    local
  }

  /** Delete the scratch root on FAILURE too: Bench's timing harness
    * catches Throwable and moves on, and each catalog query runs
    * several times per bench/verify — an abandoned invocation must
    * not leak a UUID-named parquet catalog under target/snapcat. */
  private def withScratch[T](root: String)(body: => T): T =
    try body
    catch {
      case t: Throwable =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        throw t
    }

  /** Schema evolution driven through the catalog, oracle-gated
    * (VERDICT r8 #5): commit docs v1 as (doc_id, text); record a
    * metadata-only evolution step renaming text->body and adding a
    * typed lang column (no data rewrite); commit v2 data in the NEW
    * shape via commitSerializable against the evolution snapshot (the
    * conflict gate's success path); then read the OLD snapshot through
    * the CURRENT schema — the v1 parquet serves body from its physical
    * text column and lang as a typed NULL — and census both reads.
    * A wrong step stamp, a mis-ordered mapping, or a rename applied to
    * the wrong snapshot desynchronizes the counts and fails the strict
    * gate.
    */
  def snapshotSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot(d, "snapevo")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val v1 = Tables.documents(s, d).select(col("doc_id"), col("text"))
    cat.commit(Map("docs" -> v1))
    cat.evolveSchema("docs",
      renames = Map("body" -> "text"), added = Map("lang" -> "string"))
    val base = cat.snapshot() // manifest 2: the evolution step, data carried forward
    val v2 = Tables.documents(s, d).select(col("doc_id"),
      concat(lit("v2: "), col("text")).as("body"), col("lang"))
    cat.commitSerializable(base, Map("docs" -> v2))
    require(cat.currentId.contains(3), s"manifest ids ${cat.currentId}")
    val old = cat.readAsCurrentSchema(s, asOf = 1, table = "docs")
    val cur = cat.snapshot().read(s, "docs")
    def census(df: DataFrame, snap: Long) = df
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("body"))), lit(0L)).as("body_chars"),
        count(col("lang")).as("lang_rows"))
      .select(lit(snap).as("snap"), col("n_docs"), col("body_chars"),
        col("lang_rows"))
    finishScratch(census(old, 1L).unionByName(census(cur, 3L)), root)
    }
  }

  /** The CDC READ surface (the table-format `table_changes` shape):
    * the row-level change feed between two pinned snapshots of the
    * same table, derived from the snapshots themselves — the consumer
    * side of the catalog, where an incremental job reads WHAT CHANGED
    * between the version it last processed and the current one instead
    * of rescanning the table. One keyed full-outer join of the two
    * versions classifies every doc as insert (new only), delete (old
    * only), update (both, text differs — null-safe compare), or
    * unchanged; the emitted census is per-op counts + char mass. At
    * 100 TB both sides are the same bucketed table, so the join
    * co-locates; the feed is bounded by the union of the two versions,
    * and a real deployment would prune unchanged FILES first via
    * version-dir diffs (manifest names differ only for rewritten
    * tables) before the row-level diff.
    */
  /** Row-level diff of two versions of a table, classified per key:
    * insert (new only), delete (old only), update (both present,
    * null-safe-different value), unchanged. Presence is tracked with
    * explicit flags, NOT value nullness — a present row whose value
    * cell is NULL must never masquerade as an absent row (and an
    * insert/delete of a NULL-valued row must still classify as
    * insert/delete). Output: (key, old_<valueCol>, new_<valueCol>, op).
    */
  private[operators] def diffVersions(o: DataFrame, n: DataFrame,
      key: String, valueCol: String): DataFrame = {
    val left = o.select(col(key), col(valueCol).as(s"old_$valueCol"),
      lit(true).as("in_old"))
    val right = n.select(col(key), col(valueCol).as(s"new_$valueCol"),
      lit(true).as("in_new"))
    left.join(right, Seq(key), "full_outer")
      .select(col(key), col(s"old_$valueCol"), col(s"new_$valueCol"),
        when(coalesce(col("in_old"), lit(false)) === false, "insert")
          .when(coalesce(col("in_new"), lit(false)) === false, "delete")
          .when(not(col(s"old_$valueCol") <=> col(s"new_$valueCol")), "update")
          .otherwise("unchanged").as("op"))
  }

  def snapshotChangeFeed(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot(d, "chfeed")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    cat.commit(Map("docs" ->
      Tables.documents(s, d).select(col("doc_id"), col("text"))))
    cat.commit(Map("docs" ->
      cdcUpsert(s, d).select(col("doc_id"), col("text"))))
    val s1 = cat.snapshotAt(1)
    val s2 = cat.snapshotAt(2)
    val feed = diffVersions(s1.read(s, "docs"), s2.read(s, "docs"),
      key = "doc_id", valueCol = "text")
    val census = feed.groupBy(col("op"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(coalesce(col("new_text"), col("old_text")))), lit(0L))
          .as("n_chars"))
    finishScratch(census, root)
    }
  }

  /** Second-generation deterministic change set, applied ON TOP of the
    * first merge's result: doc_id % 13 == 0 -> lowercase update,
    * % 19 == 0 (not % 13) -> delete, % 29 == 0 -> insert beyond the
    * CURRENT max id. Same precedence semantics as [[changeSet]]; both
    * the ids and the texts are functions of the v2 state, so DuckDB
    * replays it from the merged CTE. */
  private def applyChange2(v2: DataFrame): DataFrame = {
    val stride = v2.agg((max(col("doc_id")) + 1L).as("stride2"))
    val upd = v2.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), lower(col("text")).as("text"), lit("U").as("op"))
    val del = v2.filter(col("doc_id") % 19 === 0 && col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), lit(null).cast("string").as("text"), lit("D").as("op"))
    val ins = v2.filter(col("doc_id") % 29 === 0).crossJoin(broadcast(stride))
      .select((col("doc_id") + col("stride2")).as("doc_id"),
        concat(lit("ins2: "), col("text")).as("text"), lit("I").as("op"))
    val ch = upd.unionByName(del).unionByName(ins)
    v2.select(col("doc_id"), col("text").as("base_text"))
      .join(ch.select(col("doc_id"), col("text").as("ch_text"), col("op")),
        Seq("doc_id"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(col("doc_id"), coalesce(col("ch_text"), col("base_text")).as("text"))
  }

  /** END-TO-END incremental maintenance over the change feed (VERDICT
    * r9 #6 — the actual point of a CDC feed): a downstream per-bucket
    * aggregate (bucket = doc_id % 7; count + char mass) is maintained
    * across THREE catalog commits by consuming ONLY
    * [[diffVersions]] deltas — never rescanning the table — and the
    * final maintained state is emitted NEXT TO the full recompute of
    * the same snapshot. The oracle computes every row from first
    * principles, so a wrong delta sign, a missed op class, a bucket
    * that should have emptied, or a feed that misclassifies a row all
    * desynchronize the `inc` channel and fail the strict gate; the
    * (3, inc) vs (3, full) row pairs additionally make the
    * incremental-equals-full proof visible in the output itself.
    *
    * Delta algebra per bucket: insert -> (+1, +len(new)), delete ->
    * (-1, -len(old)), update -> (0, len(new) - len(old)), unchanged
    * -> filtered before the aggregate. Applying a delta is a keyed
    * full-outer join on the BOUNDED bucket table (7 rows), and a
    * maintained bucket whose count reaches zero is dropped — exactly
    * the group a full groupBy would not emit. At 100 TB this is the
    * standard incremental-view-maintenance shape: the feed join keys
    * on the same bucketing as the aggregate, so only changed rows
    * shuffle, not the table.
    */
  def changeFeedMaintenance(s: SparkSession, d: String): DataFrame = {
    val root = scratchRoot(d, "cfmaint")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    cat.commit(Map("docs" ->
      Tables.documents(s, d).select(col("doc_id"), col("text"))))
    cat.commit(Map("docs" -> cdcUpsert(s, d).select(col("doc_id"), col("text"))))
    // v3 derives from the CATALOG's v2 (not the in-flight plan): the
    // feed consumer sees exactly what a downstream job would read
    val v2 = cat.snapshotAt(2).read(s, "docs")
    cat.commit(Map("docs" -> applyChange2(v2)))
    val Seq(s1, s2, s3) = Seq(1, 2, 3).map(cat.snapshotAt)
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy((col("doc_id") % 7).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
    def delta(oldS: graft.etl.SnapshotCatalog.Snapshot,
        newS: graft.etl.SnapshotCatalog.Snapshot): DataFrame =
      diffVersions(oldS.read(s, "docs"), newS.read(s, "docs"),
        key = "doc_id", valueCol = "text")
        .filter(col("op") =!= "unchanged")
        .groupBy((col("doc_id") % 7).as("bucket"))
        .agg(
          sum(when(col("op") === "insert", 1L)
            .when(col("op") === "delete", -1L).otherwise(0L)).as("dn"),
          sum(coalesce(when(col("op") =!= "delete",
              length(col("new_text"))), lit(0)).cast("long") -
            coalesce(when(col("op") =!= "insert",
              length(col("old_text"))), lit(0)).cast("long")).as("dc"))
    def applyDelta(a: DataFrame, dl: DataFrame): DataFrame =
      a.join(dl, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
          (coalesce(col("n_chars"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("n_chars"))
        .filter(col("n_docs") > 0)
    val a1 = aggOf(s1.read(s, "docs"))
    val a2inc = applyDelta(a1, delta(s1, s2))
    val a3inc = applyDelta(a2inc, delta(s2, s3))
    val a3full = aggOf(s3.read(s, "docs"))
    def tag(df: DataFrame, snap: Long, ch: String): DataFrame =
      df.select(lit(snap).as("snap"), lit(ch).as("channel"),
        col("bucket"), col("n_docs"), col("n_chars"))
    finishScratch(
      tag(a1, 1L, "full").unionByName(tag(a2inc, 2L, "inc"))
        .unionByName(tag(a3inc, 3L, "inc"))
        .unionByName(tag(a3full, 3L, "full")), root)
    }
  }

  /** File-pruned snapshot reads, oracle-gated end to end (VERDICT r9
    * #1): commit the corpus through the catalog laid out as 16 files
    * of CONTIGUOUS doc_id ranges with per-file min/max stats recorded
    * in the version's sidecar, then answer three quarter-anchored
    * range probes through [[graft.etl.SnapshotCatalog.Snapshot.readPruned]]
    * — each probe's row census AND its file-skip counts are emitted,
    * and every one of them is exactly replayable by the oracle because
    * the layout is deterministic: bucket = doc_id div span (pure
    * integer arithmetic), and each bucket maps to its OWN shuffle
    * partition via a slot key chosen so that pmod(hash(slot), 16) is a
    * bijection onto 0..15 (representatives found by evaluating Spark's
    * own hash() — the same Murmur3 expression repartition() plans — on
    * a driver-side candidate range). One bucket == one task == one
    * file, so the oracle's per-bucket min/max ARE the sidecar's
    * per-file zone maps, and a pruning bug on either side desyncs
    * n_files_read and fails the strict gate.
    *
    * Scale: the commit is the parquet write a 100 TB snapshot performs
    * anyway plus one column-pruned stats scan of the written files;
    * each probe then opens only the 1-2 overlapping files out of 16 —
    * the planning-time skip a real table format lives on. The dmax /
    * slot lookups are planning scalars (the partition-pruning-literal
    * class), not data collects.
    */
  def snapshotPrunedRead(s: SparkSession, d: String): DataFrame = {
    val base0 = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val maxRow = base0.agg(max(col("doc_id"))).head()
    // empty corpus: no key domain, no probes — the oracle's census JOIN
    // over an empty zones table yields zero rows; match its schema
    if (maxRow.isNullAt(0)) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq("probe_id", "n_docs", "n_chars",
        "n_files_read", "n_files_total").map(StructField(_, LongType)))
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    val root = scratchRoot(d, "snapprune")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val base = base0
    val dmax = maxRow.getLong(0)
    require(dmax >= 0, s"non-negative doc_id domain expected, got max $dmax")
    val span = (dmax + 16) / 16 // ceil((dmax+1)/16), floor-div exact on longs
    val reps = sixteenSlotReps(s)
    val bucketed = base
      .withColumn("bucket", expr(s"doc_id div $span"))
      .withColumn("slotkey", element_at(typedLit(reps), col("bucket")))
      .repartition(16, col("slotkey"))
      .select(col("doc_id"), col("text"))
    cat.commit(Map("docs" -> bucketed),
      statsCols = Map("docs" -> Seq("doc_id")))
    val snap = cat.snapshot()
    val per = (1 to 3).map { q =>
      val lo = (dmax + 1) * q / 4
      val hi = lo + (dmax + 1) / 64
      val (kept, total) = snap.pruneFiles("docs", "doc_id", lo, hi)
      require(kept.size < total,
        s"probe $q pruned nothing: ${kept.size}/$total")
      snap.readPruned(s, "docs", "doc_id", lo, hi)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
        .select(lit(q.toLong).as("probe_id"), col("n_docs"), col("n_chars"),
          lit(kept.size.toLong).as("n_files_read"),
          lit(total.toLong).as("n_files_total"))
    }.reduce(_.unionByName(_))
    finishScratch(per, root)
    }
  }

  /** Hilbert-CLUSTERED catalog writes + 2D-pruned reads, end to end
    * (the round-10 unification of the layout evals with the stats
    * sidecar): hilbert_skip_eval MEASURES that a space-filling-curve
    * layout bounds both dimensions per file; this query actually
    * SERVES that layout through the catalog. lineitem's
    * (l_partkey, l_suppkey) pairs are mapped to the same 8-bit grid
    * the skip evals use, assigned their Hilbert position via the
    * broadcast 65k-cell lookup, and written through
    * [[graft.etl.SnapshotCatalog]] as 16 files of CONTIGUOUS curve
    * ranges (file = hd*16 div 65536; each range forced onto its own
    * shuffle partition via the same hash-slot bijection
    * snapshotPrunedRead uses), with per-file [min, max] recorded for
    * BOTH raw key columns in the version's sidecar. Three 2D rectangle
    * probes (quarter-anchored, 1/8-wide in each dimension) are then
    * answered via `readPrunedMulti` — conjunctive pruning: a file is
    * opened only when its zone map overlaps the probe in BOTH
    * dimensions.
    *
    * Everything emitted — row census, key sums, n_files_read,
    * n_files_total — is exactly replayable by the oracle because the
    * layout is deterministic arithmetic: DuckDB re-derives the curve
    * with the 8-round RECURSIVE xy2d walk (same CTE hilbert_skip_eval
    * pinned), re-groups the per-file zone maps, and re-decides every
    * pruning call. A wrong curve, a wrong sidecar, a broken
    * one-range-one-file layout, or a conjunction bug in
    * pruneFilesMulti all desynchronize the file counts and fail the
    * strict gate.
    *
    * Scale: this is the "liquid clustering" serving path — the commit
    * is the write a clustered 100 TB table performs anyway (one extra
    * column-pruned stats scan), and each 2D probe opens only the 1-3
    * curve-range files whose boxes intersect the rectangle instead of
    * all 16. The curve lookup is a broadcast join; the rep/slot
    * lookups are planning scalars, not data collects.
    */
  def hilbertClusteredRead(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.lineitem(s, d).select(
      col("l_partkey").cast("long").as("pk"),
      col("l_suppkey").cast("long").as("sk"))
    val rngRow = raw.agg(min(col("pk")).as("pmin"), max(col("pk")).as("pmax"),
      min(col("sk")).as("smin"), max(col("sk")).as("smax")).head()
    if (rngRow.isNullAt(0)) {
      // empty corpus: no key domain, no zones — the oracle's fr JOIN
      // over an empty zones table yields zero rows; match its schema
      import org.apache.spark.sql.types._
      val schema = StructType(Seq("probe_id", "n_rows", "pk_sum", "sk_sum",
        "n_files_read", "n_files_total").map(StructField(_, LongType)))
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    val (pmin, pmax, smin, smax) = (rngRow.getLong(0), rngRow.getLong(1),
      rngRow.getLong(2), rngRow.getLong(3))
    val root = scratchRoot(d, "hilbclu")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val reps = sixteenSlotReps(s)
    val clustered = raw
      .withColumn("p8", expr(s"(pk - $pmin) * 256 div (${pmax - pmin + 1})"))
      .withColumn("s8", expr(s"(sk - $smin) * 256 div (${smax - smin + 1})"))
      .join(broadcast(Profile.hilbertTable(s)),
        col("p8") === col("hx") && col("s8") === col("hy"))
      .withColumn("file", expr("(hd * 16) div 65536"))
      .withColumn("slotkey", element_at(typedLit(reps), col("file")))
      .repartition(16, col("slotkey"))
      .select(col("pk"), col("sk"))
    cat.commit(Map("li" -> clustered),
      statsCols = Map("li" -> Seq("pk", "sk")))
    val snap = cat.snapshot()
    val per = (1 to 3).map { q =>
      val plo = pmin + (pmax - pmin + 1) * q / 4
      val phi = plo + (pmax - pmin + 1) / 8
      val slo = smin + (smax - smin + 1) * q / 4
      val shi = slo + (smax - smin + 1) / 8
      val preds = Map("pk" -> (plo: Any, phi: Any), "sk" -> (slo: Any, shi: Any))
      val (kept, total) = snap.pruneFilesMulti("li", preds)
      require(kept.size < total,
        s"2D probe $q pruned nothing: ${kept.size}/$total")
      snap.readPrunedMulti(s, "li", preds)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("pk")), lit(0L)).as("pk_sum"),
          coalesce(sum(col("sk")), lit(0L)).as("sk_sum"))
        .select(lit(q.toLong).as("probe_id"), col("n_rows"),
          col("pk_sum"), col("sk_sum"),
          lit(kept.size.toLong).as("n_files_read"),
          lit(total.toLong).as("n_files_total"))
    }.reduce(_.unionByName(_))
    finishScratch(per, root)
    }
  }

  /** Bloom-sidecar point-lookup pruning, oracle-gated end to end: the
    * skipping story zone maps cannot finish. The corpus is committed
    * through the catalog as 16 doc_id-range files carrying BOTH
    * sidecars for a scrambled high-cardinality key k (an affine
    * permutation of doc_id mod the Mersenne prime — uncorrelated with
    * the file layout, the shape of a url-hash/content-hash column):
    * the min/max sidecar is useless for `k = v` (every file's zone
    * spans nearly the whole key domain) while the Bloom keeps only
    * files whose filter admits the key. Eight point probes — four
    * PRESENT keys at quarter anchors, four ABSENT in-domain keys
    * (anchor key + 1) — are answered via `readPrunedPoint`, and each
    * probe emits the row census plus all three file counts
    * (bloom-kept, zone-kept, total).
    *
    * Cross-engine: the Bloom is deterministic modular arithmetic (see
    * [[graft.etl.SnapshotCatalog.bloomH1]]), so DuckDB re-derives every
    * per-file filter DECISION — a probe bit is set iff some row of the
    * file hashes either of its two positions onto it — and the strict
    * gate covers present-never-skipped (one-sided error), the exact
    * false-positive keeps on absent keys, and the zone/bloom contrast.
    *
    * Scale: this is the needle-in-100TB lookup path — open ~1 file
    * instead of N when the key column's layout correlation is zero.
    * The sidecar costs one column-pruned scan + a (file, word)
    * aggregate at commit time, sized 12 bits/row, stored sparse.
    */
  def bloomPrunedRead(s: SparkSession, d: String): DataFrame = {
    val P = graft.etl.SnapshotCatalog.BloomP
    val base0 = Tables.documents(s, d).select(col("doc_id"))
    val maxRow = base0.agg(max(col("doc_id"))).head()
    if (maxRow.isNullAt(0)) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq("probe_id", "present", "n_rows",
        "n_files_bloom", "n_files_zone", "n_files_total")
        .map(StructField(_, LongType)))
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    val dmax = maxRow.getLong(0)
    require(dmax >= 0, s"non-negative doc_id domain expected, got max $dmax")
    val span = (dmax + 16) / 16
    // the four present anchors: the largest doc_id at or below each
    // fifth of the domain — one tiny conditional-max aggregate
    val anchors: Seq[Long] = {
      val lims = (1 to 4).map(q => (dmax + 1) * q / 5)
      val r = base0.agg(
        max(when(col("doc_id") <= lims(0), col("doc_id"))).as("a1"),
        max(when(col("doc_id") <= lims(1), col("doc_id"))).as("a2"),
        max(when(col("doc_id") <= lims(2), col("doc_id"))).as("a3"),
        max(when(col("doc_id") <= lims(3), col("doc_id"))).as("a4")).head()
      (0 to 3).map { i =>
        require(!r.isNullAt(i), s"no doc_id at or below anchor ${lims(i)}")
        r.getLong(i)
      }
    }
    def scramble(id: Long): Long = ((id % P) * 1103515245L + 12345L) % P
    val root = scratchRoot(d, "bloompt")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val reps = sixteenSlotReps(s)
    val keyed = base0
      .withColumn("k", expr(s"((doc_id % $P) * 1103515245 + 12345) % $P"))
      .withColumn("bucket", expr(s"doc_id div $span"))
      .withColumn("slotkey", element_at(typedLit(reps), col("bucket")))
      .repartition(16, col("slotkey"))
      .select(col("doc_id"), col("k"))
    cat.commit(Map("docs" -> keyed),
      statsCols = Map("docs" -> Seq("k")),
      bloomCols = Map("docs" -> Seq("k")))
    val snap = cat.snapshot()
    val probes: Seq[(Long, Long, Long)] = // (probe_id, present, key)
      anchors.zipWithIndex.map { case (a, i) =>
        (i + 1L, 1L, scramble(a)) } ++
      anchors.zipWithIndex.map { case (a, i) =>
        (i + 5L, 0L, (scramble(a) + 1L) % P) }
    val per = probes.map { case (pid, present, kv) =>
      val (keptB, total) = snap.pruneFilesPoint("docs", "k", kv)
      val (keptZ, _) = snap.pruneFiles("docs", "k", kv, kv)
      snap.readPrunedPoint(s, "docs", "k", kv)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(pid).as("probe_id"), lit(present).as("present"),
          col("n_rows"),
          lit(keptB.size.toLong).as("n_files_bloom"),
          lit(keptZ.size.toLong).as("n_files_zone"),
          lit(total.toLong).as("n_files_total"))
    }.reduce(_.unionByName(_))
    finishScratch(per, root)
    }
  }

  /** STRING-key Bloom point lookups through the catalog, oracle-gated:
    * the corpus is committed with a doc-id-shaped STRING key
    * (`doc-<id>` — the URL/document-id lookup shape a 100 TB corpus
    * actually serves) and a Bloom sidecar built over hash60 of the
    * key (the cross-engine md5-60 kernel). Probes hash the SAME way
    * at plan time, so DuckDB replays every per-file bit decision from
    * `('0x' || substr(md5(key), 1, 15))::BIGINT` up through the
    * modular hash family — present keys are never skipped, absent
    * keys keep only hash-collision files, and the string EQUALITY
    * residual re-checks the actual key so collisions never leak rows.
    */
  def bloomStringLookup(s: SparkSession, d: String): DataFrame = {
    val P = graft.etl.SnapshotCatalog.BloomP
    val base0 = Tables.documents(s, d).select(col("doc_id"))
    val maxRow = base0.agg(max(col("doc_id"))).head()
    if (maxRow.isNullAt(0)) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq("probe_id", "present", "n_rows",
        "n_files_bloom", "n_files_total").map(StructField(_, LongType)))
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    val dmax = maxRow.getLong(0)
    require(dmax >= 0, s"non-negative doc_id domain expected, got max $dmax")
    val span = (dmax + 16) / 16
    val anchors: Seq[Long] = {
      val lims = (1 to 4).map(q => (dmax + 1) * q / 5)
      val r = base0.agg(
        max(when(col("doc_id") <= lims(0), col("doc_id"))).as("a1"),
        max(when(col("doc_id") <= lims(1), col("doc_id"))).as("a2"),
        max(when(col("doc_id") <= lims(2), col("doc_id"))).as("a3"),
        max(when(col("doc_id") <= lims(3), col("doc_id"))).as("a4")).head()
      (0 to 3).map { i =>
        require(!r.isNullAt(i), s"no doc_id at or below anchor ${lims(i)}")
        r.getLong(i)
      }
    }
    val root = scratchRoot(d, "bloomstr")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val reps = sixteenSlotReps(s)
    val keyed = base0
      .withColumn("k", concat(lit("doc-"), col("doc_id")))
      .withColumn("bucket", expr(s"doc_id div $span"))
      .withColumn("slotkey", element_at(typedLit(reps), col("bucket")))
      .repartition(16, col("slotkey"))
      .select(col("doc_id"), col("k"))
    cat.commit(Map("docs" -> keyed), bloomCols = Map("docs" -> Seq("k")))
    val snap = cat.snapshot()
    val probes: Seq[(Long, Long, String)] = // (probe_id, present, key)
      anchors.zipWithIndex.map { case (a, i) =>
        (i + 1L, 1L, s"doc-$a") } ++
      (1 to 4).map(q => (q + 4L, 0L, s"doc-${dmax + 1 + q}"))
    val per = probes.map { case (pid, present, kv) =>
      val (keptB, total) = snap.pruneFilesPoint("docs", "k", kv)
      snap.readPrunedPoint(s, "docs", "k", kv)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(pid).as("probe_id"), lit(present).as("present"),
          col("n_rows"),
          lit(keptB.size.toLong).as("n_files_bloom"),
          lit(total.toLong).as("n_files_total"))
    }.reduce(_.unionByName(_))
    // the hash family constants must stay in lockstep with the oracle
    require(P == 2147483647L)
    finishScratch(per, root)
    }
  }

  /** Metadata-only range counts through the catalog, oracle-gated: the
    * stats sidecar records the parquet column-chunk triple
    * (min, max, non-null count) per file, so a range count sums the
    * sidecar counts of files the probe FULLY CONTAINS, scans only the
    * 1-2 seam files it straddles, and skips disjoint files — see
    * [[graft.etl.SnapshotCatalog.Snapshot.countPruned]]. The corpus is
    * committed as 16 contiguous doc_id-range files; three half-domain
    * probes anchored mid-file on both ends force all three classes
    * (contained interior, straddled seams, disjoint exterior) in every
    * probe. Emitted: the hybrid count plus all three file-class
    * censuses — the oracle recomputes the classification from per-file
    * zone maps and the count from raw rows, so a wrong containment
    * test, a count drawn from the wrong sidecar field (row count vs
    * non-null count), or a seam mis-scan all fail the strict gate.
    *
    * Scale: count-over-partition is the most common warehouse probe
    * there is; at 100 TB this path answers it from planning metadata
    * with two seam-file reads instead of a full scan.
    */
  def metadataCountRead(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("probe_id", "n_rows", "n_files_scanned",
      "n_files_contained", "n_files_total").map(StructField(_, LongType)))
    val base0 = Tables.documents(s, d).select(col("doc_id"))
    val maxRow = base0.agg(max(col("doc_id"))).head()
    if (maxRow.isNullAt(0))
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val dmax = maxRow.getLong(0)
    require(dmax >= 0, s"non-negative doc_id domain expected, got max $dmax")
    val span = (dmax + 16) / 16
    val root = scratchRoot(d, "metacnt")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val reps = sixteenSlotReps(s)
    val bucketed = base0
      .withColumn("bucket", expr(s"doc_id div $span"))
      .withColumn("slotkey", element_at(typedLit(reps), col("bucket")))
      .repartition(16, col("slotkey"))
      .select(col("doc_id"))
    cat.commit(Map("docs" -> bucketed),
      statsCols = Map("docs" -> Seq("doc_id")))
    val snap = cat.snapshot()
    val rows = (1 to 3).map { q =>
      // mid-file anchors on BOTH ends: the probe straddles its boundary
      // files, fully contains the interior, and misses the exterior
      val lo = (dmax + 1) * q / 8 + span / 2
      val hi = (dmax + 1) * (q + 4) / 8 - span / 3
      val (cnt, scanned, contained, total) =
        snap.countPruned(s, "docs", "doc_id", lo, hi)
      require(contained > 0, s"probe $q: metadata path unused")
      require(scanned < total, s"probe $q: every file scanned")
      org.apache.spark.sql.Row(q.toLong, cnt, scanned.toLong,
        contained.toLong, total.toLong)
    }
    finishScratch(
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema), root)
    }
  }

  /** Row-level deletes through the catalog, merge-on-read then
    * copy-on-write, oracle-gated end to end: the corpus is committed
    * once; two equality-delete commits land WITHOUT rewriting any data
    * file (takedown keys doc_id % 13 == 0, then PII-shaped keys
    * doc_id % 7 == 0 among the survivors — accumulation under test);
    * every read in between anti-joins the accumulated delete files.
    * compact() then folds the deletes copy-on-write (reads THROUGH
    * them, and its replacement commit clears the `_del` entry), after
    * which the same census must hold with ZERO delete entries live —
    * and the pre-delete snapshot still serves every original row
    * (time travel is delete-immune). Emitted per phase: row census,
    * char mass, and the live delete-entry count read from the real
    * manifest; the oracle recomputes each phase's census from first
    * principles and pins the entry counts as protocol constants.
    *
    * Scale: a 100 TB corpus drops 0.1% of rows (takedowns, erasure
    * requests) by writing kilobytes of keys, not by rewriting the
    * table — the rewrite cost moves to the next scheduled compaction,
    * exactly the Iceberg equality-delete/compaction split.
    */
  def rowDeleteRoundtrip(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "rowdel")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    cat.commit(Map("docs" -> base))
    val baseSnapId = cat.currentId.get
    cat.deleteWhere(s, "docs", "doc_id", col("doc_id") % 13 === 0)
    cat.deleteWhere(s, "docs", "doc_id",
      col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
    def delEntries(): Long =
      cat.manifest(cat.currentId.get).get("_del:docs")
        .map(_.split('|').length.toLong).getOrElse(0L)
    def census(df: DataFrame, phase: Long, nDel: Long): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
        .select(lit(phase).as("phase"), col("n_docs"), col("n_chars"),
          lit(nDel).as("n_del_entries"))
    val mor = census(cat.snapshot().read(s, "docs"), 2L, delEntries())
    // time travel: the pre-delete snapshot still serves every row
    val tt = census(cat.snapshotAt(baseSnapId).read(s, "docs"), 1L, 0L)
    cat.compact(s, "docs", numFiles = 4)
    val cow = census(cat.snapshot().read(s, "docs"), 3L, delEntries())
    finishScratch(tt.unionByName(mor).unionByName(cow), root)
    }
  }

  /** POSITION deletes through the catalog, oracle-gated (VERDICT r10
    * "What's missing" #2 / "Next round" #4): every doc_id % 11 == 0
    * row is committed TWICE as byte-identical physical instances — the
    * case an equality delete cannot split (deleting by key drops BOTH
    * copies). The duplicate instances are then vectored out by
    * physical address: [[graft.etl.SnapshotCatalog.Snapshot.readWithPos]]
    * serves each row's (file, ordinal), a keep-first window elects the
    * surviving instance per key, and
    * [[graft.etl.SnapshotCatalog.deletePositions]] lands the rest as a
    * (file, pos) delete vector — a metadata-only commit, no data file
    * rewritten. Phases: 1 = the pre-delete snapshot read AFTER the
    * vector landed (time-travel immunity), 2 = merge-on-read through
    * the vector, 3 = after compact() folds it copy-on-write. The
    * n_dupkeys_present channel is the proof-of-expressiveness: it
    * stays at the full duplicate-key count in every phase — an
    * equality delete would have zeroed it in phases 2-3.
    *
    * Scale: dedup pipelines at 100 TB remove specific duplicate
    * INSTANCES (the keys are, by construction, not unique); position
    * vectors express that as kilobytes of (file, ordinal) pairs,
    * with the rewrite deferred to scheduled compaction — Iceberg's
    * position-delete/rewrite split.
    */
  def positionDeleteRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "posdel")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val dups = base.filter(col("doc_id") % 11 === 0)
    cat.commit(Map("docs" -> base.unionByName(dups)
      .repartition(8, col("doc_id"))))
    val preId = cat.currentId.get
    val s0 = cat.snapshot()
    // keep the first physical instance per key (address order),
    // vector the rest — which copy survives is layout-dependent, but
    // the copies are identical so every census below is deterministic
    val vec = s0.readWithPos(s, "docs")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("_file"), col("_pos"))))
      .filter(col("rn") > 1).select(col("_file"), col("_pos"))
    cat.deletePositions(s, "docs", s0, vec)
    def delEntries(): Long =
      cat.manifest(cat.currentId.get).get("_del:docs")
        .map(_.split('|').length.toLong).getOrElse(0L)
    def census(df: DataFrame, phase: Long, nDel: Long): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"),
          count_distinct(when(col("doc_id") % 11 === 0, col("doc_id")))
            .as("n_dupkeys_present"))
        .select(lit(phase).as("phase"), col("n_docs"), col("n_chars"),
          coalesce(col("n_dupkeys_present"), lit(0L)).as("n_dupkeys_present"),
          lit(nDel).as("n_del_entries"))
    val mor = census(cat.snapshot().read(s, "docs"), 2L, delEntries())
    val tt = census(cat.snapshotAt(preId).read(s, "docs"), 1L, 0L)
    cat.compact(s, "docs", numFiles = 4)
    val cow = census(cat.snapshot().read(s, "docs"), 3L, delEntries())
    finishScratch(tt.unionByName(mor).unionByName(cow), root)
    }
  }

  /** Fast-append ingest served end to end, oracle-gated: the corpus
    * arrives as three doc_id-range slices — one initial commit plus
    * two APPENDS (no existing file rewritten; each appended dir joins
    * the table's dir list with its own stats sidecar). Three probes
    * then exercise the multi-dir read surface: a full-table census, a
    * range probe pruned to ONE of the three dirs, and a metadata-only
    * count whose range exactly contains the middle slice (zero files
    * scanned). The oracle re-derives the slice layout from pure
    * arithmetic (which third a doc_id falls in), re-groups per-slice
    * zone maps, and re-decides the pruning/containment calls — a
    * broken dir-list merge, a sidecar lost on append, or cross-dir
    * file-name collision in the planner all desync the counts.
    *
    * Scale: this IS the ingest shape — a 100 TB table grows by
    * appending the day's partition, never by rewriting; reads must
    * prune across the accumulated dirs as if they were one layout.
    */
  def appendIngestRead(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("probe_id", "n_docs", "n_chars",
      "n_files_read", "n_files_total").map(StructField(_, LongType)))
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val maxRow = base.agg(max(col("doc_id"))).head()
    if (maxRow.isNullAt(0))
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val dmax = maxRow.getLong(0)
    require(dmax >= 0, s"non-negative doc_id domain expected, got max $dmax")
    val t1 = (dmax + 1) / 3
    val t2 = (dmax + 1) * 2 / 3
    val root = scratchRoot(d, "appendrd")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    def slice(lo: Long, hiEx: Long) = base
      .filter(col("doc_id") >= lo && col("doc_id") < hiEx).coalesce(1)
    cat.commit(Map("docs" -> slice(0, t1)),
      statsCols = Map("docs" -> Seq("doc_id")))
    cat.append(Map("docs" -> slice(t1, t2)),
      statsCols = Map("docs" -> Seq("doc_id")))
    cat.append(Map("docs" -> slice(t2, dmax + 1)),
      statsCols = Map("docs" -> Seq("doc_id")))
    val snap = cat.snapshot()
    require(snap.tables("docs").split('|').length == 3,
      "three dirs expected after two appends")
    def census(df: DataFrame, pid: Long, read: Long, total: Long): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
        .select(lit(pid).as("probe_id"), col("n_docs"), col("n_chars"),
          lit(read).as("n_files_read"), lit(total).as("n_files_total"))
    // probe 1: full multi-dir read
    val (_, total0) = snap.pruneFiles("docs", "doc_id", 0L, dmax)
    val p1 = census(snap.read(s, "docs"), 1L, total0.toLong, total0.toLong)
    // probe 2: a range inside the middle slice prunes to its dir
    val (plo, phi) = (t1 + (t2 - t1) / 4, t1 + (t2 - t1) / 2)
    val (kept, total) = snap.pruneFiles("docs", "doc_id", plo, phi)
    require(kept.size < total, s"append probe pruned nothing: ${kept.size}/$total")
    val p2 = census(snap.readPruned(s, "docs", "doc_id", plo, phi), 2L,
      kept.size.toLong, total.toLong)
    // probe 3: metadata-only count of exactly the middle slice
    val (cnt, scanned, contained, total3) =
      snap.countPruned(s, "docs", "doc_id", t1, t2 - 1)
    require(contained > 0 && scanned == 0,
      s"metadata path expected: contained=$contained scanned=$scanned")
    val p3 = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(3L, cnt, 0L, scanned.toLong, total3.toLong)), schema)
    finishScratch(p1.unionByName(p2).unionByName(p3), root)
    }
  }

  /** The ASPEP serving shape driven end to end THROUGH the catalog
    * (VERDICT r10 #3 — composing the finished pieces): the reference's
    * pipeline is "combine per-year workbooks -> derive per-year
    * cross-section stats -> re-derive when a year is revised"; here
    * the same lifecycle runs against the transactional catalog on the
    * TPC-H corpus, fully oracle-gated:
    *
    *  1. INGEST: the (nation, year, revenue) panel lands as one commit
    *     plus one fast-APPEND per later year (year = the natural
    *     increment), each dir carrying a `year` stats sidecar;
    *  2. DERIVE: per-year cross-sections (nation count, mean, median
    *     revenue — the US-mean/US-median shape) computed from a PINNED
    *     snapshot and committed alongside via commitSerializable
    *     (readTables = panel: full-serializable, a concurrent revision
    *     would abort the stale derivation);
    *  3. REVISE: the latest year re-ingested as MERGE-as-metadata
    *     (equality delete on `year` + fast-append of the doubled-
    *     revenue slice — zero base files rewritten);
    *  4. MAINTAIN: the change feed ([[diffVersions]]) between the two
    *     pinned snapshots names the touched years; the stats table is
    *     maintained INCREMENTALLY — untouched years carried forward
    *     from the committed stats, touched years recomputed from a
    *     PRUNED read that opens only the revised year's dirs — and
    *     committed back serializably.
    *
    * Emitted: the maintained stats read back through the catalog
    * (channel `inc`), the full recompute of the final snapshot
    * (channel `full`, row-equal by construction — the visible
    * incremental-equals-full proof), and the feed census (channel
    * `feed`). The oracle recomputes all three channels from first
    * principles, so a wrong carry-forward, a missed touched year, a
    * stale pinned read, or a feed misclassification all desynchronize
    * the strict gate.
    *
    * Scale: this is the 100 TB maintenance shape — a yearly revision
    * touches 1/N of the table; the catalog turns "recompute the
    * stats" into "open the revised year's dirs, carry the rest".
    */
  def aspepCatalogRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("yr", LongType), StructField("channel", StringType),
      StructField("n_rows", LongType), StructField("mean_rev", DoubleType),
      StructField("median_rev", DoubleType)))
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    // materialized ONCE (the star join + agg is the expensive stage);
    // every per-year slice write below re-reads the ~175-row panel,
    // never re-executes the join
    val panel = Share(li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("yr"))
      .agg(graft.functions.ExactSum.sumExact(
        col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .withColumn("pk", concat(col("nation"), lit("#"), col("yr"))))
    val years = panel.select(col("yr")).distinct()
      .collect().map(_.getLong(0)).sorted // bounded: TPC-H spans 7 years
    if (years.isEmpty)
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val maxY = years.last
    def statsOf(df: DataFrame): DataFrame = df
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_rows"),
        round(avg(col("revenue")), 4).as("mean_rev"),
        round(median(col("revenue")), 4).as("median_rev"))
    val root = scratchRoot(d, "aspepcat")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    years.zipWithIndex.foreach { case (y, i) =>
      val slice = panel.filter(col("yr") === y).coalesce(1)
      if (i == 0) cat.commit(Map("panel" -> slice),
        statsCols = Map("panel" -> Seq("yr")))
      else cat.append(Map("panel" -> slice),
        statsCols = Map("panel" -> Seq("yr")))
    }
    // 2. derive from a PINNED snapshot, commit serializably beside it
    val ingest = cat.snapshot()
    cat.commitSerializable(ingest,
      Map("stats" -> statsOf(ingest.read(s, "panel"))),
      readTables = Set("panel"))
    val pre = cat.snapshot() // panel v1 + stats v1, one consistent pin
    // 3. the latest year re-ingested: MERGE as metadata
    cat.deleteWhere(s, "panel", "yr", col("yr") === maxY)
    cat.append(Map("panel" -> panel.filter(col("yr") === maxY)
        .withColumn("revenue", col("revenue") * 2).coalesce(1)),
      statsCols = Map("panel" -> Seq("yr")))
    val cur = cat.snapshot()
    // 4. the feed names the touched years; maintain stats incrementally
    val feed = diffVersions(pre.read(s, "panel"), cur.read(s, "panel"),
      key = "pk", valueCol = "revenue")
      .withColumn("yr", split(col("pk"), "#").getItem(1).cast("long"))
    // checkpointed (r14, VERDICT r13 #7): the feed has TWO consumers —
    // the touched-years collect and the emitted feed census — and each
    // replayed the full diff (two multi-dir snapshot reads + the
    // full-outer join). The changed subset is bounded by the panel
    // (~|nations| x |years| rows); materializing it runs the diff once
    // without hiding any lifecycle step (the feed is still computed
    // live from the two pinned snapshots inside the timed query).
    val changed = Share(feed.filter(col("op") =!= "unchanged"))
    val touched = changed.select(col("yr")).distinct()
      .collect().map(_.getLong(0)) // bounded by the year count
    val carried = pre.read(s, "stats")
      .filter(!col("yr").isin(touched.toSeq: _*))
    // pruned read: only the revised year's dirs are opened — the
    // incremental recompute never rescans the untouched years
    val recomputed =
      if (touched.isEmpty) carried.limit(0)
      else statsOf(
        cur.readPruned(s, "panel", "yr", touched.min, touched.max))
        .filter(col("yr").isin(touched.toSeq: _*))
    cat.commitSerializable(cur,
      Map("stats" -> carried.unionByName(recomputed)),
      readTables = Set("panel"))
    // emit: maintained (read back THROUGH the catalog), full, feed
    val inc = cat.snapshot().read(s, "stats")
      .select(col("yr"), lit("inc").as("channel"), col("n_rows"),
        col("mean_rev"), col("median_rev"))
    val full = statsOf(cur.read(s, "panel"))
      .select(col("yr"), lit("full").as("channel"), col("n_rows"),
        col("mean_rev"), col("median_rev"))
    val feedCensus = changed.groupBy(col("yr"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("yr"), lit("feed").as("channel"), col("n_rows"),
        lit(null).cast("double").as("mean_rev"),
        lit(null).cast("double").as("median_rev"))
    finishScratch(inc.unionByName(full).unionByName(feedCensus), root)
    }
  }

  /** WRITE-AUDIT-PUBLISH through named refs, oracle-gated: readers
    * resolve the `prod` ref ([[graft.etl.SnapshotCatalog.snapshotAtRef]]),
    * so an ingested-but-unaudited candidate snapshot is INVISIBLE to
    * them until the audit passes and the ref fast-forwards — the
    * standard Iceberg WAP pattern, with publish as a metadata-only
    * commit. Lifecycle: commit base -> publish prod@1 -> commit a
    * candidate re-crawl that VIOLATES the audit (doc_id % 5 == 0 rows
    * duplicated) -> audit fails, prod stays, readers still serve the
    * base -> commit the fixed re-crawl (the %5 texts re-ingested with
    * a `v2: ` prefix, keys unique) -> audit passes -> publish prod@4.
    * Emitted per stage: the census READ VIA THE REF, the manifest id
    * the ref serves, and the audit's duplicate-key count; the oracle
    * recomputes every row from first principles, so a ref that moves
    * early (stage-2 census would show the corrupt candidate), a stale
    * resolve, or a wrong audit all fail the strict gate.
    *
    * Scale: WAP is how a 100 TB corpus takes daily ingest without
    * ever serving a bad batch — the candidate lands as ordinary
    * commits, validation reads it by id, and publish costs one
    * manifest entry. */
  def wapPublishRead(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "wap")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    cat.commit(Map("docs" -> base))
    cat.setRef("prod", 1)
    def dupKeys(df: DataFrame): Long = df.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    def census(stage: Long, served: graft.etl.SnapshotCatalog.Snapshot,
        nDups: Long): DataFrame =
      served.read(s, "docs")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
        .select(lit(stage).as("stage"),
          lit(served.id.toLong).as("served_snap"),
          col("n_docs"), col("n_chars"), lit(nDups).as("n_dups"))
    val s1 = census(1L, cat.snapshotAtRef("prod"), 0L)
    // candidate ingest with duplicate instances — the audit must fail
    cat.commit(Map("docs" ->
      base.unionByName(base.filter(col("doc_id") % 5 === 0))))
    val candDups = dupKeys(cat.snapshot().read(s, "docs"))
    // audit failed: prod does NOT move; readers still serve the base
    val s2 = census(2L, cat.snapshotAtRef("prod"), candDups)
    // the fixed re-crawl: unique keys, %5 texts re-ingested as v2
    cat.commit(Map("docs" -> base.withColumn("text",
      when(col("doc_id") % 5 === 0, concat(lit("v2: "), col("text")))
        .otherwise(col("text")))))
    val fixedSnap = cat.snapshot()
    val fixedDups = dupKeys(fixedSnap.read(s, "docs"))
    require(fixedDups == 0, s"fixed snapshot still has $fixedDups dup keys")
    cat.setRef("prod", fixedSnap.id) // audit passed: publish
    val s3 = census(3L, cat.snapshotAtRef("prod"), 0L)
    finishScratch(s1.unionByName(s2).unionByName(s3), root)
    }
  }

  /** The catalog's PLAIN-SQL serving surface, oracle-gated (VERDICT
    * r11 "What's missing" #2): the scratch SnapshotCatalog is
    * registered as a DSv2 catalog (`spark.sql.catalog.<name>` conf,
    * [[graft.sources.GraftTableCatalog]]) and every read below goes
    * through `spark.sql(...)` — no API call touches the data path.
    * Lifecycle: commit docs v1 -> publish ref `prod`@1 -> commit v2
    * (every text re-ingested with a `v2: ` prefix). Channels: (1)
    * `VERSION AS OF 1` (time travel by manifest id — serves v1), (2)
    * `VERSION AS OF 'prod'` (time travel by NAMED REF — the WAP
    * serving path, still v1), (3) the bare table name (newest
    * snapshot — v2). The oracle recomputes all three censuses from
    * first principles, so a catalog that resolves the wrong manifest,
    * a ref that reads the head, or a stale current all fail the
    * strict gate. The DSv2 scan plans EXACTLY the snapshot's resolved
    * file set (spec-pinned in GraftTableCatalogSpec via inputFiles),
    * with parquet pushdown intact — SQL users pay no read penalty
    * over the API. */
  def sqlCatalogTimeTravel(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "sqlcat")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    cat.commit(Map("docs" -> base)) // m1
    cat.setRef("prod", 1) // m2
    cat.commit(Map("docs" ->
      base.withColumn("text", concat(lit("v2: "), col("text"))))) // m3
    // register the scratch catalog under a per-invocation name (the
    // catalog manager caches instances by name, and concurrent
    // Verify/Bench JVM invocations each own a UUID-named scratch)
    val cn = "gsql_" + java.util.UUID.randomUUID().toString.take(8)
      .replace("-", "")
    s.conf.set(s"spark.sql.catalog.$cn",
      classOf[graft.sources.GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cn.path", root)
    def census(stage: Long, from: String): DataFrame =
      s.sql(s"""SELECT count(*) AS n_docs,
                coalesce(sum(length(text)), 0L) AS n_chars
                FROM $from""")
        .select(lit(stage).as("stage"), col("n_docs"), col("n_chars"))
    try {
      val out = census(1L, s"$cn.docs VERSION AS OF 1")
        .unionByName(census(2L, s"$cn.docs VERSION AS OF 'prod'"))
        .unionByName(census(3L, s"$cn.docs"))
      finishScratch(out, root)
    } finally {
      // finishScratch collected the result; drop the per-invocation
      // catalog registration so repeated bench/verify invocations
      // don't accumulate dead conf entries pointing at deleted roots
      s.conf.unset(s"spark.sql.catalog.$cn")
      s.conf.unset(s"spark.sql.catalog.$cn.path")
    }
    }
  }

  /** Physical file count a DataFrame's scan PLANNED — the executed
    * scan's partitions, descending through AQE's wrapper (the leaf
    * file listing is fixed in the initial plan; AQE only re-plans
    * exchanges). Planning metadata, never row data. */
  private def plannedFileCount(df: DataFrame): Long = {
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case other => other
    }
    p.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.length.toLong
        }.sum
    }.sum
  }

  /** Sidecar file-pruning ON THE SQL PATH, oracle-gated end to end
    * (VERDICT r12 next #1 — plan parity for selective reads): the
    * same deterministic 16-file contiguous-range layout
    * [[snapshotPrunedRead]] commits (plus a doc_id Bloom sidecar),
    * probed through the DSv2 catalog with plain `WHERE doc_id BETWEEN`
    * SQL — no `readPruned` call anywhere. Each probe emits its row
    * census AND `n_files_read` taken from the EXECUTED SQL scan's
    * planned partitions, so the row proves the
    * [[graft.sources.GraftSidecarFileIndex]] skip actually engaged:
    * the oracle re-derives the expected file count from bucket
    * arithmetic exactly as snapshot_pruned_read's oracle does, and a
    * SQL path that opened the full file set desynchronizes the count
    * and fails the strict gate. Probe 4 is a Bloom POINT lookup
    * (`WHERE doc_id = v` over SQL): its census is replayed exactly;
    * its file count is hash-dependent (not DuckDB-replayable), so the
    * Scala side instead REQUIRES the planned count to undercut the
    * total when the layout has files to skip, and emits the
    * oracle-stable sentinel -1.
    *
    * Scale: identical plan shape to the API pruned read — the probe
    * opens the 1-2 overlapping files of 16; at 100 TB this is a SQL
    * user getting zone-map/Bloom skip without leaving `SELECT`. */
  def sqlPrunedRead(s: SparkSession, d: String): DataFrame = {
    val base0 = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val maxRow = base0.agg(max(col("doc_id"))).head()
    if (maxRow.isNullAt(0)) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq("probe_id", "n_docs", "n_chars",
        "n_files_read", "n_files_total").map(StructField(_, LongType)))
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
    val root = scratchRoot(d, "sqlprune")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val dmax = maxRow.getLong(0)
    require(dmax >= 0, s"non-negative doc_id domain expected, got max $dmax")
    val span = (dmax + 16) / 16
    val reps = sixteenSlotReps(s)
    val bucketed = base0
      .withColumn("bucket", expr(s"doc_id div $span"))
      .withColumn("slotkey", element_at(typedLit(reps), col("bucket")))
      .repartition(16, col("slotkey"))
      .select(col("doc_id"), col("text"))
    cat.commit(Map("docs" -> bucketed),
      statsCols = Map("docs" -> Seq("doc_id")),
      bloomCols = Map("docs" -> Seq("doc_id")))
    val cn = "gsqlp_" + java.util.UUID.randomUUID().toString.take(8)
      .replace("-", "")
    s.conf.set(s"spark.sql.catalog.$cn",
      classOf[graft.sources.GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cn.path", root)
    try {
      // unfiltered scan = the full listing (planned partitions, since
      // Dataset.inputFiles only special-cases FileTable relations)
      val totalFiles = plannedFileCount(s.sql(s"SELECT * FROM $cn.docs"))
      val rangeProbes = (1 to 3).map { q =>
        val lo = (dmax + 1) * q / 4
        val hi = lo + (dmax + 1) / 64
        val probe = s.sql(
          s"SELECT doc_id, text FROM $cn.docs WHERE doc_id BETWEEN $lo AND $hi")
        val nRead = plannedFileCount(probe)
        require(nRead < totalFiles || totalFiles < 4,
          s"SQL probe $q pruned nothing: $nRead/$totalFiles")
        probe.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
          .select(lit(q.toLong).as("probe_id"), col("n_docs"), col("n_chars"),
            lit(nRead).as("n_files_read"),
            lit(totalFiles).as("n_files_total"))
      }
      // probe 4: Bloom point lookup over SQL — census replayed exactly,
      // file count asserted Scala-side (hash-dependent), sentinel -1
      val v = (dmax + 1) / 2
      val point = s.sql(s"SELECT doc_id, text FROM $cn.docs WHERE doc_id = $v")
      val pointRead = plannedFileCount(point)
      require(pointRead < totalFiles || totalFiles < 4,
        s"SQL point probe pruned nothing: $pointRead/$totalFiles")
      val pointRow = point
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
        .select(lit(4L).as("probe_id"), col("n_docs"), col("n_chars"),
          lit(-1L).as("n_files_read"), lit(-1L).as("n_files_total"))
      finishScratch(rangeProbes.reduce(_.unionByName(_))
        .unionByName(pointRow), root)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cn")
      s.conf.unset(s"spark.sql.catalog.$cn.path")
    }
    }
  }

  /** SQL WRITES through the transactional catalog, oracle-gated end
    * to end (VERDICT r12 next #2): the seed lands via the API, then
    * everything else is plain SQL — `INSERT INTO` fast-appends a new
    * sequenced dir through [[graft.etl.SnapshotCatalog.append]]
    * (manifest 2), `INSERT OVERWRITE` commits a replacing snapshot
    * through `commit` (manifest 3) — and the proof is read back
    * through the same SQL surface: the head census after each write
    * plus `VERSION AS OF` censuses pinning that NEITHER write
    * disturbed the earlier snapshots (an overwrite that rewrote
    * in place, an append that double-landed, or a write that bypassed
    * the manifest protocol each desynchronize a row). The oracle
    * replays every stage from first principles with residue
    * arithmetic. Scale: INSERT INTO is one parquet write + one
    * manifest link (no existing file touched); INSERT OVERWRITE is
    * the same write with a replacing manifest — identical cost to the
    * API commits a 100 TB pipeline already performs. */
  def sqlWriteRoundtrip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "sqlwrite")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    cat.commit(Map("docs" -> docs.filter(col("doc_id") % 3 === 0))) // m1
    val tag = java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val cn = s"gsqlw_$tag"
    val view = s"src_$tag"
    docs.createOrReplaceTempView(view)
    s.conf.set(s"spark.sql.catalog.$cn",
      classOf[graft.sources.GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cn.path", root)
    def census(stage: Long, from: String): DataFrame =
      s.sql(s"""SELECT count(*) AS n_docs,
                coalesce(sum(length(text)), 0L) AS n_chars
                FROM $from""")
        .select(lit(stage).as("stage"), col("n_docs"), col("n_chars"))
    try {
      s.sql(s"INSERT INTO $cn.docs SELECT doc_id, text FROM $view " +
        "WHERE doc_id % 3 = 1") // m2: fast-append over SQL
      val s1 = census(1L, s"$cn.docs")
      s.sql(s"INSERT OVERWRITE $cn.docs SELECT doc_id, " +
        s"concat('v2: ', text) AS text FROM $view WHERE doc_id % 5 = 0") // m3
      val out = s1
        .unionByName(census(2L, s"$cn.docs"))
        // neither SQL write disturbed the pinned history
        .unionByName(census(3L, s"$cn.docs VERSION AS OF 2"))
        .unionByName(census(4L, s"$cn.docs VERSION AS OF 1"))
      require(cat.currentId.contains(3),
        s"expected 3 manifests after the SQL writes, got ${cat.currentId}")
      finishScratch(out, root)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cn")
      s.conf.unset(s"spark.sql.catalog.$cn.path")
      s.catalog.dropTempView(view)
    }
    }
  }

  /** SQL `DELETE FROM` through the transactional catalog, oracle-gated
    * end to end (K26): the seed lands via the API, then plain SQL
    * deletes twice — a range predicate (`doc_id <= cut`) and a string
    * prefix predicate (`startswith(text, 'The')`) — each landing as a
    * METADATA position-delete vector through
    * [[graft.sources.GraftSnapshotTable.deleteWhere]]
    * (`SupportsDeleteV2`): no data file is rewritten (required on the
    * dir list after both), the vectors STACK, old snapshots still
    * serve the deleted rows (`VERSION AS OF 1` census), and `compact`
    * folds the vectors copy-on-write so the head reads back over SQL
    * as a pure scan. The oracle replays both predicates over
    * `documents` with Spark-identical NULL semantics (a NULL text
    * never matches a DELETE predicate, so NULL-text rows survive).
    *
    * Scale: each SQL DELETE writes kilobytes of (file, ordinal) keys
    * and one manifest link — the 100 TB takedown/PII-erasure shape —
    * and the rewrite cost moves to the scheduled compaction. */
  def sqlDeleteRoundtrip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "sqldel")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    cat.commit(Map("docs" -> docs)) // m1
    val maxRow = docs.agg(max(col("doc_id"))).head()
    val cut = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) / 3L
    val tag = java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val cn = s"gsqld_$tag"
    s.conf.set(s"spark.sql.catalog.$cn",
      classOf[graft.sources.GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cn.path", root)
    def sqlCensus(stage: Long, from: String): DataFrame =
      s.sql(s"""SELECT count(*) AS n_docs,
                coalesce(sum(length(text)), 0L) AS n_chars FROM $from""")
        .select(lit(stage).as("stage"), col("n_docs"), col("n_chars"))
    try {
      val dirsBefore = cat.snapshot().dataDirs("docs")
      s.sql(s"DELETE FROM $cn.docs WHERE doc_id <= $cut") // m2 (if matched)
      // head censuses read back over SQL THROUGH the live vectors (the
      // extension's merge-on-read rule — Verify/Bench sessions run the
      // documented `spark.sql.extensions=graft.GraftExtensions`)
      val s1 = sqlCensus(1L, s"$cn.docs")
      s.sql(s"DELETE FROM $cn.docs WHERE startswith(text, 'The')") // m3
      val s2 = sqlCensus(2L, s"$cn.docs")
      require(cat.snapshot().dataDirs("docs") == dirsBefore,
        "SQL DELETE must be metadata-only: the data dirs moved")
      // pre-delete history still serves every row, over plain SQL
      val s3 = sqlCensus(3L, s"$cn.docs VERSION AS OF 1")
      // fold the vectors copy-on-write; the head reads as a pure scan
      if (cat.snapshot().deletes.getOrElse("docs", Nil).nonEmpty)
        cat.compact(s, "docs")
      val s4 = sqlCensus(4L, s"$cn.docs")
      finishScratch(s1.unionByName(s2).unionByName(s3).unionByName(s4), root)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$cn")
      s.conf.unset(s"spark.sql.catalog.$cn.path")
    }
    }
  }

  /** Structured-Streaming TAIL of a catalog table (K27), oracle-gated
    * end to end: a `graft-stream` reader micro-batches the MANIFEST
    * sequence of a source catalog into a sink catalog through the
    * NATIVE `graft-stream` sink (each micro-batch lands via the
    * exactly-once writer ledger — `appendIfNew` keyed by the batch id
    * riding the stream's checkpoint). Three AvailableNow
    * passes over a live source: pass 1 serves the seed, pass 2 serves
    * ONLY the newly appended dir — a PHANTOM dir (parquet written
    * inside the table directory by a failed/in-flight writer, never
    * manifest-linked) is planted before it and must stay invisible,
    * which is exactly what separates a manifest-gated tail from a raw
    * file stream — and pass 3 has nothing new and must not move the
    * sink. The oracle replays the residue censuses; a tail that
    * served the phantom dir, re-served history, or dropped an append
    * desynchronizes a stage.
    *
    * Scale: each trigger is one manifest read + a dir-list diff
    * (planning metadata), and the batch plan scans ONLY the new dirs
    * — served history is never rescanned, so a 100 TB corpus tails at
    * the cost of its churn. */
  def catalogStreamTail(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "ctail")
    withScratch(root) {
    val src = new graft.etl.SnapshotCatalog(s"$root/src")
    val sink = new graft.etl.SnapshotCatalog(s"$root/snk")
    val ckpt = s"$root/ckpt"
    def pass(): Unit = {
      // the NATIVE exactly-once pipe: graft-stream on BOTH ends — the
      // sink lands each micro-batch through the writer ledger, no
      // foreachBatch boilerplate
      val q = s.readStream.format("graft-stream")
        .option("path", s"$root/src").option("table", "docs").load()
        .writeStream.format("graft-stream")
        .option("path", s"$root/snk").option("table", "docs")
        .option("writerId", "tail")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def census(stage: Long, cat: graft.etl.SnapshotCatalog): DataFrame =
      (if (cat.currentId.isEmpty) s.emptyDataFrame
         .withColumn("doc_id", lit(0L)).withColumn("text", lit(""))
         .limit(0)
       else cat.snapshot().read(s, "docs"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_chars"))
    src.commit(Map("docs" -> docs.filter(col("doc_id") % 3 === 0))) // m1
    pass()
    val s1 = census(1L, sink)
    // phantom: in-flight writer's parquet, never manifest-linked
    docs.filter(col("doc_id") % 3 === 2).limit(64)
      .write.mode("overwrite").parquet(s"$root/src/docs/u=phantom000")
    src.append(Map("docs" -> docs.filter(col("doc_id") % 3 === 1))) // m2
    pass()
    val s2 = census(2L, sink)
    val sinkHead = sink.currentId
    pass() // nothing new: must be a no-op
    require(sink.currentId == sinkHead,
      s"an empty tail pass moved the sink: $sinkHead -> ${sink.currentId}")
    val s3 = census(3L, sink)
    val s4 = census(4L, src) // the source head itself (phantom invisible)
    finishScratch(s1.unionByName(s2).unionByName(s3).unionByName(s4), root)
    }
  }

  /** NEAR-DUP corpus screening through the catalog (K24, VERDICT r12
    * next #6): the corpus flagship's screen is exact-text only — a
    * crawler that re-serves a page with a tweaked byte slips through.
    * This query composes the MinHash-LSH channel
    * ([[Dedup.neardupBest]]) as an INCREMENTAL near-dup screen against
    * the PUBLISHED ref: batch 1 carries fresh residue-1 pages plus
    * re-keyed near-duplicate re-crawls of published pages (`'nd: '`
    * prefix — the shingle set mostly survives, so their MinHash
    * estimate vs the published original is high); a new doc whose
    * best estimate reaches 1/2 is dropped, survivors land through the
    * SAME exactly-once writer ledger (the re-delivered batch below
    * proves the no-op), and `prod` fast-forwards only after the
    * screen. Every decision is deterministic on both engines — the
    * signatures are fixed-permutation arithmetic — so the oracle
    * replays the whole screen (shingles -> sigs -> bands -> best
    * estimate -> drop set) from first principles.
    *
    * Scale: the screen is new-bands x published-bands only (the
    * asymmetric LSH join — batch-sized, never corpus x corpus); at
    * 100 TB the published side's band table is a precomputed artifact
    * maintained alongside the corpus, and landing + publishing stay
    * one parquet write + two manifest entries. */
  def corpusNeardupScreen(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "neardup")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val strideRow = docs.agg(max(col("doc_id"))).head()
    val stride = (if (strideRow.isNullAt(0)) -1L else strideRow.getLong(0)) + 1L
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    cat.commit(Map("docs" -> b0)) // m1
    cat.setRef("prod", 1) // m2
    // batch 1: fresh pages + near-dup re-crawls of published pages
    val b1 = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(b0.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + stride).as("doc_id"),
          concat(lit("nd: "), col("text")).as("text")))
    val published = cat.snapshotAtRef("prod").read(s, "docs")
    val best = Dedup.neardupBest(b1, published)
    val dropped = b1.join(best.filter(col("best_est") >= 0.5)
      .select(col("doc_id")), Seq("doc_id"))
    // lands twice below (ledger no-op proof)
    val survivors = Share(b1.join(best.filter(col("best_est").isNull ||
        col("best_est") < 0.5).select(col("doc_id")), Seq("doc_id")))
    cat.appendIfNew("crawler", 1L, Map("docs" -> survivors)) // m3
    // the re-delivered micro-batch must be a no-op
    val again = cat.appendIfNew("crawler", 1L, Map("docs" -> survivors))
    require(cat.currentId.contains(3) && again == 3,
      s"re-delivered batch must no-op at m3, got ${cat.currentId}/$again")
    cat.setRef("prod", 3) // m4: publish AFTER the screen
    def census(stage: Long, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_chars"))
    val out = census(1L, b0) // published before the batch
      .unionByName(census(2L, b1)) // the incoming crawl
      .unionByName(census(3L, dropped)) // near-dups the screen caught
      // served corpus AFTER publish, read back through the ref
      .unionByName(census(4L, cat.snapshotAtRef("prod").read(s, "docs")))
    finishScratch(out, root)
    }
  }

  /** The LLM-CORPUS flagship through the catalog (VERDICT r11 "Next
    * round" #3 — the composition K18 performed for ASPEP, done for
    * the other half of the project): a crawl pipeline where
    *
    *  1. batch 0 seeds the corpus and publishes the `prod` ref;
    *  2. each later crawl batch is SCREENED against the PUBLISHED
    *     corpus (exact-dedup anti-join on text, one survivor per
    *     novel text — at 100 TB the same shape runs on hash60(text),
    *     here raw text keeps the oracle bit-exact);
    *  3. survivors land via `appendIfNew` (writer ledger — the
    *     re-delivered micro-batch below proves exactly-once);
    *  4. a WAP AUDIT gates publication: the batch's novelty rate
    *     (novel texts / distinct texts crawled) must reach 1/2, else
    *     the crawler is looping on known pages and `prod` stays put —
    *     the landed-but-unpublished rows stay INVISIBLE to every
    *     reader resolving through the ref.
    *
    * Batch 1 (fresh pages + some re-crawls) passes and fast-forwards
    * `prod`; batch 2 (a crawl loop: mostly re-keyed copies of
    * published pages, few novel) fails the audit. Emitted channels:
    * per-stage `published` censuses READ THROUGH THE REF, the `feed`
    * (survivor) censuses, and the final `head` census — so a ref that
    * moves early, a screen that misses a duplicate, a double-applied
    * micro-batch, or a rejected batch leaking into `prod` each
    * desynchronize a row and fail the strict gate. The oracle
    * replays the whole lifecycle INCLUDING the audit branches (CASE
    * on the same novelty rule) from first principles.
    *
    * Scale: every step is metadata or churn-sized — the screen is one
    * anti-join against the published snapshot, survivors append
    * without touching existing files, audit reads only counts, and
    * publish is one manifest entry. */
  def corpusCatalogRoundtrip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "corpus")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    val strideRow = docs.agg(max(col("doc_id"))).head()
    val stride = (if (strideRow.isNullAt(0)) -1L else strideRow.getLong(0)) + 1L
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    // batch 1: the fresh residue-1 crawl plus re-crawls of known pages
    // (same text, new crawl id)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(b0.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + stride).as("doc_id"), col("text")))
    // batch 2: a crawler loop — re-keyed copies of already-published
    // pages dominate, few genuinely novel pages
    val b2 = docs.filter(col("doc_id") % 3 =!= 2 && col("doc_id") % 2 === 0)
      .select((col("doc_id") + 2 * stride).as("doc_id"), col("text"))
      .unionByName(docs.filter(
        col("doc_id") % 3 === 2 && col("doc_id") % 11 === 0))
    // dedup screen: one survivor (min crawl id) per text NOT yet in
    // the published corpus; checkpointed — reused by append + censuses
    def screen(batch: DataFrame, published: DataFrame): DataFrame =
      Share(batch.join(published.select(col("text")), Seq("text"), "left_anti")
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("text")))
    def census(stage: Long, channel: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"))
        .select(lit(stage).as("stage"), lit(channel).as("channel"),
          col("n_docs"), col("n_chars"))
    // the audit: pass iff novel/distinct-crawled >= 1/2. The
    // denominator EXCLUDES null texts to match the oracle's
    // count(DISTINCT text) semantics exactly (round-12 review: a
    // corpus with null texts would otherwise flip the branch on one
    // side only)
    def auditPasses(survivors: DataFrame, batch: DataFrame): Boolean =
      2 * survivors.count() >= batch.select(col("text"))
        .filter(col("text").isNotNull).distinct().count()

    cat.commit(Map("docs" -> b0)) // m1
    cat.setRef("prod", 1) // m2
    val c1 = census(1L, "published", cat.snapshotAtRef("prod").read(s, "docs"))

    val s1 = screen(b1, cat.snapshotAtRef("prod").read(s, "docs"))
    val c2 = census(2L, "feed", s1)
    cat.appendIfNew("crawler", 1L, Map("docs" -> s1))
    if (auditPasses(s1, b1)) cat.setRef("prod", cat.currentId.get)
    // the re-delivered micro-batch: the writer ledger no-ops it — a
    // double-apply would double stage-3's census
    cat.appendIfNew("crawler", 1L, Map("docs" -> s1))
    val c3 = census(3L, "published", cat.snapshotAtRef("prod").read(s, "docs"))

    val s2 = screen(b2, cat.snapshotAtRef("prod").read(s, "docs"))
    val c4 = census(4L, "feed", s2)
    cat.appendIfNew("crawler", 2L, Map("docs" -> s2))
    if (auditPasses(s2, b2)) cat.setRef("prod", cat.currentId.get)
    // published stays the audited state; head carries the landed-but-
    // unpublished batch — the invisibility pin
    val c5 = census(5L, "published", cat.snapshotAtRef("prod").read(s, "docs"))
    val c6 = census(6L, "head", cat.snapshot().read(s, "docs"))
    finishScratch(c1.unionByName(c2).unionByName(c3).unionByName(c4)
      .unionByName(c5).unionByName(c6), root)
    }
  }

  /** MERGE as metadata: the same change set cdcUpsert applies with a
    * full-table rewrite is landed here WITHOUT rewriting a single base
    * file — updates and deletes become one equality-delete commit
    * (kilobytes of keys), updates' new rows and inserts become one
    * fast-append (only the changed rows are written). The read then
    * equals the rewrite-based MERGE row for row: survivors from the
    * base dir minus the delete keys, plus the appended upsert dir.
    * Update-wins-over-delete precedence falls out of the composition
    * (an updated key is deleted from the base AND re-appended).
    *
    * Emitted: the merged census, the update/insert sub-censuses, and
    * the protocol constants (2 dirs, 1 delete entry) read from the
    * REAL manifest; the oracle recomputes the merge from first
    * principles. At 100 TB this is the difference between rewriting
    * the corpus for a 0.5% daily churn and writing just the churn.
    */
  def cdcMergeOnRead(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = scratchRoot(d, "cdcmor")
    withScratch(root) {
    val cat = new graft.etl.SnapshotCatalog(root)
    cat.commit(Map("docs" -> base))
    // the cdcUpsert change set: updates %17, deletes %23 (update wins
    // on the overlap), inserts at a stride beyond max(doc_id)
    val ch = changeSet(s, d)
    cat.deleteWhere(s, "docs", "doc_id",
      col("doc_id") % 17 === 0 || col("doc_id") % 23 === 0)
    cat.append(Map("docs" -> ch.filter(col("op") =!= "D")
      .select(col("doc_id"), col("text"))))
    val snap = cat.snapshot()
    val nDirs = snap.tables("docs").split('|').length.toLong
    val nDel = cat.manifest(cat.currentId.get).get("_del:docs")
      .map(_.split('|').length.toLong).getOrElse(0L)
    val dmaxRow = base.agg(max(col("doc_id"))).head()
    val dmax = if (dmaxRow.isNullAt(0)) -1L else dmaxRow.getLong(0)
    snap.read(s, "docs")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text"))), lit(0L)).as("n_chars"),
        coalesce(sum(when(col("doc_id") % 17 === 0 &&
          col("doc_id") <= dmax, 1L).otherwise(0L)), lit(0L)).as("n_updated"),
        coalesce(sum(when(col("doc_id") > dmax, 1L).otherwise(0L)), lit(0L))
          .as("n_inserted"))
      .select(col("n_docs"), col("n_chars"), col("n_updated"),
        col("n_inserted"), lit(nDirs).as("n_dirs"),
        lit(nDel).as("n_del_entries"))
      .transform(df => finishScratch(df, root))
    }
  }

  val queries: Map[String, Relational.Q] = Map(
    "cdc_upsert" -> (cdcUpsert _),
    "scd2_history" -> (scd2History _),
    "cdc_snapshot_roundtrip" -> (cdcSnapshotRoundtrip _),
    "snapshot_schema_evolution" -> (snapshotSchemaEvolution _),
    "snapshot_change_feed" -> (snapshotChangeFeed _),
    "snapshot_pruned_read" -> (snapshotPrunedRead _),
    "change_feed_maintenance" -> (changeFeedMaintenance _),
    "hilbert_clustered_read" -> (hilbertClusteredRead _),
    "bloom_pruned_read" -> (bloomPrunedRead _),
    "metadata_count_read" -> (metadataCountRead _),
    "row_delete_roundtrip" -> (rowDeleteRoundtrip _),
    "position_delete_roundtrip" -> (positionDeleteRoundtrip _),
    "aspep_catalog_roundtrip" -> (aspepCatalogRoundtrip _),
    "wap_publish_read" -> (wapPublishRead _),
    "sql_catalog_time_travel" -> (sqlCatalogTimeTravel _),
    "sql_pruned_read" -> (sqlPrunedRead _),
    "sql_write_roundtrip" -> (sqlWriteRoundtrip _),
    "sql_delete_roundtrip" -> (sqlDeleteRoundtrip _),
    "catalog_stream_tail" -> (catalogStreamTail _),
    "corpus_neardup_screen" -> (corpusNeardupScreen _),
    "corpus_catalog_roundtrip" -> (corpusCatalogRoundtrip _),
    "bloom_string_lookup" -> (bloomStringLookup _),
    "append_ingest_read" -> (appendIngestRead _),
    "cdc_merge_on_read" -> (cdcMergeOnRead _)
  )

  val oracleSql: Map[String, String] = Map(
    "cdc_upsert" ->
      """WITH stride AS (SELECT max(doc_id) + 1 AS stride FROM documents),
        |ch AS (
        | SELECT doc_id, upper(text) AS text, 'U' AS op FROM documents
        |  WHERE doc_id % 17 = 0
        | UNION ALL
        | SELECT doc_id, NULL, 'D' FROM documents
        |  WHERE doc_id % 23 = 0 AND doc_id % 17 <> 0
        | UNION ALL
        | SELECT doc_id + stride.stride, 'ins: ' || text, 'I'
        |  FROM documents, stride WHERE doc_id % 31 = 0)
        |SELECT coalesce(b.doc_id, ch.doc_id) AS doc_id,
        | coalesce(ch.text, b.text) AS text,
        | CAST(CASE WHEN ch.op = 'U' THEN 2 ELSE 1 END AS BIGINT) AS version,
        | coalesce(ch.op, 'keep') AS last_op
        |FROM documents b FULL OUTER JOIN ch ON ch.doc_id = b.doc_id
        |WHERE coalesce(ch.op, '') <> 'D'""".stripMargin,

    "scd2_history" ->
      """WITH ev AS (
        | SELECT user_id, event_type, event_id,
        |  epoch_us(ts) AS valid_from_us, value
        | FROM events)
        |SELECT user_id, event_type, event_id, valid_from_us, value,
        | lead(valid_from_us) OVER w IS NULL AS is_current,
        | CAST(coalesce(lead(valid_from_us) OVER w, 253402214400000000) AS BIGINT) AS valid_to_us
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY valid_from_us, event_id)""".stripMargin,

    // the catalog roundtrip reduces to: base census, merged census by
    // op, and the two (identical-by-construction) summary rows — any
    // snapshot-protocol defect desynchronizes them on the Spark side
    "cdc_snapshot_roundtrip" ->
      """WITH stride AS (SELECT max(doc_id) + 1 AS stride FROM documents),
        |ch AS (
        | SELECT doc_id, upper(text) AS text, 'U' AS op FROM documents
        |  WHERE doc_id % 17 = 0
        | UNION ALL
        | SELECT doc_id, NULL, 'D' FROM documents
        |  WHERE doc_id % 23 = 0 AND doc_id % 17 <> 0
        | UNION ALL
        | SELECT doc_id + stride.stride, 'ins: ' || text, 'I'
        |  FROM documents, stride WHERE doc_id % 31 = 0),
        |merged AS (
        | SELECT coalesce(b.doc_id, ch.doc_id) AS doc_id,
        |  coalesce(ch.text, b.text) AS text,
        |  coalesce(ch.op, 'keep') AS last_op
        | FROM documents b FULL OUTER JOIN ch ON ch.doc_id = b.doc_id
        | WHERE coalesce(ch.op, '') <> 'D')
        |SELECT CAST(1 AS BIGINT) AS snap, 'base' AS last_op,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars
        | FROM documents
        |UNION ALL
        |SELECT 2, last_op, CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        | FROM merged GROUP BY last_op
        |UNION ALL
        |SELECT 1, 'summary', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        | FROM documents
        |UNION ALL
        |SELECT 2, 'summary', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        | FROM merged""".stripMargin,

    // the change feed reduces to: base vs merged classified per doc —
    // insert = merged-only id, delete = base-only id, update = both
    // with null-safe-different text, else unchanged
    "snapshot_change_feed" ->
      """WITH stride AS (SELECT max(doc_id) + 1 AS stride FROM documents),
        |ch AS (
        | SELECT doc_id, upper(text) AS text, 'U' AS op FROM documents
        |  WHERE doc_id % 17 = 0
        | UNION ALL
        | SELECT doc_id, NULL, 'D' FROM documents
        |  WHERE doc_id % 23 = 0 AND doc_id % 17 <> 0
        | UNION ALL
        | SELECT doc_id + stride.stride, 'ins: ' || text, 'I'
        |  FROM documents, stride WHERE doc_id % 31 = 0),
        |merged AS (
        | SELECT coalesce(b.doc_id, ch.doc_id) AS doc_id,
        |  coalesce(ch.text, b.text) AS text
        | FROM documents b FULL OUTER JOIN ch ON ch.doc_id = b.doc_id
        | WHERE coalesce(ch.op, '') <> 'D'),
        |feed AS (
        | SELECT CASE
        |   WHEN b.doc_id IS NULL THEN 'insert'
        |   WHEN m.doc_id IS NULL THEN 'delete'
        |   WHEN b.text IS DISTINCT FROM m.text THEN 'update'
        |   ELSE 'unchanged' END AS op,
        |  coalesce(m.text, b.text) AS text
        | FROM documents b FULL OUTER JOIN merged m ON m.doc_id = b.doc_id)
        |SELECT op, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars
        |FROM feed GROUP BY op""".stripMargin,

    // incremental maintenance reduces to first-principles recomputes of
    // all three states: v1 = the corpus, v2 = merge 1, v3 = merge 2 on
    // top of v2 — the Spark side's `inc` rows are delta-maintained, so
    // any delta-algebra defect desynchronizes them from these recomputes
    "change_feed_maintenance" ->
      """WITH stride AS (SELECT max(doc_id) + 1 AS stride FROM documents),
        |ch AS (
        | SELECT doc_id, upper(text) AS text, 'U' AS op FROM documents
        |  WHERE doc_id % 17 = 0
        | UNION ALL
        | SELECT doc_id, NULL, 'D' FROM documents
        |  WHERE doc_id % 23 = 0 AND doc_id % 17 <> 0
        | UNION ALL
        | SELECT doc_id + stride.stride, 'ins: ' || text, 'I'
        |  FROM documents, stride WHERE doc_id % 31 = 0),
        |m2 AS (
        | SELECT coalesce(b.doc_id, ch.doc_id) AS doc_id,
        |  coalesce(ch.text, b.text) AS text
        | FROM documents b FULL OUTER JOIN ch ON ch.doc_id = b.doc_id
        | WHERE coalesce(ch.op, '') <> 'D'),
        |stride2 AS (SELECT max(doc_id) + 1 AS stride2 FROM m2),
        |ch2 AS (
        | SELECT doc_id, lower(text) AS text, 'U' AS op FROM m2
        |  WHERE doc_id % 13 = 0
        | UNION ALL
        | SELECT doc_id, NULL, 'D' FROM m2
        |  WHERE doc_id % 19 = 0 AND doc_id % 13 <> 0
        | UNION ALL
        | SELECT doc_id + stride2.stride2, 'ins2: ' || text, 'I'
        |  FROM m2, stride2 WHERE doc_id % 29 = 0),
        |m3 AS (
        | SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
        |  coalesce(c.text, b.text) AS text
        | FROM m2 b FULL OUTER JOIN ch2 c ON c.doc_id = b.doc_id
        | WHERE coalesce(c.op, '') <> 'D')
        |SELECT CAST(1 AS BIGINT) AS snap, 'full' AS channel,
        |  CAST(doc_id % 7 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars
        | FROM documents GROUP BY 3
        |UNION ALL
        |SELECT 2, 'inc', CAST(doc_id % 7 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        | FROM m2 GROUP BY 3
        |UNION ALL
        |SELECT 3, 'inc', CAST(doc_id % 7 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        | FROM m3 GROUP BY 3
        |UNION ALL
        |SELECT 3, 'full', CAST(doc_id % 7 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        | FROM m3 GROUP BY 3""".stripMargin,

    // the pruned read reduces to pure integer arithmetic over the data:
    // bucket = doc_id // span is one file by construction, so per-probe
    // n_files_read = buckets whose data [min, max] overlaps the probe
    // range, and the row census is a plain BETWEEN — a wrong sidecar, a
    // wrong prune decision, or a broken one-bucket-one-file layout all
    // desynchronize the counts
    "snapshot_pruned_read" ->
      """WITH r AS (SELECT max(doc_id) AS dmax,
        |  (max(doc_id) + 16) // 16 AS span FROM documents),
        |probes AS (
        | SELECT q, ((dmax + 1) * q) // 4 AS lo,
        |  ((dmax + 1) * q) // 4 + (dmax + 1) // 64 AS hi
        | FROM r, (VALUES (1), (2), (3)) t(q)),
        |zones AS (
        | SELECT d.doc_id // r.span AS bucket,
        |  min(d.doc_id) AS mn, max(d.doc_id) AS mx
        | FROM documents d, r GROUP BY 1),
        |census AS (
        | SELECT p.q, CAST(count(d.doc_id) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(length(d.text)), 0) AS BIGINT) AS n_chars
        | FROM probes p LEFT JOIN documents d
        |  ON d.doc_id BETWEEN p.lo AND p.hi
        | GROUP BY p.q),
        |fr AS (
        | SELECT p.q,
        |  CAST(count(*) FILTER (WHERE NOT (z.mx < p.lo OR z.mn > p.hi)) AS BIGINT)
        |    AS n_files_read,
        |  CAST(count(*) AS BIGINT) AS n_files_total
        | FROM probes p CROSS JOIN zones z GROUP BY p.q)
        |SELECT CAST(c.q AS BIGINT) AS probe_id, c.n_docs, c.n_chars,
        | fr.n_files_read, fr.n_files_total
        |FROM census c JOIN fr ON fr.q = c.q""".stripMargin,

    // the SQL-path twin: same bucket arithmetic re-derives the file
    // set the GraftSidecarFileIndex must have planned for each BETWEEN
    // probe (a SQL path that opened every file desyncs n_files_read);
    // probe 4 is the Bloom point lookup — census replayed exactly,
    // file counts are the Scala-side-asserted sentinel -1
    "sql_pruned_read" ->
      """WITH r AS (SELECT max(doc_id) AS dmax,
        |  (max(doc_id) + 16) // 16 AS span FROM documents),
        |probes AS (
        | SELECT q, ((dmax + 1) * q) // 4 AS lo,
        |  ((dmax + 1) * q) // 4 + (dmax + 1) // 64 AS hi
        | FROM r, (VALUES (1), (2), (3)) t(q)),
        |zones AS (
        | SELECT d.doc_id // r.span AS bucket,
        |  min(d.doc_id) AS mn, max(d.doc_id) AS mx
        | FROM documents d, r GROUP BY 1),
        |census AS (
        | SELECT p.q, CAST(count(d.doc_id) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(length(d.text)), 0) AS BIGINT) AS n_chars
        | FROM probes p LEFT JOIN documents d
        |  ON d.doc_id BETWEEN p.lo AND p.hi
        | GROUP BY p.q),
        |fr AS (
        | SELECT p.q,
        |  CAST(count(*) FILTER (WHERE NOT (z.mx < p.lo OR z.mn > p.hi)) AS BIGINT)
        |    AS n_files_read,
        |  CAST(count(*) AS BIGINT) AS n_files_total
        | FROM probes p CROSS JOIN zones z GROUP BY p.q)
        |SELECT CAST(c.q AS BIGINT) AS probe_id, c.n_docs, c.n_chars,
        | fr.n_files_read, fr.n_files_total
        |FROM census c JOIN fr ON fr.q = c.q
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), CAST(count(d.doc_id) AS BIGINT),
        | CAST(coalesce(sum(length(d.text)), 0) AS BIGINT),
        | CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        |FROM r LEFT JOIN documents d ON d.doc_id = (r.dmax + 1) // 2""".stripMargin,

    // the K24 near-dup screen replayed from first principles: rebuild
    // the published (%3=0) and batch (%3=1 + 'nd: '-prefixed re-keyed
    // re-crawls) corpora, re-derive MinHash signatures and LSH bands
    // with the same fixed-permutation arithmetic the Spark kernel
    // uses, re-decide every drop (best estimate >= 0.5 vs the
    // published side), and re-census the served corpus post-publish —
    // a screen that misses a near-dup, double-applies the ledger
    // batch, or publishes early desynchronizes a row
    "corpus_neardup_screen" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |r AS (SELECT coalesce(max(doc_id), -1) + 1 AS stride FROM base),
         |pub AS (SELECT doc_id, text FROM base WHERE doc_id % 3 = 0),
         |newb AS (
         | SELECT doc_id, text FROM base WHERE doc_id % 3 = 1
         | UNION ALL
         | SELECT b.doc_id + r.stride AS doc_id, 'nd: ' || b.text AS text
         | FROM base b, r WHERE b.doc_id % 3 = 0 AND b.doc_id % 7 = 0),
         |corpus AS (
         | SELECT doc_id, text, 1 AS is_new FROM newb
         | UNION ALL SELECT doc_id, text, 0 FROM pub),
         |toks AS (
         | SELECT doc_id, is_new, string_split(${Dedup.normSql}, ' ') AS w
         | FROM corpus),
         |sh AS (
         | SELECT doc_id, is_new, CASE WHEN len(w) >= 3
         |  THEN list_transform(range(0, len(w) - 2),
         |        i -> array_to_string(w[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))
         |  ELSE [] END AS shingles FROM toks),
         |hs AS (
         | SELECT doc_id, is_new, list_transform(shingles,
         |   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % ${Dedup.P}) AS hv
         | FROM sh),
         |sig AS (SELECT doc_id, is_new, ${Dedup.sigSelect} FROM hs),
         |bands AS (
         | SELECT doc_id, is_new,
         |  [sig0,sig1,sig2,sig3,sig4,sig5,sig6,sig7] AS sig_arr,
         |  unnest([0, 1, 2, 3]) AS bid,
         |  unnest([
         |   md5(concat(CAST(sig0 AS VARCHAR), '_', CAST(sig1 AS VARCHAR))),
         |   md5(concat(CAST(sig2 AS VARCHAR), '_', CAST(sig3 AS VARCHAR))),
         |   md5(concat(CAST(sig4 AS VARCHAR), '_', CAST(sig5 AS VARCHAR))),
         |   md5(concat(CAST(sig6 AS VARCHAR), '_', CAST(sig7 AS VARCHAR)))]) AS bh
         | FROM sig WHERE sig0 IS NOT NULL),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         | FROM bands a JOIN bands b ON a.bid = b.bid AND a.bh = b.bh
         | WHERE a.is_new = 1 AND b.is_new = 0),
         |sarr AS (SELECT DISTINCT doc_id, is_new, sig_arr FROM bands),
         |best AS (
         | SELECT c.new_id, max(round(CAST(len(list_filter(range(0, 8),
         |   i -> a.sig_arr[CAST(i + 1 AS INT)] = b.sig_arr[CAST(i + 1 AS INT)])) AS DOUBLE) / 8, 6)) AS best_est
         | FROM cand c
         | JOIN sarr a ON a.doc_id = c.new_id AND a.is_new = 1
         | JOIN sarr b ON b.doc_id = c.old_id AND b.is_new = 0
         | GROUP BY 1),
         |drops AS (
         | SELECT n.doc_id, n.text FROM newb n
         | JOIN best ON best.new_id = n.doc_id WHERE best.best_est >= 0.5),
         |surv AS (
         | SELECT n.doc_id, n.text FROM newb n
         | WHERE n.doc_id NOT IN (SELECT doc_id FROM drops))
         |SELECT CAST(1 AS BIGINT) AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars FROM pub
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
         | CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM newb
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
         | CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM drops
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
         | CAST(coalesce(sum(length(text)), 0) AS BIGINT)
         |FROM (SELECT text FROM pub UNION ALL SELECT text FROM surv)""".stripMargin,

    // SQL-write lifecycle replay: stage 1 = seed (%3=0) + SQL-appended
    // (%3=1); stage 2 = the overwrite (%5=0, 'v2: ' re-text, || keeps
    // DuckDB NULL-propagating like Spark's concat); stages 3/4 pin the
    // untouched history
    "sql_write_roundtrip" ->
      """SELECT CAST(1 AS BIGINT) AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length('v2: ' || text)), 0) AS BIGINT)
        |FROM documents WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    // SQL-DELETE lifecycle replay: d1 = survivors of the range delete
    // (doc_id > max//3), d2 = d1 minus the prefix delete — NULL text
    // never matches a DELETE predicate on either engine, so
    // coalesce(..., FALSE) keeps NULL-text rows exactly like Spark's
    // filter; stage 3 pins the untouched history, stage 4 the
    // compacted head
    "sql_delete_roundtrip" ->
      """WITH d1 AS (
        | SELECT * FROM documents
        | WHERE doc_id > (SELECT max(doc_id) // 3 FROM documents)),
        |d2 AS (
        | SELECT * FROM d1
        | WHERE NOT coalesce(starts_with(text, 'The'), FALSE))
        |SELECT CAST(1 AS BIGINT) AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars FROM d1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM d2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM d2""".stripMargin,

    // catalog-tail replay: pass 1 = the seed residue, pass 2 adds ONLY
    // the appended residue (the planted phantom dir — residue-2 rows
    // parked unlinked inside the table directory — must never appear),
    // pass 3 changes nothing, and the source head census equals the
    // sink's (stage 4)
    "catalog_stream_tail" ->
      """SELECT CAST(1 AS BIGINT) AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        |FROM documents WHERE doc_id % 3 IN (0, 1)""".stripMargin,

    // the Hilbert-clustered read reduces to pure arithmetic over the
    // data: the oracle re-derives the curve position of every occupied
    // grid cell with an 8-round RECURSIVE xy2d walk (the same CTE
    // hilbert_skip_eval pinned), re-buckets rows into the 16 curve
    // ranges, re-groups each range's 2D zone map, and re-decides every
    // conjunctive pruning call — so the strict gate covers the curve,
    // the sidecar, the one-range-one-file layout, AND pruneFilesMulti
    // cross-engine
    "hilbert_clustered_read" ->
      """WITH RECURSIVE raw AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |rng AS (SELECT min(pk) AS pmin, max(pk) AS pmax,
        |               min(sk) AS smin, max(sk) AS smax FROM raw),
        |grid AS (
        | SELECT pk, sk,
        |  (pk - pmin) * 256 // (pmax - pmin + 1) AS p8,
        |  (sk - smin) * 256 // (smax - smin + 1) AS s8
        | FROM raw, rng),
        |cells AS (SELECT DISTINCT p8, s8 FROM grid),
        |hrec AS (
        | SELECT p8, s8, p8 AS x, s8 AS y, CAST(0 AS BIGINT) AS hd, 128 AS s
        | FROM cells
        | UNION ALL
        | SELECT p8, s8,
        |  CASE WHEN (y & s) = 0
        |   THEN (CASE WHEN (x & s) > 0 THEN 255 - y ELSE y END) ELSE x END,
        |  CASE WHEN (y & s) = 0
        |   THEN (CASE WHEN (x & s) > 0 THEN 255 - x ELSE x END) ELSE y END,
        |  hd + s * s * (CASE
        |   WHEN (x & s) > 0 AND (y & s) = 0 THEN 3
        |   WHEN (x & s) > 0 AND (y & s) > 0 THEN 2
        |   WHEN (x & s) = 0 AND (y & s) > 0 THEN 1
        |   ELSE 0 END),
        |  s // 2
        | FROM hrec WHERE s > 0),
        |hmap AS (SELECT p8, s8, hd FROM hrec WHERE s = 0),
        |filed AS (
        | SELECT g.pk, g.sk, CAST((h.hd * 16) // 65536 AS BIGINT) AS f
        | FROM grid g JOIN hmap h ON g.p8 = h.p8 AND g.s8 = h.s8),
        |zones AS (
        | SELECT f, min(pk) AS zpmin, max(pk) AS zpmax,
        |        min(sk) AS zsmin, max(sk) AS zsmax
        | FROM filed GROUP BY f),
        |probes AS (
        | SELECT q,
        |  pmin + ((pmax - pmin + 1) * q) // 4 AS plo,
        |  pmin + ((pmax - pmin + 1) * q) // 4 + (pmax - pmin + 1) // 8 AS phi,
        |  smin + ((smax - smin + 1) * q) // 4 AS slo,
        |  smin + ((smax - smin + 1) * q) // 4 + (smax - smin + 1) // 8 AS shi
        | FROM rng, (VALUES (1), (2), (3)) t(q)),
        |census AS (
        | SELECT p.q, CAST(count(r.pk) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(r.pk), 0) AS BIGINT) AS pk_sum,
        |  CAST(coalesce(sum(r.sk), 0) AS BIGINT) AS sk_sum
        | FROM probes p LEFT JOIN raw r
        |  ON r.pk BETWEEN p.plo AND p.phi AND r.sk BETWEEN p.slo AND p.shi
        | GROUP BY p.q),
        |fr AS (
        | SELECT p.q,
        |  CAST(count(*) FILTER (WHERE NOT (z.zpmax < p.plo OR z.zpmin > p.phi)
        |    AND NOT (z.zsmax < p.slo OR z.zsmin > p.shi)) AS BIGINT) AS n_files_read,
        |  CAST(count(*) AS BIGINT) AS n_files_total
        | FROM probes p CROSS JOIN zones z GROUP BY p.q)
        |SELECT CAST(c.q AS BIGINT) AS probe_id, c.n_rows, c.pk_sum, c.sk_sum,
        | fr.n_files_read, fr.n_files_total
        |FROM census c JOIN fr ON fr.q = c.q""".stripMargin,

    // the Bloom point-lookup reduces to pure modular arithmetic: the
    // oracle re-derives each file's filter size from its row count and
    // re-decides every probe bit (a bit is set iff SOME row of the file
    // hashes either of its two positions onto it), so present-key
    // no-skip, the exact false-positive keeps on absent keys, and the
    // zone-vs-bloom contrast are all pinned cross-engine
    "bloom_pruned_read" ->
      """WITH r AS (SELECT max(doc_id) AS dmax,
        |  (max(doc_id) + 16) // 16 AS span FROM documents),
        |keyed AS (
        | SELECT doc_id // r.span AS b,
        |  ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 AS k
        | FROM documents, r),
        |sizes AS (
        | SELECT b, 64 * least(greatest(1, (12 * count(*) + 63) // 64), 32768) AS m,
        |  min(k) AS zmin, max(k) AS zmax
        | FROM keyed GROUP BY b),
        |anchors AS (
        | SELECT q, (SELECT max(doc_id) FROM documents, r
        |            WHERE doc_id <= ((dmax + 1) * q) // 5) AS a
        | FROM (VALUES (1), (2), (3), (4)) t(q)),
        |probes AS (
        | SELECT q AS pid, CAST(1 AS BIGINT) AS present,
        |  ((a % 2147483647) * 1103515245 + 12345) % 2147483647 AS kv
        | FROM anchors
        | UNION ALL
        | SELECT q + 4, CAST(0 AS BIGINT),
        |  (((a % 2147483647) * 1103515245 + 12345) % 2147483647 + 1) % 2147483647
        | FROM anchors),
        |decisions AS (
        | SELECT p.pid, p.kv, s.b, s.m, s.zmin, s.zmax,
        |  (p.kv * 48271) % 2147483647 % s.m AS t1,
        |  (p.kv * 69621 + 12345) % 2147483647 % s.m AS t2
        | FROM probes p CROSS JOIN sizes s),
        |hits AS (
        | SELECT d.pid, d.b, d.zmin, d.zmax, d.kv,
        |  max(CASE WHEN (kk.k * 48271) % 2147483647 % d.m = d.t1
        |        OR (kk.k * 69621 + 12345) % 2147483647 % d.m = d.t1
        |      THEN 1 ELSE 0 END) AS bit1,
        |  max(CASE WHEN (kk.k * 48271) % 2147483647 % d.m = d.t2
        |        OR (kk.k * 69621 + 12345) % 2147483647 % d.m = d.t2
        |      THEN 1 ELSE 0 END) AS bit2
        | FROM decisions d JOIN keyed kk ON kk.b = d.b
        | GROUP BY d.pid, d.b, d.zmin, d.zmax, d.kv),
        |counts AS (
        | SELECT pid,
        |  CAST(sum(bit1 * bit2) AS BIGINT) AS n_files_bloom,
        |  CAST(sum(CASE WHEN kv BETWEEN zmin AND zmax THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_files_zone,
        |  CAST(count(*) AS BIGINT) AS n_files_total
        | FROM hits GROUP BY pid),
        |census AS (
        | SELECT p.pid, p.present, CAST(count(kk.k) AS BIGINT) AS n_rows
        | FROM probes p LEFT JOIN keyed kk ON kk.k = p.kv
        | GROUP BY p.pid, p.present)
        |SELECT CAST(c.pid AS BIGINT) AS probe_id, c.present, c.n_rows,
        | t.n_files_bloom, t.n_files_zone, t.n_files_total
        |FROM census c JOIN counts t ON t.pid = c.pid""".stripMargin,

    // the metadata count reduces to zone-map classification + a raw
    // census: 'meta' files are fully contained by the probe (their
    // sidecar counts are summed unopened), 'scan' files straddle a
    // seam, disjoint files are skipped — a wrong containment test or a
    // count drawn from the wrong sidecar field desyncs n_rows or the
    // file-class censuses
    "metadata_count_read" ->
      """WITH r AS (SELECT max(doc_id) AS dmax,
        |  (max(doc_id) + 16) // 16 AS span FROM documents),
        |zones AS (
        | SELECT doc_id // r.span AS b, min(doc_id) AS mn, max(doc_id) AS mx,
        |  count(doc_id) AS n
        | FROM documents, r GROUP BY 1),
        |probes AS (
        | SELECT q, (dmax + 1) * q // 8 + span // 2 AS lo,
        |  (dmax + 1) * (q + 4) // 8 - span // 3 AS hi
        | FROM r, (VALUES (1), (2), (3)) t(q)),
        |cls AS (
        | SELECT p.q,
        |  CASE WHEN z.mx < p.lo OR z.mn > p.hi THEN 'skip'
        |       WHEN p.lo <= z.mn AND z.mx <= p.hi THEN 'meta'
        |       ELSE 'scan' END AS c
        | FROM probes p CROSS JOIN zones z),
        |counts AS (
        | SELECT q,
        |  CAST(sum(CASE WHEN c = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_files_scanned,
        |  CAST(sum(CASE WHEN c = 'meta' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_files_contained,
        |  CAST(count(*) AS BIGINT) AS n_files_total
        | FROM cls GROUP BY q),
        |census AS (
        | SELECT p.q, CAST(count(d.doc_id) AS BIGINT) AS n_rows
        | FROM probes p LEFT JOIN documents d
        |  ON d.doc_id BETWEEN p.lo AND p.hi
        | GROUP BY p.q)
        |SELECT CAST(c.q AS BIGINT) AS probe_id, c.n_rows,
        | t.n_files_scanned, t.n_files_contained, t.n_files_total
        |FROM census c JOIN counts t ON t.q = c.q""".stripMargin,

    // the merge-on-read MERGE reduces to the same change-set algebra
    // cdc_upsert pins, recomputed from first principles: survivors are
    // rows matching neither predicate, updates are the %17 rows
    // re-emitted uppercased, inserts land beyond max(doc_id); the
    // n_dirs/n_del_entries constants pin the protocol (one base dir +
    // one appended upsert dir, one delete file) — a delete leaking
    // onto the appended dir (sequence-rule violation) zeroes n_updated
    "cdc_merge_on_read" ->
      """WITH stride AS (SELECT max(doc_id) + 1 AS st FROM documents),
        |r AS (SELECT max(doc_id) AS dmax FROM documents),
        |merged AS (
        | SELECT doc_id, text FROM documents
        |  WHERE doc_id % 17 <> 0 AND doc_id % 23 <> 0
        | UNION ALL
        | SELECT doc_id, upper(text) FROM documents WHERE doc_id % 17 = 0
        | UNION ALL
        | SELECT doc_id + st, 'ins: ' || text FROM documents, stride
        |  WHERE doc_id % 31 = 0)
        |SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM merged) AS n_docs,
        | (SELECT CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        |   FROM merged) AS n_chars,
        | (SELECT CAST(coalesce(sum(CASE WHEN m.doc_id % 17 = 0
        |     AND m.doc_id <= r.dmax THEN 1 ELSE 0 END), 0) AS BIGINT)
        |   FROM merged m, r) AS n_updated,
        | (SELECT CAST(coalesce(sum(CASE WHEN m.doc_id > r.dmax
        |     THEN 1 ELSE 0 END), 0) AS BIGINT)
        |   FROM merged m, r) AS n_inserted,
        | CAST(2 AS BIGINT) AS n_dirs,
        | CAST(1 AS BIGINT) AS n_del_entries""".stripMargin,

    // the append-ingest read reduces to slice arithmetic: slice =
    // which third a doc_id falls in (one dir per slice by
    // construction), zones = per-slice min/max, probe 2's file count =
    // zones overlapping the probe, probe 3's scanned count = zones
    // overlapping-but-not-contained (0 when the range exactly covers
    // the middle slice); a dir-list merge bug or a sidecar lost on
    // append desyncs every channel
    "append_ingest_read" ->
      """WITH r AS (SELECT max(doc_id) AS dmax,
        |  (max(doc_id) + 1) // 3 AS t1,
        |  (max(doc_id) + 1) * 2 // 3 AS t2 FROM documents),
        |sliced AS (
        | SELECT doc_id, text,
        |  CASE WHEN doc_id < t1 THEN 0 WHEN doc_id < t2 THEN 1 ELSE 2 END AS sl
        | FROM documents, r),
        |zones AS (SELECT sl, min(doc_id) AS mn, max(doc_id) AS mx
        | FROM sliced GROUP BY sl),
        |nf AS (SELECT CAST(count(*) AS BIGINT) AS total FROM zones),
        |pr AS (SELECT t1 + (t2 - t1) // 4 AS plo,
        |  t1 + (t2 - t1) // 2 AS phi FROM r),
        |p1 AS (
        | SELECT CAST(1 AS BIGINT) AS probe_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars,
        |  nf.total AS n_files_read, nf.total AS n_files_total
        | FROM sliced, nf GROUP BY nf.total),
        |p2 AS (
        | SELECT CAST(2 AS BIGINT) AS probe_id,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sliced d, pr p
        |   WHERE d.doc_id BETWEEN p.plo AND p.phi) AS n_docs,
        |  (SELECT CAST(coalesce(sum(length(d.text)), 0) AS BIGINT)
        |   FROM sliced d, pr p
        |   WHERE d.doc_id BETWEEN p.plo AND p.phi) AS n_chars,
        |  (SELECT CAST(count(*) AS BIGINT) FROM zones z, pr p
        |   WHERE NOT (z.mx < p.plo OR z.mn > p.phi)) AS n_files_read,
        |  nf.total AS n_files_total
        | FROM nf WHERE nf.total > 0),
        |p3 AS (
        | SELECT CAST(3 AS BIGINT) AS probe_id,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sliced d, r
        |   WHERE d.doc_id BETWEEN r.t1 AND r.t2 - 1) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_chars,
        |  (SELECT CAST(count(*) AS BIGINT) FROM zones z, r
        |   WHERE NOT (z.mx < r.t1 OR z.mn > r.t2 - 1)
        |     AND NOT (r.t1 <= z.mn AND z.mx <= r.t2 - 1)) AS n_files_read,
        |  nf.total AS n_files_total
        | FROM nf WHERE nf.total > 0)
        |SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |UNION ALL SELECT * FROM p3""".stripMargin,

    // the delete roundtrip reduces to three censuses: phase 1 (time
    // travel to the pre-delete snapshot) = the full corpus with zero
    // delete entries; phase 2 (merge-on-read) = rows surviving both
    // delete predicates with exactly TWO delete files live; phase 3
    // (after the copy-on-write compaction) = the same survivors with
    // the delete entry cleared — a missed anti-join, a stale _del after
    // replace, or deletes leaking into old snapshots all desync
    "row_delete_roundtrip" ->
      """SELECT CAST(1 AS BIGINT) AS phase,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars,
        | CAST(0 AS BIGINT) AS n_del_entries
        |FROM documents
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT), CAST(2 AS BIGINT)
        |FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 7 <> 0
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT),
        | CAST(coalesce(sum(length(text)), 0) AS BIGINT), CAST(0 AS BIGINT)
        |FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 7 <> 0""".stripMargin,

    // position deletes reduce to arithmetic: the duplicated instances
    // (doc_id % 11 = 0, written twice) are exactly what the vector
    // removes, so phase 1 = corpus + duplicates, phases 2-3 = corpus;
    // n_dupkeys_present pins the expressiveness proof (the duplicate
    // KEYS survive in every phase — an equality delete would zero
    // them) and n_del_entries pins the manifest protocol
    "position_delete_roundtrip" ->
      """WITH tot AS (SELECT count(*) AS n,
        |  coalesce(sum(length(text)), 0) AS c FROM documents),
        |dup AS (SELECT count(*) AS dn,
        |  coalesce(sum(length(text)), 0) AS dc,
        |  count(DISTINCT doc_id) AS dk
        | FROM documents WHERE doc_id % 11 = 0)
        |SELECT CAST(1 AS BIGINT) AS phase,
        | CAST(tot.n + dup.dn AS BIGINT) AS n_docs,
        | CAST(tot.c + dup.dc AS BIGINT) AS n_chars,
        | CAST(dup.dk AS BIGINT) AS n_dupkeys_present,
        | CAST(0 AS BIGINT) AS n_del_entries
        |FROM tot, dup
        |UNION ALL
        |SELECT 2, CAST(tot.n AS BIGINT), CAST(tot.c AS BIGINT),
        | CAST(dup.dk AS BIGINT), CAST(1 AS BIGINT) FROM tot, dup
        |UNION ALL
        |SELECT 3, CAST(tot.n AS BIGINT), CAST(tot.c AS BIGINT),
        | CAST(dup.dk AS BIGINT), CAST(0 AS BIGINT) FROM tot, dup""".stripMargin,

    // the whole catalog lifecycle reduces to first principles: the
    // revised panel (latest year doubled), its per-year stats (served
    // identically on the inc and full channels — the maintenance
    // proof), and the feed census (updates = revised rows whose value
    // actually moved). A wrong carry-forward, a missed touched year,
    // or a stale pinned read desynchronizes the inc channel.
    "aspep_catalog_roundtrip" ->
      """WITH panel AS (
        | SELECT n_name AS nation, year(o_orderdate) AS yr,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS revenue
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1, 2),
        |maxy AS (SELECT max(yr) AS my FROM panel),
        |revised AS (
        | SELECT nation, yr,
        |  CASE WHEN yr = (SELECT my FROM maxy) THEN revenue * 2
        |       ELSE revenue END AS revenue
        | FROM panel),
        |stats AS (
        | SELECT CAST(yr AS BIGINT) AS yr, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(avg(revenue), 4) AS mean_rev,
        |  round(median(revenue), 4) AS median_rev
        | FROM revised GROUP BY yr)
        |SELECT yr, 'inc' AS channel, n_rows, mean_rev, median_rev FROM stats
        |UNION ALL
        |SELECT yr, 'full', n_rows, mean_rev, median_rev FROM stats
        |UNION ALL
        |SELECT CAST(p.yr AS BIGINT), 'feed', CAST(count(*) AS BIGINT),
        | NULL, NULL
        |FROM panel p, maxy WHERE p.yr = maxy.my AND p.revenue <> 0
        |GROUP BY p.yr""".stripMargin,

    // WAP reduces to arithmetic: stages 1-2 serve the base census (the
    // rejected candidate is invisible through the ref), stage 3 serves
    // the fixed re-crawl (+4 chars per non-null %5 text); the audit
    // count pins the candidate's duplicate keys
    "wap_publish_read" ->
      """WITH tot AS (SELECT count(*) AS n,
        |  coalesce(sum(length(text)), 0) AS c FROM documents),
        |d5 AS (SELECT count(*) AS dn, count(text) AS dnn
        | FROM documents WHERE doc_id % 5 = 0)
        |SELECT CAST(1 AS BIGINT) AS stage, CAST(1 AS BIGINT) AS served_snap,
        | CAST(tot.n AS BIGINT) AS n_docs, CAST(tot.c AS BIGINT) AS n_chars,
        | CAST(0 AS BIGINT) AS n_dups
        |FROM tot, d5
        |UNION ALL
        |SELECT 2, 1, CAST(tot.n AS BIGINT), CAST(tot.c AS BIGINT),
        | CAST(d5.dn AS BIGINT) FROM tot, d5
        |UNION ALL
        |SELECT 3, 4, CAST(tot.n AS BIGINT),
        | CAST(tot.c + 4 * d5.dnn AS BIGINT), CAST(0 AS BIGINT)
        |FROM tot, d5""".stripMargin,

    // SQL time travel: stage 1 (VERSION AS OF 1) and stage 2 (ref
    // 'prod') both serve v1; stage 3 (bare name) serves v2 = every
    // text prefixed with 'v2: ' (+4 chars per NON-NULL text)
    "sql_catalog_time_travel" ->
      """WITH tot AS (SELECT count(*) AS n,
        |  coalesce(sum(length(text)), 0) AS c, count(text) AS nn
        | FROM documents)
        |SELECT CAST(1 AS BIGINT) AS stage, CAST(n AS BIGINT) AS n_docs,
        | CAST(c AS BIGINT) AS n_chars FROM tot
        |UNION ALL
        |SELECT 2, CAST(n AS BIGINT), CAST(c AS BIGINT) FROM tot
        |UNION ALL
        |SELECT 3, CAST(n AS BIGINT), CAST(c + 4 * nn AS BIGINT) FROM tot""".stripMargin,

    // the corpus lifecycle replayed from first principles, INCLUDING
    // both audit branches (CASE on the same novelty-rate rule), so the
    // oracle stays exact even if a corpus's text-duplication structure
    // flips an audit outcome at some scale
    "corpus_catalog_roundtrip" ->
      """WITH st AS (SELECT coalesce(max(doc_id), -1) + 1 AS stride FROM documents),
        |b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        |       UNION ALL
        |       SELECT d.doc_id + st.stride, d.text FROM documents d, st
        |       WHERE d.doc_id % 3 = 0 AND d.doc_id % 7 = 0),
        |b2 AS (SELECT d.doc_id + 2 * st.stride AS doc_id, d.text
        |       FROM documents d, st
        |       WHERE d.doc_id % 3 <> 2 AND d.doc_id % 2 = 0
        |       UNION ALL
        |       SELECT doc_id, text FROM documents
        |       WHERE doc_id % 3 = 2 AND doc_id % 11 = 0),
        |s1 AS (SELECT min(b1.doc_id) AS doc_id, b1.text FROM b1
        |       WHERE NOT EXISTS (SELECT 1 FROM b0 WHERE b0.text = b1.text)
        |       GROUP BY b1.text),
        |a1 AS (SELECT CASE WHEN 2 * (SELECT count(*) FROM s1) >=
        |         (SELECT count(DISTINCT text) FROM b1) THEN 1 ELSE 0 END AS pass),
        |pub3 AS (SELECT doc_id, text FROM b0
        |         UNION ALL
        |         SELECT s1.doc_id, s1.text FROM s1, a1 WHERE a1.pass = 1),
        |s2 AS (SELECT min(b2.doc_id) AS doc_id, b2.text FROM b2
        |       WHERE NOT EXISTS (SELECT 1 FROM pub3 p WHERE p.text = b2.text)
        |       GROUP BY b2.text),
        |a2 AS (SELECT CASE WHEN 2 * (SELECT count(*) FROM s2) >=
        |         (SELECT count(DISTINCT text) FROM b2) THEN 1 ELSE 0 END AS pass),
        |pub5 AS (SELECT doc_id, text FROM pub3
        |         UNION ALL
        |         SELECT s2.doc_id, s2.text FROM s2, a2 WHERE a2.pass = 1),
        |hd AS (SELECT doc_id, text FROM b0
        |       UNION ALL SELECT doc_id, text FROM s1
        |       UNION ALL SELECT doc_id, text FROM s2),
        |cen AS (
        | SELECT 1 AS stage, 'published' AS channel, count(*) AS n,
        |   coalesce(sum(length(text)), 0) AS c FROM b0
        | UNION ALL SELECT 2, 'feed', count(*),
        |   coalesce(sum(length(text)), 0) FROM s1
        | UNION ALL SELECT 3, 'published', count(*),
        |   coalesce(sum(length(text)), 0) FROM pub3
        | UNION ALL SELECT 4, 'feed', count(*),
        |   coalesce(sum(length(text)), 0) FROM s2
        | UNION ALL SELECT 5, 'published', count(*),
        |   coalesce(sum(length(text)), 0) FROM pub5
        | UNION ALL SELECT 6, 'head', count(*),
        |   coalesce(sum(length(text)), 0) FROM hd)
        |SELECT CAST(stage AS BIGINT) AS stage, channel,
        | CAST(n AS BIGINT) AS n_docs, CAST(c AS BIGINT) AS n_chars
        |FROM cen""".stripMargin,

    // string-key blooms replay end to end: the key hashes through the
    // pinned md5-60 form, then the same modular family as the integral
    // bloom; present-never-skipped and the exact collision keeps on
    // absent keys are both recomputed bit-for-bit
    "bloom_string_lookup" ->
      """WITH r AS (SELECT max(doc_id) AS dmax,
        |  (max(doc_id) + 16) // 16 AS span FROM documents),
        |keyed AS (
        | SELECT doc_id // r.span AS b,
        |  ('0x' || substr(md5('doc-' || doc_id), 1, 15))::BIGINT AS h
        | FROM documents, r),
        |sizes AS (
        | SELECT b, 64 * least(greatest(1, (12 * count(*) + 63) // 64), 32768) AS m
        | FROM keyed GROUP BY b),
        |anchors AS (
        | SELECT q, (SELECT max(doc_id) FROM documents, r
        |            WHERE doc_id <= ((dmax + 1) * q) // 5) AS a
        | FROM (VALUES (1), (2), (3), (4)) t(q)),
        |probes AS (
        | SELECT q AS pid, CAST(1 AS BIGINT) AS present,
        |  ('0x' || substr(md5('doc-' || a), 1, 15))::BIGINT AS kv,
        |  a AS target
        | FROM anchors
        | UNION ALL
        | SELECT q + 4, CAST(0 AS BIGINT),
        |  ('0x' || substr(md5('doc-' || (r.dmax + 1 + q)), 1, 15))::BIGINT,
        |  NULL
        | FROM anchors, r),
        |decisions AS (
        | SELECT p.pid, p.kv, s.b, s.m,
        |  (p.kv % 2147483647 * 48271) % 2147483647 % s.m AS t1,
        |  (p.kv % 2147483647 * 69621 + 12345) % 2147483647 % s.m AS t2
        | FROM probes p CROSS JOIN sizes s),
        |hits AS (
        | SELECT d.pid, d.b,
        |  max(CASE WHEN (kk.h % 2147483647 * 48271) % 2147483647 % d.m = d.t1
        |        OR (kk.h % 2147483647 * 69621 + 12345) % 2147483647 % d.m = d.t1
        |      THEN 1 ELSE 0 END) AS bit1,
        |  max(CASE WHEN (kk.h % 2147483647 * 48271) % 2147483647 % d.m = d.t2
        |        OR (kk.h % 2147483647 * 69621 + 12345) % 2147483647 % d.m = d.t2
        |      THEN 1 ELSE 0 END) AS bit2
        | FROM decisions d JOIN keyed kk ON kk.b = d.b
        | GROUP BY d.pid, d.b),
        |counts AS (
        | SELECT pid, CAST(sum(bit1 * bit2) AS BIGINT) AS n_files_bloom,
        |  CAST(count(*) AS BIGINT) AS n_files_total
        | FROM hits GROUP BY pid),
        |census AS (
        | SELECT p.pid, p.present, CAST(count(d2.doc_id) AS BIGINT) AS n_rows
        | FROM probes p LEFT JOIN documents d2 ON d2.doc_id = p.target
        | GROUP BY p.pid, p.present)
        |SELECT CAST(c.pid AS BIGINT) AS probe_id, c.present, c.n_rows,
        | t.n_files_bloom, t.n_files_total
        |FROM census c JOIN counts t ON t.pid = c.pid""".stripMargin,

    // the evolution roundtrip reduces to: snap 1 = the base corpus
    // with body sourced from text and lang absent (typed NULL -> zero
    // non-null rows); snap 3 = the v2 rewrite with its native lang
    "snapshot_schema_evolution" ->
      """SELECT CAST(1 AS BIGINT) AS snap,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS body_chars,
        |  CAST(0 AS BIGINT) AS lang_rows
        | FROM documents
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(length('v2: ' || text)), 0) AS BIGINT),
        |  CAST(count(lang) AS BIGINT)
        | FROM documents""".stripMargin
  )
}
