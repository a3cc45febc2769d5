package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference is purely batch
  * (SURVEY.md §2.10) — its incrementality is file-level caching — so
  * the streaming tier here is the Spark-native generalization: the
  * same event-window aggregation as operators.Relational
  * .eventWindowAgg, expressed over readStream with a watermark, plus
  * a stateful sessionizer. At scale this is the ingest path: new
  * parquet landing in a directory is picked up incrementally
  * (Trigger.AvailableNow for catch-up batches).
  */
object StreamingOps {

  /** events.parquet schema as landed, with `ts` declared to whatever
    * physical type this corpus generation carries (INT64 nanos read as
    * LongType, naive micros read as TIMESTAMP_NTZ, or Spark-written
    * TimestampType — see Tables.events). The stream source needs an
    * explicit schema, so probe it once from the batch reader's footer
    * inference; declaring the wrong type over a timestamp column fails
    * the whole stream.
    */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a landing dir of events parquet files.
    * Two layouts exist: the driver corpus lands `events.parquet` as a
    * single FILE inside `dir` (stream `dir` + name filter — the file
    * source requires a directory basePath), derived corpora (ScaleUp)
    * as a parquet DIRECTORY of part files (stream that directory — a
    * parent-dir pathGlobFilter on the file NAME would silently read
    * zero part files).
    *
    * COLD-START: a landing dir whose data hasn't arrived yet must
    * still yield a valid stream that picks files up incrementally —
    * so the ts-type probe (a batch footer read) falls back to the
    * historical INT64-nanos LongType when nothing is on disk yet
    * rather than throwing PATH_NOT_FOUND at stream-build time.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(s"$dir/events.parquet")
    val tsType =
      if (path.exists()) graft.ParquetSchemas.read(spark, path.toString).schema("ts").dataType
      else LongType
    val src =
      if (path.isDirectory)
        spark.readStream.schema(eventsSchema(tsType)).parquet(path.toString)
      else
        // single-file layout AND the cold-start case: stream the
        // landing dir itself (it exists) with a name filter, so a
        // file arriving later is picked up by a subsequent trigger
        spark.readStream.schema(eventsSchema(tsType))
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.Tables.normalizeTs(src)
  }

  /** Tumbling 1h event-time windows with a 2h watermark — the
    * streaming twin of the batch event_window_agg query (same buckets,
    * same aggregates).
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
        col("event_type"), col("n"), col("sum_value"))

  /** Per-user running stats via explicit state — the
    * KeyValueGroupedDataset.mapGroupsWithState surface for custom
    * stateful logic (the reference has no streaming; this is the
    * Spark-native generalization SURVEY §2.10 anticipates). State is
    * one small case class per user; at scale it lives in the state
    * store, partitioned by the group key.
    */
  case class UserEvent(user_id: Long, epoch_s: Long, value: Double)
  case class UserState(n: Long, sum: Double, lastSeen: Long)
  case class UserStats(user_id: Long, n: Long, sum_value: Double, last_seen: Long)

  def runningUserStats(events: DataFrame): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS LONG) AS epoch_s",
        "coalesce(value, 0.0) AS value")
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserStats](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue))
          val next = rows.foldLeft(prev) { (acc, e) =>
            UserState(acc.n + 1, acc.sum + e.value, math.max(acc.lastSeen, e.epoch_s))
          }
          state.update(next)
          UserStats(uid, next.n, next.sum, next.lastSeen)
      }
  }

  /** Streaming driver for runningUserStats (update mode, memory sink).
    * An update-mode memory sink APPENDS each trigger's updated rows —
    * a multi-microbatch run (maxFilesPerTrigger, multi-file landing
    * dir) leaves stale per-user rows behind. The state is monotone in
    * `n`, so the final state is each user's max-n row.
    */
  def runUserStatsOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = runningUserStats(readEvents(spark, dir))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n").desc)
    spark.table(queryName)
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Gap-based session assembly with explicit state — the streaming
    * twin of operators.Relational.eventsSessionize (30-min inactivity
    * gap). Emits CLOSED sessions (Append); the open session per user
    * stays in state until the event-time timeout fires past the
    * watermark. Within a trigger the group's events are sorted by
    * event time — Spark does not order the iterator.
    */
  case class Session(user_id: Long, start_s: Long, end_s: Long,
                     n_events: Long, sum_value: Double)
  /** internal state row (public: the codegen'd state encoder calls
    * the accessors from generated Java) */
  case class OpenSession(start: Long, end: Long, cnt: Long, total: Double)

  def gapSessions(events: DataFrame, gapSeconds: Long = 1800): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS LONG) AS epoch_s",
        "coalesce(value, 0.0) AS value", "ts")
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(o =>
              Session(uid, o.start, o.end, o.cnt, o.total)).iterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
            var open = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { case (_, es, v, _) =>
              open match {
                case Some(o) if es - o.end <= gapSeconds =>
                  open = Some(OpenSession(o.start, es, o.cnt + 1, o.total + v))
                case Some(o) =>
                  closed += Session(uid, o.start, o.end, o.cnt, o.total)
                  open = Some(OpenSession(es, es, 1, v))
                case None =>
                  open = Some(OpenSession(es, es, 1, v))
              }
            }
            open.foreach(state.update)
            if (state.exists)
              state.setTimeoutTimestamp(state.get.end * 1000 + gapSeconds * 1000)
            closed.result().iterator
          }
      }
  }

  /** Streaming driver for gapSessions (append mode, memory sink). */
  def runGapSessionsOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = gapSessions(readEvents(spark, dir))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Stream-stream attribution join: every purchase joined to the
    * same user's clicks in the preceding hour (inclusive) — the
    * watermarked two-stream join surface. Both sides carry a 2h
    * watermark and the join condition bounds event-time distance, so
    * the state store can expire rows: unbounded-state stream joins
    * don't survive production. Inner join: matched pairs emit as soon
    * as both rows arrive; the watermark governs state cleanup.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        expr("unix_micros(p_ts) - unix_micros(c_ts)").as("gap_us"))
  }

  /** Streaming driver for attributionJoin (append mode, memory sink). */
  def runAttributionOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = attributionJoin(readEvents(spark, dir), readEvents(spark, dir))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming exact dedup over a landing stream of events — the
    * ingest-time twin of the batch hash-groupBy dedup: keep the first
    * arrival per (user_id, event_type, value) content key, drop later
    * duplicates. `dropDuplicatesWithinWatermark` bounds the state
    * store to the watermark horizon (plain dropDuplicates on a stream
    * grows state forever — not a production shape); within the
    * horizon the dedup is exact.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")

  /** Streaming driver for dedupStream (append mode, memory sink). */
  def runDedupOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = dedupStream(readEvents(spark, dir))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Durable sink for the hourly aggregation: foreachBatch in COMPLETE
    * mode rewrites the parquet output with the full current aggregate
    * each micro-batch — idempotent under restart/replay by
    * construction (a replayed batch rewrites identical content; a
    * checkpointed re-run with no new files writes nothing). Memory
    * sinks are test scaffolding; this is the durable shape. At a scale
    * where the full agg is too big to rewrite, the update-mode twin is
    * a MERGE into a keyed table (bucket, event_type) — partition-
    * overwrite granularity must then match the agg key, not a coarser
    * column, or a partial batch clobbers sibling buckets.
    */
  def runHourlyToParquet(spark: SparkSession, dir: String, outDir: String,
                         checkpoint: String): Unit = {
    val q = hourlyAgg(readEvents(spark, dir))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run to completion over whatever is in the landing dir (test/demo
    * harness): memory sink + processAllAvailable.
    */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q: StreamingQuery = hourlyAgg(readEvents(spark, dir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Stream-static incremental dedup — the streaming twin of
    * `Dedup.dedupIncremental`: NEW docs land as a stream and probe a
    * STATIC band table built once from the existing corpus (the
    * stream-static equi-join shape Structured Streaming uses for
    * reference-data enrichment; the static side is the precomputed
    * artifact the 100 TB batch job would publish).
    *
    * Stream-side signatures are per-row ARRAY expressions
    * (array_min over transforms of the gram-hash array) — narrow, no
    * stream aggregation before the join, identical values to the
    * batch explode+min-agg formulation (that one is faster for batch
    * re-scans; per-row arrays are the right shape for microbatches).
    * The per-doc best-match reduction then runs in update mode.
    * Emits only docs with >= 1 screen match (est >= 0.5) — the
    * no-match complement just passes through ingest; StreamingSpec
    * pins equality with the batch operator's matched subset.
    */
  def incrementalDedupStream(spark: SparkSession, newDocs: DataFrame,
                             staticDir: String): DataFrame = {
    import graft.functions.TextFunctions._
    import graft.operators.Dedup
    val P = Dedup.P
    // static side: signatures + band hashes of the EXISTING corpus
    val oldSig = Dedup.minhashSigDf(spark, staticDir)
      .filter(pmod(col("doc_id"), lit(10)) =!= 9 && col("sig0").isNotNull)
      .withColumn("sig_o", array((0 until 8).map(j => col(s"sig$j")): _*))
    val oldBands = oldSig.select(col("doc_id").as("old_id"), col("sig_o"),
      posexplode(array((0 until 4).map { b =>
        md5(concat_ws("_", col(s"sig${2 * b}"), col(s"sig${2 * b + 1}")))
      }: _*)).as(Seq("bid", "bh")))
    // stream side: same signature math, per-row (narrow)
    val sigArr = (0 until 8).map { j =>
      val a = 2 * j + 3
      val b = 101 * j + 7
      array_min(transform(col("ghs"), h => ((h % P) * a + b) % P)).as(s"sig$j")
    }
    val newSig = newDocs
      .filter(pmod(col("doc_id"), lit(10)) === 9)
      .select(col("doc_id").as("new_id"), tokens(col("text")).as("toks"))
      .select(col("new_id"), gramHashes(col("toks"), 3).as("ghs"))
      .filter(size(col("ghs")) > 0)
      .select(col("new_id") +: sigArr: _*)
      .withColumn("sig_n", array((0 until 8).map(j => col(s"sig$j")): _*))
    val newBands = newSig.select(col("new_id"), col("sig_n"),
      posexplode(array((0 until 4).map { b =>
        md5(concat_ws("_", col(s"sig${2 * b}"), col(s"sig${2 * b + 1}")))
      }: _*)).as(Seq("bid", "bh")))
    val est = aggregate(
      zip_with(col("sig_n"), col("sig_o"), (x, y) => (x === y).cast("int")),
      lit(0), (acc, x) => acc + x).cast("double") / 8
    // ONE stream aggregation (chained stateful aggs are unsupported):
    // a pair sharing several bands appears once per band, so distinct
    // matches come from collect_set and the (est desc, old_id asc)
    // argmax from a struct max — duplicates change neither.
    newBands.join(oldBands, Seq("bid", "bh"))
      .select(col("new_id"), col("old_id"), round(est, 6).as("est"))
      .filter(col("est") >= 0.5)
      .groupBy(col("new_id"))
      .agg(size(collect_set(col("old_id"))).cast("long").as("n_matches"),
        max(struct(col("est"), (-col("old_id")).as("neg"))).as("m"))
      .select(col("new_id"), col("n_matches"),
        col("m.est").as("best_est"), (-col("m.neg")).as("best_match"))
  }

  /** Stream-static incremental CONTAINMENT screening — the streaming
    * twin of `Dedup.containmentIncremental` and the asymmetric
    * complement of incrementalDedupStream (a short new doc quoted
    * inside a long corpus doc never agrees on minhash signatures;
    * this channel catches it at ingest time). NEW docs land as a
    * stream carrying their per-row sorted distinct token-hash set
    * (narrow array expression, no stream aggregation before the
    * join); the STATIC side is the corpus's set table keyed by
    * source — the published batch artifact. The per-pair merge-walk
    * intersect and the integer 5i >= 4·min gate run inside the
    * stream-static join projection; ONE update-mode aggregate keeps
    * each new doc's match census and best containing match.
    */
  def incrementalContainmentStream(spark: SparkSession, newDocs: DataFrame,
                                   staticDir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val corpus = graft.Tables.documents(spark, staticDir)
      .filter(pmod(col("doc_id"), lit(graft.operators.Dedup.IncrMod)) =!=
        graft.operators.Dedup.IncrRem)
      .select(col("source"), col("doc_id").as("old_id"),
        tokens(col("text")).as("toks"))
      .select(col("source"), col("old_id"),
        array_sort(array_distinct(gramHashes(col("toks"), 1))).as("uo"))
      .select(col("source"), col("old_id"), col("uo"),
        size(col("uo")).cast("long").as("no"))
    val batch = newDocs
      .filter(pmod(col("doc_id"), lit(graft.operators.Dedup.IncrMod)) ===
        graft.operators.Dedup.IncrRem)
      .select(col("source"), col("doc_id").as("new_id"),
        tokens(col("text")).as("toks"))
      .select(col("source"), col("new_id"),
        array_sort(array_distinct(gramHashes(col("toks"), 1))).as("un"))
      .select(col("source"), col("new_id"), col("un"),
        size(col("un")).cast("long").as("nn"))
    val i = graft.functions.IntersectCount
      .intersectCount(col("un"), col("uo")).cast("long")
    batch.join(corpus, Seq("source"))
      .select(col("new_id"), col("old_id"), col("nn"), col("no"), i.as("i"))
      .filter(col("nn") > 0 && col("no") > 0 &&
        col("i") * 5 >= least(col("nn"), col("no")) * 4)
      .select(col("new_id"), col("old_id"),
        round(col("i").cast("double") / least(col("nn"), col("no")), 6)
          .as("cont"))
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("cont"), (-col("old_id")).as("neg"))).as("m"))
      .select(col("new_id"), col("n_matches"),
        col("m.cont").as("best_cont"), (-col("m.neg")).as("best_match"))
  }

  /** Streaming CM/AGMS register twin of Sketch.joinSizeEstimate's
    * events side: the register build is a plain keyed aggregation
    * ((row_i, bucket) -> count + signed sum), which is sum-mergeable
    * across triggers, so arriving events fold into update-mode state
    * with no custom state code. The runner reduces the memory sink to
    * final registers (count is strictly monotone per key, so the row
    * at max count IS the final state), inner-products them against the
    * STATIC orders registers, and must equal the batch estimator.
    */
  def joinSizeStream(spark: SparkSession, newEvents: DataFrame): DataFrame =
    graft.operators.Sketch.registerSketch(newEvents, col("user_id"))

  def runJoinSizeOnce(spark: SparkSession, dir: String,
                      queryName: String): DataFrame =
    runJoinSize(spark, readEvents(spark, dir), dir, queryName)

  def runJoinSize(spark: SparkSession, newEvents: DataFrame, dir: String,
                  queryName: String): DataFrame = {
    val q = joinSizeStream(spark, newEvents)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val finalEv = spark.table(queryName)
      .groupBy(col("row_i"), col("bucket"))
      .agg(max(col("c")).as("c"),
        max_by(col("cs"), col("c")).as("cs"))
    val ro = graft.operators.Sketch
      .registerSketch(graft.Tables.orders(spark, dir), col("o_custkey"))
      .withColumnRenamed("c", "co").withColumnRenamed("cs", "cso")
    finalEv.join(ro, Seq("row_i", "bucket"))
      .groupBy(col("row_i"))
      .agg(sum(col("c") * col("co")).as("cm_est"),
        sum(col("cs") * col("cso")).as("agms_est"))
  }

  /** Stream-static duplicate-span coverage twin of
    * Dedup.spanCoverageIncremental: the corpus side is a STATIC
    * distinct 8-gram-hash set; arriving docs join it by membership
    * (no pair enumeration), and covered token positions accumulate as
    * a per-doc position SET inside a single update-mode aggregation
    * (collect_set — one stateful operator, so no multi-stateful
    * restriction; state per doc is bounded by its token count).
    * Emits matched docs only; the batch operator's zero rows are a
    * batch-side fill.
    */
  def spanCoverageStream(spark: SparkSession, newDocs: DataFrame,
                         staticDir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val K = 8
    val corpus = graft.Tables.documents(spark, staticDir)
      .filter(pmod(col("doc_id"), lit(graft.operators.Dedup.IncrMod)) =!=
        graft.operators.Dedup.IncrRem)
      .select(tokens(col("text")).as("toks"))
      .select(explode(gramHashes(col("toks"), K)).as("h")).distinct()
    val batch = newDocs
      .filter(pmod(col("doc_id"), lit(graft.operators.Dedup.IncrMod)) ===
        graft.operators.Dedup.IncrRem)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        posexplode(gramHashes(col("toks"), K)))
      .toDF("doc_id", "n_tokens", "pos", "h")
    batch.join(corpus, Seq("h"))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(col("pos"), col("pos") + lit(K - 1))).as("p"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(size(collect_set(col("p"))).cast("long").as("covered_tokens"))
  }

  /** Streaming driver for spanCoverageStream (update mode, memory
    * sink): final state per doc = max covered count (monotone under
    * accumulation), ppm derived after.
    */
  def runSpanCoverageOnce(spark: SparkSession, dir: String,
                          queryName: String): DataFrame =
    runSpanCoverage(spark, readDocuments(spark, dir), dir, queryName)

  def runSpanCoverage(spark: SparkSession, newDocs: DataFrame, dir: String,
                      queryName: String): DataFrame = {
    val q = spanCoverageStream(spark, newDocs, dir)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(max(col("covered_tokens")).as("covered_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("covered_tokens"),
        expr("(1000000 * covered_tokens) div n_tokens").as("covered_ppm"))
  }

  /** Streaming driver for incrementalContainmentStream (update mode,
    * memory sink), final-state-per-new_id like the dedup runner.
    */
  def runIncrementalContainmentOnce(spark: SparkSession, dir: String,
                                    queryName: String): DataFrame = {
    val q = incrementalContainmentStream(spark, readDocuments(spark, dir), dir)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
      .groupBy(col("new_id"))
      .agg(max(struct(col("n_matches"), col("best_cont"),
        (-col("best_match")).as("neg"))).as("m"))
      .select(col("new_id"), col("m.n_matches").as("n_matches"),
        col("m.best_cont").as("best_cont"), (-col("m.neg")).as("best_match"))
  }

  /** Streaming driver for incrementalDedupStream (update mode, memory
    * sink): keeps each new doc's FINAL match row (monotone n_matches /
    * best pair under accumulation) like the other update-mode runners.
    */
  def runIncrementalDedupOnce(spark: SparkSession, dir: String,
                              queryName: String): DataFrame = {
    val q = incrementalDedupStream(spark, readDocuments(spark, dir), dir)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // update-mode memory sinks append every trigger's rows: keep the
    // final state per new_id (max n_matches, then best (est, -match))
    spark.table(queryName)
      .groupBy(col("new_id"))
      .agg(max(struct(col("n_matches"), col("best_est"),
        (-col("best_match")).as("neg"))).as("m"))
      .select(col("new_id"), col("m.n_matches").as("n_matches"),
        col("m.best_est").as("best_est"), (-col("m.neg")).as("best_match"))
  }

  /** Stream-static importance scoring — the streaming twin of
    * `TrainPrep.importanceResample`: docs land as a stream and score
    * against the STATIC per-term contrast model (the published batch
    * artifact a 100 TB run trains once and reuses across daily
    * drops). Stream side explodes token OCCURRENCES and left-joins
    * the model keyed on term — Σ over occurrences of contrast ≡ the
    * batch Σ tf·contrast, so no per-(doc, term) tf stage is needed;
    * unknown terms (absent from the artifact) contribute 0. ONE
    * update-mode aggregate folds the per-doc sum; the shift-trick
    * mean, clamp, and md5 accept draw run as post-aggregate
    * projections. A document is one parquet row, so all its
    * occurrences land in one trigger and each doc emits exactly one
    * final update — the in-stream accept filter is safe.
    */
  def importanceStream(spark: SparkSession, newDocs: DataFrame,
                       staticDir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val occ0 = graft.Tables.documents(spark, staticDir)
      .select(
        (pmod(graft.functions.Hash60.hash60(col("source")), lit(4L)) === 0L)
          .as("tgt"),
        explode(tokens(col("text"))).as("term"))
    val vocab = occ0.groupBy(col("term")).agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("tc"),
      count(lit(1)).as("rc"))
    val tot = vocab.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
    val model = vocab.crossJoin(broadcast(tot))
      .select(col("term"),
        (expr("tc * 1000000 div tt") - expr("rc * 1000000 div rt"))
          .as("contrast"))
    val occ = newDocs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    occ.join(model, Seq("term"), "left")
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(coalesce(col("contrast"), lit(0L))).as("sw"))
      .select(col("doc_id"),
        (expr("(sw + dl * 1000000) div dl") - lit(1000000L)).as("score_ppm"))
      .select(col("doc_id"), col("score_ppm"),
        least(lit(1000000L),
          greatest(lit(0L), lit(500000L) + lit(100L) * col("score_ppm")))
          .as("weight_ppm"))
      .filter(pmod(graft.functions.Hash60.hash60(
        concat(lit("rs"), col("doc_id").cast("string"))), lit(1000000L))
        < col("weight_ppm"))
  }

  def runImportanceOnce(spark: SparkSession, dir: String,
                        queryName: String): DataFrame = {
    val q = importanceStream(spark, readDocuments(spark, dir), dir)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** documents.parquet schema as landed (see Tables.documents). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over a landing dir of documents parquet (same
    * file/directory duality as readEvents).
    */
  def readDocuments(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(s"$dir/documents.parquet")
    if (path.isDirectory)
      spark.readStream.schema(documentsSchema).parquet(path.toString)
    else
      spark.readStream.schema(documentsSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
  }

  /** Streaming quality gate — the ingest-time curation filter: per-doc
    * repetition / entropy / classifier signals (all native kernels)
    * and the keep decision, computed as a STATELESS projection+filter,
    * so it runs identically over a stream of landing files and a batch
    * scan (pinned equal in StreamingSpec). This is the shape that
    * scores a crawl as it lands instead of re-scanning the corpus:
    * zero state, zero shuffle, append mode, scan speed.
    */
  def qualityGate(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions._
    val sig = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        graft.functions.NormText.normText(col("text")).as("norm"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        col("toks"), col("norm"),
        array_sort(col("toks")).as("stoks"),
        gramHashes(col("toks"), 3).as("tg"))
    val n = size(col("toks")).cast("long")
    val topPpm = when(n > 0,
      floor(lit(1000000.0) * graft.functions.RunLengthMax.runLengthMax(col("stoks")) / n)
        .cast("long")).otherwise(lit(0L))
    val ntg = size(col("tg")).cast("long")
    val triPpm = when(ntg > 0,
      floor(lit(1000000.0) * (ntg - size(array_distinct(col("tg"))).cast("long")) / ntg)
        .cast("long")).otherwise(lit(0L))
    val nn = length(col("norm")).cast("double")
    val ent = when(length(col("norm")) > 0,
      round(log(nn) - graft.functions.CharStats.charRlnR(col("norm")) / nn, 6))
      .otherwise(lit(0.0))
    sig.select(col("doc_id"), col("n_tokens"),
      topPpm.as("top_word_ppm"), triPpm.as("dup_trigram_ppm"), ent.as("char_entropy"))
      .filter(col("top_word_ppm") <= 200000 && col("dup_trigram_ppm") <= 300000 &&
        col("char_entropy") >= 2.7)
  }

  /** Streaming ordered-funnel state machine — the incremental twin of
    * operators.Temporal.funnelSteps (view -> click -> purchase, each
    * step strictly after the previous). State per user is three longs;
    * within a trigger the group's events are sorted by event time (the
    * iterator is unordered), and because each step only ever fills a
    * later slot from an earlier one, the forward pass over sorted
    * events reproduces the batch "min strictly after previous min"
    * exactly. Monotone-state caveat: data later than the processed
    * prefix can only DEEPEN the funnel — a late-arriving earlier view
    * cannot retract an already-assigned t1 (the standard trade of
    * incremental funnels; the batch operator is the re-statement).
    */
  case class FunnelEvent(user_id: Long, event_type: String, us: Long)
  /** state row (public: the state encoder's generated code needs the
    * accessors); -1 = slot unset */
  case class FunnelSlots(t1: Long, t2: Long, t3: Long)
  case class FunnelRow(user_id: Long, t1: Long, t2: Option[Long],
                       t3: Option[Long], depth: Int)

  def funnelStream(events: DataFrame): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelSlots, FunnelRow](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelSlots]) =>
          var st = state.getOption.getOrElse(FunnelSlots(-1L, -1L, -1L))
          rows.toSeq.sortBy(_.us).foreach { e =>
            e.event_type match {
              case "view" if st.t1 < 0 => st = st.copy(t1 = e.us)
              case "click" if st.t1 >= 0 && st.t2 < 0 && e.us > st.t1 =>
                st = st.copy(t2 = e.us)
              case "purchase" if st.t2 >= 0 && st.t3 < 0 && e.us > st.t2 =>
                st = st.copy(t3 = e.us)
              case _ => ()
            }
          }
          state.update(st)
          FunnelRow(uid, st.t1,
            if (st.t2 >= 0) Some(st.t2) else None,
            if (st.t3 >= 0) Some(st.t3) else None,
            1 + (if (st.t2 >= 0) 1 else 0) + (if (st.t3 >= 0) 1 else 0))
      }
  }

  /** Streaming driver for funnelStream (update mode, memory sink);
    * rows for users who never viewed carry t1 = -1 and are dropped —
    * they haven't entered the funnel. The memory sink appends every
    * trigger's update, so a multi-microbatch run emits a user more
    * than once; the funnel state is monotone (slots only fill), so
    * the final state is the max-(depth, t3, t2) row per user.
    */
  def runFunnelOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = funnelStream(readEvents(spark, dir))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("depth").desc,
        col("t3").desc_nulls_last, col("t2").desc_nulls_last)
    spark.table(queryName).filter(col("t1") >= 0)
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Streaming driver for qualityGate (append mode, memory sink). */
  def runQualityGateOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q: StreamingQuery = qualityGate(readDocuments(spark, dir))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming intra-document dedup — the ingest-time twin of
    * operators.TextAnalysis.intradocDedup. The rewrite never looks
    * outside one document, so the twin IS the batch projection run
    * over the landing stream: stateless, append mode, zero shuffle,
    * no watermark. This is the C4-style cleanup applied as a crawl
    * LANDS rather than as a corpus re-scan — the cheapest point in
    * the pipeline to do it, since every later stage sees less text.
    * StreamingSpec pins stream == batch exactly (stats and deltas).
    */
  def intradocStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.intradocRewrite(
      docs.select(col("doc_id"), col("text")), k = 2)

  /** Streaming driver for intradocStream (append mode, memory sink). */
  def runIntradocOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q: StreamingQuery = intradocStream(readDocuments(spark, dir))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming CUSUM monitor state — the incremental twin of
    * operators.Temporal.cusumDrift's daily count table. Counts are
    * sum-mergeable across micro-batches (the driftStream discipline),
    * so the twin IS the shared (event_type, epoch-day) aggregation in
    * complete mode; a monitor reads the latest table per trigger and
    * applies the CUSUM window step (a bounded |types| x |days|
    * computation) outside the stream. StreamingSpec pins both the
    * final count table AND the composed CUSUM readout equal to batch.
    */
  def cusumStream(events: DataFrame): DataFrame =
    graft.operators.Temporal.dailyCounts(events)

  def runCusumOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q: StreamingQuery = cusumStream(readEvents(spark, dir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming drift-count monitor — the incremental twin of
    * operators.Profile.distDrift's count table. The (feature, bucket)
    * ref/cur counts are plain SUM-mergeable aggregation state (no
    * custom state machine needed — each micro-batch's partial counts
    * merge by addition, exactly the batch map-side combine), so the
    * twin IS the shared lane aggregation run in complete mode over the
    * landing stream. A monitor reads the latest count table per
    * trigger and applies the ratio/chi-square step (a ~100-row
    * computation) outside the stream; StreamingSpec pins the stream's
    * final count table equal to the batch scan's.
    */
  def driftStream(docs: DataFrame): DataFrame =
    graft.operators.Profile.driftCounts(docs)

  def runDriftOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q: StreamingQuery = driftStream(readDocuments(spark, dir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Orders landing stream (same layout discipline as readEvents /
    * readDocuments: directory layout streams the table dir, single-
    * file layout streams the parent with a name filter so cold-start
    * landing dirs pick files up incrementally). Schema comes from a
    * batch footer probe when data exists, falling back to the
    * canonical generator layout (o_orderdate as NTZ micros).
    */
  def readOrders(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(s"$dir/orders.parquet")
    val schema =
      if (path.exists()) graft.ParquetSchemas.read(spark, path.toString).schema
      else StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampNTZType),
        StructField("o_orderpriority", StringType)))
    if (path.isDirectory)
      spark.readStream.schema(schema).parquet(path.toString)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
  }

  /** Streaming OLS trend state — the incremental twin of
    * operators.Temporal.olsTrend. The (nation, month) exact-cents
    * revenue lane is SUM-mergeable aggregation state (dims join
    * stream-static and broadcast), so the twin IS the shared
    * monthlyRevenueCents lane in complete mode; the OLS moment/exit
    * readout (Temporal.ols — a 2k-row computation) runs over the
    * latest state table per trigger. StreamingSpec pins the streamed
    * lane AND the composed readout equal to the batch operator.
    */
  def olsStream(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.monthlyRevenueCents(
      readOrders(spark, dir),
      graft.Tables.customer(spark, dir), graft.Tables.nation(spark, dir))

  def runOlsOnce(spark: SparkSession, dir: String,
                 queryName: String): DataFrame = {
    val q: StreamingQuery = olsStream(spark, dir)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming content-defined chunk state — the ingest-time twin of
    * operators.Dedup.contentChunkDedup. Chunking itself is stateless
    * and strictly narrow (the boundary rule is a per-position
    * predicate), so the twin IS the shared per-(chunk_hash, doc_id)
    * count lane: sum-mergeable aggregation state, each micro-batch's
    * partial counts merging by addition exactly like the batch
    * map-side combine. The spectrum readout (Dedup.chunkSpectrum)
    * runs over the latest state table per trigger, outside the
    * stream; StreamingSpec pins the streamed state AND the composed
    * readout equal to the batch operator.
    */
  def contentChunkStream(docs: DataFrame): DataFrame =
    graft.operators.Dedup.chunkPairCounts(docs)

  def runContentChunkOnce(spark: SparkSession, dir: String,
                          queryName: String): DataFrame = {
    val q: StreamingQuery = contentChunkStream(readDocuments(spark, dir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming Misra–Gries heavy-hitter sketch — the state-store twin
    * of operators.Sketch.heavyHitters' per-partition pass 1. The token
    * stream shards by content hash (a fixed, small key space — the
    * state store holds `shards` bounded maps, not the vocabulary), and
    * each shard's state is one decrement-all MG summary carried across
    * micro-batches: counters cap at `cap`, every eviction round
    * removes cap+1 units of observed mass, so per shard any token with
    * true count > shard_total/(cap+1) is guaranteed to be in the final
    * summary regardless of how arrivals split across triggers.
    * `seq`/`shard_total`/`evictions` ride along so a readout can pick
    * the latest emission and a spec can check the MG error bound
    * (true - est <= evictions). Batch pass 2 (exact recount of
    * survivors) applies unchanged to the emitted candidate set.
    */
  case class MgShardRow(shard: Int, seq: Long, token: String, est: Long,
                        shard_total: Long, evictions: Long)
  case class MgShardState(seq: Long, total: Long, evictions: Long,
                          counters: Map[String, Long])

  def heavyHittersStream(docs: DataFrame, shards: Int = 8,
      cap: Int = 64): Dataset[MgShardRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .select(col("token"),
        pmod(graft.functions.TextFunctions.hash60(col("token")), lit(shards))
          .cast("int").as("shard"))
      .as[(String, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[MgShardState, MgShardRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          val prev = state.getOption.getOrElse(MgShardState(0L, 0L, 0L, Map.empty))
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          m ++= prev.counters
          var total = prev.total
          var ev = prev.evictions
          rows.foreach { case (t, _) =>
            total += 1
            m.get(t) match {
              case Some(c) => m.update(t, c + 1)
              case None if m.size < cap => m.update(t, 1L)
              case None =>
                ev += 1
                // snapshot before mutating (iteration order under
                // remove is unstable) — same kernel as the batch pass
                val snap = m.toArray
                var i = 0
                while (i < snap.length) {
                  val (k, v) = snap(i)
                  if (v == 1L) m.remove(k) else m.update(k, v - 1L)
                  i += 1
                }
            }
          }
          val seq = prev.seq + 1
          state.update(MgShardState(seq, total, ev, m.toMap))
          m.iterator.map { case (t, c) => MgShardRow(shard, seq, t, c, total, ev) }
      }
  }

  /** Streaming anomaly-day monitor — the state-store twin of
    * operators.Temporal.anomalyDays: per event_type, daily counts
    * accumulate in state across micro-batches, and every trigger
    * re-emits each observed day with the SAME integer z-test the
    * batch operator uses ((7x-S)^2 > 9*(7*Sx2 - S^2) over the
    * preceding 7 observed days; no flag under short history). State
    * is one bounded day->count map per type; the readout keeps each
    * type's latest emission, which converges to the batch result once
    * all input is consumed (pinned in StreamingSpec, single- and
    * multi-batch).
    */
  case class AnomalyRow(event_type: String, day_s: Long, seq: Long,
                        n: Long, is_anomaly: Boolean)
  case class DayCountState(seq: Long, counts: Map[Long, Long])

  def anomalyStream(events: DataFrame): Dataset[AnomalyRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("event_type",
        "CAST(unix_timestamp(CAST(to_date(ts) AS TIMESTAMP)) AS LONG) AS day_s")
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DayCountState, AnomalyRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (et, rows, state) =>
          val prev = state.getOption.getOrElse(DayCountState(0L, Map.empty))
          val m = scala.collection.mutable.Map.empty[Long, Long]
          m ++= prev.counts
          rows.foreach { case (_, d) => m.update(d, m.getOrElse(d, 0L) + 1L) }
          val seq = prev.seq + 1
          state.update(DayCountState(seq, m.toMap))
          val days = m.keys.toArray.sorted
          days.indices.iterator.map { i =>
            val win = days.slice(math.max(0, i - 7), i)
            val x = m(days(i))
            val flag = win.length == 7 && {
              val s = win.map(m).sum
              val sx2 = win.map(dd => m(dd) * m(dd)).sum
              (7 * x - s) * (7 * x - s) > 9 * (7 * sx2 - s * s)
            }
            AnomalyRow(et, days(i), seq, x, flag)
          }
      }
  }

  /** Streaming driver for anomalyStream (update mode, memory sink);
    * readout keeps each type's latest (max-seq) emission.
    */
  def runAnomalyOnce(spark: SparkSession, dir: String,
      queryName: String, source: DataFrame = null): DataFrame = {
    val in = Option(source).getOrElse(readEvents(spark, dir))
    val q = anomalyStream(in)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    spark.table(queryName)
      .withColumn("__mx", org.apache.spark.sql.functions.max(col("seq")).over(w))
      .filter(col("seq") === col("__mx"))
      .select(col("event_type"), col("day_s"), col("n"), col("is_anomaly"))
  }

  /** Streaming HLL distinct-count sketch — the state-store twin of
    * Sketch.hllDistinct's register algebra, over the events stream:
    * per event_type, a 1024-register HLL (p = 10, hash60 of the
    * user_id rendered as a string, rho = rank of the leading 1-bit of
    * the low 50 hash bits) lives in state and MAX-merges each
    * micro-batch's observations. This is WHY HLL is the 100 TB
    * distinct operator: in batch the registers merge map-side across
    * partitions; here the identical merge runs across triggers in the
    * state store — same registers, same Σ 2^(51-rho) integer sum,
    * same raw alpha*m²/S estimate (StreamingSpec pins single- and
    * multi-batch runs equal to an independent driver-side replay).
    * State per key is a fixed 1024-int array — bounded regardless of
    * stream length, unlike an exact distinct's key set.
    */
  case class HllRow(event_type: String, seq: Long, s_scaled: Long, hll_est: Long)
  case class HllRegState(seq: Long, regs: Array[Int])

  def hllStream(events: DataFrame): Dataset[HllRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"),
        graft.functions.TextFunctions.hash60(col("user_id").cast("string")).as("hv"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HllRegState, HllRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (et, rows, state) =>
          val prev = state.getOption.getOrElse(HllRegState(0L, new Array[Int](1024)))
          val regs = prev.regs.clone()
          rows.foreach { case (_, hv) =>
            val bucket = (hv >>> 50).toInt
            val rem = hv & ((1L << 50) - 1)
            val rho =
              if (rem == 0L) 51 else 51 - java.lang.Long.toBinaryString(rem).length
            if (rho > regs(bucket)) regs(bucket) = rho
          }
          val seq = prev.seq + 1
          state.update(HllRegState(seq, regs))
          var sScaled = 0L
          var i = 0
          while (i < 1024) { sScaled += 1L << (51 - regs(i)); i += 1 }
          val est = math.floor(0.7213 / (1.0 + 1.079 / 1024.0) * 1048576.0 *
            2251799813685248.0 / sScaled.toDouble).toLong
          Iterator.single(HllRow(et, seq, sScaled, est))
      }
  }

  /** Streaming driver for hllStream (update mode, memory sink);
    * readout keeps each type's latest (max-seq) register summary.
    */
  def runHllOnce(spark: SparkSession, dir: String, queryName: String,
      source: DataFrame = null): DataFrame = {
    val in = Option(source).getOrElse(readEvents(spark, dir))
    val q = hllStream(in)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    spark.table(queryName)
      .withColumn("__mx", org.apache.spark.sql.functions.max(col("seq")).over(w))
      .filter(col("seq") === col("__mx"))
      .select(col("event_type"), col("s_scaled"), col("hll_est"))
  }

  /** Streaming Count-Min sketch — the state-store twin of
    * Sketch.cmsketchEval's register build over the documents stream:
    * the 4 x 1024 integer registers live in state keyed by the CMS
    * row index (4 keys, so the register build parallelizes across the
    * state store like the batch build parallelizes across partitions),
    * and each micro-batch's token counts SUM-merge into them — the
    * same elementwise-sum algebra that merges per-partition partials
    * in batch. Emits one row per register row per trigger with the
    * register SUM (mass conservation: Σ registers of any row == total
    * tokens seen) and a stable checksum of the register vector so the
    * spec can pin stream-final == batch registers exactly.
    */
  case class CmsRow(row_i: Int, seq: Long, total: Long, checksum: Long)
  case class CmsRegState(seq: Long, regs: Array[Long])

  def cmsStream(docs: DataFrame): Dataset[CmsRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .select(explode(array((0 until 4).map { i =>
        struct(lit(i).as("row_i"),
          pmod(graft.functions.TextFunctions.hash60(
            concat(lit(s"cm${i}_"), col("token"))), lit(1024L)).as("bucket"))
      }: _*)).as("rb"))
      .select(col("rb.row_i"), col("rb.bucket"))
      .as[(Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CmsRegState, CmsRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (rowI, rows, state) =>
          val prev = state.getOption.getOrElse(CmsRegState(0L, new Array[Long](1024)))
          val regs = prev.regs.clone()
          rows.foreach { case (_, b) => regs(b.toInt) += 1L }
          val seq = prev.seq + 1
          state.update(CmsRegState(seq, regs))
          var total = 0L
          var ck = 0L
          var i = 0
          while (i < 1024) {
            total += regs(i)
            // order-fixed polynomial checksum over the register vector
            ck = ck * 1000003L + regs(i)
            i += 1
          }
          Iterator.single(CmsRow(rowI, seq, total, ck))
      }
  }

  /** Streaming driver for cmsStream (update mode, memory sink);
    * readout keeps each register row's latest (max-seq) summary.
    */
  def runCmsOnce(spark: SparkSession, dir: String, queryName: String,
      source: DataFrame = null): DataFrame = {
    val in = Option(source).getOrElse(readDocuments(spark, dir))
    val q = cmsStream(in)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("row_i"))
    spark.table(queryName)
      .withColumn("__mx", org.apache.spark.sql.functions.max(col("seq")).over(w))
      .filter(col("seq") === col("__mx"))
      .select(col("row_i"), col("total"), col("checksum"))
  }

  /** Streaming driver for heavyHittersStream (update mode, memory
    * sink): each trigger re-emits a shard's full summary, so the
    * readout keeps only each shard's latest (max-seq) emission.
    */
  def runHeavyHittersOnce(spark: SparkSession, dir: String,
      queryName: String): DataFrame = {
    val q = heavyHittersStream(readDocuments(spark, dir))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
    spark.table(queryName)
      .withColumn("__mx", org.apache.spark.sql.functions.max(col("seq")).over(w))
      .filter(col("seq") === col("__mx")).drop("__mx")
  }
}
