package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The one run configuration of graft: the session profile every main
  * and spec runs in, and the drain / prewarm / timed-run steps the
  * timing tools share. Also the builder-side diagnostics, as
  * subcommands over named registry queries:
  *
  * {{{
  * runMain graft.Harness time    <sfDir> <query>...  # 2 timed runs each, warm lanes
  * runMain graft.Harness probe   <sfDir> <query>...  # job/stage census of one run
  * runMain graft.Harness plans   <sfDir> <query>...  # plan signature (PlanGuardSpec's pins)
  * runMain graft.Harness explain <sfDir> [query]...  # formatted plans; none = all;
  *                                                   # <query>:lazy = its full lineage
  * }}}
  *
  * A conf the profile does not set can be given as a `-Dspark.*`
  * system property; Spark reads those for every session.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** `SPARK_GRAFT_CPUS`, default 4: the local cores and the shuffle
    * partition count. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  private var profiled: SparkSession = _

  /** The profile session, made the active and default session.
    * `local[cores]` with as many shuffle partitions, UTC,
    * `nanosAsLong` (events.parquet has INT64 TIMESTAMP(NANOS), see
    * `Tables.events`), GraftExtensions (the documented SQL deployment:
    * SQL functions plus the merge-on-read rule for catalog tables with
    * live delete vectors), UI off, log level WARN. The extensions go in
    * through `withExtensions`, not the static `spark.sql.extensions`
    * conf, so they also hold when the SparkContext already exists; the
    * active and default sessions are cleared first, so a session some
    * other code left behind is never returned in its place. One JVM
    * builds the profile session once and returns it on every call. */
  def session(): SparkSession = synchronized {
    if (profiled == null || profiled.sparkContext.isStopped) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      profiled = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      profiled.sparkContext.setLogLevel("WARN")
    }
    SparkSession.setActiveSession(profiled)
    SparkSession.setDefaultSession(profiled)
    profiled
  }

  /** Drop the blocks a finished query leaves behind. localCheckpoint
    * registers MEMORY_AND_DISK RDDs that ContextCleaner reclaims only
    * on a driver GC, so across a long sequence they pile up, shrink the
    * effective heap and make late queries measure 3-6x their cost
    * (basket_pairs 12 s quiet vs 74 s late in the bench). BLOCKING, and
    * called outside any timer: an async drain runs during the NEXT
    * timed window and charges this query's cleanup to it (the r8
    * importance_resample incident, 2.4-2.9 s clean vs 4.6 s after
    * basket_pairs). The GC hint lets ContextCleaner reclaim shuffle
    * files between queries too. */
  def drain(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** Build the disk-materialized lanes of `dir` before any timer
    * starts, then drain. The lane policy (docs/PLANS.md): a consumer
    * query measures its algorithm over a warm lane; the lane-defining
    * queries (dedup_minhash_lsh, knn_graph) always compute live. A
    * failure is reported on stderr and the run goes on cold. */
  def prewarm(spark: SparkSession, dir: String): Unit = {
    try graft.operators.Lanes.prewarm(spark, dir)
    catch { case e: Throwable =>
      System.err.println(s"[harness] lane prewarm of $dir failed: " +
        s"${e.getClass.getName}: ${e.getMessage}")
    }
    drain(spark)
  }

  /** One full evaluation of `query` over `dir`: (seconds, rows), or the
    * failure. `toRdd.count()`, not `Dataset.count()`: count() plans a
    * new aggregate that lets Catalyst prune every column, so a
    * pure-projection query would be timed as a row-count scan with
    * none of its expressions evaluated. The drain runs after the timer
    * is read. */
  def timed(spark: SparkSession, dir: String, query: Query): Either[Throwable, (Double, Long)] = {
    val t0 = System.nanoTime()
    val res =
      try Right(query(spark, dir).queryExecution.toRdd.count())
      catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    drain(spark)
    res.map(dt -> _)
  }

  /** The node kinds whose counts form a plan's pinned signature. */
  private val Kinds: Seq[String] = Seq(
    "ShuffleExchangeExec", "BroadcastExchangeExec",
    "SortMergeJoinExec", "BroadcastHashJoinExec", "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec", "CartesianProductExec", "WindowExec",
    "WindowGroupLimitExec", "GenerateExec")

  /** Flatten a physical plan across AQE boundaries: unwraps the
    * adaptive root (the initial plan before execution, the final plan
    * after) AND QueryStageExec leaves, which hide their stage under
    * `.plan` where a children-only walk never looks. Includes
    * subqueries. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(flatten) ++ p.subqueries.flatMap(flatten)
  }

  /** kind -> count over the whole plan, zero-count kinds omitted. */
  def signature(p: SparkPlan): Map[String, Int] =
    flatten(p).groupBy(_.getClass.getSimpleName)
      .view.filterKeys(Kinds.contains).mapValues(_.size).toMap

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Harness time|probe|plans|explain <sfDir> <query>..."
    require(args.length >= 2 && Set("time", "probe", "plans", "explain")(args(0)), usage)
    val (cmd, dir, names) = (args(0), args(1), args.drop(2).toSeq)
    val spark = session()
    cmd match {
      // paired A/B runs are the only meaningful comparison on a shared
      // box (docs/PLANS.md): two runs each, both printed
      case "time" =>
        prewarm(spark, dir)
        names.foreach { n =>
          (1 to 2).foreach { i =>
            timed(spark, dir, SparkEntry.queries(n)) match {
              case Right((s, rows)) => println(f"[time] $n run$i $s%.2f s rows=$rows")
              case Left(e) => println(s"[time] $n run$i failed: ${e.getClass.getName}: ${e.getMessage}")
            }
          }
        }
      case "probe" =>
        prewarm(spark, dir)
        names.foreach(n => probe(spark, dir, n))
      case "plans" =>
        names.foreach { n =>
          val sig = signature(SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan)
          println(s"[plans] $n :: " +
            sig.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(", "))
        }
      // `<query>:lazy` explains the query's full lineage: built in
      // Share.lineage, with no checkpoint or lane read cutting it short
      case "explain" =>
        (if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted).foreach { n =>
          println(s"\n========== $n ==========")
          val q = SparkEntry.queries(n.stripSuffix(":lazy"))
          if (n.endsWith(":lazy")) graft.operators.Share.lineage(q(spark, dir).explain("formatted"))
          else q(spark, dir).explain("formatted")
        }
    }
    spark.stop()
  }

  /** Whether a stage is parquet schema inference: the footer-reading
    * job (`SchemaMergeUtils.mergeSchemasInParallel`) that
    * `DataFrameReader.parquet` or `ParquetUtils.inferSchema` starts. The
    * first line of a stage's details is the Spark method user code
    * called. A read through [[ParquetSchemas]] starts one only the first
    * time the session reads a set of files. */
  def isSchemaInference(stage: StageInfo): Boolean = {
    val site = stage.details.takeWhile(_ != '\n')
    site.contains("DataFrameReader.parquet(") || site.contains("ParquetUtils$.inferSchema(")
  }

  /** Run `name` once with a listener attached; print the job count, how
    * many of those jobs were schema inference (a read site that bypasses
    * the schema memo shows up here), and every stage's wall time, summed
    * executor task time, shuffle read/write bytes and task count. */
  private def probe(spark: SparkSession, dir: String, name: String): Unit = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Long, Long, Long, Long, Int)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, j.stageInfos.exists(isSchemaInference))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.add((si.stageId, si.name.takeWhile(_ != '\n').take(70),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          si.numTasks))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val c = SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
    val dt = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000) // listener bus is async; let the tail drain
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    println(f"[probe] $name total=$dt%.2f s rows=$c jobs=${jobs.size} " +
      s"schema_inference_jobs=${jobs.values.asScala.count(identity)}")
    stages.asScala.toSeq.sortBy(_._1).foreach {
      case (id, nm, wall, run, sr, sw, nt) =>
        println(f"[probe]   stage=$id%4d tasks=$nt%4d wall=$wall%6d ms " +
          f"taskrun=$run%7d ms sread=${sr / 1024}%9d KB " +
          f"swrite=${sw / 1024}%9d KB  $nm")
    }
    drain(spark)
  }
}
