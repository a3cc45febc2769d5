package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** The session's parquet schema memo (`ParquetSchemas`): a table is
  * inferred once per session and set of files, a rewritten directory is
  * inferred again, a session with other inference confs infers its own
  * schema, and a memoized read plans exactly as an inferring one.
  */
class ParquetSchemasSpec extends SparkTestBase {

  /** The stages of every job `body` starts. A fence job runs after it
    * and the listener waits for that job's start: the bus delivers
    * events in order, so every earlier job has been seen by then. */
  private def jobsOf(body: => Unit): Seq[Seq[StageInfo]] = {
    val fenceName = s"fence-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[Seq[StageInfo]]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == fenceName))
          fenced.countDown()
        else jobs.add(j.stageInfos)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(fenceName)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fenced.await(60, TimeUnit.SECONDS), "the fence job was never seen")
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  private def inferenceJobs(jobs: Seq[Seq[StageInfo]]): Seq[Seq[StageInfo]] =
    jobs.filter(_.exists(Harness.isSchemaInference))

  /** A private copy of the sf0.001 corpus's `names` tables. */
  private def copyOf(names: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory("schema_memo")
    names.foreach { n =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$n.parquet"),
        dir.resolve(s"$n.parquet"))
    }
    dir.toString
  }

  test("a second Tables.load of a table starts no Spark job") {
    val dir = copyOf("orders")
    val first = jobsOf(Tables.load(spark, dir, "orders"))
    assert(first.nonEmpty && first.forall(_.exists(Harness.isSchemaInference)), first.map(_.map(_.name)))
    val again = jobsOf(Tables.load(spark, dir, "orders"))
    assert(again.isEmpty, again.map(_.map(_.name)))
    assert(Tables.load(spark, dir, "orders").count() == spark.read.parquet(s"$dir/orders.parquet").count())
  }

  test("rewriting a directory with a different schema is picked up") {
    val dir = java.nio.file.Files.createTempDirectory("schema_memo_rewrite").toString
    val path = s"$dir/t.parquet"
    spark.range(5).toDF("a").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(jobsOf(Tables.load(spark, dir, "t")).isEmpty)
    spark.range(3).select(col("id").cast("string").as("b"), col("id").as("c"))
      .write.mode("overwrite").parquet(path)
    val rewritten = Tables.load(spark, dir, "t")
    assert(rewritten.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(rewritten.orderBy("c").collect().map(_.getString(0)).toSeq == Seq("0", "1", "2"))
  }

  test("a file added to a nested partition is picked up") {
    val dir = java.nio.file.Files.createTempDirectory("schema_memo_nested")
    val path = s"$dir/p.parquet"
    spark.range(12).select(col("id"), (col("id") % 2).as("k"), (col("id") % 3).as("j"))
      .write.partitionBy("k", "j").parquet(path)
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      assert(Tables.load(spark, dir.toString, "p").columns.toSeq == Seq("id", "k", "j"))
      assert(jobsOf(Tables.load(spark, dir.toString, "p")).isEmpty)
      // one file with a new column, moved two levels down: neither the
      // table directory nor its k=0 entry changes
      val staged = s"$dir/staged"
      spark.range(100, 102).select(col("id"), col("id").as("z")).coalesce(1).write.parquet(staged)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(staged)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$path/k=0/j=1/added.parquet"))
      var appended: org.apache.spark.sql.DataFrame = null
      assert(inferenceJobs(jobsOf { appended = Tables.load(spark, dir.toString, "p") }).nonEmpty)
      assert(appended.schema == spark.read.parquet(path).schema)
      assert(appended.columns.toSet == Set("id", "z", "k", "j"))
      assert(appended.count() == 14)
    } finally spark.conf.unset(key)
  }

  test("a session with a different nanosAsLong infers its own schema") {
    // an INT64 TIMESTAMP(NANOS) column: a long under nanosAsLong only
    val dir = java.nio.file.Files.createTempDirectory("schema_memo_nanos")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(getClass.getResource("/fixtures/ts_nanos.parquet").toURI),
      dir.resolve("t.parquet"))
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def tsType(s: SparkSession) = scala.util.Try(Tables.load(s, dir.toString, "t").schema("ts").dataType)
    assert(spark.conf.get(key) == "true")
    assert(tsType(spark).get == LongType)
    assert(jobsOf(tsType(spark)).isEmpty)
    val other = spark.newSession()
    other.conf.set(key, "false")
    // its own inference: whatever Spark infers without the conf (a
    // refusal to read the column, here), never the memoized LongType
    val direct = scala.util.Try(other.read.parquet(s"$dir/t.parquet").schema("ts").dataType)
    assert(!direct.toOption.contains(LongType))
    assert(tsType(other).toOption == direct.toOption)
    // the same session with the conf changed keys apart too
    spark.conf.set(key, "false")
    try assert(tsType(spark).toOption == direct.toOption)
    finally spark.conf.set(key, "true")
    assert(tsType(spark).get == LongType)
  }

  test("a memoized read plans exactly as an inferring read") {
    val dir = copyOf("orders", "events", "lineitem")
    // a partitioned directory: the partition column comes from the
    // listing, the data columns from the footers
    val parted = java.nio.file.Files.createTempDirectory("schema_memo_parted").toString
    spark.range(20).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(s"$parted/p.parquet")
    def stripIds(s: String) = s.replaceAll("#\\d+L?", "#")
    for ((d, n) <- Seq(dir -> "orders", dir -> "events", dir -> "lineitem", parted -> "p")) {
      Tables.load(spark, d, n) // the first read infers
      val memoized = Tables.load(spark, d, n)
      assert(jobsOf(Tables.load(spark, d, n)).isEmpty, n)
      val inferred = spark.read.parquet(s"$d/$n.parquet")
      assert(memoized.schema == inferred.schema, n)
      assert(memoized.queryExecution.analyzed.sameResult(inferred.queryExecution.analyzed), n)
      assert(stripIds(memoized.queryExecution.analyzed.treeString) ==
        stripIds(inferred.queryExecution.analyzed.treeString), n)
      // the scan a filtered projection plans: pushed filters, read schema
      val c = memoized.columns.head
      def scan(df: org.apache.spark.sql.DataFrame) =
        stripIds(df.filter(col(c).isNotNull).select(c).queryExecution.executedPlan.treeString)
      assert(scan(memoized) == scan(inferred), n)
    }
  }

  test("a second run of the registry_mix queries starts no schema inference outside a scratch catalog") {
    val names = Seq("sql_write_roundtrip", "panel_pipeline", "ann_bruteforce_topk", "basket_pairs",
      "group_quantiles", "dedup_simhash", "normalize_text", "trivial_row_filter",
      "interval_band_join", "token_freq_spectrum", "embedding_quantize")
    def runAll(): Unit = names.foreach { n =>
      assert(Harness.timed(spark, sf, SparkEntry.queries(n)).isRight, n)
    }
    runAll()
    val inference = inferenceJobs(jobsOf(runAll())).flatten.map(_.name)
    // sql_write_roundtrip commits to a fresh scratch catalog every run:
    // its snapshot tables are new files, inferred once each
    val (scratch, other) = inference.partition(_.startsWith("inferSchema at GraftTableCatalog.scala"))
    assert(other.isEmpty, other)
    assert(scratch.nonEmpty)
  }
}
