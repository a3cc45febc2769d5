package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** The session's parquet schema memo (`ParquetSchemas`): a table is
  * inferred once per session and set of files, a rewritten directory is
  * inferred again, a session with other inference confs infers its own
  * schema, and a memoized read plans exactly as an inferring one.
  */
class ParquetSchemasSpec extends SparkTestBase {

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

  test("a first Tables.load of a table starts no Spark job") {
    val dir = copyOf("customer")
    val first = jobsOf(Tables.load(spark, dir, "customer"))
    assert(first.isEmpty, first.map(_.map(_.name)))
  }

  test("a second Tables.load of a table starts no Spark job") {
    val dir = copyOf("orders")
    Tables.load(spark, dir, "orders")
    val again = jobsOf(Tables.load(spark, dir, "orders"))
    assert(again.isEmpty, again.map(_.map(_.name)))
    assert(Tables.load(spark, dir, "orders").count() == spark.read.parquet(s"$dir/orders.parquet").count())
  }

  /** `ParquetSchemas.read(paths)` in a new session (so nothing is
    * memoized) against `spark.read.parquet(paths)` in the same session:
    * the same schema, field metadata included, or the same error. */
  private def assertSameAsSpark(paths: String*)(configure: SparkSession => Unit = _ => ()): Unit = {
    val fresh = spark.newSession()
    configure(fresh)
    var ours: scala.util.Try[org.apache.spark.sql.types.StructType] = null
    assert(jobsOf { ours = scala.util.Try(ParquetSchemas.read(fresh, paths: _*).schema) }.isEmpty, paths)
    val theirs = scala.util.Try(fresh.read.parquet(paths: _*).schema)
    (ours, theirs) match {
      case (scala.util.Success(o), scala.util.Success(t)) =>
        assert(o == t, paths)
        assert(o.json == t.json, paths)
      case (scala.util.Failure(o), scala.util.Failure(t)) =>
        assert((o.getClass, o.getMessage) == ((t.getClass, t.getMessage)), paths)
      case other => fail(s"$paths: $other")
    }
  }

  test("the schema read on the driver is the schema Spark infers") {
    for (d <- Seq("sf0.001", "sf0.01", "sf0.1"); n <- Seq("region", "nation", "customer",
        "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"))
      assertSameAsSpark(s"/root/testdata/$d/$n.parquet")()
    val dir = java.nio.file.Files.createTempDirectory("schema_driver").toString
    // a Spark-written directory of several files, with field metadata
    val meta = new org.apache.spark.sql.types.MetadataBuilder().putString("doc", "a key").build()
    spark.range(30).select(col("id").as("k", meta), (col("id") % 4).cast("int").as("j"),
        col("id").cast("string").as("s"))
      .repartition(3).write.parquet(s"$dir/spark.parquet")
    assertSameAsSpark(s"$dir/spark.parquet")()
    // several paths with different schemas: the first file by path wins
    spark.range(3).select(col("id").as("a")).write.parquet(s"$dir/m1")
    spark.range(3).select(col("id").as("b"), col("id").as("c")).write.parquet(s"$dir/m2")
    assertSameAsSpark(s"$dir/m2", s"$dir/m1")()
    // a partitioned directory: the partition column comes from the listing
    spark.range(20).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(s"$dir/parted.parquet")
    assertSameAsSpark(s"$dir/parted.parquet")()
    // summary files win over the data files, even one whose name sorts first
    spark.range(3).select(col("id").as("x")).write
      .option("parquet.summary.metadata.level", "ALL").parquet(s"$dir/summarized")
    assert(new java.io.File(s"$dir/summarized/_common_metadata").exists())
    spark.range(3).select(col("id").as("y")).coalesce(1).write.parquet(s"$dir/other")
    java.nio.file.Files.copy(new java.io.File(s"$dir/other").listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      java.nio.file.Paths.get(s"$dir/summarized/a.parquet"))
    assertSameAsSpark(s"$dir/summarized")()
    // INT64 TIMESTAMP(NANOS): a long under nanosAsLong, an error without it
    val nanos = getClass.getResource("/fixtures/ts_nanos.parquet").getPath
    for (v <- Seq("true", "false"))
      assertSameAsSpark(nanos)(_.conf.set("spark.sql.legacy.parquet.nanosAsLong", v))
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

  test("the registry_mix queries start no schema inference job") {
    val names = Seq("sql_write_roundtrip", "panel_pipeline", "ann_bruteforce_topk", "basket_pairs",
      "group_quantiles", "dedup_simhash", "normalize_text", "trivial_row_filter",
      "interval_band_join", "token_freq_spectrum", "embedding_quantize")
    def runAll(): Unit = names.foreach { n =>
      assert(Harness.timed(spark, sf, SparkEntry.queries(n)).isRight, n)
    }
    // a second run too: sql_write_roundtrip commits to a fresh scratch
    // catalog every run, and its snapshot tables are new files each time
    for (run <- 1 to 2) {
      val inference = inferenceJobs(jobsOf(runAll())).flatten.map(_.name)
      assert(inference.isEmpty, s"run $run: $inference")
    }
  }
}
