package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ScaleUp must multiply row counts, preserve referential integrity
  * per replica, keep replica 0 byte-identical, and keep blocking-key
  * group sizes CONSTANT (not growing) so pair workloads scale
  * linearly with the factor. It starts one Spark job per table written,
  * its footer strides equal the aggregate `max(key) + 1`, and two runs
  * over one input write the same files.
  */
class ScaleUpSpec extends SparkTestBase {

  private lazy val out = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sf3").toString
    ScaleUp.run(spark, sf, dir, 3)
    dir
  }

  test("row counts multiply by factor; dims untouched") {
    assert(Tables.load(spark, out, "lineitem").count() ==
      3 * Tables.load(spark, sf, "lineitem").count())
    assert(Tables.load(spark, out, "documents").count() ==
      3 * Tables.load(spark, sf, "documents").count())
    assert(Tables.load(spark, out, "nation").count() ==
      Tables.load(spark, sf, "nation").count())
  }

  test("referential integrity: every scaled lineitem joins an order, every order a customer") {
    val o = Tables.load(spark, out, "orders")
    val l = Tables.load(spark, out, "lineitem")
    val c = Tables.load(spark, out, "customer")
    assert(l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti").count() == 0)
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count() == 0)
    // and the join multiplies exactly: per-replica joins don't cross
    val baseJoin = Tables.load(spark, sf, "lineitem").join(
      Tables.load(spark, sf, "orders"),
      col("l_orderkey") === col("o_orderkey")).count()
    assert(l.join(o, l("l_orderkey") === o("o_orderkey")).count() == 3 * baseJoin)
  }

  test("replica 0 is byte-identical for documents") {
    val origCount = Tables.load(spark, sf, "documents").count()
    val matched = Tables.load(spark, out, "documents")
      .join(Tables.load(spark, sf, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars")).count()
    assert(matched == origCount)
  }

  test("blocking-key group sizes stay constant (linear pair scaling)") {
    def maxBlock(d: String): Long =
      Tables.load(spark, d, "documents").groupBy(col("source")).count()
        .agg(max(col("count"))).first().getLong(0)
    assert(maxBlock(out) == maxBlock(sf))
    // replicas share no text: word-prefixing makes cross-replica
    // shingle sets disjoint, so exact-dup counts replicate too
    val origDups = operators.Dedup.dedupExact(spark, sf)
      .agg(sum(col("dup_count"))).first().getLong(0)
    val scaledDups = operators.Dedup.dedupExact(spark, out)
      .agg(sum(col("dup_count"))).first().getLong(0)
    assert(scaledDups == 3 * origDups)
  }

  test("embeddings: labels partition per replica, vectors preserved") {
    val e = Tables.load(spark, out, "embeddings")
    val base = Tables.load(spark, sf, "embeddings")
    assert(e.select(col("label")).distinct().count() ==
      3 * base.select(col("label")).distinct().count())
    def maxList(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(col("label")).count().agg(max(col("count"))).first().getLong(0)
    assert(maxList(e) == maxList(base))
  }

  test("events: users partition per replica, timestamps preserved") {
    val ev = Tables.events(spark, out)
    val base = Tables.events(spark, sf)
    assert(ev.count() == 3 * base.count())
    assert(ev.select(col("user_id")).distinct().count() ==
      3 * base.select(col("user_id")).distinct().count())
    assert(ev.agg(min(col("ts")), max(col("ts"))).first() ==
      base.agg(min(col("ts")), max(col("ts"))).first())
  }

  private val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val keys = Map("customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id", "label"),
    "events" -> Seq("event_id", "user_id"))

  private def aggregateStrides(df: DataFrame, cs: Seq[String]): Seq[Long] = {
    val r = df.select(cs.map(c => max(col(c)).cast("long")): _*).first()
    cs.indices.map(r.getLong(_) + 1L)
  }

  test("a run starts exactly one Spark job per table written") {
    val dir = Files.createTempDirectory("graft_sf_jobs").toString
    val jobs = jobsOf(ScaleUp.run(spark, "/root/testdata/sf0.01", dir, 3))
    assert(jobs.size == names.size, jobs.map(_.map(_.name)))
  }

  test("footer strides equal the aggregate max(key) + 1") {
    for (d <- Seq("sf0.001", "sf0.01", "sf0.1"); (n, cs) <- keys) {
      val df = Tables.load(spark, s"/root/testdata/$d", n)
      assert(ScaleUp.strides(df, cs) == aggregateStrides(df, cs), s"$d $n")
    }
    // Spark-written: several files of several row groups, null keys,
    // negative keys, and an int key
    val path = Files.createTempDirectory("graft_strides").resolve("t.parquet").toString
    spark.range(0, 40000)
      .select(when(col("id") % 10 =!= 0, col("id") * 7 - 1000).as("k"),
        (col("id") % 977).cast("int").as("j"))
      .repartition(3).write.option("parquet.block.size", "4096").parquet(path)
    val df = spark.read.parquet(path)
    assert(df.inputFiles.length == 3)
    val groups = df.inputFiles.map { f =>
      ParquetSchemas.footer(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), spark.sessionState.newHadoopConf()),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER).getBlocks.size
    }
    assert(groups.forall(_ > 1), groups.toSeq)
    assert(ScaleUp.strides(df, Seq("k", "j")) == aggregateStrides(df, Seq("k", "j")))
  }

  test("a source without column statistics fails the run, naming file and column") {
    val src = Files.createTempDirectory("graft_nostats_src").toString
    names.filterNot(_ == "customer").foreach { n =>
      Files.copy(new File(s"$sf/$n.parquet").toPath, new File(s"$src/$n.parquet").toPath)
    }
    spark.read.parquet(s"$sf/customer.parquet").coalesce(1).write
      .option("parquet.column.statistics.enabled", "false").parquet(s"$src/customer.parquet")
    val file = new File(s"$src/customer.parquet").listFiles().map(_.getName)
      .find(_.endsWith(".parquet")).get
    val out = Files.createTempDirectory("graft_nostats_out").toString
    val e = intercept[IllegalStateException](ScaleUp.ensure(spark, src, out, 2))
    assert(e.getMessage.contains(file) && e.getMessage.contains("c_custkey"), e.getMessage)
    assert(!new File(s"$out/_GRAFT_SCALE_DONE").exists())
  }

  test("a failed write is rethrown after every other write has finished") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val e = intercept[IllegalArgumentException](ScaleUp.all(pool, Seq(
        () => throw new IllegalArgumentException("boom"),
        () => { Thread.sleep(300); finished.set(true) })))
      assert(e.getMessage == "boom")
      assert(finished.get)
    } finally pool.shutdown()
  }

  test("two runs over one input write equal files") {
    val Seq(a, b) = Seq("graft_sf_a", "graft_sf_b").map { p =>
      val d = Files.createTempDirectory(p).toString
      ScaleUp.run(spark, sf, d, 2)
      d
    }
    for (n <- names) {
      // the part files of a table, in part-number order
      def parts(d: String) = new File(s"$d/$n.parquet").listFiles().map(_.getName)
        .filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted
          .map(f => s"$d/$n.parquet/$f").toSeq
      val (pa, pb) = (parts(a), parts(b))
      assert(pa.size == pb.size && pa.nonEmpty, n)
      assert(spark.read.parquet(s"$a/$n.parquet").schema.json ==
        spark.read.parquet(s"$b/$n.parquet").schema.json, n)
      def rows(files: Seq[String]) = files.flatMap(f => spark.read.parquet(f).collect().toSeq)
      assert(rows(pa) == rows(pb), n)
    }
  }
}
