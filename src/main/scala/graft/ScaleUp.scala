package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: replicates the driver-provided
  * sf0.1 tables `factor`-fold with consistent key remapping, producing
  * an sf1-equivalent corpus for shuffle/spill benchmarking (the driver
  * ships sf0.001/0.01/0.1 only — see TESTDATA.md; this derives, never
  * modifies, those inputs and writes under the repo's own target/).
  *
  * Remapping rules (replica `rep` in 0..factor-1; rep 0 is the
  * original data, byte-identical values):
  *   - every PK/FK gets `key + rep * stride` with stride = max(key)+1
  *     from the source data, so referential integrity is preserved
  *     per replica and joins scale linearly; the max is read from the
  *     source files' row-group statistics, not computed by a job;
  *   - `region`/`nation` stay as-is (fixed dimensions, like TPC-H);
  *   - `documents.text` gets each word prefixed with "r<rep>" for
  *     rep > 0: replicas share NO shingles, so near-dup structure is
  *     replicated rather than cross-multiplied (otherwise every doc
  *     gains factor-1 exact copies and pair counts grow quadratically
  *     instead of linearly — not how a bigger crawl behaves);
  *   - `documents.source` gets an "_r<rep>" suffix: it is a blocking
  *     key downstream, and a real corpus adds shards as it grows
  *     rather than growing each shard 10x;
  *   - `embeddings.label` offsets per replica for the same reason
  *     (label = IVF list; lists stay bounded, list COUNT grows).
  *
  * All remaps are pure column expressions — no RNG, no driver loops;
  * output is a parquet directory per table, readable by Tables.load.
  * A run starts one Spark job per table written and no other.
  */
object ScaleUp {

  /** Each row followed by its `factor` replicas, `rep` 0 first: an
    * `explode` of a literal array, in the source's partitions and
    * order. `rep` is a bigint, as a `range` column is. */
  private def withRep(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("rep", explode(array((0 until factor).map(r => lit(r.toLong)): _*)))

  private def offset(c: String, stride: Long) =
    (col(c) + col("rep") * stride).as(c)

  /** The key columns whose strides the remap uses, per table. */
  private val KeyColumns = Map(
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id", "label"),
    "events" -> Seq("event_id", "user_id"))

  /** `max(c) + 1` over `df`'s files, for each key column `c`, from
    * the footers' row-group statistics: no Spark job. A row group with
    * no rows adds nothing; a row group with rows and no statistic for
    * `c` fails the run with the file and column named. pyarrow and
    * Spark's parquet writer both write these statistics. */
  private[graft] def strides(df: DataFrame, cs: Seq[String]): Seq[Long] = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val footers = df.inputFiles.toSeq.map { f =>
      f -> ParquetSchemas.footer(HadoopInputFile.fromPath(new Path(f), conf),
        ParquetMetadataConverter.NO_FILTER)
    }
    cs.map { c =>
      val maxes = for {
        (file, footer) <- footers
        block <- footer.getBlocks.asScala if block.getRowCount > 0
        stats = block.getColumns.asScala.find(_.getPath.toDotString == c)
          .map(_.getStatistics).filterNot(st => st == null || st.isEmpty)
          .getOrElse(throw new IllegalStateException(
            s"$file: a row group of ${block.getRowCount} rows has no statistics for column $c"))
        if stats.hasNonNullValue
      } yield stats.genericGetMax.asInstanceOf[Number].longValue
      if (maxes.isEmpty)
        throw new IllegalStateException(s"no non-null $c in ${df.inputFiles.mkString(", ")}")
      maxes.max + 1L
    }
  }

  /** Runs every `body` on `pool` and waits for all of them, then
    * rethrows the first failure: no job outlives the call. */
  private[graft] def all[T](pool: ExecutorService, bodies: Seq[() => T]): Seq[T] = {
    val runs = bodies.map(b => pool.submit(new Callable[T] { def call(): T = b() }))
    runs.map(r => Try(r.get())).map {
      case Failure(e: ExecutionException) => throw e.getCause
      case done => done.get
    }
  }

  /** Scale one source directory by `factor` into `outDir`. The loads,
    * and then the writes, run concurrently on a pool of
    * `defaultParallelism` threads: each write is one Spark job with a
    * task per input split, one at the corpus sizes ScaleUp reads, so
    * one after another they leave all but one task slot idle. */
  def run(s: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    val pool = Executors.newFixedThreadPool(s.sparkContext.defaultParallelism)
    try {
      val names = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      val t = all(pool, names.map(n => () => n -> Tables.load(s, srcDir, n))).toMap
      val stride = KeyColumns.toSeq.flatMap { case (n, cs) => cs.zip(strides(t(n), cs)) }.toMap

      def write(name: String, df: DataFrame): () => Unit =
        () => df.drop("rep").write.mode("overwrite").parquet(s"$outDir/$name.parquet")

      val repWord = (w: org.apache.spark.sql.Column) =>
        concat(lit("r"), col("rep").cast("string"), w)
      val repText = when(col("rep") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "), repWord), " "))

      all(pool, Seq(
        // fixed dims: copy untouched
        write("region", t("region")),
        write("nation", t("nation")),

        write("customer", withRep(t("customer"), factor)
          .select(offset("c_custkey", stride("c_custkey")), col("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"), col("rep"))),

        write("supplier", withRep(t("supplier"), factor)
          .select(offset("s_suppkey", stride("s_suppkey")), col("s_name"),
            col("s_nationkey"), col("s_acctbal"), col("rep"))),

        write("part", withRep(t("part"), factor)
          .select(offset("p_partkey", stride("p_partkey")), col("p_name"), col("p_brand"),
            col("p_type"), col("p_size"), col("p_retailprice"), col("rep"))),

        write("orders", withRep(t("orders"), factor)
          .select(offset("o_orderkey", stride("o_orderkey")),
            offset("o_custkey", stride("c_custkey")),
            col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
            col("o_orderpriority"), col("rep"))),

        write("lineitem", withRep(t("lineitem"), factor)
          .select(offset("l_orderkey", stride("o_orderkey")),
            offset("l_partkey", stride("p_partkey")),
            offset("l_suppkey", stride("s_suppkey")), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"), col("l_tax"),
            col("l_returnflag"), col("l_linestatus"), col("l_shipdate"), col("rep"))),

        // events: keep ts as-is (raw load keeps the INT64-nanos column
        // intact so the output matches the driver files' read path)
        write("events", withRep(t("events"), factor)
          .select(offset("event_id", stride("event_id")), col("ts"),
            offset("user_id", stride("user_id")), col("event_type"), col("value"),
            col("props"), col("rep"))),

        write("documents", withRep(t("documents"), factor)
          .select(offset("doc_id", stride("doc_id")), repText.as("text"), col("lang"),
            when(col("rep") === 0, col("source"))
              .otherwise(concat(col("source"), lit("_r"), col("rep"))).as("source"),
            col("rep"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"), col("rep"))),

        write("embeddings", withRep(t("embeddings"), factor)
          .select(offset("vec_id", stride("vec_id")), col("embedding"),
            (col("label") + col("rep") * stride("label")).cast("int").as("label"),
            col("rep")))))
      ()
    } finally pool.shutdown()
  }

  /** Generate only if the completion marker is absent or was written
    * for a different (srcDir, factor) — a stale corpus derived from a
    * different base would silently poison the sf1 bench numbers. */
  def ensure(s: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    // Refuse src == dst: `run` overwrites each table while reading it
    // from the same path — Spark aborts the write AFTER truncating the
    // target dir, destroying the corpus (r6 incident: a bench invoked
    // with SPARK_GRAFT_SF_DIR=target/bench-sf1 self-scaled and emptied
    // region.parquet before the swallowed abort). Callers (Bench) skip
    // the scale stage instead of corrupting data.
    require(
      new java.io.File(srcDir).getCanonicalPath !=
        new java.io.File(outDir).getCanonicalPath,
      s"ScaleUp src == dst ($outDir): refusing to scale a corpus into itself")
    val marker = new java.io.File(s"$outDir/_GRAFT_SCALE_DONE")
    val stamp = s"$srcDir|$factor"
    val current = if (marker.exists())
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
    else ""
    if (current != stamp) {
      run(s, srcDir, outDir, factor)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes("UTF-8"))
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session()
    run(spark, srcDir, outDir, factor)
    spark.stop()
  }
}
