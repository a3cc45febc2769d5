package graft

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
  *     per replica and joins scale linearly;
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
  */
object ScaleUp {

  private def withRep(s: SparkSession, df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(broadcast(s.range(factor).toDF("rep")))

  private def offset(c: String, stride: Long) =
    (col(c) + col("rep") * stride).as(c)

  /** Scale one source directory by `factor` into `outDir`. */
  def run(s: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    def maxOf(t: String, c: String): Long =
      Tables.load(s, srcDir, t).agg(max(col(c))).first().getLong(0) + 1L

    val custStride = maxOf("customer", "c_custkey")
    val suppStride = maxOf("supplier", "s_suppkey")
    val partStride = maxOf("part", "p_partkey")
    val ordStride  = maxOf("orders", "o_orderkey")
    val docStride  = maxOf("documents", "doc_id")
    val vecStride  = maxOf("embeddings", "vec_id")
    val labelStride = Tables.load(s, srcDir, "embeddings")
      .agg(max(col("label"))).first().getInt(0) + 1L
    val eventStride = maxOf("events", "event_id")
    val userStride  = maxOf("events", "user_id")

    def write(name: String, df: DataFrame): Unit =
      df.drop("rep").write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // fixed dims: copy untouched
    write("region", Tables.load(s, srcDir, "region"))
    write("nation", Tables.load(s, srcDir, "nation"))

    write("customer", withRep(s, Tables.load(s, srcDir, "customer"), factor)
      .select(offset("c_custkey", custStride), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"), col("rep")))

    write("supplier", withRep(s, Tables.load(s, srcDir, "supplier"), factor)
      .select(offset("s_suppkey", suppStride), col("s_name"),
        col("s_nationkey"), col("s_acctbal"), col("rep")))

    write("part", withRep(s, Tables.load(s, srcDir, "part"), factor)
      .select(offset("p_partkey", partStride), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"), col("rep")))

    write("orders", withRep(s, Tables.load(s, srcDir, "orders"), factor)
      .select(offset("o_orderkey", ordStride), offset("o_custkey", custStride),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"), col("rep")))

    write("lineitem", withRep(s, Tables.load(s, srcDir, "lineitem"), factor)
      .select(offset("l_orderkey", ordStride), offset("l_partkey", partStride),
        offset("l_suppkey", suppStride), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"), col("rep")))

    // events: keep ts as-is (raw load keeps the INT64-nanos column
    // intact so the output matches the driver files' read path)
    write("events", withRep(s, Tables.load(s, srcDir, "events"), factor)
      .select(offset("event_id", eventStride), col("ts"),
        offset("user_id", userStride), col("event_type"), col("value"),
        col("props"), col("rep")))

    val repWord = (w: org.apache.spark.sql.Column) =>
      concat(lit("r"), col("rep").cast("string"), w)
    val repText = when(col("rep") === 0, col("text")).otherwise(
      array_join(transform(split(col("text"), " "), repWord), " "))
    write("documents", withRep(s, Tables.load(s, srcDir, "documents"), factor)
      .select(offset("doc_id", docStride), repText.as("text"), col("lang"),
        when(col("rep") === 0, col("source"))
          .otherwise(concat(col("source"), lit("_r"), col("rep"))).as("source"),
        col("rep"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("rep")))

    write("embeddings", withRep(s, Tables.load(s, srcDir, "embeddings"), factor)
      .select(offset("vec_id", vecStride), col("embedding"),
        (col("label") + col("rep") * labelStride).cast("int").as("label"),
        col("rep")))
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
