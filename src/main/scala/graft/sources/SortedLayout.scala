package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ParquetSchemas, Tables}

/** Range-sorted parquet layout — the storage-side half of the 100 TB
  * SCAN story (Bucketing covers joins). `repartitionByRange` on the
  * predicate column gives files non-overlapping value ranges, and
  * `sortWithinPartitions` makes every parquet row group's min/max
  * stats a tight interval. A later range predicate on that column
  * then prunes at BOTH granularities — whole files via Catalyst
  * partition/file skipping, and row groups inside surviving files via
  * the parquet reader's min/max pushdown — so the scan touches
  * O(selectivity) bytes instead of the full table. This is the
  * pay-at-ingest move that makes time-range queries on an append-only
  * 100 TB event log cheap forever after.
  *
  * SortedLayoutSpec proves the pruning honestly: the same predicate
  * over the same rows reads a small fraction of the row groups from
  * the sorted layout that it reads from a value-shuffled layout
  * (small `parquet.block.size` forces many row groups even at test
  * scale, so the skip is observable in the scan's numOutputRows
  * metric).
  */
object SortedLayout {

  /** Timestamps must land as annotated INT64 micros, not legacy INT96:
    * INT96 carries no usable min/max statistics and timestamp
    * predicates are never pushed down onto it, which silently disables
    * the entire point of the sorted layout. Part of the layout
    * contract, so it lives here, not in the spec.
    */
  private def withMicrosTimestamps[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = s.conf.get(key)
    s.conf.set(key, "TIMESTAMP_MICROS")
    try body finally s.conf.set(key, prev)
  }

  /** Write the events table range-sorted by event time. The small
    * parquet block size is test-scale plumbing (makes row groups
    * numerous enough to observe pruning); production uses the default
    * 128 MB blocks and the identical layout logic.
    */
  def writeSorted(s: SparkSession, d: String, path: String,
      blockSize: Int = 1 << 20): Unit = withMicrosTimestamps(s) {
    Tables.events(s, d)
      .repartitionByRange(8, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.option("parquet.block.size", blockSize.toString)
      .mode("overwrite").parquet(path)
  }

  /** Same rows, same block size, but value-shuffled: every row group
    * spans nearly the full ts range, so min/max pruning keeps nothing.
    * The control arm of the layout experiment.
    */
  def writeShuffled(s: SparkSession, d: String, path: String,
      blockSize: Int = 1 << 20): Unit = withMicrosTimestamps(s) {
    Tables.events(s, d)
      .repartition(8, col("event_id"))
      .sortWithinPartitions(col("event_id"))
      .write.option("parquet.block.size", blockSize.toString)
      .mode("overwrite").parquet(path)
  }

  /** A narrow time-range count over a written layout. */
  def rangeCount(s: SparkSession, path: String,
      lo: String, hi: String): DataFrame =
    ParquetSchemas.read(s, path)
      .filter(col("ts") >= lit(lo).cast("timestamp") &&
        col("ts") < lit(hi).cast("timestamp"))
      .agg(count(lit(1)).as("n"))

  /** Morton/z-order interleaving of two non-negative dimension keys
    * (`bits` low bits each) — bit i of x lands at position 2i, bit i
    * of y at 2i+1. Sorting by the z key keeps BOTH dimensions locally
    * clustered, so every row group's (x, y) min/max box is tight and a
    * 2-D box predicate prunes row groups on either column — the
    * multi-dimensional generalization of `writeSorted`'s 1-D layout
    * (what lakehouse OPTIMIZE ZORDER does). Pure Column bit ops:
    * codegen-friendly, no UDF.
    */
  def zorder(x: Column, y: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Write events range-sorted by the z-order key over
    * (user_id, seconds-since-2024-01-01). The z key is layout-only —
    * it is not written; queries keep filtering on the raw columns,
    * whose per-row-group min/max boxes the layout tightens.
    *
    * Both dimensions MUST be normalized to the same bit-width before
    * interleaving: the raw seconds span 22 bits while user ids span
    * 11, and interleaving them raw leaves the key's high bits owned
    * entirely by time — the layout degenerates to a plain time sort
    * (measured: zero extra pruning). Here time is shifted down to its
    * top 11 bits (~34-minute granularity — far finer than any window
    * a box query asks for) so the two dimensions alternate through
    * the whole key.
    */
  def writeZOrdered(s: SparkSession, d: String, path: String,
      blockSize: Int = 1 << 20, bits: Int = 11): Unit = withMicrosTimestamps(s) {
    val secs = unix_timestamp(col("ts")) -
      unix_timestamp(lit("2024-01-01").cast("timestamp"))
    val zk = zorder(col("user_id"), shiftright(secs, 22 - bits), bits)
    Tables.events(s, d)
      .withColumn("__zk", zk)
      .repartitionByRange(8, col("__zk"))
      .sortWithinPartitions(col("__zk"))
      .drop("__zk")
      .write.option("parquet.block.size", blockSize.toString)
      .mode("overwrite").parquet(path)
  }

  /** A 2-D box count (user range x time range) over a written layout. */
  def boxCount(s: SparkSession, path: String, userLo: Long, userHi: Long,
      tsLo: String, tsHi: String): DataFrame =
    ParquetSchemas.read(s, path)
      .filter(col("user_id") >= userLo && col("user_id") < userHi &&
        col("ts") >= lit(tsLo).cast("timestamp") &&
        col("ts") < lit(tsHi).cast("timestamp"))
      .agg(count(lit(1)).as("n"))
}
