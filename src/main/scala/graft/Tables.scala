package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided synthetic parquet tables
  * (see TESTDATA.md). One parquet file per table under a scale-factor
  * directory. Reads go through [[ParquetSchemas.read]]: the session
  * infers a table's schema on its first load only, and every load is a
  * plain parquet relation, so Catalyst still gets full pushdown and
  * pruning on the scans.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ParquetSchemas.read(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** The events table's `ts` column has shipped in three physical
    * forms across driver corpus generations: INT64 TIMESTAMP(NANOS)
    * (read as LongType under `spark.sql.legacy.parquet.nanosAsLong`,
    * set in Verify/Bench/test sessions), naive TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ), and Spark-written TimestampType in
    * derived corpora. Normalize all three to a microsecond
    * TimestampType: nanos via integral division (`div`, not `/` —
    * double division loses precision at 1e18 nanos), NTZ via cast
    * (identity on the stored micros under the UTC session timezone
    * every entrypoint sets) — both matching DuckDB's reading of the
    * same files.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))

  def normalizeTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case org.apache.spark.sql.types.TimestampNTZType =>
      // timezone-INDEPENDENT NTZ -> instant conversion: the naive
      // micros ARE the stored value, so lift them out with pure naive
      // arithmetic (timestampdiff over NTZ operands never consults a
      // zone) and re-anchor as an instant. A plain cast to TimestampType
      // re-interprets the wall time in spark.sql.session.timeZone —
      // identity only because every current entrypoint pins UTC; a
      // non-UTC caller would silently shift every event timestamp
      // (and to_utc_timestamp-based fixes carry DST edge cases).
      raw.withColumn("ts", expr(
        "timestamp_micros(timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts))"))
    case _ => raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
