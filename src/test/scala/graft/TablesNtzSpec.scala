package graft

import org.apache.spark.sql.functions._

/** The TIMESTAMP_NTZ physical form of the events table (ADVICE r5):
  * the driver corpus ships INT64 nanos, ScaleUp corpora Spark-written
  * TimestampType — so the NTZ branch of Tables.normalizeTs (naive
  * micros parquet) had no coverage. Pin both contracts:
  *   1. batch read of an NTZ corpus == the nanos corpus, row-exact;
  *   2. the conversion is timezone-INDEPENDENT (same instants under a
  *      non-UTC session zone — the plain-cast implementation this
  *      replaced would shift by the zone offset).
  */
class TablesNtzSpec extends SparkTestBase {

  private lazy val ntzDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz").toString
    // under the UTC session, TimestampType -> NTZ keeps the micros;
    // parquet writes isAdjustedToUTC=false MICROS, read back as NTZ
    graft.Tables.events(spark, sf)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("batch NTZ read == nanos corpus, exactly") {
    val ntz = graft.Tables.load(spark, ntzDir, "events")
    assert(ntz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType, "fixture must land as NTZ")
    val a = graft.Tables.events(spark, ntzDir)
      .select(col("event_id"), expr("unix_micros(ts)").as("us"))
    val b = graft.Tables.events(spark, sf)
      .select(col("event_id"), expr("unix_micros(ts)").as("us"))
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("NTZ conversion is session-timezone independent") {
    val utc = graft.Tables.events(spark, ntzDir)
      .select(col("event_id"), expr("unix_micros(ts)").as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val shifted = graft.Tables.events(spark, ntzDir)
        .select(col("event_id"), expr("unix_micros(ts)").as("us"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(shifted == utc,
        "NTZ normalization must not consult spark.sql.session.timeZone")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}
