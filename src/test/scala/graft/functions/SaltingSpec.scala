package graft.functions

import graft.SparkTestBase
import graft.Tables
import org.apache.spark.sql.functions._

/** Salted agg must be value-identical to the plain form. */
class SaltingSpec extends SparkTestBase {

  test("saltedAgg == plain agg (sum/count per event_type)") {
    val e = Tables.events(spark, sf)
    val plain = e.groupBy(col("event_type").as("k"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
      .withColumnRenamed("k", "event_type")
    val salted = Salting.saltedAgg(e, "event_type", "event_id", 8)(
      ("__salt", Seq(count(lit(1)).as("pn"), sum("value").as("ps"))),
      Seq(sum("pn").as("n"), round(sum("ps"), 2).as("s")))
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("salt spreads a hot key over all buckets") {
    val e = Tables.events(spark, sf)
    val spread = e.select(Salting.salt(col("event_id"), 8).as("b"))
      .groupBy("b").count().collect()
    assert(spread.length == 8)
    val counts = spread.map(_.getLong(1))
    assert(counts.min > counts.max / 3) // roughly uniform
  }
}
