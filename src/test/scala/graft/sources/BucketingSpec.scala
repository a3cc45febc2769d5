package graft.sources

import graft.{Harness, SparkTestBase}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** The bucketed layout must make the fact-fact join exchange-free —
  * with broadcast disabled, so the proof is bucket co-location, not a
  * small build side — and produce the same result as the plain join.
  */
class BucketingSpec extends SparkTestBase {

  test("bucketed orders-lineitem join plans with zero shuffle below the join") {
    Bucketing.writeBucketed(spark, sf)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = Bucketing.bucketedJoin(spark)
      q.collect() // finalize any adaptive plan
      val plan = q.queryExecution.executedPlan
      val joins = Harness.flatten(plan).collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty, s"expected a sort-merge join, got:\n$plan")
      // no exchange anywhere beneath the join: both sides read
      // co-located buckets straight off disk
      joins.foreach { j =>
        val below = j.children.flatMap(Harness.flatten)
        assert(!below.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"shuffle under the bucketed join:\n$j")
      }
      // equality with the plain-parquet join
      val plain = graft.Tables.orders(spark, sf)
        .join(graft.Tables.lineitem(spark, sf),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.ExactSum.sumExact(
          col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
      assert(q.exceptAll(plain).count() == 0)
      assert(plain.exceptAll(q).count() == 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_bck")
      spark.sql("DROP TABLE IF EXISTS lineitem_bck")
    }
  }
}
