package graft.etl

import graft.{Harness, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Lower, StringTrim, Upper}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape guards for the ASPEP pipeline on hermetic input: the
  * combine reads one relation (no per-year union) whose labels and
  * census columns are final when it is built (no join, no string case
  * or trim expression), and sorts it as one partition with no
  * exchange, so neither the derive `groupBy` nor the
  * extended stage's two windows (lags, then one cohort window for every
  * rank) shuffle. Over a multi-partition input the extended stage still
  * runs two windows over two hash exchanges, not one window and sort
  * per rank key.
  */
class EtlPlanShapeSpec extends SparkTestBase {

  private lazy val rawDir = MultiYearFixture.write()
  private def combine(): DataFrame = Canonical.combineYears(spark, rawDir, 2003, 2025)
  // cached as the pipeline caches it; the shape tests plan fresh
  // uncached frames over it (a cached frame's own plan scans its cache)
  private lazy val combined = combine().cache()

  private def executed(df: DataFrame): Seq[SparkPlan] = {
    val qe = df.queryExecution
    assert(qe.toRdd.count() == df.count())
    Harness.flatten(qe.executedPlan)
  }

  private def shuffles(nodes: Seq[SparkPlan]): Int =
    nodes.count(_.isInstanceOf[ShuffleExchangeExec])

  private def windows(nodes: Seq[SparkPlan]): Int = nodes.count(_.isInstanceOf[WindowExec])

  test("combine: the analyzed plan has no Union") {
    val analyzed = combine().queryExecution.analyzed
    assert(analyzed.collect { case u: Union => u }.isEmpty, analyzed.treeString)
  }

  test("combine: one sorted partition, no shuffle exchange and no Union executed") {
    val df = combine()
    val nodes = executed(df)
    assert(shuffles(nodes) == 0 && !nodes.exists(_.isInstanceOf[UnionExec]),
      df.queryExecution.executedPlan.treeString)
    assert(df.rdd.getNumPartitions == 1)
  }

  test("combine: no join or broadcast, no Lower, Upper or StringTrim executed") {
    val df = combine()
    val nodes = executed(df)
    val plan = df.queryExecution.executedPlan.treeString
    assert(!nodes.exists(n => n.isInstanceOf[BaseJoinExec] || n.isInstanceOf[BroadcastExchangeExec]),
      plan)
    val caseOrTrim = nodes.flatMap(_.expressions).flatMap(_.collect {
      case e @ (_: Lower | _: Upper | _: StringTrim) => e
    })
    assert(caseOrTrim.isEmpty, plan)
  }

  test("derive and extended over the combine: no shuffle exchange, exactly 2 WindowExec") {
    val extended = ExtendedStats.deriveExtendedStats(DeriveStats.deriveStats(combined))
    val nodes = executed(extended)
    assert(shuffles(nodes) == 0 && windows(nodes) == 2,
      s"shuffles=${shuffles(nodes)} windows=${windows(nodes)}\n" +
        extended.queryExecution.executedPlan.treeString)
  }

  test("extended: exactly 2 WindowExec and 2 hash-partitioning exchanges") {
    // a multi-partition input (as the catalog-served parquet path
    // gives): one hash exchange per window, never a sort per rank key;
    // cached, so the count covers the extended stage alone
    val spread = DeriveStats.deriveStats(combined).repartition(4).cache()
    val extended = ExtendedStats.deriveExtendedStats(spread)
    val nodes = executed(extended)
    val hashExchanges = nodes.count {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }
    assert(windows(nodes) == 2 && hashExchanges == 2,
      s"windows=${windows(nodes)} hashExchanges=$hashExchanges\n" +
        extended.queryExecution.executedPlan.treeString)
  }
}
