package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape guards for the ASPEP pipeline on hermetic input: the
  * combine reads one relation (no per-year union), and the extended
  * stage runs two windows over two hash exchanges (lags, then one
  * cohort window for every rank), not one window and sort per rank key.
  */
class EtlPlanShapeSpec extends SparkTestBase {

  private lazy val combined =
    Canonical.combineYears(spark, MultiYearFixture.write(), 2003, 2025).cache()

  test("combine: the analyzed plan has no Union") {
    val unions = combined.queryExecution.analyzed.collect { case u: Union => u }
    assert(unions.isEmpty, combined.queryExecution.analyzed.treeString)
  }

  test("extended: exactly 2 WindowExec and 2 hash-partitioning exchanges") {
    val derived = DeriveStats.deriveStats(combined).cache()
    val qe = ExtendedStats.deriveExtendedStats(derived).queryExecution
    assert(qe.toRdd.count() == derived.count())
    val nodes = flattenPlan(qe.executedPlan)
    val windows = nodes.count(_.isInstanceOf[WindowExec])
    val hashExchanges = nodes.count {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }
    assert(windows == 2 && hashExchanges == 2,
      s"windows=$windows hashExchanges=$hashExchanges\n${qe.executedPlan.treeString}")
  }
}
