package graft.operators

import org.apache.spark.sql.DataFrame

/** The one materialization point of the operators: every intermediate
  * that several consumers of one query read goes through `Share(df)`.
  *
  * Two modes, one scoped switch:
  *  - default: `Share(df)` is the eager `localCheckpoint` of `df` —
  *    one job at plan-build time, then every consumer scans the pinned
  *    blocks instead of re-deriving the subtree. Bench, Verify, Smoke
  *    and the ETL mains run in this mode.
  *  - lineage (inside `Share.lineage { ... }`): `Share(df)` returns
  *    `df` and `LaneCache.cached` returns its live derivation, so the
  *    query's plan holds its full lineage. A checkpoint truncates
  *    everything below it to `Scan ExistingRDD`; lineage mode is how
  *    the plan lints (PlanGuardSpec) and `Harness explain <q>:lazy` see
  *    the join shapes under the share points. Both modes give the same
  *    rows (ShareSpec).
  *
  * The switch is a `DynamicVariable`: it holds for the thread that
  * enters the block (and threads it starts) until the block exits.
  */
object Share {

  private val lineageMode = new scala.util.DynamicVariable(false)

  /** The eager `localCheckpoint` of `df`; `df` itself in lineage mode. */
  def apply(df: DataFrame): DataFrame =
    if (lineageMode.value) df else loopState(df)

  /** Eager in both modes: the state of a loop whose trip count depends
    * on the data (`Dedup.connectedComponents`). A lazy form would grow
    * the plan by one round per iteration, and the loop's own
    * convergence check would re-run every earlier round. */
  def loopState(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Run `body` in lineage mode. */
  def lineage[T](body: => T): T = lineageMode.withValue(true)(body)

  /** Whether the calling thread is inside `Share.lineage`. */
  def inLineage: Boolean = lineageMode.value
}
