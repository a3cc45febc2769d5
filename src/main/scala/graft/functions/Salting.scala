package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot groupBy keys: AQE's skew-join split
  * (spark.sql.adaptive.skewJoin) handles skewed joins, but it cannot
  * split a hash aggregate. Salting fans each key into `buckets`
  * sub-keys with a deterministic salt, so the first shuffle spreads a
  * hot key over `buckets` reducers.
  */
object Salting {

  /** Deterministic per-row salt in [0, buckets). Derived from stable
    * row content, never rand() — replays and retries must agree.
    */
  def salt(seedCol: Column, buckets: Int): Column =
    pmod(hash(seedCol), lit(buckets))

  /** Two-phase salted aggregation for skewed groupBy keys: partial
    * aggregate on (key, salt), then final aggregate on key. Caller
    * supplies both phases because the merge function depends on the
    * aggregate (sum->sum, count->sum, min->min ...).
    */
  def saltedAgg(df: DataFrame, key: String, seed: String, buckets: Int)(
      partial: (String, Seq[Column]), finalAgg: Seq[Column]): DataFrame = {
    val (saltName, partials) = partial
    df.withColumn(saltName, salt(col(seed), buckets))
      .groupBy(col(key), col(saltName))
      .agg(partials.head, partials.tail: _*)
      .groupBy(col(key))
      .agg(finalAgg.head, finalAgg.tail: _*)
  }
}
