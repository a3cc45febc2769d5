package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Scan-level pruning contracts: predicates must reach the parquet
  * scan as PushedFilters and projections must narrow ReadSchema. At
  * 100 TB the scan IS the query cost — an operator whose filter runs
  * post-scan, or whose 2-column aggregate drags all 16 columns off
  * disk, is wrong regardless of its plan shape above the scan.
  */
class PushdownSpec extends SparkTestBase {

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    Harness.flatten(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }

  test("q1_agg reads only the columns it aggregates") {
    val read = scans(SparkEntry.queries("q1_agg")(spark, sf))
      .flatMap(_.requiredSchema.fieldNames).toSet
    // grouping key + the measures; never the 16-column row
    assert(read.contains("l_returnflag") && read.size <= 7,
      s"q1_agg scan reads too much: $read")
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"),
      s"q1_agg drags join keys it never uses: $read")
  }

  test("a selective filter reaches the lineitem scan as a pushed filter") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") >= 45.0)
      .select(col("l_orderkey"), col("l_quantity"))
    val s = scans(df)
    assert(s.nonEmpty)
    val pushed = s.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(l_quantity,45.0)"),
      s"filter not pushed: $pushed")
    assert(s.head.requiredSchema.fieldNames.toSet ==
      Set("l_orderkey", "l_quantity"))
  }

  test("token-path operators never read document columns they ignore") {
    // token_count projects doc_id + text; n_chars/lang/source must be
    // pruned at the scan
    val read = scans(SparkEntry.queries("token_count")(spark, sf))
      .flatMap(_.requiredSchema.fieldNames).toSet
    assert(read.subsetOf(Set("doc_id", "text")),
      s"token_count reads unneeded columns: $read")
  }

  test("big_order_customers pushes its quantity filter and prunes both scans") {
    val df = SparkEntry.queries("big_order_customers")(spark, sf)
    val perScan = scans(df).map(s =>
      (s.requiredSchema.fieldNames.toSet, s.metadata.getOrElse("PushedFilters", "")))
    assert(perScan.nonEmpty)
    // no scan reads more than 4 columns of its table
    perScan.foreach { case (cols, _) =>
      assert(cols.size <= 4, s"wide scan: $cols")
    }
    // at least one scan carries a pushed IsNotNull/predicate
    assert(perScan.exists(_._2.contains("IsNotNull")),
      s"no pushed filters at all: ${perScan.map(_._2)}")
  }
}
