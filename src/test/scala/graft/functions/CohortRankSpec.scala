package graft.functions

import scala.util.Random

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** The native CohortRank kernel: its interpreted and generated paths
  * both equal a plain-Scala count under Spark's double ordering (NaN
  * greatest, -0.0 == 0.0), null `x` gives null, and it stays inside
  * whole-stage codegen. `RandomizedPropsSpec` checks the ranks built on
  * it against `rank().over` end to end.
  */
class CohortRankSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark's double order, written out: NaN above everything (NaN ==
    * NaN), and the primitive comparisons treat -0.0 and 0.0 as equal.
    */
  private def cmp(a: Double, b: Double): Int =
    if (a.isNaN && b.isNaN) 0 else if (a.isNaN) 1 else if (b.isNaN) -1
    else if (a < b) -1 else if (a > b) 1 else 0

  private def reference(cohort: Seq[Option[Double]], x: Double, desc: Boolean): Int =
    1 + cohort.flatten.count(v => if (desc) cmp(v, x) > 0 else cmp(v, x) < 0)

  private val pool: Seq[Double] = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 1.0, -1.0, 2.0, 2.0, 1e-300, -1e300)

  private def expr(desc: Boolean): Expression = CohortRank(
    BoundReference(0, ArrayType(DoubleType, containsNull = true), nullable = true),
    BoundReference(1, DoubleType, nullable = true), desc)

  private def row(cohort: Seq[Option[Double]], x: Option[Double]): InternalRow =
    InternalRow(new GenericArrayData(cohort.map(_.map(Double.box).orNull).toArray[Any]),
      x.map(Double.box).orNull)

  test("interpreted and codegen paths == a plain-Scala count over NaN, ±0.0, ±∞, nulls, ties, []") {
    val rnd = new Random(31)
    val edge: Seq[Seq[Option[Double]]] = Seq(Seq.empty, Seq(None), Seq(None, None),
      pool.map(Some(_)), pool.map(Some(_)) ++ Seq(None) ++ pool.map(Some(_)))
    val drawn = (1 to 400).map { _ =>
      Seq.fill(rnd.nextInt(9))(if (rnd.nextInt(5) == 0) None else Some(pool(rnd.nextInt(pool.length))))
    }
    for (desc <- Seq(true, false)) {
      val e = expr(desc)
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      for (cohort <- edge ++ drawn; x <- pool) {
        val r = row(cohort, Some(x))
        val want = reference(cohort, x, desc)
        val interpreted = e.eval(r)
        val compiled = generated(r)
        assert(interpreted == want, s"interpreted desc=$desc x=$x cohort=$cohort")
        assert(!compiled.isNullAt(0) && compiled.getInt(0) == want,
          s"codegen desc=$desc x=$x cohort=$cohort")
      }
    }
  }

  test("null x or a null cohort gives null") {
    for (desc <- Seq(true, false)) {
      val e = expr(desc)
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val nullX = row(Seq(Some(1.0)), None)
      assert(e.eval(nullX) == null && generated(nullX).isNullAt(0))
      val nullCohort = InternalRow(null, Double.box(1.0))
      assert(e.eval(nullCohort) == null && generated(nullCohort).isNullAt(0))
    }
    val got = Seq((Seq(1.0, 2.0), Option(1.5)), (Seq(1.0, 2.0), None)).toDF("a", "x")
      .select(CohortRank.cohortRank($"a", $"x", desc = true)).collect()
    assert(got(0).getInt(0) == 2 && got(1).isNullAt(0))
  }

  test("a non-double input is a type-check failure") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1L), 1L)).toDF("a", "x")
        .select(CohortRank.cohortRank($"a", $"x", desc = true)).collect()
    }
    assert(e.getMessage.contains("cohort_rank"))
  }

  test("participates in whole-stage codegen") {
    val df = spark.range(200)
      .select(array(($"id" % 7).cast("double"), ($"id" % 3).cast("double")).as("a"),
        ($"id" % 5).cast("double").as("x"))
      .select(CohortRank.cohortRank($"a", $"x", desc = false).as("r"))
      .filter($"r" > 0)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val inWscg = plan.exists {
      case w: WholeStageCodegenExec => w.child.toString.contains("cohort_rank")
      case _ => false
    }
    assert(inWscg, s"expected cohort_rank inside WholeStageCodegen:\n$plan")
    assert(df.count() == 200)
  }
}
