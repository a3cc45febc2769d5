package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native cohort rank: RANK() (pandas `method="min"`) of `x` within a
  * cohort array, as 1 + the number of non-null elements strictly ahead
  * of `x` — above it when `desc`, below it otherwise — under Spark's
  * double ordering (`SQLOrderingUtil.compareDoubles`: NaN is greatest,
  * -0.0 equals 0.0), so it agrees with `rank().over(orderBy(x))`.
  *
  * Exactly `size(filter(cohort, v => v > x)) + 1` (or `v < x`), but as
  * ONE codegen'd loop over the unsafe array data: `ArrayFilter` is
  * `CodegenFallback`, so the lambda form runs an interpreted closure per
  * element and allocates a filtered array per row, 108 times per row in
  * the ASPEP extended stage (measured: see docs/PLANS.md). The kernel
  * lives in a static method and `doGenCode` emits a single call (the
  * DotProduct pattern). A null cohort or a null `x` gives null.
  */
case class CohortRank(cohort: Expression, x: Expression, desc: Boolean)
    extends BinaryExpression {

  override def left: Expression = cohort
  override def right: Expression = x

  override def checkInputDataTypes(): TypeCheckResult = (cohort.dataType, x.dataType) match {
    case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case (c, v) => TypeCheckResult.TypeCheckFailure(
      s"cohort_rank expects (array<double>, double), got ${c.simpleString} and ${v.simpleString}")
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "cohort_rank"

  override protected def nullSafeEval(a: Any, v: Any): Any =
    CohortRank.rank(a.asInstanceOf[ArrayData], v.asInstanceOf[Double], desc)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, v) => s"graft.functions.CohortRank.rank($a, $v, $desc)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CohortRank =
    copy(cohort = newLeft, x = newRight)
}

object CohortRank {

  /** Static kernel shared by interpreted eval and generated code. */
  def rank(cohort: ArrayData, x: Double, desc: Boolean): Int = {
    val n = cohort.numElements()
    var ahead = 0
    var i = 0
    while (i < n) {
      if (!cohort.isNullAt(i)) {
        val c = SQLOrderingUtil.compareDoubles(cohort.getDouble(i), x)
        if (if (desc) c > 0 else c < 0) ahead += 1
      }
      i += 1
    }
    ahead + 1
  }

  /** Column-API entry. */
  def cohortRank(cohort: Column, x: Column, desc: Boolean): Column =
    ColumnBridge.toColumn(
      CohortRank(ColumnBridge.toExpr(cohort), ColumnBridge.toExpr(x), desc))
}
