package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product of two `array<double>` columns: the same
  * left-to-right accumulation as
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,x) -> acc+x)`
  * (and the DuckDB `list_sum(list_transform(...))` oracles) — identical IEEE
  * result, and that reference's NULL when the lengths differ or a compared
  * slot is null — but one tight primitive loop over `ArrayData` instead of
  * two interpreted higher-order functions allocating an intermediate array
  * per row. Participates in whole-stage codegen, so cosine scoring fuses
  * into the surrounding join/filter stage.
  */
case class DotProductExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dotp requires two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (DotProductExpr.defined(x, y)) DotProductExpr.dot(x, y) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.functions.DotProductExpr.defined($a, $b)) {
        ${ev.value} = graft.functions.DotProductExpr.dot($a, $b);
      } else {
        ${ev.isNull} = true;
      }""")

  override def prettyName: String = "dotp"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {
  /** Whether `dotp(a, b)` is non-NULL: equal lengths and no null slot. */
  def defined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    var ok = n == b.numElements()
    var i = 0
    while (ok && i < n) { ok = !a.isNullAt(i) && !b.isNullAt(i); i += 1 }
    ok
  }

  /** Static entry point shared by interpreted eval, generated code and
    * `assign_cell`, for [[defined]] inputs (`assign_cell`'s are, by its
    * precondition). Sequential ascending accumulation — the oracle-exact
    * order.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
}
