package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product over two `array<double>` columns, accumulating
  * left-to-right in double (bit-identical to the sequential
  * `aggregate(zip_with(...))` higher-order form it replaces — HOFs run
  * interpreted per element, which made cosine cross-joins the hottest
  * path in the similarity operators; this stays inside whole-stage
  * codegen).
  *
  * Mismatched lengths use the shorter prefix; a null ARRAY or a null
  * ELEMENT on either side yields null.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // always nullable: a null ELEMENT nulls the result even when both
  // array columns are non-nullable, and codegen needs ev.isNull to be
  // a real variable for the in-loop assignment
  override def nullable: Boolean = true

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires array<double> inputs, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      // a null ELEMENT nulls the whole dot (an UnsafeArrayData would
      // otherwise silently read the slot as 0.0)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) {
            ${ev.isNull} = true; break;
          }
          $acc += $a.getDouble($i) * $b.getDouble($i);
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

object ArrayDot {
  /** Column API: dot(a, b) with automatic cast to array<double>. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    ColumnBridge.column(
      ArrayDot(ColumnBridge.expression(ad), ColumnBridge.expression(bd)))
  }
}
