// Bridge package: AbstractDataType and the Column<->Expression converters
// are private[sql] in Spark 4, so native-expression helpers live inside
// org.apache.spark.sql (the conventional extension-library pattern).
package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over ArrayType(DoubleType) columns.
  *
  * Replaces the `aggregate(zip_with(a,b,*),0.0,+)` higher-order-function
  * formulation in hot similarity paths: identical semantics (strict
  * left-to-right IEEE double fold, so DuckDB-oracle parity is preserved)
  * but a tight codegen'd loop instead of per-element lambda dispatch —
  * and it stays inside whole-stage codegen.
  */
case class DoubleDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "double_dot"

  // Exactly the `aggregate(zip_with(a,b,*),0.0,+)` semantics (VectorsSpec
  // pins the two equal): unequal lengths (zip_with null-pads) or any null
  // element => null.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  def ddot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DoubleDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
