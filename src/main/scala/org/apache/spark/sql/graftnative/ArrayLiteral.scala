package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DataType}

/** A literal array of Catalyst-internal values (`UTF8String`, `Decimal`,
  * boxed primitives, nulls): a small driver-side table, such as one slot
  * per partition, that a projection indexes per row without converting
  * its values to external types and back.
  */
object ArrayLiteral {
  def apply(values: Array[Any], elementType: DataType): Column =
    ExpressionUtils.column(Literal(new GenericArrayData(values), ArrayType(elementType)))
}
