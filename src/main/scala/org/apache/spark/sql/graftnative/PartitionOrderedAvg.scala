package org.apache.spark.sql.graftnative

import java.nio.ByteBuffer
import java.util.TreeMap

import org.apache.spark.TaskContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType}

/** `avg` of a double, its partial sums added in partition order.
  *
  * Spark's `avg` keeps one partial (sum, count) per task and merges the
  * partials in the order they arrive. After an exchange that order is the
  * map-partition order, but an `observe`d metric merges them on the driver
  * in the order the tasks finish, so the last bits of the mean change from
  * run to run. This aggregate keeps each partition's partial apart, keyed
  * by partition id, and adds them in partition order at the end: the same
  * additions, in the same order, as `avg`'s final aggregate after an
  * exchange, whichever order the tasks finish in. Each partial starts at
  * 0.0 and adds the non-null values in row order, as `avg`'s does.
  */
case class PartitionOrderedAvg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TreeMap[Integer, PartitionOrderedAvg.Partial]]
  with ImplicitCastInputTypes with UnaryLike[Expression] {
  import PartitionOrderedAvg.Partial

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "partition_ordered_avg"

  override def createAggregationBuffer(): TreeMap[Integer, Partial] = new TreeMap()

  override def update(buf: TreeMap[Integer, Partial], row: InternalRow): TreeMap[Integer, Partial] = {
    val v = child.eval(row)
    if (v != null) {
      val p = buf.computeIfAbsent(TaskContext.getPartitionId(), _ => new Partial(0.0, 0L))
      p.sum += v.asInstanceOf[Double]
      p.n += 1
    }
    buf
  }

  override def merge(
      buf: TreeMap[Integer, Partial],
      other: TreeMap[Integer, Partial]): TreeMap[Integer, Partial] = {
    other.forEach { (i, p) =>
      buf.merge(i, new Partial(p.sum, p.n), (a, b) => new Partial(a.sum + b.sum, a.n + b.n))
    }
    buf
  }

  override def eval(buf: TreeMap[Integer, Partial]): Any = {
    var sum = 0.0
    var n = 0L
    buf.values.forEach { p => sum += p.sum; n += p.n }
    if (n == 0) null else sum / n.toDouble
  }

  override def serialize(buf: TreeMap[Integer, Partial]): Array[Byte] = {
    val out = ByteBuffer.allocate(buf.size * 20)
    buf.forEach { (i, p) => out.putInt(i).putDouble(p.sum).putLong(p.n) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): TreeMap[Integer, Partial] = {
    val in = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    while (in.hasRemaining) buf.put(in.getInt, new Partial(in.getDouble, in.getLong))
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): PartitionOrderedAvg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): PartitionOrderedAvg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): PartitionOrderedAvg =
    copy(child = newChild)
}

object PartitionOrderedAvg {
  final class Partial(var sum: Double, var n: Long)

  def avg(c: Column): Column =
    ExpressionUtils.column(PartitionOrderedAvg(ExpressionUtils.expression(c)).toAggregateExpression())
}
