package org.apache.spark.sql.graftnative

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Expand
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.types.IntegerType

/** A typed unpivot of a frame's columns as one Catalyst `Expand`.
  *
  * Every input row becomes one row per target column, shaped
  * `(__g, __s0 … __sK-1)`: `__g` is the column's index among the targets,
  * and there is one nullable slot per DISTINCT data type among them, not
  * one per column. Row `i` carries column i's value in its type's slot and
  * a typed null in every other slot. Values keep their type, so grouping
  * or ordering a slot within `__g = i` groups or orders column i itself.
  * The output holds only these attributes, so the frame's own column names
  * can never clash with them. Slots ≤ columns: no row is wider than the
  * input's.
  *
  * `Expand` has no cap on its projections (grouping sets stop at 64), and
  * unlike the public `explode(array(struct(...)))` form it builds no
  * per-row array: each projection is written straight into the next
  * operator's input.
  */
object SlotExpand {
  val GroupCol = "__g"

  /** The expanded frame and, for each of `cols`, the name of its slot.
    * A name is resolved with the session's resolver; one that matches no
    * column, or several, fails with an error that names it.
    */
  def apply(df: DataFrame, cols: Seq[String]): (DataFrame, Seq[String]) = {
    val plan = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    val attrs = cols.map { c =>
      val matches = plan.output.filter(a => resolver(a.name, c))
      require(matches.size == 1, s"column $c: ${if (matches.isEmpty) "not found" else "ambiguous"}")
      matches.head
    }
    val types = attrs.map(_.dataType).distinct
    val slots = types.indices.map(k => AttributeReference(s"__s$k", types(k))())
    val slotOf = attrs.map(a => types.indexOf(a.dataType))
    val projections = attrs.zip(slotOf).zipWithIndex.map { case ((a, s), i) =>
      Literal(i) +: slots.indices.map(k => if (k == s) a else Literal(null, types(k)))
    }
    val group = AttributeReference(GroupCol, IntegerType, nullable = false)()
    val expanded = Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Expand(projections, group +: slots, plan))
    (expanded, slotOf.map(slots(_).name))
  }
}
