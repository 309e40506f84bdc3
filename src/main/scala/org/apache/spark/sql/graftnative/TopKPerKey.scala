package org.apache.spark.sql.graftnative

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}

/** Top-k-per-key as a first-class physical operator (the full custom-
  * operator path: LogicalPlan node -> SparkStrategy -> SparkPlan).
  *
  * The built-in formulation — `row_number().over(Window.partitionBy(keys)
  * .orderBy(...)) <= k` — shuffles EVERY row and then fully sorts every
  * partition before discarding all but k rows per key. This operator keeps
  * a bounded k-element heap per key instead, in two phases: a partial pass
  * before the exchange cuts each partition to at most k rows per locally-
  * seen key (the top-k analogue of map-side combine), and the final pass
  * after the hash exchange merges the survivors. No sort of the full data
  * ever happens, and shuffle volume drops from |rows| to at most
  * k * |keys| * num_partitions — the difference between feasible and not
  * at 100 TB for small k.
  *
  * Row equivalence with the window formulation is exact when the ordering
  * is total (callers append a tiebreak column); output order within the
  * result is unspecified, like any exchange output.
  *
  * `partialOnly` plans the partial pass alone: at most k rows per key per
  * partition, for a driver that merges them itself ([[TopK.perKeyCollect]]).
  */
case class TopKPerKey(
    groupingKeys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    partialOnly: Boolean = false)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    groupingKeys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupingKeys) :: Nil

  // rows keep their partitioning — without this the default
  // UnknownPartitioning would make a downstream groupBy on the same keys
  // re-shuffle data that is already clustered
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keys = groupingKeys
    val sortOrder = order
    val limit = k
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val rowProj = UnsafeProjection.create(childOutput, childOutput)
      val ordering = RowOrdering.create(sortOrder, childOutput)
      // max-heap w.r.t. the requested ordering: peek() is the WORST
      // retained row, evicted when a better one arrives
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      it.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[UnsafeRow](
            limit + 1,
            (a: UnsafeRow, b: UnsafeRow) => ordering.compare(b, a))
          heaps.put(key.copy(), heap)
        }
        if (heap.size < limit) {
          heap.add(rowProj(row).copy())
        } else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(rowProj(row).copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child, partialOnly) =>
      val partialExec = TopKPerKeyExec(keys, order, k, partial = true, planLater(child))
      (if (partialOnly) partialExec
       else TopKPerKeyExec(keys, order, k, partial = false, partialExec)) :: Nil
    case _ => Nil
  }
}

/** User-facing entry: `TopK.perKey(df, keys, orderCols, k)` where
  * orderCols must form a total order (append a unique tiebreak). Installs
  * the planner strategy idempotently via the public experimental hook.
  *
  * Memory contract: state is k rows per DISTINCT KEY per task with no
  * spill path — meant for bounded-cardinality keys (categories, tenants,
  * buckets). For near-unique keys prefer the window formulation, whose
  * sort spills to disk.
  */
object TopK {
  def perKey(
      df: DataFrame,
      keyNames: Seq[String],
      orderCols: Seq[(String, Boolean)], // (column, descending?)
      k: Int): DataFrame = {
    val (keys, order, plan) = resolve(df, keyNames, orderCols, k)
    Dataset.ofRows(df.sparkSession.asInstanceOf[SparkSession], TopKPerKey(keys, order, k, plan))
  }

  /** The rows of `perKey(df, keyNames, orderCols, k)`, collected and sorted
    * by `orderCols`, with one exchange and one job fewer: the query runs
    * only the partial pass, so each partition sends the driver at most k
    * rows per key, and the driver merges them with the operator's own
    * `RowOrdering`. Meant for results small enough to collect.
    */
  def perKeyCollect(
      df: DataFrame,
      keyNames: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int): Array[Row] = {
    val (keys, order, plan) = resolve(df, keyNames, orderCols, k)
    val qe = Dataset
      .ofRows(df.sparkSession.asInstanceOf[SparkSession],
        TopKPerKey(keys, order, k, plan, partialOnly = true))
      .queryExecution
    val partials = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.executeCollect()
    }
    val keyProj = UnsafeProjection.create(keys, plan.output)
    val taken = new java.util.HashMap[UnsafeRow, Integer]()
    val merged = partials.sorted(RowOrdering.create(order, plan.output)).filter { r =>
      val n = taken.merge(keyProj(r).copy(), 1, (a, b) => a + b)
      n <= k
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(DataTypeUtils.fromAttributes(plan.output))
    merged.map(toRow(_).asInstanceOf[Row])
  }

  /** Installs the strategy and resolves the key and order columns. */
  private def resolve(
      df: DataFrame,
      keyNames: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int): (Seq[Attribute], Seq[SortOrder], LogicalPlan) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    spark.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
        spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ TopKStrategy
      }
    }
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = {
      val matches = analyzed.output
        .filter(a => df.sparkSession.sessionState.conf.resolver(a.name, n))
      require(matches.size == 1, s"column $n: ${if (matches.isEmpty) "not found" else "ambiguous"}")
      matches.head
    }
    val order = orderCols.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    (keyNames.map(attr), order, analyzed)
  }
}
