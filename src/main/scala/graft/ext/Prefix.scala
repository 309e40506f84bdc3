package graft.ext

import graft.ext.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.ArrayLiteral
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}

/** Distributed exact prefix scans (running sum, running max) — the
  * scale-safe replacement for a no-partition (single-reducer) ordered
  * window, which moves the entire input through ONE task.
  *
  *  1. `repartitionByRange(shard, order...)`, materialized once: range
  *     partitions are contiguous in (shard, order).
  *  2. a local window per (partition, shard), bounded by one range split.
  *  3. one job reads each partition's first and last shard and the last
  *     shard's totals: one row per partition, so the fetch is at most
  *     #partitions rows, a bound the scan `require`s.
  *  4. the driver folds those rows in partition order. Only a partition's
  *     first shard can have rows in earlier partitions, and they sit in
  *     the unbroken run of earlier partitions whose last shard is that
  *     shard (shards compared null-safely, empty partitions skipped). The
  *     run's total is the partition's carry, added to the local window on
  *     the rows of its first shard, matched on the partition id taken
  *     before the window's exchange.
  *
  * Long and decimal sums are exact, which is why `order_deciles` and
  * `pack_sequences` keep their single-window DuckDB oracles.
  */
object Prefix {

  /** Inclusive running sum of `valueCol` within `shardCol` groups in
    * `orderCols` order, as column `out` — no single-reducer stage. For a
    * global (unsharded) running sum pass `lit(0L)` as the shard.
    *
    * `orderCols` must be a total order within each shard (add a unique
    * tiebreak column); equal full keys could otherwise straddle a range
    * boundary and make the local window order non-deterministic.
    */
  def runningSum(
      df: DataFrame,
      shardCol: Column,
      orderCols: Seq[Column],
      valueCol: Column,
      out: String,
      numPartitions: Int = 0): DataFrame =
    runningSums(df, shardCol, orderCols, Seq(valueCol -> out), numPartitions)

  /** Several inclusive running sums over the SAME (shard, order) in one
    * pass — one range exchange, one local window and one carry fetch for
    * any number of value columns. Semantics per column are exactly
    * [[runningSum]]'s.
    */
  def runningSums(
      df: DataFrame,
      shardCol: Column,
      orderCols: Seq[Column],
      valueCols: Seq[(Column, String)],
      numPartitions: Int = 0): DataFrame =
    scan(df, shardCol, orderCols, valueCols, isMax = false, Window.currentRow, numPartitions)

  /** Exact global dense row rank (1-based) by `orderCols` — a running
    * count of 1s. The scale-safe `row_number() OVER (ORDER BY ...)`.
    */
  def globalRank(df: DataFrame, orderCols: Seq[Column], out: String): DataFrame =
    runningSum(df, lit(0L), orderCols, lit(1L), out)

  /** Prefix MAX of a LONG `valueCol` within `shardCol` groups in
    * `orderCols` order — the same scan as [[runningSum]], with one extra
    * knob: `inclusive=false` computes the max over STRICTLY EARLIER rows
    * only (the skyline / dominance shape), where a row with no
    * predecessor gets `Long.MinValue`. Only the local frame changes: the
    * carry is unchanged because earlier partitions hold strictly earlier
    * rows.
    *
    * `orderCols` must be a total order within each shard (same contract
    * as [[runningSum]]). Long-typed only: the MinValue identity makes a
    * generic numeric version lie for other widths.
    */
  def runningMax(
      df: DataFrame,
      shardCol: Column,
      orderCols: Seq[Column],
      valueCol: Column,
      out: String,
      inclusive: Boolean = true,
      numPartitions: Int = 0): DataFrame =
    scan(df, shardCol, orderCols, Seq(valueCol.cast(LongType) -> out), isMax = true,
      if (inclusive) Window.currentRow else -1L, numPartitions)

  private def scan(
      df: DataFrame,
      shardCol: Column,
      orderCols: Seq[Column],
      valueCols: Seq[(Column, String)],
      isMax: Boolean,
      frameEnd: Long,
      numPartitions: Int): DataFrame = {
    val n =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val vNames = valueCols.indices.map(i => s"__v$i")
    // MATERIALIZED once (eager localCheckpoint; reliable checkpoint on a
    // real cluster): the carry fetch and the local window both key on the
    // range partition, and RangePartitioner SAMPLES its boundaries with an
    // RDD-id-dependent seed — two executions of the same
    // repartitionByRange can split at different keys (observed at sf0.1)
    val ranged = valueCols
      .zip(vNames)
      .foldLeft(df.withColumn("__shard", shardCol)) { case (acc, ((v, _), nm)) =>
        acc.withColumn(nm, v)
      }
      .repartitionByRange(n, col("__shard") +: orderCols: _*)
      .ckpt()
      .withColumn("__pid", spark_partition_id())
    // the window key (__pid, __shard) is constant within a range
    // partition, so each window partition is a slice of ONE range
    // partition (the shard-size contract packSequences needs)
    val wLocal = Window
      .partitionBy(col("__pid"), col("__shard"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, frameEnd)
    val agg: Column => Column = if (isMax) max else sum
    val local = vNames.foldLeft(ranged) { (acc, nm) =>
      acc.withColumn(s"__l$nm", agg(col(nm)).over(wLocal))
    }
    // the carry's type is that of a sum of per-partition sums, so a sum's
    // output type is that of `coalesce(sum(partials), 0L) + local`
    val carryTypes =
      if (isMax) vNames.map(_ => LongType)
      else local.select(vNames.map(nm => sum(col(s"__l$nm"))): _*).schema.map(_.dataType)
    val shardType = ranged.schema("__shard").dataType
    val plus = carryTypes.map(combiner(_, isMax))
    val parts = ranged
      .select(col("__shard") +: vNames.zip(carryTypes).map { case (nm, t) => col(nm).cast(t) }: _*)
      .queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, rows) =>
        // one pass over the partition's (unsorted) rows: its first and
        // last shard, and the totals of the last one
        val ord = InterpretedOrdering.forSchema(Seq(shardType))
        var lo, hi: InternalRow = null
        val tot = new Array[Any](plus.length)
        rows.foreach { r =>
          if (lo == null || ord.compare(r, lo) < 0) lo = r.copy()
          val c = if (hi == null) 1 else ord.compare(r, hi)
          if (c > 0) { hi = r.copy(); tot.indices.foreach(tot(_) = null) }
          if (c >= 0) tot.indices.foreach(i => tot(i) = plus(i)(tot(i), r.get(i + 1, carryTypes(i))))
        }
        if (hi == null) Iterator.empty
        else Iterator((pid, lo.get(0, shardType), hi.get(0, shardType), tot))
      }
      .collect()
      .sortBy(_._1)
    require(parts.length <= n, s"carry fetch of ${parts.length} rows over $n partitions")
    val ord = InterpretedOrdering.forSchema(Seq(shardType))
    def same(a: Any, b: Any) = ord.compare(InternalRow(a), InternalRow(b)) == 0
    // the fold: a partition whose first shard continues the open run gets
    // the run's totals as its carry; a partition wholly inside that shard
    // extends the run, any other starts a new one at its last shard
    val firstShard = new Array[Any](n)
    val carry = Array.fill(plus.length)(new Array[Any](n))
    var runShard: Any = null
    var run: Array[Any] = null
    for ((pid, lo, hi, tot) <- parts) {
      val continues = run != null && same(runShard, lo)
      if (continues) {
        firstShard(pid) = lo
        run.indices.foreach(i => carry(i)(pid) = run(i))
      }
      if (continues && same(lo, hi)) run = run.indices.map(i => plus(i)(run(i), tot(i))).toArray
      else { runShard = hi; run = tot }
    }
    val atFirst = col("__shard") <=> ArrayLiteral(firstShard, shardType)(col("__pid"))
    val identity = lit(if (isMax) Long.MinValue else 0L)
    val result = valueCols.indices.foldLeft(local) { (acc, i) =>
      val lcum = col(s"__l${vNames(i)}")
      val c = coalesce(when(atFirst, ArrayLiteral(carry(i), carryTypes(i))(col("__pid"))), identity)
      acc.withColumn(valueCols(i)._2, if (isMax) greatest(coalesce(lcum, identity), c) else c + lcum)
    }
    result.drop("__pid" +: "__shard" +: vNames.flatMap(nm => Seq(nm, s"__l$nm")): _*)
  }

  /** The carry's combine on Catalyst's internal values of type `t`;
    * null (no value yet) is its identity, as in SQL's SUM and MAX. */
  private def combiner(t: DataType, isMax: Boolean): (Any, Any) => Any = {
    val f: (Any, Any) => Any = (t, isMax) match {
      case (LongType, true) => (a, b) => math.max(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case (LongType, false) => (a, b) => a.asInstanceOf[Long] + b.asInstanceOf[Long]
      case (DoubleType, false) => (a, b) => a.asInstanceOf[Double] + b.asInstanceOf[Double]
      case (_: DecimalType, false) => (a, b) => a.asInstanceOf[Decimal] + b.asInstanceOf[Decimal]
      case _ => throw new IllegalArgumentException(s"no prefix scan over $t")
    }
    (a, b) => if (a == null) b else if (b == null) a else f(a, b)
  }
}
