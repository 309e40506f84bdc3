package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.PartitionOrderedAvg
import org.apache.spark.sql.types.DecimalType

/** Insight aggregates over a cleaned loan table.
  *
  * Reference (`airflow/dags/etl/pyspark_etl.py:35-46`, `generate_insights`):
  * a JSON document {total_loans: count, avg_loan_amount: mean(loan_amount),
  * by_loan_type: groupBy(loan_type).count() records}; the amount/type
  * entries are emitted only when the column exists (pyspark_etl.py:40,43).
  * The reference leaves by-type record order arbitrary; we order by
  * (count desc, loan_type asc nulls first) so goldens are stable.
  *
  * `avg_loan_amount` adds one partial double sum per input partition, so
  * its last bits depend on the partition count. They do not depend on the
  * order tasks finish in: `compute`'s final aggregate reads the partials
  * in map order (on a cluster, in the order they are fetched), and
  * `observing` adds them in partition order. It is not bit-identical to
  * the reference's mean or to a one-partition sum.
  */
object Insights {
  case class LoanTypeCount(loan_type: Option[String], count: Long)
  case class Summary(
      total_loans: Long,
      avg_loan_amount: Option[Double],
      by_loan_type: Option[Seq[LoanTypeCount]])

  def compute(df: DataFrame): Summary = {
    val hasAmount = df.columns.contains("loan_amount")
    val hasType = df.columns.contains("loan_type")
    // count(1) is what `df.count()` runs
    val aggs = count(lit(1)).as("count") +:
      (if (hasAmount) Seq(avg_(col("loan_amount")).as("avg")) else Nil)
    // One aggregate: per-type counts in set (loan_type), total and mean in
    // set (). grouping_id() is 1 on the () row, so it sorts last; the few
    // rows are ordered in one task rather than by a sampled range sort.
    val rows =
      if (!hasType) df.agg(aggs.head, aggs.tail: _*).collect()
      else
        df.groupingSets(Seq(Seq(col("loan_type")), Nil), col("loan_type"))
          .agg(grouping_id().as("gid"), aggs: _*)
          .coalesce(1)
          .sortWithinPartitions(col("gid"), desc("count"), asc_nulls_first("loan_type"))
          .collect()
    // with grouping keys, a zero-row frame yields no () row at all
    val (totals, types) =
      rows.toSeq.partition(r => !hasType || r.getAs[Number]("gid").intValue == 1)
    val total = totals.headOption
    val byType =
      if (!hasType) None
      else Some(types.map(r => typeCount(r.getAs[Any]("loan_type"), r.getAs[Long]("count"))))
    Summary(
      total.fold(0L)(_.getAs[Long]("count")),
      if (!hasAmount) None else total.flatMap(r => asDouble(r.getAs[Any]("avg"))),
      byType)
  }

  /** `write(df)` with `compute`'s total and mean observed on the way: no
    * job of their own. `byType` is taken as given, e.g. from the fill's
    * counts ([[ModeFill.fillNullsWithModeCounting]]).
    *
    * An observed metric merges its task partials on the driver in the
    * order the tasks finish, so the mean of a double column is taken with
    * `PartitionOrderedAvg`, which adds them in partition order, as
    * `compute`'s exchange does: the two agree to the bit on a frame of the
    * same partitions. A decimal mean is exact in any order and stays `avg`.
    */
  def observing(df: DataFrame, byType: Option[Seq[LoanTypeCount]])(write: DataFrame => Unit): Summary = {
    val amount = df.schema.find(_.name == "loan_amount")
    val aggs = count(lit(1)).as("count") +: amount.toSeq.map { f =>
      val c = col("loan_amount")
      (if (f.dataType.isInstanceOf[DecimalType]) avg_(c) else PartitionOrderedAvg.avg(c)).as("avg")
    }
    val obs = Observation()
    write(df.observe(obs, aggs.head, aggs.tail: _*))
    val m = obs.get
    Summary(
      m("count").asInstanceOf[Long],
      amount.flatMap(_ => asDouble(m("avg"))),
      byType)
  }

  /** A by-type record; inferSchema may type loan_type numerically. */
  def typeCount(loanType: Any, count: Long): LoanTypeCount =
    LoanTypeCount(Option(loanType).map(_.toString), count)

  private def asDouble(v: Any): Option[Double] = Option(v).map(_.asInstanceOf[Number].doubleValue)

  // `mean` shadows easily; alias the function we mean.
  private def avg_(c: org.apache.spark.sql.Column) = avg(c)

  /** Render as the reference-shaped JSON document (pyspark_etl.py:59-62). */
  def toJson(s: Summary): String = {
    def esc(v: String) =
      "\"" + v.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val sb = new StringBuilder("{\n")
    sb.append(s"""  "total_loans": ${s.total_loans}""")
    s.avg_loan_amount.foreach(a => sb.append(s""",\n  "avg_loan_amount": $a"""))
    s.by_loan_type.foreach { lt =>
      val recs = lt
        .map(r => s"""{"loan_type": ${r.loan_type.map(esc).getOrElse("null")}, "count": ${r.count}}""")
        .mkString("[", ", ", "]")
      sb.append(s""",\n  "by_loan_type": $recs""") // reference key, pyspark_etl.py:45
    }
    sb.append("\n}")
    sb.toString
  }
}
