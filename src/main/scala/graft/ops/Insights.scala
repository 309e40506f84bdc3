package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Insight aggregates over a cleaned loan table.
  *
  * Reference (`airflow/dags/etl/pyspark_etl.py:35-46`, `generate_insights`):
  * a JSON document {total_loans: count, avg_loan_amount: mean(loan_amount),
  * by_loan_type: groupBy(loan_type).count() records}; the amount/type
  * entries are emitted only when the column exists (pyspark_etl.py:40,43).
  * The reference leaves by-type record order arbitrary; we order by
  * (count desc, loan_type asc nulls first) so goldens are stable.
  *
  * `avg_loan_amount` merges one partial double sum per input partition,
  * so its last bits depend on the partition count (and, on a cluster, on
  * the order partials are fetched in). It is not bit-identical to the
  * reference's mean or to a one-partition sum.
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
      else
        Some(types.map { r =>
          // inferSchema may type loan_type numerically — don't assume String
          LoanTypeCount(Option(r.getAs[Any]("loan_type")).map(_.toString), r.getAs[Long]("count"))
        })
    Summary(
      total.fold(0L)(_.getAs[Long]("count")),
      if (!hasAmount) None
      else total.flatMap(r => Option(r.getAs[Any]("avg"))).map(_.asInstanceOf[Number].doubleValue),
      byType)
  }

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
