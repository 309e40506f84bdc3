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
  */
object Insights {
  case class LoanTypeCount(loan_type: Option[String], count: Long)
  case class Summary(
      total_loans: Long,
      avg_loan_amount: Option[Double],
      by_loan_type: Option[Seq[LoanTypeCount]])

  def compute(df: DataFrame): Summary = {
    // total and mean in one action: count(1) is what `df.count()` runs
    val hasAmount = df.columns.contains("loan_amount")
    val row = df
      .agg(count(lit(1)), (if (hasAmount) Seq(avg_(col("loan_amount"))) else Nil): _*)
      .first()
    val total = row.getLong(0)
    val avg =
      if (!hasAmount) None
      else Option(row.get(1)).map(_.asInstanceOf[Number].doubleValue())
    val byType =
      if (!df.columns.contains("loan_type")) None
      else
        Some(
          df.groupBy("loan_type")
            .agg(count(lit(1)).as("count"))
            .orderBy(desc("count"), asc_nulls_first("loan_type"))
            .collect()
            .toSeq
            // inferSchema may type loan_type numerically — don't assume String
            .map(r => LoanTypeCount(Option(r.get(0)).map(_.toString), r.getLong(1))))
    Summary(total, avg, byType)
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
