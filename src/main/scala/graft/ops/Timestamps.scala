package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.TimestampExpressions

/** Multi-format timestamp parsing + date/time string projection.
  *
  * Reference (`airflow/dags/etl/pyspark_etl.py:23-33`, `split_timestamp`):
  * `coalesce(to_timestamp(c, fmt) for fmt in three formats)` — first
  * matching format wins, all-fail yields null — then the transient
  * timestamp is re-serialized to STRING columns `date` (yyyy-MM-dd) and
  * `time` (HH:mm:ss) and dropped. Output schema carries no timestamp
  * column (SURVEY.md §1). Missing input column => no-op
  * (pyspark_etl.py:53 probes `columns` first).
  *
  * The parse has the value of a `coalesce` of `try_to_timestamp` calls,
  * so a parse failure is null under Spark 4's ANSI default as well as
  * with ANSI off (the reference ran Spark 3.4 CORRECTED-policy semantics).
  * A string column is parsed without throwing an exception per missed
  * format ([[org.apache.spark.sql.graftnative.FirstTimestamp]]).
  */
object Timestamps {
  val Formats: Seq[String] =
    Seq("yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss", "dd-MM-yyyy HH:mm:ss")

  /** First-match-wins multi-format parse; null when no format matches. */
  def parseMulti(c: Column): Column = TimestampExpressions.firstTimestamp(c, Formats)

  def splitTimestamp(df: DataFrame, tsCol: String): DataFrame =
    if (!df.columns.contains(tsCol)) df
    else
      df.withColumn("parsed_ts", parseMulti(ref(tsCol)))
        .withColumn("date", date_format(col("parsed_ts"), "yyyy-MM-dd"))
        .withColumn("time", date_format(col("parsed_ts"), "HH:mm:ss"))
        .drop("parsed_ts")
}
