package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.{Sinks, Sources}

/** The reference's flagship end-to-end ETL (`pyspark_etl.py:48-64`,
  * `run_etl`): CSV (header + inferSchema) -> mode null-fill -> timestamp
  * split -> overwrite parquet + insights JSON.
  *
  * The default fill is [[ModeFill.fillNullsWithMode]]: every column's
  * typed mode from one aggregation over one CSV pass, whatever the width,
  * where the reference runs a groupBy, a top-1 and a driver collect per
  * column. Its expanded rows hold one slot per inferred type, not one per
  * column. `singlePassModeFill` selects the unpivot shape,
  * whose modes round-trip through strings and so can break a count tie
  * differently from the reference's typed order; it takes its insights
  * from [[Insights.compute]], in two more jobs.
  *
  * A default call runs four Spark jobs and reads the CSV three times:
  * the schema inference ([[Sources.csvInferred]]), the fill's count (two
  * jobs), and the write. The insights take no pass of their own, where the reference
  * re-runs the scan and projection for each of its actions (SURVEY.md §3
  * step 6):
  *  - `by_loan_type` is `loan_type`'s value counts from the fill's own job
  *    ([[ModeFill.fillNullsWithModeCounting]]), its null group folded into
  *    a non-null mode;
  *  - `total_loans` and `avg_loan_amount` are observed on the write
  *    ([[Insights.observing]]).
  * Nothing is cached. `Result.cleaned` is the uncached plan, so each
  * action on it re-reads the CSV.
  *
  * The CSV arrives as one split per core ([[Sources.csvInferred]]), so a
  * small file's inference, fill and write run as parallel tasks.
  */
object LoanPipeline {
  case class Result(insights: Insights.Summary, cleaned: DataFrame)

  def runEtl(
      spark: SparkSession,
      inputPath: String,
      outputPath: String,
      timestampCol: String = "timestamp",
      insightsJsonPath: Option[String] = None,
      singlePassModeFill: Boolean = false): Result = {
    val raw = Sources.csvInferred(spark, inputPath)
    val write = (df: DataFrame) => Sinks.parquetOverwrite(df, outputPath)
    val (cleaned, insights) =
      if (singlePassModeFill) {
        val cleaned = Timestamps.splitTimestamp(ModeFill.fillNullsWithModeSinglePass(raw), timestampCol)
        write(cleaned)
        (cleaned, Insights.compute(cleaned))
      } else {
        val (filled, counts) =
          ModeFill.fillNullsWithModeCounting(raw, Seq("loan_type").filter(raw.columns.contains))
        val cleaned = Timestamps.splitTimestamp(filled, timestampCol)
        val byType = counts.get("loan_type").map(_.map { case (v, n) => Insights.typeCount(v, n) })
        (cleaned, Insights.observing(cleaned, byType)(write))
      }
    insightsJsonPath.foreach(p => Sinks.writeTextFile(Insights.toJson(insights), p))
    Result(insights, cleaned)
  }
}
