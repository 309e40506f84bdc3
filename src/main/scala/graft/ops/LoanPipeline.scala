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
  * differently from the reference's typed order.
  *
  * Scale departure from the reference: the cleaned frame is cached before
  * the write and the insights action — the reference re-executes the scan
  * and projection pipeline once per action (SURVEY.md §3 step 6), which at
  * 100 TB means four full input scans. `Result.cleaned` is returned still
  * cached: the caller owns it and calls `unpersist()` when done.
  *
  * The CSV arrives as one split per core ([[Sources.csvInferred]]), so a
  * small file's fill, write and insights run as parallel tasks.
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
    val filled =
      if (singlePassModeFill) ModeFill.fillNullsWithModeSinglePass(raw)
      else ModeFill.fillNullsWithMode(raw)
    val cleaned = Timestamps.splitTimestamp(filled, timestampCol).cache()
    Sinks.parquetOverwrite(cleaned, outputPath)
    val insights = Insights.compute(cleaned)
    insightsJsonPath.foreach(p => Sinks.writeTextFile(Insights.toJson(insights), p))
    Result(insights, cleaned)
  }
}
