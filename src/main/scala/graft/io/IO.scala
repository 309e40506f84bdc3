package graft.io

import org.apache.hadoop.mapred.{FileInputFormat, JobConf}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.graftnative.CsvLines
import java.nio.file.{Files, Paths}

/** Sources & sinks matching the reference's I/O surface (SURVEY.md §2A
  * S1-S4, O1): schema-inferred CSV in, overwrite-Parquet + JSON document
  * out. Object-store upload (spark_etl_dag.py:80-108) is subsumed by
  * writing to an s3a:// path through the same writer.
  */
object Sources {
  /** S1 — `read.option(header).option(inferSchema).csv(...)`
    * (pyspark_etl.py:51), with the same schema inference and PERMISSIVE
    * parse, over the file's lines read as one split per core.
    *
    * The file source sizes splits as `max(openCostInBytes, bytes / cores)`
    * with a 4 MB session-wide floor, so any file under cores x 4 MB would
    * arrive as ONE partition and every stage downstream would run as one
    * task. Hadoop's `TextInputFormat` asked for `defaultParallelism` splits
    * cuts on line boundaries instead; split 0 starts at byte 0, so it holds
    * the header. A .csv.gz is decompressed transparently, like the
    * reference's upstream contract (spark_etl_dag.py:47), and stays one
    * unsplittable split. The lines are read with the session's Hadoop conf,
    * as the path read does, so `fs.*` keys set with `spark.conf.set` apply.
    *
    * The header is read on the driver: the first non-blank record of the
    * splits in partition order, through `TextInputFormat`'s own record
    * reader, so a UTF-8 BOM, CRLF endings and a codec are handled as
    * partition 0 handles them. The call then runs exactly one Spark job,
    * the schema inference (`CSVInferSchema`, as the path read infers);
    * the rows are parsed lazily, on each pass, by Spark's own
    * `UnivocityParser` inside `FailureSafeParser`
    * ([[org.apache.spark.sql.graftnative.CsvLines]]).
    *
    * Departures from the path read:
    *  - every line equal to the header is dropped, so a header repeated
    *    mid-file (e.g. concatenated exports) is not parsed as a junk row.
    *    The path read keeps it as a row of nulls and header strings,
    *    although its schema inference skips it.
    *  - `spark.sql.files.ignoreCorruptFiles` / `ignoreMissingFiles` do not
    *    apply; the line read follows `spark.files.ignoreCorruptFiles` /
    *    `ignoreMissingFiles` instead.
    *  - the result is parsed from the lines, not scanned, so there is no
    *    column pruning: selecting a few columns still parses every column.
    *    `runEtl` uses every column.
    */
  def csvInferred(spark: SparkSession, path: String): DataFrame = {
    val conf = new JobConf(spark.sessionState.newHadoopConf())
    FileInputFormat.setInputPaths(conf, path)
    CsvLines.read(spark, conf)
  }

  /** JSONL corpus source — the interchange format LLM training corpora
    * actually ship in (one JSON document per line, gzip-splittable per
    * file). The schema is EXPLICIT, never inferred: inference reads the
    * whole input twice, and on a 100 TB corpus the second pass costs more
    * than the job. Unparseable lines land in `_corrupt_record` (PERMISSIVE)
    * instead of failing the task, mirroring the ragged-CSV posture.
    */
  def jsonlDocs(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val withQuarantine =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read
      .schema(withQuarantine)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** O1 — directory discovery: non-hidden *.csv / *.csv.gz, case-insensitive
    * (spark_etl_dag.py:46-48), sorted for determinism.
    */
  def discoverCsvs(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .filter { f =>
        val n = f.getName.toLowerCase
        n.endsWith(".csv") || n.endsWith(".csv.gz")
      }
      .map(_.getAbsolutePath)
      .sorted
      .toSeq
  }
}

object Sinks {
  /** S2 — `write.mode("overwrite").parquet(path)` (pyspark_etl.py:56). */
  def parquetOverwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** O4-shaped gzip CSV output (drive_watch_dag.py:95-98 compresses the
    * artifact; engine-side analogue is a compressed writer).
    */
  def csvGzip(df: DataFrame, path: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("compression", "gzip")
      .csv(path)

  /** JSONL corpus sink (one doc per line, gzip) — the write half of the
    * corpus interchange lane.
    */
  def jsonlGzip(df: DataFrame, path: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .json(path)

  /** S3 — insights JSON document (pyspark_etl.py:59-62). */
  def writeTextFile(content: String, path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, content)
  }
}
