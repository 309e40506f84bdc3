package org.apache.spark.sql.graftnative

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{JobConf, Reporter, TextInputFormat}
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.rdd.{HadoopPartition, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.ExprUtils
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.StructType

/** A header + inferSchema CSV read over Hadoop text splits: the steps
  * `DataFrameReader.csv(Dataset[String])` runs, applied to the split lines
  * directly.
  *
  * The Dataset form costs a job to `take(1)` the header and encodes every
  * line to a `UTF8String` row and back to a `String` on each pass. Here the
  * header is the first non-blank record of the splits, in partition order,
  * read on the driver with `TextInputFormat`'s own record reader, so a
  * byte-order mark, CRLF endings and a compression codec come out as
  * partition 0 sees them. The one job is the schema inference
  * (`CSVInferSchema.infer`); the rows are parsed lazily by
  * `UnivocityParser` inside `FailureSafeParser`, each pass straight from
  * the lines. `internalCreateDataFrame` is `private[sql]`, hence this
  * package.
  */
object CsvLines {

  /** The CSV files named by `conf`'s input paths as one split per core. */
  def read(spark: org.apache.spark.sql.SparkSession, conf: JobConf): DataFrame = {
    val session = spark.asInstanceOf[SparkSession]
    val sc = session.sparkContext
    val sqlConf = session.sessionState.conf
    val splits = sc.hadoopRDD(conf, classOf[TextInputFormat], classOf[LongWritable],
      classOf[Text], sc.defaultParallelism)
    val lines = splits.map(_._2.toString)
    val options = new CSVOptions(Map("header" -> "true", "inferSchema" -> "true"),
      sqlConf.csvColumnPruning, sqlConf.sessionLocalTimeZone)
    val header = firstLine(splits, conf, options)
    val schema = header
      .flatMap(h => Option(new CsvParser(options.asParserSettings).parseLine(h)))
      .fold(new StructType()) { names =>
        val safe = CSVUtils.makeSafeHeader(names, sqlConf.caseSensitiveAnalysis, options)
        val tokens = body(lines, header, options).mapPartitions { it =>
          val parser = new CsvParser(options.asParserSettings)
          it.map(parser.parseLine)
        }
        SQLExecution.withSQLConfPropagated(session) {
          new CSVInferSchema(options).infer(tokens, safe)
        }
      }
    ExprUtils.verifyColumnNameOfCorruptRecord(schema, options.columnNameOfCorruptRecord)
    val actualSchema = StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord))
    val rows = body(lines, header, options).mapPartitions { it =>
      val raw = new UnivocityParser(actualSchema, options)
      val parser = new FailureSafeParser[String](
        s => raw.parse(s), options.parseMode, schema, options.columnNameOfCorruptRecord)
      it.flatMap(parser.parse)
    }
    session.internalCreateDataFrame(rows, schema, isStreaming = false)
  }

  /** The non-blank lines, minus every line equal to the header. */
  private def body(lines: RDD[String], header: Option[String], options: CSVOptions) =
    lines.mapPartitions { it =>
      val kept = CSVUtils.filterCommentAndEmpty(it, options)
      header.fold(kept)(CSVUtils.filterHeaderLine(kept, _, options))
    }

  /** The first non-blank record of `rdd`'s splits, taken in partition order. */
  private def firstLine(rdd: RDD[_], conf: JobConf, options: CSVOptions): Option[String] = {
    val format = ReflectionUtils.newInstance(classOf[TextInputFormat], conf)
    rdd.partitions.iterator.map { p =>
      val split = p.asInstanceOf[HadoopPartition].inputSplit.value
      val reader = format.getRecordReader(split, conf, Reporter.NULL)
      try {
        val (k, v) = (reader.createKey(), reader.createValue())
        val records = Iterator.continually(reader.next(k, v)).takeWhile(identity).map(_ => v.toString)
        CSVUtils.filterCommentAndEmpty(records, options).nextOption()
      } finally reader.close()
    }.collectFirst { case Some(line) => line }
  }
}
