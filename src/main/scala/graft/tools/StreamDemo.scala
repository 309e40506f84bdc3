package graft.tools

import graft.{Harness, Tables}
import graft.streaming.FileWatch
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Runnable example of the streaming file-watch: demonstrates that the
  * file-source checkpoint is the sensor's seen-set (only files unseen by
  * the offset log are processed after a restart).
  *
  * Usage: runMain graft.tools.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()

    val in = Files.createTempDirectory("sd_in")
    val ckpt = Files.createTempDirectory("sd_ckpt").toString
    val out = Files.createTempDirectory("sd_out").toString
    val ev = Tables.events(spark, sfDir)

    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/f1.parquet")
    val schema = spark.read.parquet(s"$in/f1.parquet").schema

    FileWatch.runAvailableNow(
      FileWatch.watchParquetDir(spark, s"$in/*.parquet", schema)
        .writeStream.format("parquet").option("path", out), ckpt)
    println(s"after-batch-1 rows=${spark.read.parquet(out).count()}")

    ev.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$in/f2.parquet")
    FileWatch.runAvailableNow(
      FileWatch.watchParquetDir(spark, s"$in/*.parquet", schema)
        .writeStream.format("parquet").option("path", out), ckpt)
    println(s"after-batch-2 rows=${spark.read.parquet(out).count()} (f1 not reprocessed iff == total)")
    println(s"source-total rows=${ev.count()}")
    spark.stop()
  }
}
