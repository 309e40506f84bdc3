package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, the entry points'
  * settings ([[Harness.builder]]) at 4 cores. Harness's WARN level
  * matters here: at INFO a full `sbt test` writes >0.5 GB of scheduler
  * lines (r11), all of it synchronous console I/O inside the tests' jobs.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.builder(cpus = 4, shuffleParts = 4)
    .config(
      "spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  lazy val sf: String = "/root/testdata/sf0.001"
}
