package graft.io

import java.net.URI
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import graft.SparkSpec
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.DataFrame

/** A local-disk FileSystem under its own scheme, registered only in the
  * session's conf by the test that uses it.
  */
class SessionSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftsession://bucket/")
  override def getScheme: String = "graftsession"
}

/** `Sources.csvInferred` reads the CSV's lines as one split per core; these
  * cases pin that it keeps the path-based read's schema and rows.
  */
class SourcesSpec extends SparkSpec {

  private def pathRead(path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.exceptAll(want).isEmpty)
    assert(want.exceptAll(got).isEmpty)
  }

  private def tempCsv(name: String, lines: Seq[String]): String = {
    val p = Files.createTempDirectory("graft_src").resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  /** A few thousand loan rows: every inferred type, nulls in each column,
    * a quoted field with a comma, and all three timestamp formats.
    */
  private lazy val multiSplitCsv: String = tempCsv(
    "loans_multi.csv",
    "loan_id,loan_amount,loan_type,branch,timestamp" +: (1 to 4000).map { i =>
      val amount = if (i % 11 == 0) "" else s"${(i % 17) * 250}.5"
      val kind = if (i % 13 == 0) "" else Seq("personal", "auto", "mortgage")(i % 3)
      val branch = if (i % 7 == 0) "\"B, annex\"" else s"B${i % 40}"
      val ts = i % 4 match {
        case 0 => f"2024-01-${i % 28 + 1}%02d 10:30:00"
        case 1 => f"03/${i % 28 + 1}%02d/2024 14:45:10"
        case 2 => f"${i % 28 + 1}%02d-12-2023 08:00:00"
        case _ => ""
      }
      s"$i,$amount,$kind,$branch,$ts"
    })

  private val fixtures = Seq(
    "loans_basic.csv", "loans_bad_ts.csv", "loans_drifted.csv",
    "loans_header_only.csv", "loans_null_mode.csv", "loans_ragged.csv")

  for (f <- fixtures)
    test(s"split read equals the path read: $f") {
      assertSameRows(Sources.csvInferred(spark, resource(f)), pathRead(resource(f)))
    }

  test("split read equals the path read on a multi-split CSV") {
    val got = Sources.csvInferred(spark, multiSplitCsv)
    assertSameRows(got, pathRead(multiSplitCsv))
    assert(got.count() == 4000)
  }

  test("a CSV under the file source's 4 MB split floor arrives as one split per core") {
    assert(pathRead(multiSplitCsv).rdd.getNumPartitions == 1)
    assert(Sources.csvInferred(spark, multiSplitCsv).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("a gzipped CSV is one split and reads the same rows") {
    val gz = Files.createTempDirectory("graft_src").resolve("loans_basic.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    try Files.copy(Path.of(resource("loans_basic.csv")), out) finally out.close()
    val got = Sources.csvInferred(spark, gz.toString)
    assert(got.rdd.getNumPartitions == 1)
    assertSameRows(got, Sources.csvInferred(spark, resource("loans_basic.csv")))
  }

  test("a header line repeated mid-file is dropped, not parsed as a junk row") {
    val header = "loan_id,loan_amount,loan_type"
    val csv = tempCsv("loans_repeated_header.csv",
      Seq(header, "1,1000.0,personal", "2,2000.0,auto", header, "3,1500.0,auto"))
    val got = Sources.csvInferred(spark, csv)
    assert(got.count() == 3)
    assert(got.filter(got("loan_type") === "loan_type").isEmpty)
    // the departure: the path read keeps the repeated header as a row
    val kept = pathRead(csv)
    assert(kept.schema == got.schema)
    assert(kept.count() == 4)
    assert(kept.filter(kept("loan_type") === "loan_type").count() == 1)
  }

  test("the read uses the session's Hadoop conf, like the path read") {
    val key = "fs.graftsession.impl"
    spark.conf.set(key, classOf[SessionSchemeFileSystem].getName)
    try {
      val uri = s"graftsession://bucket${resource("loans_basic.csv")}"
      // read before the path read so no cached FileSystem hides a miss
      val got = Sources.csvInferred(spark, uri)
      assertSameRows(got, pathRead(uri))
      assertSameRows(got, pathRead(resource("loans_basic.csv")))
    } finally spark.conf.unset(key)
  }
}
