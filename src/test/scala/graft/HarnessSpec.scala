package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

class HarnessSpec extends SparkSpec {

  test("settings parse positive integers and name the variable they reject") {
    assert(Harness.settings(Map.empty) == Harness.Settings(4, 4))
    assert(Harness.settings(Map("SPARK_GRAFT_CPUS" -> "4")) == Harness.Settings(4, 4))
    assert(Harness.settings(Map("SPARK_GRAFT_CPUS" -> "6")) == Harness.Settings(6, 6))
    assert(Harness.settings(Map("SPARK_GRAFT_CPUS" -> "2", "SPARK_GRAFT_SHUFFLE_PARTS" -> "16")) ==
      Harness.Settings(2, 16))
    for (bad <- Seq("*", "0", "x")) {
      val e = intercept[IllegalArgumentException](Harness.settings(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_SHUFFLE_PARTS" -> "-2")))
    assert(e.getMessage.contains("SPARK_GRAFT_SHUFFLE_PARTS"), e.getMessage)
  }

  test("the spec session carries the entry points' settings") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
  }

  test("the tally counts a parquet read with a group-by, and a reset zeroes it") {
    val dir = Files.createTempDirectory("graft_tally").resolve("t").toString
    spark.range(0, 2000, 1, 4).withColumn("k", col("id") % 7).write.parquet(dir)
    val tally = new QueryTally(spark.sparkContext)
    try {
      tally.reset()
      spark.read.parquet(dir).groupBy("k").count().collect()
      val c = tally.counts()
      assert(c.jobs > 0 && c.tasks > 0 && c.inputBytes > 0 && c.shuffleWriteBytes > 0, c)
      tally.reset()
      assert(tally.counts() == QueryTally.Counts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    } finally tally.close()
  }
}
