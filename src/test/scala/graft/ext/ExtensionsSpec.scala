package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("DoubleDot matches HOF semantics on null elements and unequal lengths") {
    val df = spark.sql(
      """SELECT
        |  aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, e) -> acc + e) AS hof,
        |  a, b
        |FROM VALUES
        |  (array(1.0D, 2.0D), array(3.0D, 4.0D)),
        |  (array(1.0D, NULL), array(3.0D, 4.0D)),
        |  (array(1.0D), array(3.0D, 4.0D))
        |AS t(a, b)""".stripMargin)
    val withNative = df.select(
      col("hof"),
      org.apache.spark.sql.graftnative.VectorExpressions.ddot(col("a"), col("b")).as("native"))
    val rows = withNative.collect()
    rows.foreach { r =>
      assert(Option(r.get(0)) == Option(r.get(1)), s"hof=${r.get(0)} native=${r.get(1)}")
    }
  }

  test("native expressions are SQL-callable after registration") {
    org.apache.spark.sql.graftnative.GraftFunctions.registerInto(spark)
    val sh = spark.sql(
      "SELECT simhash64(split('spark shuffles partitions', ' ')) AS h").collect()(0).getLong(0)
    val api = Seq(Tuple1(Seq("spark", "shuffles", "partitions"))).toDF("toks")
      .select(org.apache.spark.sql.graftnative.TextExpressions.simhash64(col("toks")))
      .collect()(0).getLong(0)
    assert(sh == api)
    val fps = spark.sql(
      "SELECT winnow_fingerprints('abcdefghij', 4, 3) AS fps").collect()(0).getSeq[Long](0)
    val fpsApi = Seq(Tuple1("abcdefghij")).toDF("t")
      .select(TextStats.winnowingFingerprintsNative(col("t"), 4, 3))
      .collect()(0).getSeq[Long](0)
    assert(fps == fpsApi && fps.nonEmpty)
  }
}
