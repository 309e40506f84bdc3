package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native dot product behind [[Vectors.dot]]. */
class VectorsSpec extends SparkSpec {

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
}
