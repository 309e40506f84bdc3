package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.TopK

class TopKSpec extends SparkSpec {

  test("native top-k-per-key equals the window row_number formulation") {
    val o = Tables.orders(spark, sf)
    val native = TopK
      .perKey(o, Seq("o_orderpriority"), Seq(("o_totalprice", true), ("o_orderkey", false)), 3)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w = Window.partitionBy("o_orderpriority").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val windowed = o
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_orderpriority", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(native == windowed)
    assert(native.size == 15) // 5 priorities x 3
  }

  test("k larger than group size returns whole groups; plan has partial+final execs") {
    val o = Tables.orders(spark, sf).filter(col("o_orderkey") < 20)
    val df = TopK.perKey(o, Seq("o_orderstatus"), Seq(("o_orderkey", false)), 1000)
    assert(df.count() == o.count())
    val plan = df.queryExecution.executedPlan.toString
    // exec nodes render without the Exec suffix; partial+final = 2 nodes
    assert("TopKPerKey \\[".r.findAllIn(plan).size >= 2, s"expected partial+final:\n$plan")
    assert(plan.contains("Exchange"), "final phase must cluster by key")
  }

  test("perKeyCollect: perKey's rows, sorted by the order, with one exchange fewer") {
    val o = Tables.orders(spark, sf)
    val order = Seq(("o_totalprice", true), ("o_orderkey", false))
    val got = TopK.perKeyCollect(o, Seq("o_orderpriority"), order, 3).toSeq
    val want = TopK.perKey(o, Seq("o_orderpriority"), order, 3)
      .orderBy(desc("o_totalprice"), asc("o_orderkey")).collect().toSeq
    assert(got == want)
    assert(got.size == 15)
  }

  test("heap eviction respects ordering under many duplicates") {
    import spark.implicits._
    val df = (1 to 100).map(i => ("g", i % 7, i.toLong)).toDF("g", "v", "id")
    val top = TopK.perKey(df, Seq("g"), Seq(("v", true), ("id", false)), 5)
      .select("v", "id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    // v=6 rows: ids 6,13,...,97 (14 rows); top-5 = v=6 with smallest ids
    assert(top == Set((6, 6L), (6, 13L), (6, 20L), (6, 27L), (6, 34L)))
  }
}
