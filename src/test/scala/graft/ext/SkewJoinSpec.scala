package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hot keys: salting (`Skew.saltedJoin`, `Skew.saltedAgg`) must equal the
  * direct plan exactly, and AQE skew handling, the join-side answer, must
  * come out of adaptive planning on a synthetic 90%-one-key join with the
  * skewed partition split (`skew=true`) and results equal to the
  * non-adaptive run.
  */
class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals the direct join exactly on a 90%-one-key skew") {
    val facts = spark.range(100000)
      .select(
        when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 50).as("k"),
        col("id").as("v"))
    val dim = (0L until 50L).map(k => (k, s"name$k")).toDF("k", "name")
    val direct = facts.join(dim, Seq("k"))
      .agg(count(lit(1)), sum("v").cast("long"), min("name"), max("name"))
      .collect().head.toString
    val salted = Skew.saltedJoin(facts, dim, Seq("k"), salts = 8)
      .agg(count(lit(1)), sum("v").cast("long"), min("name"), max("name"))
      .collect().head.toString
    assert(salted == direct)
  }

  test("salted aggregation equals direct aggregation exactly") {
    val l = Tables.lineitem(spark, sf)
    val direct = l
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(12, 2))).as("total"))
      .orderBy("l_returnflag")
      .collect()
      .toSeq
    val salted = Skew
      .saltedAgg(l, Seq("l_returnflag"), col("l_quantity").cast(DecimalType(12, 2)), 8)
      .orderBy("l_returnflag")
      .collect()
      .toSeq
    assert(salted == direct)
  }

  test("AQE splits the skewed join partition; results unchanged") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      // 200k facts, 90% on one key; dim has one row per key
      val facts = spark.range(200000)
        .select(
          when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 1000).as("k"),
          col("id").as("v"))
      val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = facts.join(dim, Seq("k")).agg(
        count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val row = joined.collect()(0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected skew split in:\n$plan")

      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val replay = facts.join(dim, Seq("k")).agg(
        count(lit(1)).as("n"), sum(col("v") + col("w")).as("s")).collect()(0)
      assert(row == replay)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
