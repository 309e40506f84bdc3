package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.PartitionOrderedAvg

class PartitionOrderedAvgSpec extends SparkSpec {
  import spark.implicits._

  private val parts = 8
  // partial sums that round differently in different orders
  private val values = (0 until 4000).map(i => i * 2654435761L % 1000003 / 13.0)

  test("an observed mean adds the partials in partition order, as avg's exchange does") {
    // earlier partitions finish later, so tasks do not finish in order
    val n = parts
    val df = spark.sparkContext.parallelize(values, n)
      .mapPartitionsWithIndex { (i, it) => Thread.sleep((n - i) * 40L); it }
      .toDF("x")
    val partials = values.grouped(values.size / parts).map(_.foldLeft(0.0)(_ + _)).toSeq
    // the data has teeth: the reverse order gives other bits
    assert(partials.foldLeft(0.0)(_ + _) != partials.reverse.foldLeft(0.0)(_ + _))
    val obs = Observation()
    df.observe(obs, PartitionOrderedAvg.avg($"x").as("m")).write.format("noop").mode("overwrite").save()
    val want = df.agg(avg("x")).head().getDouble(0)
    assert(obs.get("m") == want)
    assert(want == partials.foldLeft(0.0)(_ + _) / values.size)
  }

  test("nulls are skipped, no rows is null, integers are averaged as doubles") {
    val df = Seq[Option[Long]](Some(1L), None, Some(2L)).toDF("x").repartition(3)
    assert(df.agg(PartitionOrderedAvg.avg($"x")).head().getDouble(0) == 1.5)
    assert(df.filter($"x" > 5).agg(PartitionOrderedAvg.avg($"x")).head().isNullAt(0))
  }
}
