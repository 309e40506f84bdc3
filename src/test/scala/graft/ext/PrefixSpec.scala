package graft.ext

import graft.{QueryTally, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The distributed prefix-sum machinery must be BIT-IDENTICAL to the
  * single-window formulation it replaces (order_deciles, pack_sequences
  * keep their unchanged DuckDB oracles on the strength of this), and must
  * enforce the shard-size contract: no window partition larger than one
  * range split, even when every row lands in ONE shard.
  */
class PrefixSpec extends SparkSpec {
  import spark.implicits._

  // deterministic ragged fixture: shard sizes 1..40ish, duplicate token
  // counts, ids interleaved across shards so range splits cut mid-shard
  private lazy val docs = (1L to 500L)
    .map(i => (s"s${i % 7}", i, (i * 37 % 90) + 1))
    .toDF("shard", "id", "tok")

  test("runningSum equals the single-window cumulative sum exactly") {
    Seq(1, 8, 16).foreach(assertSums(docs, _))
  }

  test("globalRank equals row_number over the total order, one shard case") {
    // single logical shard — the exact shape that serialized the old
    // order_deciles into one task
    val expected = docs
      .withColumn("rnk", row_number().over(Window.orderBy(col("tok"), col("id"))).cast("long"))
      .select("id", "rnk")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val got = Prefix
      .globalRank(docs, Seq(col("tok"), col("id")), "rnk")
      .select("id", "rnk")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == expected)
  }

  test("runningMax matches the single-window prefix max, inclusive and exclusive") {
    Seq(1, 8, 16).foreach(assertMaxes(docs, _))
  }

  test("packSequencesScalable is row-identical to packSequences") {
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("shard"), col("id"), col("seq_id"), col("straddles"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val simple = CorpusOps.packSequences(docs, "shard", "id", "tok", 128L)
    val scalable = CorpusOps.packSequencesScalable(docs, "shard", "id", "tok", 128L, 8)
    assert(key(scalable) == key(simple))
  }

  test("shard-size contract: no window partition exceeds one range split") {
    // every row in ONE shard, 8 range splits: the local windows must see
    // at most ~n/8 rows each, never the whole shard. Count rows per
    // (range partition) the same way runningSum keys its local window.
    val one = (1L to 400L).map(i => ("only", i, 5L)).toDF("shard", "id", "tok")
    val perSplit = one
      .repartitionByRange(8, col("shard"), col("id"))
      .groupBy(spark_partition_id().as("pid"))
      .count()
      .collect()
      .map(_.getLong(1))
    assert(perSplit.length > 1, "a single shard must still spread over range splits")
    assert(perSplit.max <= 400 / 2, s"range split too coarse: ${perSplit.mkString(",")}")
    // and the scalable packing stays correct on that degenerate layout
    val simple = CorpusOps.packSequences(one, "shard", "id", "tok", 64L)
      .select("id", "seq_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scalable = CorpusOps.packSequencesScalable(one, "shard", "id", "tok", 64L, 8)
      .select("id", "seq_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scalable == simple)
  }

  /** `tok`'s running sum (`s`) and inclusive (`mi`) and exclusive (`me`)
    * running max within `shard` in `id` order, by single windows. */
  private def byWindows(df: DataFrame): DataFrame = {
    def w(end: Long) = Window
      .partitionBy("shard")
      .orderBy("id")
      .rowsBetween(Window.unboundedPreceding, end)
    df.withColumn("s", sum("tok").over(w(Window.currentRow)))
      .withColumn("mi", max("tok").over(w(Window.currentRow)))
      .withColumn("me", coalesce(max("tok").over(w(-1L)), lit(Long.MinValue)))
  }

  /** Column `c` of a scan over `df` against [[byWindows]], keyed by (shard, id). */
  private def assertSame(got: DataFrame, df: DataFrame, c: String, what: String): Unit = {
    def keyed(out: DataFrame) = out
      .select("shard", "id", c)
      .collect()
      .map(r => (Option(r.get(0)), r.getLong(1)) -> r.getLong(2))
      .toMap
    val (g, e) = (keyed(got), keyed(byWindows(df)))
    assert(g == e, s"$what: ${g.size} rows against ${e.size}, " +
      s"first differences ${(g.toSet diff e.toSet).take(3)}")
  }

  private def assertSums(df: DataFrame, nParts: Int): Unit =
    assertSame(Prefix.runningSum(df, col("shard"), Seq(col("id")), col("tok"), "s", nParts), df,
      "s", s"runningSum at $nParts partitions")

  private def assertMaxes(df: DataFrame, nParts: Int): Unit =
    Seq(true -> "mi", false -> "me").foreach { case (inclusive, c) =>
      val got = Prefix.runningMax(df, col("shard"), Seq(col("id")), col("tok"), c, inclusive, nParts)
      assertSame(got, df, c, s"runningMax (inclusive $inclusive) at $nParts partitions")
    }

  private def assertMatchesWindows(df: DataFrame, nParts: Int): Unit = {
    assertSums(df, nParts)
    assertMaxes(df, nParts)
  }

  /** How many range partitions each shard's rows fall in, for the layout
    * `repartitionByRange(n, shard, id)` gives `df`. */
  private def partitionsPerShard(df: DataFrame, n: Int): Map[Option[Any], Long] = df
    .repartitionByRange(n, col("shard"), col("id"))
    .withColumn("pid", spark_partition_id())
    .groupBy("shard")
    .agg(countDistinct("pid"))
    .collect()
    .map(r => Option(r.get(0)) -> r.getLong(1))
    .toMap

  test("null shard keys form one shard of their own") {
    val withNulls = docs.withColumn("shard", when(col("id") % 5 === 0, lit(null)).otherwise(col("shard")))
    assert(withNulls.filter(col("shard").isNull).count() == 100)
    assertMatchesWindows(withNulls, 8)
  }

  test("more partitions than distinct keys leave range partitions empty") {
    val few = Seq(("a", 1L, 4L), ("a", 2L, 9L), ("b", 3L, 1L), ("b", 4L, 2L), ("c", 5L, 7L))
      .toDF("shard", "id", "tok")
    val sizes = few.repartitionByRange(16, col("shard"), col("id")).rdd.glom().map(_.length).collect()
    assert(sizes.length < 16 || sizes.contains(0), sizes.mkString(","))
    assertMatchesWindows(few, 16)
  }

  test("a shard spanning three or more partitions beside shards inside one") {
    val small = Seq("a", "c", "d").flatMap(s => (1L to 3L).map(i => (s, i, i * 11 % 7)))
    val mixed = (small ++ (1L to 200L).map(i => ("b", i, i * 37 % 90))).toDF("shard", "id", "tok")
    val spans = partitionsPerShard(mixed, 8)
    assert(spans(Some("b")) >= 3, spans.toString)
    assert(Seq("a", "c", "d").exists(s => spans(Some(s)) == 1), spans.toString)
    assertMatchesWindows(mixed, 8)
  }

  test("a decimal running sum is exact and typed as partial sums plus the local sum") {
    val amounts = docs.withColumn("amt", (col("tok") / 7).cast(DecimalType(10, 2)))
    val w = Window
      .partitionBy("shard")
      .orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def keyed(out: DataFrame) = out
      .select("shard", "id", "cum")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDecimal(2))
      .toMap
    val got = Prefix.runningSum(amounts, col("shard"), Seq(col("id")), col("amt"), "cum", 8)
    // coalesce(sum of decimal(20,2) partials, 0L) is decimal(30,2); plus
    // the local decimal(20,2) window sum gives decimal(31,2)
    assert(got.schema("cum").dataType == DecimalType(31, 2))
    assert(keyed(got) == keyed(amounts.withColumn("cum", sum("amt").over(w))))
  }

  test("an exclusive runningMax carries the previous partition's last row") {
    // increasing values: every row's exclusive max is its predecessor,
    // which for the first row of each range partition sits in the one
    // before it
    val rising = (1L to 80L).map(i => ("one", i, i)).toDF("shard", "id", "tok")
    assert(partitionsPerShard(rising, 8)(Some("one")) >= 2)
    val got = Prefix
      .runningMax(rising, col("shard"), Seq(col("id")), col("tok"), "m", inclusive = false,
        numPartitions = 8)
      .select("id", "m")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == (1L to 80L).map(i => i -> (if (i == 1L) Long.MinValue else i - 1)).toMap)
  }

  test("a runningSums pass over 50 rows in one shard runs at most 6 jobs") {
    // range sample + exchange + checkpoint, the carry fetch, the window's
    // exchange and the result stage
    val fifty = (1L to 50L).map(i => (i, i % 7)).toDF("id", "v")
    val (_, c) = QueryTally.around(spark.sparkContext) {
      Prefix.runningSums(fifty, lit(0L), Seq(col("id")), Seq(col("v") -> "cum"), 4)
        .write.format("noop").mode("overwrite").save()
    }
    assert(c.jobs <= 6, c.toJson)
  }
}
