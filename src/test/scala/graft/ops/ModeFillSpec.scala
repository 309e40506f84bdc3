package graft.ops

import java.sql.{Date, Timestamp}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.graft.ListenerSync
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

class ModeFillSpec extends SparkSpec {
  import spark.implicits._

  /** The reference's shape (`pyspark_etl.py:14-21`) with the typed
    * tie-break: a top-1 query and a driver collect per column.
    */
  private def perColumnReference(df: DataFrame): DataFrame =
    df.columns.foldLeft(df) { (cur, c) =>
      val mode = cur
        .groupBy(col(c))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc_nulls_first(c))
        .limit(1)
        .collect()(0)
        .get(0)
      if (mode == null) cur
      else cur.withColumn(c, coalesce(col(c), lit(mode)))
    }

  /** `id` plus `n` columns of rotating type (long, string, double), each
    * with nulls planted on its own stride; `c3` is null-majority.
    */
  private def wideFrame(n: Int, rows: Int): DataFrame = {
    val id = col("id")
    val cols = (0 until n).map { i =>
      val v = i % 3 match {
        case 0 => id % (i % 5 + 2)
        case 1 => concat(lit("s"), (id % (i % 4 + 3)).cast("string"))
        case _ => (id % (i % 6 + 2)).cast("double") / 2
      }
      val isNull = if (i == 3) id % 4 =!= 0 else id % (i % 7 + 5) === 0
      when(isNull, lit(null)).otherwise(v).as(s"c$i")
    }
    spark.range(rows).select(id +: cols: _*)
  }

  test("fills nulls with the most frequent value") {
    val df = Seq(Some("a"), Some("a"), Some("b"), None, None)
      .toDF("c")
    val out = ModeFill.fillNullsWithMode(df).collect().map(_.getString(0))
    // mode: a (2) vs null (2) — tie broken nulls-first, so mode is null => no-op?
    // counts: a=2, b=1, null=2. Tie a vs null -> null first -> no-op.
    assert(out.count(_ == null) == 2)
  }

  test("null-is-mode => fill is a no-op (reference semantics)") {
    val df = Seq(Some("x"), None, None, None).toDF("c")
    val out = ModeFill.fillNullsWithMode(df).collect().map(_.getString(0))
    assert(out.count(_ == null) == 3)
  }

  test("clear non-null mode fills every null") {
    val df = Seq(Some("a"), Some("a"), Some("a"), Some("b"), None, None).toDF("c")
    val out = ModeFill.fillNullsWithMode(df).collect().map(_.getString(0))
    assert(out.count(_ == "a") == 5)
    assert(!out.contains(null))
  }

  test("tie between two values breaks to the smaller value") {
    val df = Seq(Some("b"), Some("b"), Some("a"), Some("a"), None).toDF("c")
    val out = ModeFill.fillNullsWithMode(df).collect().map(_.getString(0))
    assert(out.count(_ == "a") == 3) // a wins the 2-2 tie over b
  }

  test("never changes a non-null cell; numeric columns fill with own type") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 10.0), (2L, 10.0), (3L, null), (4L, 20.0)
    ).toDF("id", "v")
    val out = ModeFill.fillNullsWithMode(df, Seq("v")).orderBy("id").collect()
    assert(out.map(r => r.getDouble(1)).toSeq == Seq(10.0, 10.0, 10.0, 20.0))
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("single-pass variant agrees with per-column on tie-free data") {
    val df = Seq(
      (Some("a"), Some(1.5)), (Some("a"), Some(1.5)), (Some("b"), None),
      (None, Some(2.5)), (Some("a"), None), (None, Some(1.5))
    ).toDF("s", "d")
    val a = ModeFill.fillNullsWithMode(df).orderBy("s", "d").collect().toSeq
    val b = ModeFill.fillNullsWithModeSinglePass(df).orderBy("s", "d").collect().toSeq
    assert(a == b)
  }

  test("single-pass computes all modes in one job") {
    val df = Seq((1L, "x", 2.0), (1L, "x", 3.0), (2L, "y", 3.0)).toDF("a", "b", "c")
    val modes = ModeFill.modesSinglePass(df)
    assert(modes("a") == Some("1"))
    assert(modes("b") == Some("x"))
    assert(modes("c") == Some("3.0"))
  }

  test("typed tie-break: an int 9-vs-10 tie fills 9, not string-order 10") {
    val t1 = Timestamp.valueOf("2024-01-02 00:00:00")
    val t2 = Timestamp.valueOf("2024-01-10 00:00:00")
    val df = Seq[(Integer, Timestamp)](
      (10, t2), (9, t1), (10, t2), (9, t1), (null, null)
    ).toDF("n", "ts")
    val out = ModeFill.fillNullsWithMode(df).collect()
    assert(out.map(_.getInt(0)).count(_ == 9) == 3)
    assert(out.map(_.getTimestamp(1)).count(_ == t1) == 3)
    // the unpivot shape orders the strings "10" < "9" instead
    assert(ModeFill.modesSinglePass(df)("n") == Some("10"))
  }

  /** `body`'s result and the number of queries the session ran for it. */
  private def queriesRun[T](body: => T): (T, Int) = {
    val queries = new AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        queries.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        queries.incrementAndGet()
    }
    ListenerSync.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerSync.drain(spark.sparkContext)
      (out, queries.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("more than 64 columns: one query equals the per-column reference") {
    val df = wideFrame(70, 240)
    val (got, queries) = queriesRun(ModeFill.fillNullsWithMode(df))
    assert(queries == 1)
    val want = perColumnReference(df)
    assert(got.schema == want.schema)
    assert(got.orderBy("id").collect().toSeq == want.orderBy("id").collect().toSeq)
    // the null-majority column keeps its nulls; c0 (a 0-vs-1 tie) is filled
    assert(got.filter(col("c3").isNull).count() == 180)
    assert(got.filter(col("c0").isNull).count() == 0)
  }

  test("zero rows: the frame comes back unchanged") {
    val df = wideFrame(5, 0)
    val out = ModeFill.fillNullsWithMode(df)
    assert(out.schema == df.schema)
    assert(out.count() == 0)
  }

  test("25 columns are filled by exactly one query") {
    val df = wideFrame(25, 100)
    assert(queriesRun(ModeFill.fillNullsWithMode(df))._2 == 1)
  }

  test("columns named like the fill's internal columns fill as any others") {
    val df = wideFrame(6, 120)
      .toDF("__g", "__s0", "__s1", "__s2", "count", "__mode_gid", "__mode_cnt")
    val got = ModeFill.fillNullsWithMode(df)
    val want = perColumnReference(df)
    assert(got.schema == want.schema)
    assert(got.orderBy("__g").collect().toSeq == want.orderBy("__g").collect().toSeq)
    assert(got.filter(col("__mode_gid").isNull).count() == 0)
  }

  test("typed slots: two columns of every inferSchema type keep their own typed modes") {
    // per type a (lo, hi) pair, lo < hi in the type's order; three of them
    // order the other way as strings ("10" < "9", "-1" < "-2", "10.5" < "9.5")
    val pairs = Seq[(DataType, Any, Any)](
      (IntegerType, 9, 10),
      (LongType, -2L, -1L),
      (DoubleType, 9.5, 10.5),
      (BooleanType, false, true),
      (StringType, "a", "b"),
      (TimestampType, Timestamp.valueOf("2024-01-02 00:00:00"),
        Timestamp.valueOf("2024-01-10 00:00:00")),
      (DateType, Date.valueOf("2024-01-02"), Date.valueOf("2024-01-10")))
    // `_a` ties lo and hi 2-2 (lo wins); `_b` ties hi and null 2-2 (null
    // wins, no fill). Counting the two same-typed columns together would
    // make hi the mode of both
    val columns = pairs.flatMap { case (t, lo, hi) =>
      Seq(
        (StructField(s"${t.typeName}_a", t), Seq(hi, lo, hi, lo, null)),
        (StructField(s"${t.typeName}_b", t), Seq(hi, null, lo, null, hi)))
    }
    val rows = columns.map(_._2).transpose.map(Row.fromSeq)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), StructType(columns.map(_._1)))
    val got = ModeFill.fillNullsWithMode(df).collect().toSeq
    assert(got == perColumnReference(df).collect().toSeq)
    pairs.zipWithIndex.foreach { case ((t, lo, _), k) =>
      assert(got(4).get(2 * k) == lo, s"${t.typeName}_a")
      assert(got(1).isNullAt(2 * k + 1), s"${t.typeName}_b")
    }
  }

  test("-0.0 and 0.0 count as one value, and so do the NaNs, as in groupBy") {
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (-0.0, Double.NaN), (0.0, otherNaN), (1.0, 5.0), (1.0, null), (null, 6.0)
    ).toDF("z", "n")
    val got = ModeFill.fillNullsWithMode(df).collect().toSeq
    assert(got == perColumnReference(df).collect().toSeq)
    // z: 0.0 x2 ties 1.0 x2 and wins; n: NaN x2 beats every single value
    assert(got(4).getDouble(0) == 0.0)
    assert(got(3).getDouble(1).isNaN)
  }

  test("an unknown column name fails with an error that names it") {
    val df = wideFrame(3, 10)
    val e = intercept[Exception](ModeFill.fillNullsWithMode(df, Seq("c0", "no_such_col")))
    assert(e.getMessage.contains("no_such_col"))
  }
}
