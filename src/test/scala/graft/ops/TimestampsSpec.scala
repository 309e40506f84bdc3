package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.ParseFirstTimestamp

class TimestampsSpec extends SparkSpec {
  import spark.implicits._

  test("all three reference formats parse; first match wins") {
    val df = Seq(
      "2024-01-15 10:30:00",
      "03/20/2024 14:45:10",
      "25-12-2023 08:00:00"
    ).toDF("timestamp")
    val out = Timestamps.splitTimestamp(df, "timestamp")
      .select("date", "time").collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSet == Set(
      ("2024-01-15", "10:30:00"),
      ("2024-03-20", "14:45:10"),
      ("2023-12-25", "08:00:00")))
  }

  test("unparseable timestamp => null date/time strings") {
    val df = Seq("not-a-date", "2024/01/15 10:00:00", "2024-01-15 10:00:00").toDF("timestamp")
    val out = Timestamps.splitTimestamp(df, "timestamp")
      .select("date").collect().map(_.getString(0))
    assert(out.count(_ == null) == 2)
    assert(out.contains("2024-01-15"))
  }

  test("a timestamp column named with a dot is read as one name") {
    val df = Seq("2024-01-15 10:30:00", "25-12-2023 08:00:00").toDF("ts.x")
    val out = Timestamps.splitTimestamp(df, "ts.x").select("date").collect().map(_.getString(0))
    assert(out.toSet == Set("2024-01-15", "2023-12-25"))
  }

  test("missing timestamp column => no-op (pyspark_etl.py:53 contract)") {
    val df = Seq((1, "a")).toDF("id", "v")
    val out = Timestamps.splitTimestamp(df, "timestamp")
    assert(out.columns.toSeq == Seq("id", "v"))
  }

  test("output schema has string date/time, no timestamp column") {
    val df = Seq("2024-01-15 10:30:00").toDF("timestamp")
    val out = Timestamps.splitTimestamp(df, "timestamp")
    assert(out.schema("date").dataType.typeName == "string")
    assert(out.schema("time").dataType.typeName == "string")
    assert(!out.schema.fields.exists(_.dataType.typeName == "timestamp"))
  }

  test("parseMulti equals the try_to_timestamp chain under every time parser policy") {
    val chain = coalesce(Timestamps.Formats.map(f => try_to_timestamp(col("s"), lit(f))): _*)
    val fixtures = Seq("loans_basic.csv", "loans_bad_ts.csv", "loans_ragged.csv").flatMap { f =>
      spark.read.option("header", "true").csv(resource(f)).select("timestamp").collect()
        .map(_.getString(0))
    }
    val edges = Seq(
      "2024-02-29 12:00:00", "2023-02-29 12:00:00", "02/29/2024 00:00:00", "29-02-2023 00:00:00",
      "2024-13-01 00:00:00", "13/01/2024 00:00:00", "2024-01-01 24:00:00", "2024-01-01 23:59:60",
      " 2024-01-01 10:00:00", "2024-01-01 10:00:00 ", "2024-01-01  10:00:00", "2024-1-5 10:00:00",
      "1/5/2024 10:00:00", "2024-01-01T10:00:00", "2024-01-01 10:00:00Z",
      "2024-01-01 10:00:00+02:00", "2024-01-01 10:00:00 UTC", "12024-01-01 10:00:00",
      "+12024-01-01 10:00:00", "01/01/12024 10:00:00", "2024-01-01 10:00:00.123",
      "2024-01-01 10:00", "01-02-2024 10:00:00", "", null)
    val inputs = (fixtures ++ edges).distinct
    assert(inputs.size > edges.size)
    // a value or the root cause's class: under EXCEPTION a value only the
    // legacy parser reads must fail both ways
    def outcome(c: Column, v: String): Either[String, Any] =
      try Right(Seq(v).toDF("s").select(c).head().get(0))
      catch {
        case e: Exception =>
          Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
            .getClass.getName)
      }
    val key = "spark.sql.legacy.timeParserPolicy"
    val before = spark.conf.getOption(key)
    try Seq("CORRECTED", "EXCEPTION", "LEGACY").foreach { policy =>
      spark.conf.set(key, policy)
      val outcomes = inputs.map { v =>
        val want = outcome(chain, v)
        assert(outcome(Timestamps.parseMulti(col("s")), v) == want, s"$policy: '$v'")
        want
      }
      assert(outcomes.exists(_.isLeft) == (policy == "EXCEPTION"), policy)
      if (policy != "EXCEPTION") {
        // the same inputs in tasks (not folded into a local relation)
        val df = inputs.toDF("s").repartition(2)
        val (got, want) = (df.select(Timestamps.parseMulti(col("s"))), df.select(chain))
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, policy)
        val plan = got.queryExecution.optimizedPlan
        assert(plan.expressions.exists(_.exists(_.isInstanceOf[ParseFirstTimestamp])), plan)
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
