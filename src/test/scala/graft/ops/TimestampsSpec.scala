package graft.ops

import graft.SparkSpec

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
}
