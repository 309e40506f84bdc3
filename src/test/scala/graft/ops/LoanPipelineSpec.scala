package graft.ops

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.graft.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class LoanPipelineSpec extends SparkSpec {

  test("end-to-end: loans_basic.csv -> parquet + insights (golden)") {
    val out = Files.createTempDirectory("graft_etl").toString
    val r = LoanPipeline.runEtl(
      spark, resource("loans_basic.csv"), s"$out/parquet",
      insightsJsonPath = Some(s"$out/insights.json"))
    assert(r.insights.total_loans == 10)
    // post-fill: loan_amount nulls (rows 4,9) filled with mode 1000.0
    // -> avg = (1000*4 + 2000 + 1000 + 3000 + 2500 + 1000 + 4000)/10
    assert(r.insights.avg_loan_amount.contains(1750.0))
    // loan_type null (row 5) filled with mode "personal"
    val byType = r.insights.by_loan_type.get.map(t => t.loan_type.get -> t.count).toMap
    assert(byType == Map("personal" -> 6, "auto" -> 3, "mortgage" -> 1))
    // parquet round-trips with date/time string columns
    val back = spark.read.parquet(s"$out/parquet")
    assert(back.count() == 10)
    assert(back.columns.contains("date") && back.columns.contains("time"))
    // timestamp values are all distinct: the 1-count tie includes the null
    // group and ties break nulls-first, so the fill is a no-op and row 8
    // keeps a null timestamp => exactly one null date
    assert(back.filter(back("date").isNull).count() == 1)
    val json = Files.readString(java.nio.file.Path.of(s"$out/insights.json"))
    assert(json.contains("\"total_loans\": 10"))
    assert(json.contains("\"avg_loan_amount\": 1750.0"))
  }

  test("null-mode column stays null through the pipeline") {
    val out = Files.createTempDirectory("graft_etl2").toString
    val r = LoanPipeline.runEtl(spark, resource("loans_null_mode.csv"), s"$out/parquet")
    assert(r.insights.total_loans == 6)
    val back = spark.read.parquet(s"$out/parquet")
    assert(back.filter(back("loan_type").isNull).count() == 4)
  }

  test("bad timestamps yield null date/time; insights skip missing columns") {
    val out = Files.createTempDirectory("graft_etl3").toString
    val r = LoanPipeline.runEtl(spark, resource("loans_bad_ts.csv"), s"$out/parquet")
    assert(r.insights.avg_loan_amount.isEmpty)
    assert(r.insights.by_loan_type.isEmpty)
    val back = spark.read.parquet(s"$out/parquet").orderBy("loan_id")
    val dates = back.select("date").collect().map(_.getString(0))
    // rows 1-3 unparseable => null date; row 4 parses
    assert(dates.count(_ == null) == 3)
    assert(dates.contains("2024-01-15"))
  }

  test("schema drift end-to-end: extra columns, no timestamp, no loan_type") {
    // The reference's dynamic-schema contract (SURVEY.md §1): every column
    // probe is by name at runtime (pyspark_etl.py:40,43,53), mode fill is
    // generic over df.columns (pyspark_etl.py:16). A drifted CSV — extra
    // columns present, timestamp and loan_type absent — must flow through
    // run_etl with no failure, no date/time projection, and insights
    // emitting only the keys whose columns exist.
    val out = Files.createTempDirectory("graft_etl4").toString
    val r = LoanPipeline.runEtl(
      spark, resource("loans_drifted.csv"), s"$out/parquet",
      insightsJsonPath = Some(s"$out/insights.json"))
    assert(r.insights.total_loans == 6)
    // loan_amount exists: nulls (rows 2,5) mode-filled with 1000 (count 3
    // beats the null group's 2) -> (1000*5 + 4000)/6 = 1500
    assert(r.insights.avg_loan_amount.contains(1500.0))
    // loan_type absent => key absent (pyspark_etl.py:43)
    assert(r.insights.by_loan_type.isEmpty)
    val back = spark.read.parquet(s"$out/parquet")
    // timestamp absent => split is a no-op: no date/time columns appear
    assert(back.columns.toSet == Set("loan_id", "loan_amount", "branch_id", "notes"))
    // extra columns survive AND participate in the generic mode fill
    assert(back.filter(back("notes").isNull).count() == 0)
    assert(back.filter(back("loan_amount").isNull).count() == 0)
    val json = Files.readString(java.nio.file.Path.of(s"$out/insights.json"))
    assert(json.contains("\"avg_loan_amount\": 1500.0"))
    assert(!json.contains("by_loan_type"))
  }

  test("ragged CSV rows flow through permissive parsing without failing the pipeline") {
    // PERMISSIVE is Spark's CSV default, matching the reference's read
    // (pyspark_etl.py:51): short rows null-pad, long rows truncate,
    // unparseable rows survive as strings after inference widens the
    // column. The pipeline must complete and account for every line.
    val out = Files.createTempDirectory("graft_etl5").toString
    val r = LoanPipeline.runEtl(spark, resource("loans_ragged.csv"), s"$out/parquet")
    assert(r.insights.total_loans == 5)
    val back = spark.read.parquet(s"$out/parquet")
    assert(back.count() == 5)
    assert(back.columns.contains("date") && back.columns.contains("time"))
  }

  test("header-only CSV: zero rows flow through to an empty parquet") {
    val out = Files.createTempDirectory("graft_etl6").toString
    val r = LoanPipeline.runEtl(spark, resource("loans_header_only.csv"), s"$out/parquet")
    assert(r.insights.total_loans == 0)
    assert(r.insights.avg_loan_amount.isEmpty)
    assert(r.insights.by_loan_type.contains(Nil))
    val back = spark.read.parquet(s"$out/parquet")
    assert(back.count() == 0)
    assert(back.columns.toSeq ==
      Seq("loan_id", "loan_amount", "loan_type", "timestamp", "date", "time"))
  }

  test("insights: one aggregate in at most two jobs, by-type order typed") {
    import spark.implicits._
    // counts 2, 2, 2, 1: the ties order null, 9, 10 (typed), not "10" < "9"
    val df = Seq[(Option[Int], Double)](
      (Some(10), 1.0), (Some(9), 3.0), (None, 2.0), (Some(10), 4.0),
      (Some(9), 5.0), (None, 6.0), (Some(7), 0.0)).toDF("loan_type", "loan_amount")
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val s = try {
      val s = Insights.compute(df)
      ListenerSync.drain(spark.sparkContext)
      s
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 2)
    assert(s.total_loans == 7)
    assert(s.avg_loan_amount.contains(3.0))
    assert(s.by_loan_type.contains(Seq(
      Insights.LoanTypeCount(None, 2), Insights.LoanTypeCount(Some("9"), 2),
      Insights.LoanTypeCount(Some("10"), 2), Insights.LoanTypeCount(Some("7"), 1))))
  }

  test("insights JSON golden shape matches the reference document") {
    val s = Insights.Summary(100, None, None)
    assert(Insights.toJson(s) == "{\n  \"total_loans\": 100\n}")
  }
}
