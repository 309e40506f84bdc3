package graft.ops

import java.nio.file.Files

import graft.{QueryTally, SparkSpec}
import org.apache.spark.storage.StorageLevel

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

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsRun[T](body: => T): (T, Long) = {
    val (out, c) = QueryTally.around(spark.sparkContext)(body)
    (out, c.jobs)
  }

  private def tempCsv(lines: Seq[String]): String = {
    val p = Files.createTempDirectory("graft_etl_csv").resolve("loans.csv")
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  /** Several splits' worth of loans with cent amounts, so the mean's
    * partial sums round differently in different orders. */
  private lazy val centsCsv: String = tempCsv(
    "loan_id,loan_amount,loan_type,timestamp" +: (1 to 6000).map { i =>
      val amount = if (i % 97 == 0) "" else f"${(i * 7919L % 4950000 + 50000) / 100.0}%.2f"
      val kind = if (i % 31 == 0) "" else Seq("personal", "auto", "mortgage", "student")(i * i % 7 % 4)
      f"$i%d,$amount%s,$kind%s,2024-01-${i % 28 + 1}%02d 10:30:00"
    })

  test("a call runs at most four jobs and leaves nothing cached") {
    val out = Files.createTempDirectory("graft_etl7").toString
    val (r, jobs) = jobsRun(LoanPipeline.runEtl(spark, centsCsv, s"$out/parquet"))
    assert(jobs <= 4, s"$jobs jobs")
    assert(r.cleaned.storageLevel == StorageLevel.NONE)
    assert(r.insights.total_loans == 6000)
  }

  test("insights equal Insights.compute on the cleaned frame, on every fixture CSV") {
    val csvs = Seq("loans_basic.csv", "loans_bad_ts.csv", "loans_drifted.csv",
      "loans_header_only.csv", "loans_null_mode.csv", "loans_ragged.csv").map(resource) :+ centsCsv
    for ((csv, k) <- csvs.zipWithIndex) {
      val out = Files.createTempDirectory("graft_etl8").toString
      val r = LoanPipeline.runEtl(spark, csv, s"$out/parquet$k")
      // counts and by-type order exactly; the mean adds the same partials
      // in the same order, so to the bit
      assert(r.insights == Insights.compute(r.cleaned), csv)
    }
  }

  test("timestampCol = loan_type: the split reads loan_type, the insights do not change") {
    val out = Files.createTempDirectory("graft_etl10").toString
    val r = LoanPipeline.runEtl(spark, resource("loans_basic.csv"), s"$out/parquet",
      timestampCol = "loan_type")
    assert(r.insights == Insights.compute(r.cleaned))
    assert(r.insights.avg_loan_amount.contains(1750.0))
    val byType = r.insights.by_loan_type.get.map(t => t.loan_type.get -> t.count)
    assert(byType == Seq("personal" -> 6, "auto" -> 3, "mortgage" -> 1))
    val back = spark.read.parquet(s"$out/parquet")
    // no loan type parses as a timestamp; the timestamp column is kept as read
    assert(back.filter(back("date").isNotNull).count() == 0)
    assert(back.filter(back("timestamp").isNull).count() == 1)
  }

  test("a numeric loan_type keeps the typed by-type order: nulls first, 9 before 10") {
    // counts 2, 2, 2, 1: null ties 9 and 10 and wins, so the fill is a no-op
    val csv = tempCsv("loan_id,loan_amount,loan_type" +:
      Seq("1,1.0,10", "2,3.0,9", "3,2.0,", "4,4.0,10", "5,5.0,9", "6,6.0,", "7,0.0,7"))
    val out = Files.createTempDirectory("graft_etl11").toString
    val r = LoanPipeline.runEtl(spark, csv, s"$out/parquet")
    assert(r.insights.by_loan_type.contains(Seq(
      Insights.LoanTypeCount(None, 2), Insights.LoanTypeCount(Some("9"), 2),
      Insights.LoanTypeCount(Some("10"), 2), Insights.LoanTypeCount(Some("7"), 1))))
    assert(r.insights == Insights.compute(r.cleaned))
    // a non-null mode takes the null group: 9 x3 beats 10 x2
    val filled = tempCsv("loan_id,loan_type" +: Seq("1,10", "2,9", "3,", "4,10", "5,9", "6,9"))
    val r2 = LoanPipeline.runEtl(spark, filled, s"$out/parquet2")
    assert(r2.insights.by_loan_type.contains(Seq(
      Insights.LoanTypeCount(Some("9"), 4), Insights.LoanTypeCount(Some("10"), 2))))
    assert(r2.insights == Insights.compute(r2.cleaned))
  }

  test("a timestamp column named with a dot splits end-to-end") {
    val csv = tempCsv("loan_id,ts.x" +: Seq("1,2024-01-15 10:30:00", "2,03/20/2024 14:45:10"))
    val out = Files.createTempDirectory("graft_etl12").toString
    LoanPipeline.runEtl(spark, csv, s"$out/parquet", timestampCol = "ts.x")
    val dates = spark.read.parquet(s"$out/parquet").select("date").collect().map(_.getString(0))
    assert(dates.toSet == Set("2024-01-15", "2024-03-20"))
  }

  test("insights: one aggregate in at most two jobs, by-type order typed") {
    import spark.implicits._
    // counts 2, 2, 2, 1: the ties order null, 9, 10 (typed), not "10" < "9"
    val df = Seq[(Option[Int], Double)](
      (Some(10), 1.0), (Some(9), 3.0), (None, 2.0), (Some(10), 4.0),
      (Some(9), 5.0), (None, 6.0), (Some(7), 0.0)).toDF("loan_type", "loan_amount")
    val (s, jobs) = jobsRun(Insights.compute(df))
    assert(jobs <= 2)
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
