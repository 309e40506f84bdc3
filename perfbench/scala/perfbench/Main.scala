package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `perfbench/run.py` generates the inputs,
  * launches this, checks the outputs it reports and prints the metrics.
  *
  * Arguments are `--key value` pairs:
  *   --mode etl|lanes|selftest  --trace 0|1  --seconds S  --work DIR
  *   --result FILE
  *   --csv FILE --modes FILE (etl, selftest: the CSV and its expected modes)
  *   --tables DIR (lanes)
  *   --tables_sf0001 DIR --tables_sf01 DIR (traced lanes: primitive sizes)
  *
  * The result file is one JSON object: set-up times, one record per
  * operation (timings, listener counts, what it left on disk) and, when
  * traced, every span.
  */
object Main {
  /** The closed loop's shape: `local[Cpus]`, `Parts` shuffle partitions. */
  val Cpus = 4
  val Parts = 4
  /** Session builds of an untimed run; `setup_s` is their median. The
    * first build is the cold one and always the slowest, so the median is
    * taken over the warm rebuilds that follow it. */
  val SetupReps = 7
  /** Timed passes or calls a run makes at least, whatever `--seconds`. */
  val MinTimed = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val traced = a.getOrElse("trace", "0") == "1"
    val seconds = a.getOrElse("seconds", "10").toDouble
    val (spark, setups) = setup(work, if (traced || a("mode") == "selftest") 1 else SetupReps)
    val counters = Counters.install(spark)
    def etl = new Etl(spark, counters, a("csv"), Etl.readModes(a("modes")), work)
    val body: Map[String, Any] = a("mode") match {
      case "etl" if traced => etlTraced(etl, counters)
      case "etl" => etlUntraced(etl, seconds)
      case "lanes" if traced => lanesTraced(spark, counters, a, work)
      case "lanes" => lanesUntraced(spark, a("tables"), work, seconds)
      case "selftest" => selftest(etl, counters)
    }
    val env = Map(
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "cpus" -> Cpus,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    val result = body ++ Map("setup_s" -> setups, "peak_exec_bytes" -> counters.peakExecBytes,
      "env" -> env)
    Files.writeString(Paths.get(a("result")), Json.render(result))
    spark.stop()
  }

  /** SparkSession build plus a small warm-up job. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 200000, 1, Cpus).selectExpr("sum(id % 7) AS s").collect()
    spark
  }

  /** Builds `reps` sessions, stopping all but the last; returns it with
    * every build's time. */
  def setup(work: String, reps: Int): (SparkSession, Seq[Double]) = {
    val built = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val s = session(work)
      val t = (System.nanoTime() - t0) / 1e9
      if (i < reps) s.stop()
      (s, t)
    }
    (built.last._1, built.map(_._2))
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def etlUntraced(etl: Etl, seconds: Double): Map[String, Any] = {
    val calls = ArrayBuffer(etl.call().toMap("first"))
    // JIT compilation keeps speeding calls up for several calls after the
    // first: one untimed call, then at least MinTimed timed ones (a fixed
    // minimum keeps the median at the same point of that curve)
    calls += etl.call().toMap("warmup")
    val t0 = System.nanoTime()
    val timed = calls.size
    while (calls.size - timed < MinTimed || (since(t0) < seconds && calls.size < 60))
      calls += etl.call().toMap("warm")
    Map("calls" -> calls.toSeq)
  }

  def etlTraced(etl: Etl, c: Counters): Map[String, Any] = {
    val trace = new Trace(c)
    val calls = ArrayBuffer(etl.call().toMap("reference"))
    // untraced and traced calls alternate, leading in turn, so the calls
    // still getting faster (JIT) bias neither side of the overhead
    for (i <- 0 until 4) {
      val untraced = () => calls += etl.call().toMap("untraced")
      val traced = () => calls += etl.replay(trace).toMap("traced")
      if (i % 2 == 0) { untraced(); traced() } else { traced(); untraced() }
    }
    val parse = etl.parseProbe(trace, 3)
    Map("calls" -> calls.toSeq, "parse_s" -> parse, "spans" -> trace.spans.map(_.toMap))
  }

  private def laneRecords(kind: String, pass: Seq[Lanes.LaneTime]): Seq[Map[String, Any]] =
    pass.map(l => Map("kind" -> kind, "lane" -> l.name, "s" -> l.seconds, "error" -> l.error))

  def lanesUntraced(spark: SparkSession, tables: String, work: String,
      seconds: Double): Map[String, Any] = {
    val lanes = new Lanes(spark, tables)
    val c0 = System.nanoTime()
    val check = lanes.writeOutputs(s"$work/lane_out")
    val checkWall = since(c0)
    val runs = ArrayBuffer(laneRecords("check", check))
    // the timed window opens after the check pass; warm_s is the median of
    // at least MinTimed noop passes
    val t0 = System.nanoTime()
    while (runs.size - 1 < MinTimed || (since(t0) < seconds && runs.size < 20))
      runs += laneRecords("noop", lanes.noopPass())
    Map("passes" -> runs.toSeq, "check_wall_s" -> checkWall, "oracle_sql" -> Lanes.oracleSql)
  }

  def lanesTraced(spark: SparkSession, c: Counters, a: Map[String, String],
      work: String): Map[String, Any] = {
    val lanes = new Lanes(spark, a("tables"))
    val trace = new Trace(c)
    val check = laneRecords("check", lanes.writeOutputs(s"$work/lane_out"))
    val (untraced, traced) = lanes.pairedPass(trace)
    val passes = Seq(check, laneRecords("untraced", untraced), laneRecords("traced", traced))
    val sizes = Seq("sf0001" -> a("tables_sf0001"), "sf001" -> a("tables"),
      "sf01" -> a("tables_sf01"))
    val prims = for ((label, dir) <- sizes; (name, thunk) <- Lanes.primitives(spark, dir)) yield {
      // the smallest size runs twice and keeps the second: its first run
      // also warms the primitive's code paths
      val reps = if (label == "sf0001") 2 else 1
      val s = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        trace.op(s"$name@$label")(thunk())
        since(t0)
      }.last
      Map("primitive" -> name, "size" -> label, "s" -> s)
    }
    spark.catalog.clearCache()
    Map("passes" -> passes, "primitives" -> prims, "spans" -> trace.spans.map(_.toMap),
      "oracle_sql" -> Lanes.oracleSql)
  }

  /** The three mode-fill shapes over one CSV: `runEtl` with the per-column
    * default, `runEtl` with the single-pass fill, and the replay with the
    * typed Aggregator. */
  def selftest(etl: Etl, c: Counters): Map[String, Any] =
    Map("calls" -> Seq(
      etl.call().toMap("per_column"),
      etl.call(singlePass = true).toMap("single_pass"),
      etl.replay(new Trace(c), "aggregator").toMap("aggregator")))
}
