package graft
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // SPARK_GRAFT_SHUFFLE_PARTS is the override for scale gating: the
    // default (= cpus) is right at sf0.1, but a ×100 ScaleGen decade grows
    // the per-partition aggregation working set ×100 at fixed partitions —
    // on a real cluster partitions scale with data, so the decade gate
    // measures with partitions ∝ data to keep the per-partition working
    // set comparable across decades.
    val cfg = Harness.settings(sys.env)
    val spark = Harness.session(cfg)
    // JVM/codegen warmup so the first measured query doesn't absorb
    // session startup (aggregation + shuffle + codegen + parquet reader).
    spark.range(1000000).selectExpr("sum(id % 7)", "count(distinct id % 13)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop-format write, not .count(): count() lets Catalyst prune
      // top-level sorts/projections (most queries end in orderBy), which
      // flattered round-1 numbers. The noop sink consumes every row of
      // the final plan while writing nothing.
      val ok =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      // a crashed query reports -1, never a plausible-looking time
      val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // bound cache retention to ONE query: lanes that .cache() inside
      // their plan (the IVF corpus materialization) would otherwise pin
      // one corpus-sized InMemoryRelation PER INVOCATION for the whole
      // suite × reps, leaning on LRU eviction mid-measurement. Outside
      // the timed window; a no-op for the many queries that cache nothing.
      spark.catalog.clearCache()
      t
    }
    val tally = new QueryTally(spark.sparkContext)
    // min of N reps per query: single-sample times at this scale carry
    // ±40% machine noise (BENCH_r02's 12s vs 4s dedup_pipeline_e2e);
    // the min is the stable "cost of the plan" signal. Reps are
    // interleaved ROUND-ROBIN across the whole query list (rep 1 of
    // every query, then rep 2, ...), not run consecutively per query: a
    // transient box stall then inflates ONE sample of many queries —
    // which the per-query min discards — instead of all samples of a
    // few adjacent queries, which faked a regression window in
    // BENCH_r05 (pivot_orders..q10, ~50 s phantom refuted by judge
    // re-timing). Every rep is persisted in bench_last_run.json so a
    // stall is visible as an outlier sample rather than a lost cause.
    // The FINAL round's tally (listener bus drained on both window edges)
    // is recorded per query: shuffle volume, jobs, tasks, input, spill,
    // CPU, GC. It is one sample, not a plan constant: two sf0.01 runs
    // agreed on 9 of 12 lanes, but dedup_clusters and dedup_ngram_jaccard
    // each gained a job in one run, and percentiles_exact_rank wrote
    // 66,478 shuffle bytes in one and 65,554 in the other.
    // optional comma-separated name filter (local scale-gating only — the
    // driver never sets it, so the per-round artifact always covers the
    // full set)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // drift canaries (r11, additions-only): two stable never-optimized
    // lanes timed FIRST, before the suite, stamped as their own JSON
    // field — cross-session comparisons can divide out box drift
    // (round-10 PERF: identical code moved ×0.59 between sessions ~1 h
    // apart, swamping per-lane deltas). These runs are EXTRA; the lanes
    // still run at their normal alphabetic slots below.
    val canary = Seq("loan_total", "q1_pricing_summary")
      .filter(SparkEntry.queries.contains)
      .map { n =>
        val ts = (1 to 3).map(_ => runOnce(n, SparkEntry.queries(n)))
        n -> (if (ts.contains(-1.0)) -1.0 else ts.min)
      }
    val qlist = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val repTimes = Array.fill(qlist.size)(new Array[Double](reps))
    val counts = new Array[QueryTally.Counts](qlist.size)
    for (r <- 0 until reps) {
      // settle the heap between rep rounds: accumulated garbage from a
      // whole suite pass otherwise lands as GC pauses inside the NEXT
      // round's queries (part of the measured cross-run drift)
      System.gc()
      qlist.zipWithIndex.foreach { case ((name, fn), qi) =>
        if (r == reps - 1) tally.reset()
        repTimes(qi)(r) = runOnce(name, fn)
        if (r == reps - 1) counts(qi) = tally.counts()
      }
    }
    val results = qlist.zipWithIndex.map { case ((name, _), qi) =>
      val times = repTimes(qi).toSeq
      val t = if (times.contains(-1.0)) -1.0 else times.min
      (name, t, if (t < 0) -1.0 else counts(qi).shuffleWriteBytes / 1048576.0)
    }
    def f(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val sh = results.map { case (k, _, s) => s"\"" + k + "\":" + f(s) }
      .mkString("{", ",", "}")
    // total covers SUCCESSFUL queries only — summing the -1 sentinels
    // would make a broken run read FASTER than a healthy one; failures
    // are listed explicitly so a non-empty list is impossible to misread
    val failed = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    // ONE compact line (ms precision keeps it short enough that a log
    // tail capture cannot truncate the total), also persisted to a file
    // so the artifact survives any stdout capture window.
    // shared head/tail fields built ONCE so the two renderings below can
    // never drift apart on a future edit
    val head = s"""{"metric":"total","value":${f(total)},"unit":"sec""""
    val canaryJson = canary
      .map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val tail =
      s""""canary":$canaryJson,""" +
        s""""sf":"$sfDir","cpus":${cfg.cpus},"shuffle_partitions":${cfg.shuffleParts},"action":"noop_write",""" +
        s""""reps":$reps,"agg":"min","failed":${failed.mkString("[", ",", "]")}}"""
    // every individual sample goes to the FILE artifact only (stdout
    // stays one compact driver-parsable line): with round-robin reps an
    // outlier sample pinpoints WHEN a box stall happened
    val allReps = qlist.zipWithIndex
      .map { case ((k, _), qi) =>
        s"\"" + k + "\":" + repTimes(qi).map(f).mkString("[", ",", "]")
      }
      .mkString("{", ",", "}")
    val countsJson = qlist.zipWithIndex
      .map { case ((k, _), qi) => s"\"" + k + "\":" + counts(qi).toJson }
      .mkString("{", ",", "}")
    val line = s"""$head,"queries":$qs,"shuffle_mb":$sh,$tail"""
    val fileLine = line.dropRight(1) +
      s""","rep_order":"round_robin","reps_sec":$allReps,"counts":$countsJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_last_run.json"), fileLine)
    println(line)
    // The driver captures only the LAST ~2000 chars of stdout; the full
    // line above overflowed that window in round 3 and truncated the
    // total. Repeat the summary WITHOUT the per-query map as the final
    // line so totals always land inside any tail capture (the full
    // per-query map persists in bench_last_run.json either way).
    println(s"""$head,"n_queries":${results.size},$tail""")
    spark.stop()
  }
}
