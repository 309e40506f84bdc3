package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType

import graft.SparkEntry
import graft.ext.{Dedup, IvfIndex, Prefix, Quantile, Vectors}

/** The lane workload: nine `SparkEntry.queries` lanes over generated parquet
  * tables. A lane's wall time covers its builder call (the eager `ckpt()`
  * and driver fetches inside `fn(spark, dir)`) plus a noop write of the
  * result; the cache is cleared after each lane, outside the clock.
  */
final class Lanes(spark: SparkSession, dir: String) {
  import Lanes._

  /** Check pass: each lane's rows as parquet under `outDir`, for the
    * DuckDB oracle compare, as many lanes at a time as the session has
    * cores (the pass is JIT- and compile-bound in a fresh JVM). Returns
    * each lane's own wall time; the cache is cleared once, after the pass. */
  def writeOutputs(outDir: String): Seq[LaneTime] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try {
      val futures = Names.map { n =>
        pool.submit(new java.util.concurrent.Callable[LaneTime] {
          def call(): LaneTime = timeLane(n)(df =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n"))
        })
      }
      futures.map(_.get())
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }

  /** One timed pass, every lane into a noop sink. */
  def noopPass(): Seq[LaneTime] = {
    System.gc()
    Names.map(n => run(n)(noop))
  }

  /** Every lane twice, untraced and traced, the order alternating from
    * lane to lane, so JIT warm-up across the pass and the second run's warm
    * caches bias neither side of the tracing overhead. A traced lane is an
    * operation span with a `construct` child (the builder call) and a
    * `write` child (planning and execution of the noop write). Returns the
    * (untraced, traced) passes. */
  def pairedPass(trace: Trace): (Seq[LaneTime], Seq[LaneTime]) = {
    System.gc()
    val pairs = Names.zipWithIndex.map { case (n, i) =>
      if (i % 2 == 0) { val u = run(n)(noop); (u, tracedLane(trace, n)) }
      else { val t = tracedLane(trace, n); (run(n)(noop), t) }
    }
    (pairs.map(_._1), pairs.map(_._2))
  }

  private def tracedLane(trace: Trace, n: String): LaneTime = {
    val t0 = System.nanoTime()
    val err =
      try {
        trace.op(s"lane.$n") {
          val df = trace.span("construct")(SparkEntry.queries(n)(spark, dir))
          trace.span("write")(noop(df))
        }
        ""
      } catch { case e: Throwable => e.toString }
    val s = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    LaneTime(n, s, err)
  }

  private def timeLane(n: String)(sink: DataFrame => Unit): LaneTime = {
    val t0 = System.nanoTime()
    val err =
      try { sink(SparkEntry.queries(n)(spark, dir)); "" }
      catch { case e: Throwable => e.toString }
    LaneTime(n, (System.nanoTime() - t0) / 1e9, err)
  }

  private def run(n: String)(sink: DataFrame => Unit): LaneTime = {
    val t = timeLane(n)(sink)
    spark.catalog.clearCache()
    t
  }
}

object Lanes {
  final case class LaneTime(name: String, seconds: Double, error: String)

  /** The lanes, grouped by the primitive they exercise: at least one per
    * primitive, the cheaper where a primitive has several, so that three
    * timed passes fit the run budget. */
  val Names: Seq[String] = Seq(
    // Prefix
    "ks_two_sample", "log_rank_test",
    // Quantile / ckpt
    "percentiles_exact_rank",
    // driver rank walk
    "bootstrap_ci_mean",
    // Dedup
    "dedup_ngram_jaccard",
    // connected components
    "dedup_clusters",
    // IVF
    "sim_topk_ivf",
    // baselines
    "q1_pricing_summary", "loan_by_type")

  def oracleSql: Map[String, String] = Names.map(n => n -> SparkEntry.oracleSql(n)).toMap

  private def nearestRank(num: Int, den: Int): Column => Column =
    n => ((n * num + (den - 1)) / den).cast(LongType)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The shared primitives called directly, each on one table set. Each
    * thunk runs the timed part; the clusters' input pairs are materialized
    * before it is returned. */
  def primitives(spark: SparkSession, dir: String): Seq[(String, () => Unit)] = {
    val li = graft.Tables.lineitem(spark, dir)
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def pairs = Dedup.jaccardPairs(Dedup.wordShingles(docs, "doc_id", "text", 5), "doc_id", 0.5)
    Seq(
      "ext.prefix.running_sums" -> (() => noop(Prefix.runningSums(
        li, lit(0L), Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_extendedprice")),
        Seq(col("l_quantity") -> "cq", col("l_extendedprice") -> "cp")))),
      "ext.quantile.rank_picks" -> (() => noop(Quantile.rankPicks(
        li, col("l_returnflag"), col("l_extendedprice"),
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
        Seq("p50" -> nearestRank(1, 2), "p90" -> nearestRank(9, 10)),
        "g", "v"))),
      "ext.dedup.jaccard_pairs" -> (() => noop(pairs)),
      "ext.dedup.duplicate_clusters" -> {
        // checkpointed, not cached: a cached `pairs` would serve the
        // jaccard_pairs runs from memory
        val p = pairs.localCheckpoint(eager = true)
        () => noop(Dedup.duplicateClusters(p, "id_a", "id_b"))
      },
      "ext.ivf.build" -> (() => {
        val vec = graft.Tables.embeddings(spark, dir)
          .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
          .withColumn("nrm", Vectors.l2Norm(col("v")))
        val n = vec.count()
        IvfIndex.buildTree(spark,
          IvfIndex.materialize(spark, IvfIndex.trainCentroids(vec, "vec_id", 64, n, iters = 2)))
        ()
      }))
  }
}
