package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}

import graft.io.{Sinks, Sources}
import graft.ops.{Insights, LoanPipeline, ModeAggregator, ModeFill, Timestamps}

/** The ETL workloads: `LoanPipeline.runEtl` over one generated CSV, called
  * in a closed loop. Every call is followed, outside its timed window, by
  * an output read-back (per-column non-null counts of the parquet, the
  * per-column count of rows equal to the expected mode, the insights JSON
  * as written) and a reset to fresh state: the returned
  * frame unpersisted, the cache cleared and the output removed, so the
  * next call cannot be served from this one's cache.
  */
final class Etl(spark: SparkSession, counters: Counters, csv: String, modes: Map[String, String],
    work: String) {
  import Etl._

  private val out = s"$work/etl_out/parquet"
  private val insightsPath = s"$work/etl_out/insights.json"

  /** One untraced `runEtl` with its defaults (or its single-pass fill). */
  def call(singlePass: Boolean = false): Call = timed(() =>
    LoanPipeline.runEtl(spark, csv, out, insightsJsonPath = Some(insightsPath),
      singlePassModeFill = singlePass).cleaned)

  /** `runEtl`'s public calls replayed in its order, one span each. The
    * `shape` picks the mode fill: the per-column default, the unpivot
    * single pass, or the typed Aggregator.
    */
  def replay(trace: Trace, shape: String = "per_column"): Call = timed { () =>
    trace.op("etl.call") {
      val raw = trace.span("io.csv_infer")(Sources.csvInferred(spark, csv))
      val filled = trace.span("ops.mode_fill")(Etl.fill(raw, shape))
      val cleaned = trace.span("ops.timestamps.split")(
        Timestamps.splitTimestamp(filled, "timestamp").cache())
      trace.span("io.parquet_write")(Sinks.parquetOverwrite(cleaned, out))
      trace.span("ops.insights") {
        Sinks.writeTextFile(Insights.toJson(Insights.compute(cleaned)), insightsPath)
      }
      cleaned
    }
  }

  /** `Timestamps.parseMulti` alone over the (cached) timestamp column,
    * into a noop sink; returns the best of `reps` timed passes. */
  def parseProbe(trace: Trace, reps: Int): Double = {
    val ts = Sources.csvInferred(spark, csv).select("timestamp").cache()
    ts.count()
    val s = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      trace.op("ops.timestamps.parse") {
        ts.select(Timestamps.parseMulti(col("timestamp"))).write.format("noop")
          .mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }.min
    ts.unpersist(blocking = true)
    s
  }

  private def timed(run: () => DataFrame): Call = {
    System.gc()
    val s0 = counters.snap()
    val t0 = System.nanoTime()
    val res = try Right(run()) catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val counts = counters.snap() - s0
    val call = res match {
      case Right(cleaned) =>
        try {
          val o = observe(cleaned)
          Call(seconds, counts, Some(o), "")
        } catch { case e: Throwable => Call(seconds, counts, None, s"check: $e") }
        finally cleaned.unpersist(blocking = true)
      case Left(e) => Call(seconds, counts, None, e.toString)
    }
    spark.catalog.clearCache()
    Etl.deleteTree(new File(s"$work/etl_out"))
    call
  }

  private def observe(cleaned: DataFrame): Observed = {
    val cacheBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val back = spark.read.parquet(out)
    // one job: every column's non-null count, then each expected mode's
    // row count (the literal cast to the column's inferred type)
    val moded = modes.keys.toSeq.filter(back.columns.contains).sorted
    val aggs = back.columns.map(c => count(col(s"`$c`"))).toSeq ++ moded.map { c =>
      count(when(col(s"`$c`") === lit(modes(c)).cast(back.schema(c).dataType), 1))
    }
    val row = back.select(aggs: _*).head()
    val nonnull = back.columns.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
    val modeCounts = moded.zipWithIndex.map { case (c, i) =>
      c -> row.getLong(back.columns.length + i) }.toMap
    val parts = Option(new File(out).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
    val insights = Files.readString(new File(insightsPath).toPath)
    Observed(nonnull, modeCounts, insights, parts.map(_.length).sum, cacheBytes)
  }
}

object Etl {
  /** What one call left on disk, plus its listener counts. */
  final case class Call(seconds: Double, counts: Snap, observed: Option[Observed], error: String) {
    def toMap(kind: String): Map[String, Any] = Map("kind" -> kind, "s" -> seconds,
      "error" -> error) ++ counts.toMap ++ observed.map(_.toMap).getOrElse(Map.empty)
  }

  final case class Observed(nonnull: Map[String, Long], modeCounts: Map[String, Long],
      insights: String, outBytes: Long, cacheBytes: Long) {
    def toMap: Map[String, Any] = Map("nonnull" -> nonnull, "mode_counts" -> modeCounts,
      "insights" -> insights, "out_bytes" -> outBytes, "cache_bytes" -> cacheBytes)
  }

  def fill(raw: DataFrame, shape: String): DataFrame = shape match {
    case "per_column" => ModeFill.fillNullsWithMode(raw)
    case "single_pass" => ModeFill.fillNullsWithModeSinglePass(raw)
    case "aggregator" => ModeAggregator.fillNullsWithMode(raw)
  }

  /** Expected modes, one `column<TAB>value` line each; a column whose
    * mode is null (its fill is a no-op) is not listed. */
  def readModes(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(c, v) = l.split("\t", 2)
      c -> v
    }.toMap

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
