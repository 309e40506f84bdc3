package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Bench, Verify, FuzzVerify, the
  * tools and the test suites all take their settings from here, so a
  * result or a timing means the same thing whichever entry point made it.
  */
object Harness {

  /** Local cores and shuffle partitions of an entry point's session. */
  final case class Settings(cpus: Int, shuffleParts: Int)

  /** `SPARK_GRAFT_CPUS` (default 4) and `SPARK_GRAFT_SHUFFLE_PARTS`
    * (default: the cores) from `env`. Each must be a positive integer:
    * Bench prints both into its JSON line, so a value such as `*` (a valid
    * `local[*]` master) would make that line unparseable. Throws an
    * `IllegalArgumentException` naming the variable otherwise.
    */
  def settings(env: Map[String, String]): Settings = {
    def positive(name: String, default: Int): Int = env.get(name) match {
      case None => default
      case Some(v) =>
        v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
    }
    val cpus = positive("SPARK_GRAFT_CPUS", 4)
    Settings(cpus, positive("SPARK_GRAFT_SHUFFLE_PARTS", cpus))
  }

  /** The reference settings: UTC, non-ANSI (the reference ran Spark 3.4
    * defaults; library code also uses try_* so either setting is safe),
    * nanosecond parquet timestamps read as longs (`Tables.events`
    * normalizes them), no UI, WARN logging. The codegen cache holds 8192
    * classes: the default 100 is evicted by every pass over the 271 lanes,
    * so each Bench rep would pay janino compile and JIT tier-up again
    * (identical-code re-runs drifted 7% median / 31% p90 per query).
    */
  def builder(cpus: Int, shuffleParts: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.log.level", "WARN")

  /** An entry point's session, built from `s` (by default the process env). */
  def session(s: Settings = settings(sys.env)): SparkSession =
    builder(s.cpus, s.shuffleParts).getOrCreate()
}
