package graft.tools

import graft.{Harness, SparkEntry}

/** Plan inspector: prints the formatted physical plan for the named
  * queries (or all). Used to audit pushdown / broadcast / codegen spans.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
