package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.{SlotExpand, TopK}

/** Null-imputation by per-column mode.
  *
  * Reference semantics (`airflow/dags/etl/pyspark_etl.py:14-21`,
  * `fill_nulls_with_mode`): for EVERY column the most frequent value is
  * computed with `groupBy(c).count().orderBy(desc count).limit(1)` — note
  * the null group participates, so if null is the most frequent value the
  * "mode" is null and the fill is a no-op. The reference breaks count ties
  * arbitrarily; we add a deterministic tie-break (smaller value first,
  * nulls first) so results are oracle-checkable (SURVEY.md §2A notes 1-2).
  */
object ModeFill {

  /** `runEtl`'s fill: the reference's per-column modes, computed for every
    * column in ONE aggregation over ONE input pass, then applied in one
    * projection.
    *
    * The columns are unpivoted into typed slots ([[SlotExpand]]): each
    * input row becomes one row per column, `(column index, one slot per
    * distinct data type)`, so a 25-column CSV with 4 inferred types
    * expands to 5-wide rows, not 26-wide ones as a grouping-sets
    * aggregate would give. Counting `(index, slots)` counts each column's
    * values in its own type, with `groupBy`'s float normalisation
    * (-0.0 = 0.0, one NaN). Within index i every other slot is null, so
    * ordering by (count desc, every slot asc nulls first) is column i's
    * own typed `asc_nulls_first` tie-break — exactly the per-column
    * query's ORDER BY. The per-column top-1 is the native bounded-heap
    * TopK, so the driver fetches at most one row per column. The public
    * `explode(array(struct(...)))` form gives the same rows but builds an
    * array per input row; it measured slower than the direct `Expand`.
    * A frame with no rows, or a column whose mode is null, is left as it
    * is.
    */
  def fillNullsWithMode(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val target = (if (cols.isEmpty) df.columns.toSeq else cols).distinct
    val modes = typedModes(df, target)
    val filled = target.filter(modes.contains)
    if (filled.isEmpty) df
    else df.withColumns(filled.map(c => c -> coalesce(ref(c), lit(modes(c)))).toMap)
  }

  /** Non-null typed modes of `cols`; a column with a null mode is absent. */
  private def typedModes(df: DataFrame, cols: Seq[String]): Map[String, Any] = {
    val (rows, slotOf) = SlotExpand(df, cols)
    val counted = rows.groupBy(rows.columns.toSeq.map(col): _*).count()
    val order = ("count" -> true) +: slotOf.distinct.map(_ -> false)
    TopK
      .perKey(counted, Seq(SlotExpand.GroupCol), order, 1)
      .collect()
      .flatMap { r =>
        val i = r.getAs[Int](SlotExpand.GroupCol)
        Option(r.getAs[Any](slotOf(i))).map(cols(i) -> _)
      }
      .toMap
  }

  // column names are user-controlled: quote them so dots stay literal
  private def ref(c: String) = col("`" + c.replace("`", "``") + "`")

  /** Scale variant: ONE aggregation job for all columns instead of a
    * groupBy + driver collect per column (the reference's per-column shape
    * is its scalability cliff — SURVEY.md §6). Columns are unpivoted to
    * (col_name, value_as_string) pairs, counted in a single shuffle, and
    * the per-column top-1 is taken with the native bounded-heap TopK (a
    * `row_number` window partitioned by col_name would be ncols sort
    * tasks over the whole distinct-value frame — unbounded for near-
    * unique columns — at any cluster size). Values round-trip through
    * string space (exact for the long/double/string/timestamp types
    * exercised); ties break on (count desc, value-string asc, nulls first)
    * — SortOrder's Ascending default IS NullsFirst, so the heap ordering
    * matches asc_nulls_first — which can differ from typed ordering only
    * on exact count ties.
    */
  def modesSinglePass(df: DataFrame, cols: Seq[String] = Nil): Map[String, Option[String]] = {
    val target = if (cols.isEmpty) df.columns.toSeq else cols
    // escape quoting metacharacters — column names are user-controlled
    def lit_(c: String) = "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"
    def ref(c: String) = "`" + c.replace("`", "``") + "`"
    val stackArgs = target.map(c => s"${lit_(c)}, CAST(${ref(c)} AS STRING)").mkString(", ")
    val pairs = df.selectExpr(s"stack(${target.size}, $stackArgs) AS (col_name, value)")
    val counted = pairs
      .groupBy("col_name", "value")
      .agg(count(lit(1)).as("cnt"))
    TopK
      .perKey(counted, Seq("col_name"), Seq(("cnt", true), ("value", false)), 1)
      .select("col_name", "value")
      .collect()
      .map(r => r.getString(0) -> Option(r.getString(1)))
      .toMap
  }

  /** Fill using the single-pass modes (null mode => no-op, as in the
    * reference). The string mode is cast back to the column's own type.
    */
  def fillNullsWithModeSinglePass(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val target = if (cols.isEmpty) df.columns.toSeq else cols
    val modes = modesSinglePass(df, target)
    target.foldLeft(df) { (cur, c) =>
      modes.getOrElse(c, None) match {
        case Some(m) =>
          cur.withColumn(c, coalesce(col(c), lit(m).cast(df.schema(c).dataType)))
        case None => cur
      }
    }
  }
}
