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
    * query's ORDER BY. The per-column top-1 is the partial pass of the
    * native bounded-heap TopK alone ([[TopK.perKeyCollect]]): each
    * partition of the count sends the driver at most one row per column,
    * and the driver merges them, so the count is one exchange. The public
    * `explode(array(struct(...)))` form gives the same rows but builds an
    * array per input row; it measured slower than the direct `Expand`.
    * A frame with no rows, or a column whose mode is null, is left as it
    * is.
    */
  def fillNullsWithMode(df: DataFrame, cols: Seq[String] = Nil): DataFrame =
    fill(df, cols, Nil)._1

  /** [[fillNullsWithMode]] over every column, plus each `counted` column's
    * value counts after the fill, from the same job: `(value, count)` in
    * the fill's order (count desc, typed value asc, nulls first). A column
    * filled with a non-null mode has no null group; its nulls count as the
    * mode, which stays first.
    */
  def fillNullsWithModeCounting(
      df: DataFrame,
      counted: Seq[String]): (DataFrame, Map[String, Seq[(Any, Long)]]) =
    fill(df, Nil, counted)

  private def fill(
      df: DataFrame,
      cols: Seq[String],
      counted: Seq[String]): (DataFrame, Map[String, Seq[(Any, Long)]]) = {
    val target = (if (cols.isEmpty) df.columns.toSeq else cols).distinct
    counted.foreach(c => require(target.contains(c), s"counted column $c is not filled"))
    val (rows, slotOf) = SlotExpand(df, target)
    val slots = slotOf.distinct
    // a counted column's rows each get a key of their own, so all of them
    // come back; any other column's rows share one key, top-1 of which is
    // its mode
    val keyed = rows
      .groupBy(rows.columns.toSeq.map(col): _*)
      .count()
      .withColumn(ValueKey,
        when(col(SlotExpand.GroupCol).isin(counted.map(target.indexOf): _*), struct(slots.map(col): _*)))
    val order = ("count" -> true) +: slots.map(_ -> false)
    // sorted by `order`, so each column's rows keep it and its first is the mode
    val byCol = TopK
      .perKeyCollect(keyed, Seq(SlotExpand.GroupCol, ValueKey), order, 1)
      .toSeq
      .groupBy(_.getAs[Int](SlotExpand.GroupCol))
      .map { case (i, rs) => i -> rs.map(r => (r.getAs[Any](slotOf(i)), r.getAs[Long]("count"))) }
    val modes = byCol.flatMap { case (i, vs) => Option(vs.head._1).map(target(i) -> _) }
    val counts = counted.map { c =>
      val values = byCol.getOrElse(target.indexOf(c), Nil)
      c -> (if (!modes.contains(c)) values
            else (values.head._1, values.head._2 + values.collect { case (null, n) => n }.sum) +:
              values.tail.filter(_._1 != null))
    }.toMap
    val filled = target.filter(modes.contains)
    val out =
      if (filled.isEmpty) df
      else df.withColumns(filled.map(c => c -> coalesce(ref(c), lit(modes(c)))).toMap)
    (out, counts)
  }

  private val ValueKey = "__k"

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
          cur.withColumn(c, coalesce(ref(c), lit(m).cast(df.schema(c).dataType)))
        case None => cur
      }
    }
  }
}
