package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Single-pass all-columns mode as a typed [[Aggregator]] — SURVEY §4's one
  * declared custom-agg candidate (reference semantics:
  * `airflow/dags/etl/pyspark_etl.py:14-21`, per-column mode with the null
  * group participating).
  *
  * Why a third shape: the typed-slot fill
  * ([[ModeFill.fillNullsWithMode]]) and the unpivot shape
  * ([[ModeFill.modesSinglePass]]) are one job each but pay an Expand —
  * every input row becomes `ncols` rows before the partial aggregate
  * collapses them (1 + #types wide in the typed fill, 2 wide in the
  * unpivot). This Aggregator keeps
  * each row intact and counts ALL columns in one object-hash pass: the
  * partial state is a per-column value→count map plus a per-column null
  * counter, merged across partitions; only `ncols` map states ever cross the
  * wire, not `ncols × rows` expanded rows.
  *
  * Memory contract (the honest 100 TB note): partial state is
  * O(Σ per-column distinct values) PER TASK. That is bounded for the
  * categorical / low-cardinality columns mode imputation is used on, and
  * unbounded for unique-key columns — for those the unpivot shape is the
  * right tool (its shuffle spills to disk; a hash map does not). Pick per
  * column family, exactly like choosing between a hash and sort aggregate.
  *
  * Values are counted in STRING space (the caller pre-casts with Spark's own
  * cast) so the value universe and tie-break are identical to
  * [[ModeFill.modesSinglePass]]: count desc, then value asc, nulls first —
  * on an exact count tie the null group wins, making the fill a no-op.
  */
object ModeAggregator {

  final case class Buf(maps: Array[mutable.HashMap[String, Long]], nulls: Array[Long])

  /** `a < b` in unsigned UTF-8 byte order — Spark's UTF8String binary
    * comparison, which orders by code POINT (Java String's `<` orders by
    * UTF-16 code UNIT and disagrees beyond the BMP).
    */
  private[ops] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val xa = x(i) & 0xff
      val yb = y(i) & 0xff
      if (xa != yb) return xa < yb
      i += 1
    }
    x.length < y.length
  }

  /** Counts `n` string columns' value frequencies in one pass.
    * Output: per column, `Some(mode)` or `None` when the null group wins.
    */
  final class AllColumnsMode(n: Int) extends Aggregator[Row, Buf, Seq[Option[String]]] {
    def zero: Buf =
      Buf(Array.fill(n)(mutable.HashMap.empty[String, Long]), new Array[Long](n))

    def reduce(b: Buf, r: Row): Buf = {
      var i = 0
      while (i < n) {
        if (r.isNullAt(i)) b.nulls(i) += 1L
        else {
          val m = b.maps(i)
          val v = r.getString(i)
          m.update(v, m.getOrElse(v, 0L) + 1L)
        }
        i += 1
      }
      b
    }

    def merge(a: Buf, b: Buf): Buf = {
      var i = 0
      while (i < n) {
        val m = a.maps(i)
        b.maps(i).foreach { case (v, c) => m.update(v, m.getOrElse(v, 0L) + c) }
        a.nulls(i) += b.nulls(i)
        i += 1
      }
      a
    }

    def finish(b: Buf): Seq[Option[String]] = (0 until n).map { i =>
      // max count, smallest value on ties — matches ORDER BY cnt DESC, v ASC.
      // The tie-break compares UTF-8 BYTES, not Java String UTF-16 code
      // units: Spark's asc_nulls_first on strings is UTF8String binary
      // (code-point) order, and the two diverge for supplementary-plane
      // characters (surrogates sort above U+E000..U+FFFF in UTF-16 but
      // below them in UTF-8). Byte order keeps this path bit-identical to
      // ModeFill.modesSinglePass under any value universe.
      val best = b.maps(i).foldLeft(Option.empty[(String, Long)]) {
        case (acc @ Some((bv, bc)), (v, c)) =>
          if (c > bc || (c == bc && utf8Lt(v, bv))) Some((v, c)) else acc
        case (None, (v, c)) => Some((v, c))
      }
      best match {
        // NULLS FIRST: on cnt tie with the null group, null is the mode
        case Some((v, c)) if c > b.nulls(i) => Some(v)
        case _ => None
      }
    }

    def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    def outputEncoder: Encoder[Seq[Option[String]]] = Encoders.kryo[Seq[Option[String]]]
  }

  /** Per-column modes in one aggregation job with no row expansion.
    * Same contract and results as [[ModeFill.modesSinglePass]].
    */
  def modes(df: DataFrame, cols: Seq[String] = Nil): Map[String, Option[String]] = {
    val target = if (cols.isEmpty) df.columns.toSeq else cols
    val strs = df.select(target.map(c => col(c).cast("string")): _*)
    val out = strs.select(new AllColumnsMode(target.size).toColumn).head()
    target.zip(out).toMap
  }

  /** Fill using the Aggregator modes (null mode ⇒ no-op, as the reference). */
  def fillNullsWithMode(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val target = if (cols.isEmpty) df.columns.toSeq else cols
    val ms = modes(df, target)
    target.foldLeft(df) { (cur, c) =>
      ms.getOrElse(c, None) match {
        case Some(m) =>
          cur.withColumn(c, coalesce(col(c), lit(m).cast(df.schema(c).dataType)))
        case None => cur
      }
    }
  }
}
