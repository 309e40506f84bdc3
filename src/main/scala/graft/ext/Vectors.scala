package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-vector operators over `ArrayType(FloatType)` columns
  * (SURVEY.md §2B X3/X5). Built on higher-order functions — no UDFs, no
  * driver collects — so they distribute trivially.
  *
  * Determinism contract: the dot product is an explicit LEFT FOLD in
  * double space. DuckDB's `list_dot_product` over double-cast lists is
  * also a sequential fold, so cosine scores are bit-identical across
  * engines (verified empirically) — the oracle can compare raw doubles.
  */
object Vectors {

  /** float[] -> double[] (exact widening). */
  def toDouble(c: Column): Column = transform(c, x => x.cast(DoubleType))

  /** Left-fold dot product of two double[] columns — a native codegen'd
    * Catalyst expression (see [[org.apache.spark.sql.graftnative.DoubleDot]]);
    * same fold order as the built-ins form
    * `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, e) -> acc + e)`,
    * ~10x less per-element overhead in pairwise-similarity hot paths.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.VectorExpressions.ddot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a,b) = dot / (|a| * |b|) — mirror this exact association in
    * SQL: `dp / (sqrt(na) * sqrt(nb))`.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Random-hyperplane-free LSH bucket: the sign pattern of the first
    * `bits` components. Portable to plain SQL (no hash function needed),
    * deterministic, and at scale turns an O(n^2) similarity pass into
    * per-bucket local work after one hash-partition shuffle on the bucket
    * key. Recall loss at bucket boundaries is inherent to single-probe
    * LSH and mirrored exactly by the oracle.
    */
  def signBucket(v: Column, bits: Int): Column =
    // get() (0-based) is null for out-of-range indexes instead of the
    // ANSI INVALID_ARRAY_INDEX error element_at raises — short vectors
    // bucket as '0' bits in every mode (DuckDB's v[i] does the same)
    concat((1 to bits).map(i => when(get(v, lit(i - 1)) > 0f, lit("1")).otherwise(lit("0"))): _*)

  /** Bucket-bit count for a corpus of n vectors, targeting ~`target`
    * vectors per bucket: the smallest bits in [minBits, maxBits] with
    * n <= target * 2^bits. In-bucket pair work is then O(target^2) per
    * bucket instead of O((n/2^bits)^2) with a fixed bits — the round-1
    * 4-bit constant was a constant-factor reprieve, not a scale fix
    * (n^2/16 still quadratic). Pure integer comparisons (no log2
    * floating-point edge at powers of two), so the oracle mirrors it as a
    * CASE ladder with bit-identical branch decisions. minBits=12 keeps
    * >= 4096 buckets even on small corpora; maxBits=24 caps key
    * cardinality at ~16M buckets (shuffle key space, not memory).
    */
  def signBucketBits(n: Long, target: Long = 64, minBits: Int = 12, maxBits: Int = 24): Int = {
    var b = minBits
    while (b < maxBits && n > (target << b)) b += 1
    b
  }

  /** SQL CASE ladder equal to [[signBucketBits]] for the oracle. */
  def signBucketBitsSql(nExpr: String, target: Long = 64, minBits: Int = 12, maxBits: Int = 24): String = {
    val whens = (minBits until maxBits)
      .map(b => s"WHEN $nExpr <= ${target << b} THEN $b")
      .mkString(" ")
    s"(CASE $whens ELSE $maxBits END)"
  }
}
