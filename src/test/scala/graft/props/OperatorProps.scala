package graft.props

import graft.Harness
import graft.ext.{Dedup, Vectors}
import graft.ops.ModeFill
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants (SURVEY.md §5.3). Small generated inputs —
  * each property runs a real Spark job, so sizes stay tiny.
  */
object OperatorProps extends Properties("graft.operators") {

  // this suite runs ~11k tiny jobs; at the default INFO level it wrote
  // ~300k scheduler log lines of synchronous console I/O (r11 timing),
  // hence Harness's WARN level
  private lazy val spark: SparkSession = Harness.builder(cpus = 2, shuffleParts = 2)
    .config(
      "spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_props").toString)
    .getOrCreate()

  import scala.jdk.CollectionConverters._

  private val cellGen: Gen[Option[String]] =
    Gen.frequency(3 -> Gen.oneOf("a", "b", "c").map(Some(_)), 1 -> Gen.const(None))
  private val tableGen: Gen[List[Option[String]]] =
    Gen.listOfN(12, cellGen).suchThat(_.nonEmpty)

  property("modeFill never changes non-null cells") = forAll(tableGen) { rows =>
    import spark.implicits._
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "c")
    val out = ModeFill.fillNullsWithMode(df, Seq("c")).orderBy("id")
      .collect().map(r => Option(r.getString(1)))
    rows.zip(out).forall { case (before, after) => before.forall(b => after.contains(b)) }
  }

  property("modeFill leaves no nulls when a non-null value strictly wins") = forAll(tableGen) { rows =>
    import spark.implicits._
    val counts = rows.groupBy(identity).view.mapValues(_.size)
    val nullCount = counts.getOrElse(None, 0)
    val maxNonNull = counts.collect { case (Some(_), n) => n }.maxOption.getOrElse(0)
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "c")
    val out = ModeFill.fillNullsWithMode(df, Seq("c")).collect().map(r => Option(r.getString(1)))
    if (maxNonNull > nullCount) out.forall(_.isDefined)
    else true
  }

  private val docGen: Gen[List[String]] = Gen.listOfN(
    6,
    Gen.listOfN(8, Gen.oneOf("the", "fox", "dog", "ran", "far", "big")).map(_.mkString(" ")))

  property("exactDedup is idempotent and keeps one row per distinct text") = forAll(docGen) { texts =>
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    val once = Dedup.exactDedup(df, Seq("t"), "doc_id")
    val twice = Dedup.exactDedup(once, Seq("t"), "doc_id")
    once.count() == texts.distinct.size && twice.count() == once.count()
  }

  property("simhash is token-order invariant") = forAll(docGen) { texts =>
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    val rev = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t.split(" ").reverse.mkString(" ")) }
      .toDF("doc_id", "t")
    val a = Dedup.simhash64(df, "doc_id", "t").orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    val b = Dedup.simhash64(rev, "doc_id", "t").orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    a == b
  }

  private val vecGen: Gen[List[Float]] =
    Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f)).suchThat(v => v.exists(_ != 0.0f))

  property("cosine is symmetric and cosine(v,v) ~ 1") = forAll(vecGen, vecGen) { (x, y) =>
    import spark.implicits._
    val df = Seq((x.toArray, y.toArray)).toDF("a", "b")
      .select(
        Vectors.cosine(Vectors.toDouble(col("a")), Vectors.toDouble(col("b"))).as("ab"),
        Vectors.cosine(Vectors.toDouble(col("b")), Vectors.toDouble(col("a"))).as("ba"),
        Vectors.cosine(Vectors.toDouble(col("a")), Vectors.toDouble(col("a"))).as("aa"))
    val r = df.first()
    math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12 && math.abs(r.getDouble(2) - 1.0) < 1e-9
  }

  private val tokGen: Gen[List[Long]] = Gen.listOfN(10, Gen.chooseNum(1L, 30L))

  property("packSequences conserves docs and tokens; seq_ids are dense from 0") = forAll(tokGen) { toks =>
    import spark.implicits._
    val df = toks.zipWithIndex.map { case (t, i) => ("s", i.toLong, t) }.toDF("shard", "id", "tok")
    val out = graft.ext.CorpusOps.packSequences(df, "shard", "id", "tok", 16L)
      .select("id", "tok", "seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val total = toks.sum
    // every doc assigned exactly once, tokens conserved
    (out.length == toks.length) &&
    (out.map(_._2).sum == total) &&
    // seq assignment equals the closed-form concat-and-chunk prefix rule
    // for EVERY doc — this is the complete spec of the operator (holes in
    // the seq-id set are legitimate: a doc larger than the budget spans
    // chunks no other doc starts in)
    out.zip(toks.scanLeft(0L)(_ + _)).forall { case ((_, _, seq), before) =>
      seq == before / 16L
    } &&
    out.map(_._3).headOption.forall(_ == 0L)
  }

  private val shardRowGen: Gen[List[(String, Long)]] =
    Gen.listOfN(24, Gen.zip(Gen.oneOf("p", "q", "r"), Gen.chooseNum(0L, 20L)))

  property("Prefix.runningSum equals the driver-computed per-shard prefix sum at any split count") =
    forAll(shardRowGen, Gen.chooseNum(1, 6)) { (rows, nParts) =>
      import spark.implicits._
      val df = rows.zipWithIndex.map { case ((s, v), i) => (s, i.toLong, v) }
        .toDF("shard", "id", "v")
      val got = graft.ext.Prefix
        .runningSum(df, col("shard"), Seq(col("id")), col("v"), "cum", nParts)
        .select("shard", "id", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val expected = rows.zipWithIndex
        .map { case ((s, v), i) => (s, i.toLong, v) }
        .groupBy(_._1)
        .flatMap { case (_, g) =>
          val sorted = g.sortBy(_._2)
          sorted.zip(sorted.scanLeft(0L)(_ + _._3).tail).map { case ((s, i, _), cum) =>
            (s, i) -> cum
          }
        }
      got == expected
    }

  property("Prefix.runningMax equals the driver-computed per-shard prefix max, inclusive and exclusive") =
    forAll(shardRowGen, Gen.chooseNum(1, 6), Gen.oneOf(true, false)) { (rows, nParts, inclusive) =>
      import spark.implicits._
      val df = rows.zipWithIndex.map { case ((s, v), i) => (s, i.toLong, v) }
        .toDF("shard", "id", "v")
      val got = graft.ext.Prefix
        .runningMax(df, col("shard"), Seq(col("id")), col("v"), "m", inclusive, nParts)
        .select("shard", "id", "m").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val expected = rows.zipWithIndex
        .map { case ((s, v), i) => (s, i.toLong, v) }
        .groupBy(_._1)
        .flatMap { case (_, g) =>
          val sorted = g.sortBy(_._2)
          val maxes = sorted.scanLeft(Long.MinValue)(_ max _._3)
          sorted.zip(if (inclusive) maxes.tail else maxes.init).map { case ((s, i, _), m) =>
            (s, i) -> m
          }
        }
      got == expected
    }

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(18, Gen.zip(Gen.chooseNum(0L, 14L), Gen.chooseNum(0L, 14L)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)

  private val qrowGen: Gen[List[(String, Double)]] = Gen.nonEmptyListOf(for {
    g <- Gen.oneOf("a", "b")
    x <- Gen.frequency(
      1 -> Gen.choose(0, 4).map(_.toDouble), // duplicate mass
      1 -> Gen.choose(-100000, 100000).map(_ / 100.0))
  } yield (g, x))

  property("Quantile.medianPick equals the row_number median at any bucket count") =
    forAll(qrowGen, Gen.oneOf(2, 7, 64)) { (base, k) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val rows = base.zipWithIndex.map { case ((g, x), i) => (g, x, i.toLong) }
      val df = rows.toDF("g", "x", "tk")
      val w = Window.partitionBy("g").orderBy("x", "tk")
      val direct = df.withColumn("rn", row_number().over(w))
        .join(df.groupBy("g").agg(count(lit(1)).as("n")), "g")
        .filter(col("rn") === shiftright(col("n") + 1, 1))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val ref = graft.ext.Quantile
        .medianPick(df, col("g"), col("x"), Seq(col("tk")), "g", "med", k)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      ref == direct
    }

  property("star-contraction CC equals min-label propagation on random graphs") =
    forAll(edgeGen) { es =>
      import spark.implicits._
      val pairs = es.toDF("id_a", "id_b")
      def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lp = toMap(graft.ext.Dedup.duplicateClusters(pairs, "id_a", "id_b"))
      val st = toMap(graft.ext.Dedup.duplicateClustersStar(pairs, "id_a", "id_b"))
      lp == st
    }

  private val feedGen: Gen[List[(Long, String)]] =
    Gen.listOfN(12, Gen.zip(Gen.chooseNum(1L, 3L), Gen.oneOf("A", "B", "C")))

  property("scd2 versions tile each key's timeline: contiguous, ordered, one current") =
    forAll(feedGen) { feed =>
      import spark.implicits._
      val rows = feed.zipWithIndex.map { case ((u, st), i) => (u, i.toLong, (i * 10).toLong, st) }
      val df = rows.toDF("user_id", "event_id", "ms", "status")
      val h = graft.ops.Cdc
        .scd2History(df, "user_id", Seq("ms", "event_id"), Seq("status"), "ms")
        .select("user_id", "valid_from", "valid_to", "is_current")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3)))
        .groupBy(_._1)
      h.values.forall { vs =>
        val sorted = vs.sortBy(_._2)
        // exactly one open-ended current version per key, and it is last
        vs.count(_._3.isEmpty) == 1 && sorted.last._3.isEmpty && sorted.last._4 &&
        // each version closes exactly where the next opens
        sorted.sliding(2).forall {
          case Array((_, _, Some(to), false), (_, from, _, _)) => to == from
          case _ => true
        }
      }
    }
}
