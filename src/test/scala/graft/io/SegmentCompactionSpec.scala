package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Incremental bin-pack OPTIMIZE ([[Snapshots.compactSegments]]): the
  * small-file collapse a streaming-ingested table needs — O(small bytes)
  * rewritten, big segments carried by pointer, deletion vectors rebased,
  * ONE publish, time travel and vacuum semantics intact, pinned on
  * deterministic hand-built tables.
  */
class SegmentCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir: String =
    java.nio.file.Files.createTempDirectory("graft_cpk").toString

  private def entrySegments(dir: String): Seq[String] = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = Snapshots.versions(spark, dir).max
    Snapshots.readManifestPayload(f, dir, v).split('|').head.split('+').toSeq
  }

  test("many small appends collapse to one segment; reads byte-identical") {
    val dir = freshDir
    Snapshots.commitVersion(spark, Seq(0L).toDF("id"), dir)
    (1 to 29).foreach(i => Snapshots.appendRows(spark, dir, Seq(i.toLong).toDF("id")))
    assert(entrySegments(dir).size == 30)
    val before = Snapshots.read(spark, dir).as[Long].collect().sorted.toSeq
    val vOpt = Snapshots.compactSegments(spark, dir, targetBytes = 1L << 20)
    assert(vOpt.isDefined)
    // ONE packed segment; the read is value-identical to the pre-compact view
    assert(entrySegments(dir).size == 1)
    assert(Snapshots.read(spark, dir).as[Long].collect().sorted.toSeq == before)
    // time travel to the 30-segment version still works
    assert(Snapshots.readVersion(spark, dir, vOpt.get - 1)
      .as[Long].collect().sorted.toSeq == before)
    // idempotence: a second compact is a no-op (one segment qualifies)
    assert(Snapshots.compactSegments(spark, dir, targetBytes = 1L << 20).isEmpty)
  }

  test("bin-packing is selective: at-weight segments are carried by pointer") {
    val dir = freshDir
    // one heavy segment (100k rows) + four tiny ones
    Snapshots.commitVersion(spark, (1L to 100000L).toDF("id"), dir)
    val heavySeg = entrySegments(dir).head
    (0 until 4).foreach(i =>
      Snapshots.appendRows(spark, dir, Seq(1000000L + i).toDF("id")))
    // threshold below the heavy segment's bytes, above the tiny ones'
    val vOpt = Snapshots.compactSegments(spark, dir, targetBytes = 64L << 10)
    assert(vOpt.isDefined)
    val segs = entrySegments(dir)
    assert(segs.size == 2, s"expected heavy + packed, got $segs")
    assert(segs.contains(heavySeg), "the at-weight segment must be pointer-carried, not rewritten")
    assert(Snapshots.read(spark, dir).count() == 100004L)
  }

  test("deletion vectors rebase: packed rows materialize deletes, kept files keep theirs") {
    val dir = freshDir
    Snapshots.commitVersion(spark, (1L to 100000L).toDF("id"), dir) // heavy, kept
    Snapshots.appendRows(spark, dir, (200001L to 200010L).toDF("id")) // small
    Snapshots.appendRows(spark, dir, (300001L to 300010L).toDF("id")) // small
    // deletes span the kept segment AND the small ones
    Snapshots.deleteWhere(spark, dir, col("id").isin(5L, 200005L, 300005L))
    val before = Snapshots.read(spark, dir).as[Long].collect().sorted.toSeq
    assert(!before.contains(5L) && !before.contains(200005L) && !before.contains(300005L))
    val vOpt = Snapshots.compactSegments(spark, dir, targetBytes = 64L << 10)
    assert(vOpt.isDefined)
    val after = Snapshots.read(spark, dir).as[Long].collect().sorted.toSeq
    assert(after == before, "compaction changed the visible rows")
    // the rebased DV must not name compacted (now-deleted-from-manifest)
    // files: every surviving entry's path points into a kept segment
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val payload = Snapshots.readManifestPayload(f, dir, vOpt.get).split('|')
    assert(payload.length >= 3 && payload(2) != "-", "kept-segment delete must keep a DV")
    val keptSegs = payload(0).split('+').toSet
    val dvFiles = spark.read.parquet(s"$dir/${payload(2)}")
      .select("file").as[String].collect()
    assert(dvFiles.nonEmpty)
    dvFiles.foreach(p =>
      assert(keptSegs.exists(s => p.contains(s"/$s/")), s"dangling DV entry: $p"))
    // pre-compact version still reads with ITS dv
    assert(Snapshots.readVersion(spark, dir, vOpt.get - 1)
      .as[Long].collect().sorted.toSeq == before)
  }

  test("a fully-deleted small tail compacts to an all-DV-consumed packed segment") {
    val dir = freshDir
    Snapshots.commitVersion(spark, (1L to 10L).toDF("id"), dir)
    Snapshots.appendRows(spark, dir, (11L to 20L).toDF("id"))
    Snapshots.deleteWhere(spark, dir, col("id") > 0L) // everything
    assert(Snapshots.read(spark, dir).count() == 0L)
    val vOpt = Snapshots.compactSegments(spark, dir, targetBytes = 1L << 20)
    assert(vOpt.isDefined)
    // all segments were small: one packed (empty) segment, NO DV left
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val payload = Snapshots.readManifestPayload(f, dir, vOpt.get).split('|')
    assert(payload(0).split('+').length == 1)
    assert(payload.length < 3 || payload(2) == "-", "empty table must carry no DV")
    assert(Snapshots.read(spark, dir).count() == 0L)
  }

  test("schema-evolved tables pack in the declared shape") {
    val dir = freshDir
    Snapshots.commitVersion(spark, (1L to 5L).toDF("id"), dir)
    Snapshots.addColumn(spark, dir, "tag", org.apache.spark.sql.types.LongType)
    Snapshots.appendRows(spark, dir, Seq((6L, 60L), (7L, 70L)).toDF("id", "tag"))
    Snapshots.appendRows(spark, dir, Seq((8L, 80L)).toDF("id", "tag"))
    val before = Snapshots.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    val vOpt = Snapshots.compactSegments(spark, dir, targetBytes = 1L << 20)
    assert(vOpt.isDefined)
    assert(entrySegments(dir).size == 1)
    val after = Snapshots.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(after == before)
    // the pre-evolution nulls were materialized INTO the packed segment
    assert(after.take(5).forall(_._2 == -1L))
  }

  test("OCC: compaction racing a concurrent append loses no rows") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    (0 until 4).foreach { round =>
      val dir = freshDir
      Snapshots.commitVersion(spark, Seq(0L).toDF("id"), dir)
      (1 to 9).foreach(i => Snapshots.appendRows(spark, dir, Seq(i.toLong).toDF("id")))
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def submit(body: => Unit): Unit = pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try body catch { case t: Throwable => errs.add(t) }
        }
      })
      submit(Snapshots.compactSegments(spark, dir, targetBytes = 1L << 20))
      submit(Snapshots.appendRows(spark, dir, Seq(100L).toDF("id")))
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      assert(errs.isEmpty, s"round $round: ${errs.peek()}")
      val ids = Snapshots.read(spark, dir).as[Long].collect().sorted.toSeq
      assert(ids == ((0L to 9L) :+ 100L), s"round $round lost/duplicated rows: $ids")
    }
  }

  test("vacuum interplay: referenced segments survive, race debris is reaped") {
    val dir = freshDir
    Snapshots.commitVersion(spark, (1L to 10L).toDF("id"), dir)
    (0 until 3).foreach(i => Snapshots.appendRows(spark, dir, Seq(100L + i).toDF("id")))
    val preSegs = entrySegments(dir)
    Snapshots.compactSegments(spark, dir, targetBytes = 1L << 20)
    // every pre-compact segment is still referenced by the older versions:
    // vacuum(0) must not touch them, and time travel must keep working
    assert(Snapshots.vacuum(spark, dir, minAgeMs = 0L).isEmpty)
    preSegs.foreach { s =>
      val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(f.exists(new Path(dir, s)), s"vacuum reaped referenced segment $s")
    }
    assert(Snapshots.readVersion(spark, dir, 3L).count() == 13L)
    // simulate a lost compaction race by dropping an unpublished packed
    // dir, then vacuum reaps exactly it
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(999L).toDF("id").write.parquet(s"$dir/data_lostrace")
    assert(Snapshots.vacuum(spark, dir, minAgeMs = 0L) == Seq("data_lostrace"))
  }
}
