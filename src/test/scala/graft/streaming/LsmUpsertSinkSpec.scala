package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The delta-mode (LSM) upsert sink must be OBSERVATIONALLY IDENTICAL
  * to merge-on-write: same snapshot after any upsert sequence, however
  * compactions interleave; appends between compactions must not touch
  * a single bucket file (that is the entire point of the mode); and a
  * restarted instance must read pending deltas correctly and fold them
  * in on its next compaction.
  */
class LsmUpsertSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def batchDf(rows: Seq[(String, Int, String)]) =
    rows.toDF("k", "v", "tag")

  // same upsert sequence, keys overlapping within and across batches
  private val batches = Seq(
    Seq(("a", 1, "b0"), ("b", 1, "b0"), ("c", 1, "b0")),
    Seq(("b", 2, "b1"), ("d", 1, "b1")),
    Seq(("a", 3, "b2"), ("d", 2, "b2"), ("e", 1, "b2")),
    Seq(("e", 2, "b3"), ("f", 1, "b3"), ("a", 4, "b3")),
    Seq(("c", 2, "b4"))
  )

  // 35 batches of 3 distinct keys over 12: three full windows of the
  // default compaction cadence plus a pending tail
  private val longBatches: Seq[Seq[(String, Int, String)]] =
    (0 until 35).map(i => Seq(0, 7, 14).map { o =>
      (s"k${(5 * i + o) % 12}", i * 10 + o, s"L$i")
    })

  /** 10 driver-array batches of 5 keys over 13 (one of them null): every
    * window of 3 covers every bucket of 4.
    */
  private val driverBatches: Seq[Seq[(String, Int, String)]] =
    (0 until 10).map(i => (0 until 5).map { o =>
      val k = (5 * i + o) % 13
      (if (k == 12) null else s"k$k", i * 10 + o, s"D$i")
    })

  private def drive(sink: UpsertJoin.UpsertSink,
                    seq: Seq[Seq[(String, Int, String)]] = batches): Unit =
    seq.foreach(b => sink.upsert("k", batchDf(b)))

  private def rowsOf(sink: UpsertJoin.UpsertSink): Set[(String, Int, String)] =
    sink.snapshot(spark).select("k", "v", "tag")
      .as[(String, Int, String)].collect().toSet

  /** Runs `body` and returns the number of compactions it ran. */
  private def compactions(body: => Unit): Int = {
    var n = 0
    UpsertJoin.compactFailpoint.set(() => n += 1)
    try body finally UpsertJoin.compactFailpoint.set(null)
    n
  }

  private final class InjectedCrash extends RuntimeException("injected")

  test("delta-mode snapshot equals merge-on-write, compacted or not") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsm").toString
    val merge = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/m",
      nBuckets = 4, deltaCompactEvery = 0)
    drive(merge)
    val expected = rowsOf(merge)
    assert(expected.nonEmpty)
    val mergeLong = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/ml",
      nBuckets = 4, deltaCompactEvery = 0)
    drive(mergeLong, longBatches)
    val expectedLong = rowsOf(mergeLong)

    // never compacts within the sequence (threshold > batches)
    val lazyLsm = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/l", 4,
      deltaCompactEvery = 100)
    drive(lazyLsm)
    assert(rowsOf(lazyLsm) === expected, "uncompacted merge-on-read")

    // compacts twice mid-sequence
    val eager = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/e", 4,
      deltaCompactEvery = 2)
    drive(eager)
    assert(rowsOf(eager) === expected, "compaction must not change the table")

    // the default sink (no changelog): three windows, each compacted
    // inline
    val default = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/d", 4)
    assert(compactions(drive(default, longBatches)) === 3)
    assert(rowsOf(default) === expectedLong, "default sink, 3 windows")

    // a restart that finds committed generations not yet compacted:
    // the first append folds them, later windows fold as usual
    val first = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/r", 4)
    drive(first, longBatches.take(15))
    val restarted = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/r", 4)
    assert(compactions(drive(restarted, longBatches.drop(15))) === 2)
    assert(rowsOf(restarted) === expectedLong, "compaction after restart")

    // a crash between the bucket swaps and the generation deletes: the
    // restarted sink replays the folded generations onto the merged
    // base (and the crashed batch itself) and converges
    val crashing = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/c", 4)
    drive(crashing, longBatches.take(9))
    UpsertJoin.compactFailpoint.set(() => throw new InjectedCrash)
    try intercept[InjectedCrash](drive(crashing, longBatches.slice(9, 10)))
    finally UpsertJoin.compactFailpoint.set(null)
    assert(new java.io.File(s"$tmp/c/__delta").listFiles()
      .count(_.getName.startsWith("g")) === 10,
      "the crash left the folded generations on disk")
    val recovered = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/c", 4)
    assert(compactions(drive(recovered, longBatches.drop(9))) === 3)
    assert(rowsOf(recovered) === expectedLong, "replay after a torn fold")

    // a window whose generations carry different column sets (a
    // column-narrowed upsert) takes the per-column fold; later windows,
    // uniform again, take the whole-row fold
    val partial = Seq(("k1", 999)).toDF("k", "v")
    val mergeMixed = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/mm", 4,
      deltaCompactEvery = 0)
    val mixed = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/x", 4)
    Seq(mergeMixed, mixed).foreach { sink =>
      assert(compactions {
        drive(sink, longBatches.take(9))
        sink.upsertPartialUnique("k", partial, 0 until 4)
        drive(sink, longBatches.drop(9))
      } === (if (sink eq mixed) 3 else 0))
    }
    assert(rowsOf(mixed) === rowsOf(mergeMixed), "mixed column sets")

    // windows of driver-array appends fold on the driver
    val schema = batchDf(batches.head).schema
    def appendRows(sink: UpsertJoin.ParquetUpsertSink,
                   seq: Seq[Seq[(String, Int, String)]]): Unit =
      seq.foreach(b => sink.upsertPreparedRowsUnique(spark, "k",
        batchDf(b).collect(), schema, 0 until 4))
    driverBatches.grouped(3).foreach(w => assert(
      w.flatten.map(r => BucketedState.bucketOfLocal(r._1, 4)).toSet ===
        (0 until 4).toSet))
    assert(driverBatches.flatten.exists(_._1 == null))
    val mergeDriver = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/dm", 4,
      deltaCompactEvery = 0)
    appendRows(mergeDriver, driverBatches)
    val expectedDriver = rowsOf(mergeDriver)
    assert(expectedDriver.exists(_._1 == null))

    // three windows of driver-array appends, each folded on the driver,
    // plus a pending tail: no job at all
    val folded = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/df", 4,
      deltaCompactEvery = 3)
    var n = 0
    assert(jobsIn { n = compactions(appendRows(folded, driverBatches)) } === 0)
    assert(n === 3)
    assert(rowsOf(folded) === expectedDriver, "three driver-folded windows")

    // a crash between the driver fold's swaps and its generation
    // deletes: the restarted sink replays the folded generations (and
    // the crashed batch) through the Spark path and converges
    val crashingDriver = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/dc", 4,
      deltaCompactEvery = 3)
    appendRows(crashingDriver, driverBatches.take(5))
    UpsertJoin.compactFailpoint.set(() => throw new InjectedCrash)
    try assert(jobsIn(intercept[InjectedCrash](
      appendRows(crashingDriver, driverBatches.slice(5, 6)))) === 0)
    finally UpsertJoin.compactFailpoint.set(null)
    assert(new java.io.File(s"$tmp/dc/__delta").listFiles()
      .count(_.getName.startsWith("g")) === 3,
      "the crash left the folded generations on disk")
    val recoveredDriver = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/dc", 4,
      deltaCompactEvery = 3)
    assert(compactions(appendRows(recoveredDriver, driverBatches.drop(5))) === 2)
    assert(rowsOf(recoveredDriver) === expectedDriver,
      "replay after a torn driver fold")

    // driver appends, each within the row cap, whose window together
    // passes it: the Spark path folds that window
    val half = UpsertJoin.ParquetUpsertSink.DriverAppendMaxRows / 2 + 1
    val big = Seq("B0", "B1").map(t =>
      Seq(((0 until half).map(i => (s"k$i", i, t)))))
    val mergeBig = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/dmb", 4,
      deltaCompactEvery = 0)
    big.foreach(appendRows(mergeBig, _))
    val capped = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/db", 4,
      deltaCompactEvery = 2)
    assert(jobsIn(appendRows(capped, big.head)) === 0)
    assert(jobsIn { n = compactions(appendRows(capped, big(1))) } > 0)
    assert(n === 1)
    assert(rowsOf(capped) === rowsOf(mergeBig), "a window past the row cap")
  }

  /** Three windows over 4 buckets: every key with (k, ts, p); `extra`
    * added to one key of bucket 3 only; then an update of a key in
    * bucket 0 and of the bucket-3 key. Bucket files sort bucket_0 before
    * bucket_3, so a base read that took its schema from the first file
    * alone would rewrite bucket 3 without `extra`.
    */
  private def widenOneBucket(deltaCompactEvery: Int): Unit = {
    def bucket(k: String) = BucketedState.bucketOfLocal(k, 4)
    val keys = (0 until 40).map(i => s"k$i")
    val k0 = keys.find(bucket(_) == 0).get
    val k3 = keys.find(bucket(_) == 3).get
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsm-wide").toString
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = deltaCompactEvery)
    sink.upsert("k", keys.map(k => (k, 1L, "p1")).toDF("k", "ts", "p"))
    sink.upsertPartialUnique("k", Seq((k3, "x")).toDF("k", "extra"), Seq(3))
    val update = Seq((k0, 2L, "p2"), (k3, 2L, "p2")).toDF("k", "ts", "p")
    // delta mode folds a full-row generation; merge-on-write merges a
    // batch carrying every base column through the partial form
    if (deltaCompactEvery > 0) sink.upsert("k", update)
    else sink.upsertPartialUnique("k", update, Seq(0, 3))
    val snap = sink.snapshot(spark)
    assert(snap.columns.contains("extra"))
    assert(snap.select("k", "ts", "p", "extra")
      .as[(String, Long, String, Option[String])]
      .collect().filter(r => r._1 == k0 || r._1 == k3).toSet ===
      Set((k0, 2L, "p2", None), (k3, 2L, "p2", Some("x"))))
  }

  test("a compaction keeps a column only some of its buckets carry") {
    widenOneBucket(deltaCompactEvery = 1)
  }

  test("a merge-on-write partial merge keeps a column only some of its buckets carry") {
    widenOneBucket(deltaCompactEvery = 0)
  }

  test("a forced compaction plans its base read without a job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsm-jobs").toString
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 100)
    val schema = batchDf(batches.head).schema
    def appendRows(): Unit = batches.foreach(b =>
      sink.upsertPreparedRowsUnique(spark, "k", batchDf(b).collect(), schema,
        0 until 4))
    appendRows()
    sink.forceCompact("k")
    // a window of driver-array appends folds on the driver
    appendRows()
    assert(jobsIn(sink.forceCompact("k")) === 0)
    // a window holding a frame append takes the Spark path: the
    // discovery of the frame generation's buckets (a distinct collect,
    // two jobs) and the merge-and-write's three; the base read takes
    // its schema from the bucket footers
    appendRows()
    sink.upsertPreparedUnique("k", batchDf(batches.head), 0 until 4)
    assert(jobsIn(sink.forceCompact("k")) === 5)
  }

  test("appends between compactions write only delta files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsm2").toString
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 100)
    sink.upsert("k", batchDf(batches.head))
    // compact by hand so bucket files exist, then snapshot the tree
    val compacted = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 1)
    compacted.upsert("k", batchDf(batches(1)))
    val before = graft.StreamBench.fileSizes(Seq(s"$tmp/s"))
    assert(before.keys.exists(_.contains("bucket_")), "compaction ran")

    val appender = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 100)
    appender.upsert("k", batchDf(batches(2)))
    val after = graft.StreamBench.fileSizes(Seq(s"$tmp/s"))
    val changedBuckets = after.collect {
      case (p, sz) if p.contains("bucket_") && !before.get(p).contains(sz) => p
    }
    assert(changedBuckets.isEmpty,
      s"a delta append modified bucket files:\n${changedBuckets.mkString("\n")}")
    assert(after.keys.exists(_.contains("__delta")), "the delta file landed")
  }

  test("restart with pending deltas: snapshot correct, next upsert folds them") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsm3").toString
    val first = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 100)
    batches.take(3).foreach(b => first.upsert("k", batchDf(b)))

    // fresh instance over the same dir (e.g. after a driver restart)
    val second = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 100)
    val merge = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/m",
      nBuckets = 4, deltaCompactEvery = 0)
    batches.take(3).foreach(b => merge.upsert("k", batchDf(b)))
    assert(rowsOf(second) === rowsOf(merge), "restart reads pending deltas")

    // restart-with-deltas forces compaction on the next upsert; later
    // batches must still beat the replayed earlier generations
    second.upsert("k", batchDf(batches(3)))
    merge.upsert("k", batchDf(batches(3)))
    assert(rowsOf(second) === rowsOf(merge), "post-restart fold keeps order")
    assert(!new java.io.File(s"$tmp/s/__delta").exists() ||
      new java.io.File(s"$tmp/s/__delta").listFiles()
        .forall(!_.getName.startsWith("g")),
      "forced compaction cleared the pending deltas")
  }

  test("jobless driver-array appends are observationally identical to frame appends") {
    // upsertPreparedRowsUnique (chunked LocalParquet, zero jobs) vs
    // upsertPreparedUnique (frame path): same gens-on-disk semantics,
    // same snapshot, same compaction fold, same restart recovery —
    // including multi-part gen dirs (chunked writes)
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsm4").toString
    val viaRows = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/r", 4,
      deltaCompactEvery = 3)
    val viaFrame = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/f", 4,
      deltaCompactEvery = 3)
    val schema = batchDf(batches.head).schema
    batches.foreach { b =>
      val df = batchDf(b)
      viaRows.upsertPreparedRowsUnique(spark, "k", df.collect(), schema,
        0 until 4)
      viaFrame.upsertPreparedUnique("k", df, 0 until 4)
    }
    assert(rowsOf(viaRows) === rowsOf(viaFrame))
    // restart over the rows-appended dir (pending gens survive)
    val reopened = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/r", 4,
      deltaCompactEvery = 3)
    assert(rowsOf(reopened) === rowsOf(viaFrame))

    // windows mixing both forms, keys in three different buckets: the
    // sink knows the buckets of its driver-array generations; a frame
    // generation's, or those pending across a restart, the compaction
    // must find in the generation files
    def bucket(k: String) = BucketedState.bucketOfLocal(k, 4)
    val keys = ('a' to 'z').map(_.toString)
    val a = keys.head
    val b = keys.find(k => bucket(k) != bucket(a)).get
    val c = keys.find(k => !Set(a, b).map(bucket).contains(bucket(k))).get
    val merge = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/m", 4,
      deltaCompactEvery = 0)
    val mixed = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/x", 4,
      deltaCompactEvery = 3)
    def rows(sink: UpsertJoin.ParquetUpsertSink,
             rs: (String, Int, String)*): Unit =
      sink.upsertPreparedRowsUnique(spark, "k", batchDf(rs).collect(), schema,
        0 until 4)
    def both(append: UpsertJoin.ParquetUpsertSink => Unit): Unit = {
      append(merge); append(mixed)
    }
    assert(compactions {
      both(rows(_, (a, 1, "w1")))
      both(_.upsertPreparedUnique("k", batchDf(Seq((b, 1, "w1"))), 0 until 4))
      both(rows(_, (a, 2, "w1")))
    } === 1)
    assert(rowsOf(mixed) === rowsOf(merge), "window with a frame append")
    assert(compactions {
      both(rows(_, (a, 3, "w2"), (c, 1, "w2")))
      both(rows(_, (b, 2, "w2")))
      both(rows(_, (a, 4, "w2")))
    } === 1)
    assert(rowsOf(mixed) === rowsOf(merge), "window of driver-array appends")
    both(rows(_, (a, 5, "w3")))
    both(rows(_, (b, 3, "w3")))
    val restarted = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/x", 4,
      deltaCompactEvery = 3)
    rows(merge, (c, 2, "w3"))
    assert(compactions(rows(restarted, (c, 2, "w3"))) === 1)
    assert(new java.io.File(s"$tmp/x/__delta").listFiles()
      .forall(!_.getName.startsWith("g")), "the fold cleared the generations")
    assert(rowsOf(restarted) === rowsOf(merge), "fold after a restart")
  }
}
