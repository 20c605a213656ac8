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
  }
}
