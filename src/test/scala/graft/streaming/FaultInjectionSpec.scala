package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.crmls.Crmls

/** Systematic crash-window matrix for the streaming store: kill the
  * batch at EVERY phase boundary of [[CrmlsStream.processBatch]] (the
  * windows are enumerated from the code's own `mark` labels via
  * [[CrmlsStream.failpoint]], never hand-picked), restart with fresh
  * store/sink instances over the same directories — the crashed-JVM
  * shape — replay the batch, finish the history, and assert the final
  * table equals the batch-pipeline oracle. Run twice: on the fused
  * (driver-resident) tier and on the forced over-cap distributed tier,
  * whose fold/promote/dist-snapshot interactions are the windows the
  * round-9 self-audit bugs lived in. The column-family sink's
  * documented torn-batch window (a crash BETWEEN two families' appends
  * of one logical batch) gets the same treatment via
  * [[ColumnFamilySink.familyFailpoint]].
  */
class FaultInjectionSpec extends SparkTestBase {
  import spark.implicits._

  private final class InjectedCrash(val window: String)
    extends RuntimeException(s"injected crash at $window")

  private def env(pk: String, ts: Long, data: String): String = {
    val d = data.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"data":"$d","uc_pk":"$pk","uc_update_ts":"u$ts","uc_version":"1",""" +
      s""""uc_created_ts":"$ts","uc_row_type":"r","uc_type":"t",""" +
      s""""uc_valid_day":"1","uc_valid_ts":"$ts"}"""
  }

  // mixed history exercising every discovery path: direct listing
  // updates, reverse-index dim fan-out (agents/offices/openhouses),
  // pk-direct media/history, out-of-order versions, a stale update
  private val history: Seq[(String, String)] = Seq(
    "listings" -> env("L1", 100, """{"ListingKeyNumeric":"LK1","ListAgentKeyNumeric":"A1","BuyerAgentKeyNumeric":"A2","ListOfficeKeyNumeric":"O1"}"""),
    "agents" -> env("A1", 10, """{"n":"a1v1"}"""),
    "listings" -> env("L2", 90, """{"ListingKeyNumeric":"LK2","ListAgentKeyNumeric":"A1"}"""),
    "agents" -> env("A2", 11, """{"n":"a2v1"}"""),
    "offices" -> env("O1", 7, """{"n":"o1"}"""),
    "openhouses" -> env("OH1", 5, """{"ListingKeyNumeric":"LK1"}"""),
    "listings" -> env("L1", 200, """{"ListingKeyNumeric":"LK1","ListAgentKeyNumeric":"A1","ListOfficeKeyNumeric":"O1"}"""),
    "agents" -> env("A1", 30, """{"n":"a1v3"}"""),
    "agents" -> env("A1", 20, """{"n":"a1v2-late"}"""),
    "media" -> env("M1", 3, """{"ResourceRecordKeyNumeric":"L1"}"""),
    "history" -> env("H1", 4, """{"ResourceRecordKeyNumeric":"L2"}"""),
    "listings" -> env("L2", 80, """{"ListingKeyNumeric":"LK2-stale"}""")
  )
  private val splits = Seq(history.take(3), history.slice(3, 7),
    history.slice(7, 10), history.drop(10))

  private val compareCols = Seq("l_uc_pk", "l_uc_created_ts",
    "l_listing_key", "aa_uc_pk", "aa_uc_created_ts", "ab_uc_pk",
    "oa_uc_pk", "o_listing_key", "m_resource_record_key",
    "h_resource_record_key")

  private lazy val expected: Set[Seq[Any]] = {
    val byEntity = history.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toDF("value")
    }
    val full = Crmls.allEntities.map(s => s.name ->
      byEntity.getOrElse(s.name, Seq.empty[String].toDF("value"))).toMap
    Crmls.pipeline(full).select(compareCols.map(col): _*)
      .collect().map(_.toSeq).toSet
  }

  private def batchDf(rows: Seq[(String, String)]) =
    rows.toDF("entity", "value")

  private type MkStore = String => CrmlsStream.StateStore
  private val defaultStore: MkStore =
    dir => new CrmlsStream.StateStore(spark, dir)
  private val overCapStore: MkStore =
    dir => new CrmlsStream.StateStore(spark, dir,
      localSnapshotMaxRows = 1, idxLocalMaxRows = 1)

  /** Phases each batch actually crosses, recorded from a clean run —
    * the matrix is derived, not hand-listed.
    */
  private def discoverPhases(mkStore: MkStore): Seq[(Int, String)] = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fi-d").toString
    val store = mkStore(s"$tmp/state")
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink", 4)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    splits.zipWithIndex.foreach { case (b, i) =>
      CrmlsStream.failpoint.set(p => seen.synchronized { seen += i -> p })
      try CrmlsStream.processBatch(spark, batchDf(b), store, sink)
      finally CrmlsStream.failpoint.set(null)
    }
    seen.distinct.toSeq
  }

  /** Replay the whole history, crashing batch `killBatch` at phase
    * `killPhase`, then restarting (FRESH store + sink over the same
    * dirs) and replaying it. Returns the final table.
    */
  private def runWithCrash(mkStore: MkStore, killBatch: Int,
                           killPhase: String): Set[Seq[Any]] = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fi").toString
    var store = mkStore(s"$tmp/state")
    var sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink", 4)
    splits.zipWithIndex.foreach { case (b, i) =>
      if (i == killBatch) {
        val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
        CrmlsStream.failpoint.set { p =>
          if (p == killPhase && armed.getAndSet(false))
            throw new InjectedCrash(p)
        }
        val crashed =
          try {
            CrmlsStream.processBatch(spark, batchDf(b), store, sink)
            false
          } catch { case _: InjectedCrash => true }
          finally CrmlsStream.failpoint.set(null)
        assert(crashed, s"failpoint $killPhase did not fire on batch $i")
        // restart: new instances over the same dirs, replay the batch
        store = mkStore(s"$tmp/state")
        sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink", 4)
        CrmlsStream.processBatch(spark, batchDf(b), store, sink)
      } else CrmlsStream.processBatch(spark, batchDf(b), store, sink)
    }
    sink.snapshot(spark).select(compareCols.map(col): _*)
      .collect().map(_.toSeq).toSet
  }

  test("crash matrix, fused tier: every (batch, phase) window replays " +
      "to the batch oracle") {
    val windows = discoverPhases(defaultStore)
    assert(windows.map(_._2).distinct.size >= 5,
      s"suspiciously few phases discovered: $windows")
    windows.foreach { case (b, p) =>
      assert(runWithCrash(defaultStore, b, p) === expected,
        s"crash at batch $b phase $p must converge after replay")
    }
  }

  test("crash matrix, forced over-cap tier: every (batch, phase) window " +
      "replays to the batch oracle through the distributed paths") {
    val windows = discoverPhases(overCapStore)
    assert(windows.map(_._2).distinct.size >= 5,
      s"suspiciously few phases discovered: $windows")
    windows.foreach { case (b, p) =>
      assert(runWithCrash(overCapStore, b, p) === expected,
        s"over-cap crash at batch $b phase $p must converge after replay")
    }
  }

  test("sink rehash crash matrix: a kill at every rehash window heals " +
      "to an identical table and the rehash completes on resume") {
    // every window rehashTo actually crosses, including the two-rename
    // swap's torn middle; "done" is the post-cleanup no-op shape
    val windows = Seq("folded", "marked", "built", "mid-swap", "promoted",
      "done")
    windows.foreach { killAt =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-fi-rh").toString
      val store = defaultStore(s"$tmp/state")
      // delta mode so the crash also windows the forced pending fold
      def mkSink() = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink", 4,
        deltaCompactEvery = 10)
      var sink = mkSink()
      splits.foreach(b => CrmlsStream.processBatch(spark, batchDf(b), store,
        sink))
      val before = sink.snapshot(spark).select(compareCols.map(col): _*)
        .collect().map(_.toSeq).toSet
      assert(before === expected)

      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/sink.nbuckets_next"), "32")
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      UpsertJoin.rehashFailpoint.set { w =>
        if (w == killAt && armed.getAndSet(false))
          throw new InjectedCrash(w)
      }
      val crashed =
        try { sink.maybeRehashIfDue("l_uc_pk"); false }
        catch { case _: InjectedCrash => true }
        finally UpsertJoin.rehashFailpoint.set(null)
      assert(crashed, s"rehash failpoint $killAt did not fire")

      // restart: a fresh instance heals any torn swap at construction
      // and must serve the identical table
      sink = mkSink()
      assert(sink.snapshot(spark).select(compareCols.map(col): _*)
        .collect().map(_.toSeq).toSet === expected,
        s"table diverged after crash at $killAt")
      // resume: the pending marker (if the crash preserved it) finishes
      // the rehash; either way the layout and stamp end consistent and
      // the table is unchanged
      sink.maybeRehashIfDue("l_uc_pk")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$tmp/sink.nbuckets_next")),
        s"marker must not survive resume after crash at $killAt")
      assert(sink.snapshot(spark).select(compareCols.map(col): _*)
        .collect().map(_.toSeq).toSet === expected,
        s"table diverged after resume from crash at $killAt")
      // every window's resume completes to the marker's count (the
      // marker predates even the "folded" window — the test wrote it)
      assert(sink.bucketCount === Some(32),
        s"resume after $killAt must land on the marker count")
      // and the instance keeps converging under the final layout
      CrmlsStream.processBatch(spark, batchDf(splits.last),
        defaultStore(s"$tmp/state"), sink)
      assert(sink.snapshot(spark).select(compareCols.map(col): _*)
        .collect().map(_.toSeq).toSet === expected)
    }
  }

  test("cf torn batch: a crash between two families' appends of one " +
      "logical batch converges once the batch replays") {
    val fams = DimEnrich.roleFamilies
    val famNames = fams.map(_._1) :+ "base"
    // kill before EVERY family position (the first family's append may
    // complete, later ones never run — and the position-0 kill is the
    // nothing-written shape)
    famNames.foreach { killFam =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-fi-cf").toString
      var store = defaultStore(s"$tmp/state")
      def mkSink() = new ColumnFamilySink(spark, s"$tmp/sink", fams, 4)
      var sink: UpsertJoin.UpsertSink = mkSink()
      splits.zipWithIndex.foreach { case (b, i) =>
        if (i == 2) { // the dim-heavy batch fans updates across families
          val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
          ColumnFamilySink.familyFailpoint.set { f =>
            if (f == killFam && armed.getAndSet(false))
              throw new InjectedCrash(s"family $f")
          }
          val crashed =
            try {
              CrmlsStream.processBatch(spark, batchDf(b), store, sink)
              false
            } catch { case _: InjectedCrash => true }
            finally ColumnFamilySink.familyFailpoint.set(null)
          // some batches may not touch the family at all — then the
          // batch simply completed and there is nothing to replay
          if (crashed) {
            store = defaultStore(s"$tmp/state")
            sink = mkSink()
            CrmlsStream.processBatch(spark, batchDf(b), store, sink)
          }
        } else CrmlsStream.processBatch(spark, batchDf(b), store, sink)
      }
      val got = sink.snapshot(spark).select(compareCols.map(col): _*)
        .collect().map(_.toSeq).toSet
      assert(got === expected,
        s"torn-batch crash before family $killFam must converge")
    }
  }
}
