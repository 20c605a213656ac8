package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.crmls.Crmls

/** The strongest correctness statement for the streaming job: feeding
  * the SAME envelope history through the batch pipeline
  * (Crmls.pipeline) and through CrmlsStream micro-batches must converge
  * to the same joined table — regardless of how the history is split
  * into batches or reordered within the lateness bound.
  */
class BatchStreamEquivalenceSpec extends SparkTestBase {
  import spark.implicits._

  private def env(pk: String, ts: Long, data: String): String = {
    val d = data.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"data":"$d","uc_pk":"$pk","uc_update_ts":"u$ts","uc_version":"1",""" +
      s""""uc_created_ts":"$ts","uc_row_type":"r","uc_type":"t",""" +
      s""""uc_valid_day":"1","uc_valid_ts":"$ts"}"""
  }

  // a history with re-updates, out-of-order versions, and every entity
  private val history: Seq[(String, String)] = Seq(
    "listings" -> env("L1", 100, """{"ListingKeyNumeric":"LK1","ListAgentKeyNumeric":"A1","BuyerAgentKeyNumeric":"A2","ListOfficeKeyNumeric":"O1"}"""),
    "agents" -> env("A1", 10, """{"n":"a1v1"}"""),
    "listings" -> env("L2", 90, """{"ListingKeyNumeric":"LK2","ListAgentKeyNumeric":"A1"}"""),
    "agents" -> env("A2", 11, """{"n":"a2v1"}"""),
    "offices" -> env("O1", 7, """{"n":"o1"}"""),
    "openhouses" -> env("OH1", 5, """{"ListingKeyNumeric":"LK1"}"""),
    "listings" -> env("L1", 200, """{"ListingKeyNumeric":"LK1","ListAgentKeyNumeric":"A1","ListOfficeKeyNumeric":"O1"}"""),
    "agents" -> env("A1", 30, """{"n":"a1v3"}"""),
    "agents" -> env("A1", 20, """{"n":"a1v2-late"}"""), // out of order
    "media" -> env("M1", 3, """{"ResourceRecordKeyNumeric":"L1"}"""),
    "history" -> env("H1", 4, """{"ResourceRecordKeyNumeric":"L2"}"""),
    "listings" -> env("L2", 80, """{"ListingKeyNumeric":"LK2-stale"}""") // stale
  )

  private val compareCols = Seq("l_uc_pk", "l_uc_created_ts", "l_listing_key",
    "aa_uc_pk", "aa_uc_created_ts", "ab_uc_pk", "oa_uc_pk",
    "o_listing_key", "m_resource_record_key", "h_resource_record_key")

  private def batchResult(
      history: Seq[(String, String)] = history,
      cols: Seq[String] = compareCols): Set[Seq[Any]] = {
    val byEntity = history.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toDF("value")
    }
    val full = Crmls.allEntities.map(s =>
      s.name -> byEntity.getOrElse(s.name, Seq.empty[String].toDF("value"))).toMap
    Crmls.pipeline(full).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
  }

  private def streamResult(batchSplits: Seq[Seq[(String, String)]],
      narrow: Boolean = false,
      mkSink: String => UpsertJoin.UpsertSink =
        _ => UpsertJoin.newInMemorySink(),
      mkStore: (String, org.apache.spark.sql.SparkSession) =>
        CrmlsStream.StateStore =
        (tmp, s) => new CrmlsStream.StateStore(s, s"$tmp/state"),
      driverBatchMaxRows: Int = CrmlsStream.DriverBatchMaxRows,
      driverAffectedMaxRows: Int = CrmlsStream.DriverAffectedMaxRows,
      sourcePartitions: Option[Int] = None,
      cols: Seq[String] = compareCols)
      : Set[Seq[Any]] = {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-eq").toString
    val store = mkStore(tmp, spark)
    val sink = mkSink(tmp)
    val input = sourcePartitions.fold(MemoryStream[(String, String)])(
      MemoryStream[(String, String)](_))
    val tagged = input.toDF().toDF("entity", "value")
    batchSplits.foreach { b =>
      input.addData(b: _*)
      CrmlsStream.run(tagged, store, sink, s"$tmp/ckpt", narrow,
        driverBatchMaxRows = driverBatchMaxRows,
        driverAffectedMaxRows = driverAffectedMaxRows)
        .awaitTermination()
    }
    sink.snapshot(spark).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
  }

  test("streaming converges to the batch result, any batch split") {
    val expected = batchResult()
    assert(expected.nonEmpty)
    // one big batch
    assert(streamResult(Seq(history)) === expected)
    // record-at-a-time-ish: four uneven batches
    val splits = Seq(history.take(3), history.slice(3, 7),
      history.slice(7, 10), history.drop(10))
    assert(streamResult(splits) === expected)
  }

  test("a wide batch (48 source partitions) converges like one partition") {
    // past 16 source partitions processBatch coalesces to srcParts / 4
    // (12 here), so the driver tier's bounded probe take spans several
    // partitions, most of them empty; the legacy tier caches the same
    // coalesced batch and re-scans it per entity
    val reupdates = (0 until 20).map { i =>
      "listings" -> env(s"L${i % 3 + 1}", 300 + i,
        s"""{"ListingKeyNumeric":"LK${i % 3 + 1}-v$i",""" +
          s""""ListAgentKeyNumeric":"A${i % 2 + 1}","ListOfficeKeyNumeric":"O1"}""")
    }
    val long = history ++ reupdates
    val cols = Crmls.pipeline(Crmls.allEntities.map(s =>
      s.name -> Seq.empty[String].toDF("value")).toMap).columns.toSeq
    val expected = batchResult(long, cols)
    assert(expected.nonEmpty)
    val one = streamResult(Seq(long), sourcePartitions = Some(1), cols = cols)
    assert(one === expected, "one partition")
    assert(streamResult(Seq(long), sourcePartitions = Some(48),
      cols = cols) === one, "48 partitions, driver tier")
    assert(streamResult(Seq(long), sourcePartitions = Some(48), cols = cols,
      driverBatchMaxRows = 0) === one, "48 partitions, legacy tier")
  }

  test("forced over-cap fallback: middle + legacy distributed tiers " +
      "converge to the batch result") {
    val expected = batchResult()
    val splits = Seq(history.take(3), history.slice(3, 7),
      history.slice(7, 10), history.drop(10))
    // snapshot caps forced to 1 row: every entity overflows the local
    // tier immediately, so every batch runs the MIDDLE tier's
    // distributed merge frames (the lazily-built plans the fused path
    // never executes) and the persisted-snapshot/fullState join legs
    val tiny = (tmp: String, s: org.apache.spark.sql.SparkSession) =>
      new CrmlsStream.StateStore(s, s"$tmp/state",
        localSnapshotMaxRows = 1, idxLocalMaxRows = 1)
    assert(streamResult(splits, mkStore = tiny) === expected,
      "middle tier (snapshot caps forced to 1)")
    // additionally force the LEGACY discovery aggregation and the
    // distributed affected-key fallback: batch row budget 0 (no batch
    // qualifies for the driver tier), affected probe budget 0
    assert(streamResult(splits, mkStore = tiny,
      driverBatchMaxRows = 0, driverAffectedMaxRows = 0) === expected,
      "legacy tier (all driver budgets forced to 0)")
    // and the file-backed sink through the same forced tiers
    assert(streamResult(splits, mkStore = tiny,
      mkSink = tmp => new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink", 4),
      driverBatchMaxRows = 0, driverAffectedMaxRows = 0) === expected,
      "legacy tier, parquet sink")
  }

  test("legacy discovery OVERFLOW: capped key lists are never used truncated") {
    val expected = batchResult()
    // discLimit = (entities + 1) * nBuckets + driverAffectedMaxRows + 1
    // = 7 * 2 + 0 + 1 = 15 with two buckets and a zero affected budget.
    // The whole 12-row history in ONE batch produces > 15 discovery
    // rows (bucket legs across 6 entities + idx, direct pks, dim keys),
    // so the legacy tier's discovery collect overflows, re-collects the
    // bucket legs only, and the affected-key resolution MUST fall back
    // to the distributed lookup join instead of trusting a truncated
    // key list.
    val tiny = (tmp: String, s: org.apache.spark.sql.SparkSession) =>
      new CrmlsStream.StateStore(s, s"$tmp/state", nBuckets = 2,
        localSnapshotMaxRows = 1, idxLocalMaxRows = 1)
    assert(streamResult(Seq(history), mkStore = tiny,
      driverBatchMaxRows = 0, driverAffectedMaxRows = 0) === expected)
    // and split across two batches so a later batch's dim updates fan
    // out through the reverse index under the same overflow regime
    assert(streamResult(Seq(history.take(7), history.drop(7)),
      mkStore = tiny, driverBatchMaxRows = 0,
      driverAffectedMaxRows = 0) === expected)
  }

  test("mixed residency: listings evicted, dims resident — the broadcast " +
      "enrichment tier converges") {
    // cap = 2 keeps the 2-key dims resident while the 3-key listings
    // table overflows: a dim-only follow-up batch then resolves
    // affected keys from the resident reverse index but must read +
    // semi-join listing FILES and enrich through the dim-map BROADCAST
    // mapPartitions tier (DimEnrich.enrich/enrichPartial) — the one
    // processBatch tier neither the all-local nor the all-evicted
    // equivalence cases reach.
    val hist = Seq(
      "listings" -> env("L1", 100, """{"ListingKeyNumeric":"LK1","ListAgentKeyNumeric":"A1"}"""),
      "listings" -> env("L2", 100, """{"ListingKeyNumeric":"LK2","ListAgentKeyNumeric":"A2"}"""),
      "listings" -> env("L3", 100, """{"ListingKeyNumeric":"LK3","ListAgentKeyNumeric":"A1"}"""),
      "agents" -> env("A1", 10, """{"n":"a1v1"}"""),
      "agents" -> env("A2", 10, """{"n":"a2v1"}"""),
      "media" -> env("M1", 5, """{"ResourceRecordKeyNumeric":"L2"}"""))
    val dimUpdate = Seq(
      "agents" -> env("A1", 30, """{"n":"a1v2"}"""))
    val full = hist ++ dimUpdate
    val byEntity = full.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toDF("value") }
    val expected = Crmls.pipeline(Crmls.allEntities.map(s => s.name ->
        byEntity.getOrElse(s.name, Seq.empty[String].toDF("value"))).toMap)
      .select(compareCols.map(col): _*).collect().map(_.toSeq).toSet
    val mixedCap = (tmp: String, s: org.apache.spark.sql.SparkSession) =>
      new CrmlsStream.StateStore(s, s"$tmp/state",
        localSnapshotMaxRows = 2)
    val before = DimEnrich.broadcastEnrichCalls.get()
    assert(streamResult(Seq(hist, dimUpdate), mkStore = mixedCap)
      === expected, "full-row broadcast enrichment tier")
    assert(streamResult(Seq(hist, dimUpdate), narrow = true,
      mkStore = mixedCap) === expected,
      "narrowed broadcast enrichment tier")
    assert(DimEnrich.broadcastEnrichCalls.get() >= before + 2,
      "the broadcast mapPartitions tier must actually have run — the " +
        "equivalence would otherwise pass through a different path")
  }

  test("column-family changelog under the streaming job: reassembly at the " +
      "final batch equals the batch oracle") {
    val expected = batchResult()
    val perRecord = history.map(Seq(_))
    var sinkRef: Option[ColumnFamilySink] = None
    val got = streamResult(perRecord, narrow = true, mkSink = tmp => {
      val s = new ColumnFamilySink(spark, s"$tmp/cfsink",
        graft.streaming.DimEnrich.roleFamilies, nBuckets = 4,
        changelogDir = Some(s"$tmp/cfcl"))
      sinkRef = Some(s)
      s
    })
    assert(got === expected, "live cf table")
    // the per-family retract logs alone reconstruct the same table
    val cf = sinkRef.get
    val maxBatch = Long.MaxValue
    val reassembled = cf.changelogSnapshotAt(spark, maxBatch)
      .select(compareCols.map(col): _*)
      .collect().map(_.toSeq).toSet
    assert(reassembled === expected, "changelog reassembly")
  }

  test("the CLI's default sink converges across compaction windows") {
    // one micro-batch per record, with enough listing re-updates for
    // the default sink to fill at least two compaction windows
    val updates = (0 until 20).map { i =>
      "listings" -> env(s"L${i % 3 + 1}", 300 + i,
        s"""{"ListingKeyNumeric":"LK${i % 3 + 1}-v$i",""" +
          s""""ListAgentKeyNumeric":"A${i % 2 + 1}","ListOfficeKeyNumeric":"O1"}""")
    }
    val long = history ++ updates
    val compactions = new java.util.concurrent.atomic.AtomicInteger()
    UpsertJoin.compactFailpoint.set(() => compactions.incrementAndGet())
    val got =
      try streamResult(long.map(Seq(_)), mkSink = tmp =>
        // as CrmlsStreamMain.main builds it without --changelog-dir:
        // the directory and the defaults
        new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink"))
      finally UpsertJoin.compactFailpoint.set(null)
    assert(got === batchResult(long))
    assert(compactions.get >= 2,
      s"expected >= 2 compaction windows, ran $compactions")
  }

  test("narrowed dim-only sink deltas converge to the same table") {
    val expected = batchResult()
    // record-at-a-time maximizes dim-only batches (each dim update is
    // its own micro-batch and must arrive as a column-narrowed partial
    // upsert of exactly the affected keys' role columns)
    val perRecord = history.map(Seq(_))
    assert(streamResult(perRecord, narrow = true) === expected,
      "in-memory sink, narrowed")
    // file-backed LSM sink: narrow generations fold per column across
    // compaction windows and merge-on-read
    assert(streamResult(perRecord, narrow = true, tmp =>
      new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink", 4,
        deltaCompactEvery = 3)) === expected,
      "LSM parquet sink, narrowed")
    // and the same splits WITHOUT narrowing agree (control)
    assert(streamResult(perRecord) === expected, "control, full rows")
  }
}
