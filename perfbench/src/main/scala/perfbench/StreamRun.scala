package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.crmls.Crmls
import graft.sources.Streams
import graft.streaming.{CrmlsStream, CrmlsStreamMain, UpsertJoin}

/** The streaming workloads, through the production path: six per-topic
  * JSON-lines file sources, `CrmlsStreamMain.taggedUnionOf`, and
  * `CrmlsStream.run`, with store and sink built as `CrmlsStreamMain`
  * builds them.
  *
  * The driving script talks to this process through marker files in
  * the work directory: `seeded` (written here once the seed state is
  * drained), `go` (the live inputs or the backlog are in place, written
  * by the script), `live` (the live query is running), `warm` (its batch
  * times have settled, read by the generator), `gen_done` (the
  * generator has published its last file). Everything measured is
  * written once, at the end, to `jvm.json`.
  */
object StreamRun {
  final case class Progress(batchId: Long, startMs: Long, triggerMs: Long,
                            durations: Map[String, Long],
                            numInputRows: Long)
  final case class Snap(beforeBatch: Long, walkMs: Long,
                        state: Trace.DirDelta, sink: Trace.DirDelta,
                        changelog: Trace.DirDelta,
                        stateBuckets: Int, sinkBuckets: Int)

  /** Trigger interval of the live query: short enough that batch work,
    * not the timer, sets latency (the CLI's own default is 10 s).
    */
  val TriggerMs = 100L

  private def await(marker: File, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!marker.exists()) {
      require(System.currentTimeMillis() < deadline,
        s"timed out waiting for ${marker.getName}")
      Thread.sleep(20)
    }
  }

  private def touch(f: File): Unit =
    java.nio.file.Files.write(f.toPath, System.currentTimeMillis().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timedS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(opt: Map[String, String]): Unit = {
    val work = new File(opt("work"))
    val mode = opt("mode") // live | catchup
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val spark = Session.build(cores, s"$work/default-ckpt")
    Trace.Jvm.install()
    val src = s"$work/src"
    val job = s"$work/job"

    // the CLI's own argument parsing fixes every derived path
    val cli = Seq("--bootstrap-server", "files", "--state-path", job) ++
      CrmlsStreamMain.topicFlags.flatMap { case (f, e) => Seq(f, e) } ++
      opt.get("changelog").filter(_ == "1").toSeq
        .flatMap(_ => Seq("--changelog-dir", s"$job/changelog"))
    val cfg = CrmlsStreamMain.parse(cli.toArray)
    // exactly as CrmlsStreamMain.main constructs them
    def production(): (CrmlsStream.StateStore, UpsertJoin.ParquetUpsertSink) = {
      val store = new CrmlsStream.StateStore(spark, s"${cfg.statePath}/state")
      val sink = new UpsertJoin.ParquetUpsertSink(spark, cfg.sinkPath,
        changelogDir = cfg.changelogDir,
        changelogCheckpointEvery = cfg.changelogCheckpointEvery)
      (store, sink)
    }
    val tagged = CrmlsStreamMain.taggedUnionOf(
      CrmlsStreamMain.topicFlags.map(_._2).map { e =>
        e -> Streams.jsonLinesSource(spark, s"$src/$e")
      }.toMap)

    val progress = new ConcurrentLinkedQueue[Progress]()
    val liveFrom = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val warmMarker = new File(work, "warm")
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          .toMap
        if (d.contains("addBatch")) progress.add(Progress(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          d.getOrElse("triggerExecution", 0L), d, p.numInputRows))
        // the live query's warm-up ends once its batch times settle
        if (p.batchId >= liveFrom.get && !warmMarker.exists() &&
            Warm.settled(progress.asScala.toSeq.filter(_.batchId >=
              liveFrom.get).sortBy(_.batchId).map(_.triggerMs.toDouble), 3))
          touch(warmMarker)
      }
    })

    // traced runs: listener, timed sink, per-batch filesystem snapshots
    val snaps = new ConcurrentLinkedQueue[Snap]()
    val dirs = Seq(s"${cfg.statePath}/state", cfg.sinkPath,
      cfg.changelogDir.getOrElse(s"$job/no-changelog")).map(new File(_))
    var last = dirs.map(_ => Map.empty[String, (Long, Long)])
    def buckets(d: File): Int = {
      val f = new File(d, ".nbuckets")
      if (f.exists()) new String(java.nio.file.Files.readAllBytes(f.toPath))
        .trim.toInt else 16
    }
    def snapshot(beforeBatch: Long): Unit = synchronized {
      val t0 = System.currentTimeMillis()
      val cur = dirs.map(Trace.listing)
      val ds = last.zip(cur).map { case (p, c) => Trace.delta(p, c) }
      last = cur
      snaps.add(Snap(beforeBatch, System.currentTimeMillis() - t0,
        ds(0), ds(1), ds(2), buckets(dirs(0)), buckets(dirs(1))))
    }
    if (trace) {
      val missed = Trace.TimedSink.unforwarded(spark)
      require(missed.isEmpty, "refusing to trace: TimedSink does not " +
        s"forward ${missed.mkString(", ")} to the production sink")
      spark.sparkContext.addSparkListener(new Trace.Recorder)
    }
    def wrap(s: UpsertJoin.UpsertSink): UpsertJoin.UpsertSink =
      if (trace) new Trace.TimedSink(s, spark, snapshot) else s

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var t0 = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    def phase(name: String): Unit = {
      val t = System.currentTimeMillis(); phases(name) = t - t0; t0 = t
    }
    phase("session")
    // ---- set-up: drain the seed state (first start of the job)
    val (store0, sink0) = production()
    CrmlsStream.run(tagged, store0, wrap(sink0), cfg.checkpointDir)
      .awaitTermination()
    phase("seed")
    val seedBatches = progress.asScala.map(_.batchId).toSeq
    touch(new File(work, "seeded"))
    await(new File(work, "go"), 120000)
    phase("await_go")

    val gc0 = Trace.Jvm.gcMillis()
    Trace.enabled = trace
    Trace.everyOther = mode != "catchup"
    Trace.Jvm.watching = true
    var finalSink: UpsertJoin.ParquetUpsertSink = sink0
    if (mode == "catchup") {
      // a restart on the seeded state: fresh store and sink over the
      // same directories, one AvailableNow drain of the whole backlog
      val (store1, sink1) = production()
      finalSink = sink1
      snapshot(-1L)
      CrmlsStream.run(tagged, store1, wrap(sink1), cfg.checkpointDir)
        .awaitTermination()
    } else {
      snapshot(-1L)
      liveFrom.set(seedBatches.maxOption.getOrElse(-1L) + 1)
      val q = CrmlsStream.run(tagged, store0, wrap(sink0), cfg.checkpointDir,
        trigger = Trigger.ProcessingTime(TriggerMs))
      touch(new File(work, "live"))
      await(new File(work, "gen_done"), 170000)
      phase("window")
      q.processAllAvailable()
      q.stop()
    }
    phase("drain")
    val retainedBytes = Trace.Jvm.collectNow()
    Trace.Jvm.watching = false
    val gcMs = Trace.Jvm.gcMillis() - gc0
    snapshot(Long.MaxValue)
    Trace.enabled = false
    phase("gc")

    // ---- correctness, outside the measured window: the sink equals the
    // batch pipeline over every envelope the generator wrote, on every
    // column, both ways
    val raw: Map[String, DataFrame] = Crmls.allEntities.map { s =>
      s.name -> spark.read.text(s"$src/${s.name}")
    }.toMap
    val want = Crmls.pipeline(raw)
    val got = finalSink.snapshot(spark)
    val cols = want.columns.sorted
    val check: Map[String, Any] =
      if (got.columns.sorted.toSeq != cols.toSeq) {
        val n = want.count()
        Map("expected_rows" -> n, "mismatched_keys" -> n,
          "column_mismatch" -> true)
      } else {
        // the joined table is small: compare the two row multisets on
        // the driver, every column, in one collect per side
        def rows(df: DataFrame) = df.select(cols.map(col): _*).collect()
          .groupBy(identity).view.mapValues(_.length).toMap
        val w = rows(want)
        val g = rows(got)
        val missing = w.filter { case (r, n) => g.getOrElse(r, 0) < n }
        val extra = g.filter { case (r, n) => w.getOrElse(r, 0) < n }
        val pk = cols.indexOf("l_uc_pk")
        val bad = (missing.keys ++ extra.keys).map(_.get(pk)).toSet.size
        Map("expected_rows" -> w.values.sum, "sink_rows" -> g.values.sum,
          "missing_rows" -> missing.values.sum,
          "extra_rows" -> extra.values.sum,
          "mismatched_keys" -> bad, "column_mismatch" -> false)
      }
    phase("check")

    // ---- the batch operators of the same data, one at a time (traced)
    val crmls: Map[String, Double] = if (!trace) Map.empty else {
      val specs = Crmls.allEntities
      val projected = specs.map(s => s -> Crmls.project(raw(s.name), s))
      val projectS = timedS(projected.foreach(p => noop(p._2)))
      val pc = projected.map { case (s, df) => s -> df.cache() }
      pc.foreach(p => noop(p._2))
      val deduped = pc.map { case (s, df) => s.name -> Crmls.dedupLatest(df, s) }
      val dedupS = timedS(deduped.foreach(p => noop(p._2)))
      val dc = deduped.map { case (n, df) => n -> df.cache() }.toMap
      dc.values.foreach(noop)
      val joinS = timedS(noop(Crmls.joinAll(dc("listings"), dc("agents"),
        dc("openhouses"), dc("offices"), dc("media"), dc("history"))))
      Map("project_s" -> projectS, "dedup_s" -> dedupS, "join_s" -> joinS)
    }

    phase("crmls")
    Json.write(s"$work/jvm.json", Map(
      "phases_ms" -> phases,
      "seed_batches" -> seedBatches,
      "progress" -> progress.asScala.toSeq.sortBy(_.batchId),
      "gc_ms" -> gcMs,
      "heap_peak_after_gc_bytes" -> Trace.Jvm.peakAfterGcBytes,
      "heap_retained_bytes" -> retainedBytes,
      "check" -> check,
      "trace" -> (if (!trace) Map.empty else Map(
        "jobs" -> Trace.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
          "id" -> j.id, "batch" -> j.batchId, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "stages" -> j.stageIds)),
        "stages" -> Trace.stages.asScala.toSeq,
        "stage_job" -> Trace.stageJob.asScala.toMap,
        "sink_calls" -> Trace.sinkCalls.asScala.toSeq,
        "snapshots" -> snaps.asScala.toSeq,
        "crmls" -> crmls))))
    spark.stop()
  }
}
