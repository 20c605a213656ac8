package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.streaming.UpsertJoin

/** Raw spans and counters of a traced run. Everything stays in memory
  * and is written out once, by [[Out]], after the measured window. The
  * harness attributes spans to micro-batches and catalog queries; the
  * arithmetic over them (percentiles, self time) lives in `stats.py`.
  */
object Trace {
  /** Whether a micro-batch (by id) or a catalog pass (by number) is
    * traced. A traced run traces every other batch or pass, so it can
    * price its own overhead against the untraced ones in between; a
    * single-batch drain traces its one batch.
    */
  @volatile var enabled: Boolean = false
  @volatile var everyOther: Boolean = true
  def traced(unit: Long): Boolean =
    enabled && unit >= 0 && (!everyOther || unit % 2 == 0)
  /** Catalog query name and pass number the planning phases of the
    * calling thread's actions are attributed to (jobs carry the same
    * pair as `perfbench.query` / `perfbench.pass` job properties;
    * streaming jobs carry Spark's own batch id).
    */
  @volatile var query: String = ""
  @volatile var pass: Int = -1

  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int],
                       batchId: Long, query: String, pass: Int) {
    @volatile var endMs: Long = -1L
  }
  final case class Stage(id: Int, tasks: Int, runMs: Long,
                         shuffleRead: Long, shuffleWrite: Long)
  final case class SinkCall(batchId: Long, method: String,
                            startMs: Long, endMs: Long)
  final case class Phases(query: String, pass: Int,
                          phases: Map[String, Long])

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val sinkCalls = new ConcurrentLinkedQueue[SinkCall]()
  val planning = new ConcurrentLinkedQueue[Phases]()

  def currentBatch(spark: SparkSession): Long =
    Option(spark.sparkContext.getLocalProperty("streaming.sql.batchId"))
      .map(_.toLong).getOrElse(-1L)

  /** Job, stage and task spans, attributed to batches through the
    * `streaming.sql.batchId` job property.
    */
  final class Recorder extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val batch = props.flatMap(p =>
        Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
        .getOrElse(-1L)
      val p = props.flatMap(p => Option(p.getProperty("perfbench.pass")))
        .map(_.toInt).getOrElse(-1)
      if (traced(batch) || traced(p.toLong)) {
        val q = props.flatMap(p => Option(p.getProperty("perfbench.query")))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds, batch, q, p))
        e.stageIds.foreach(id => stageJob.put(id, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageJob.containsKey(e.stageInfo.stageId)) {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.add(Stage(i.stageId, i.numTasks,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
      }
  }

  /** Per-action planning phases (analysis, optimization, planning) from
    * each executed query's `QueryPlanningTracker`.
    */
  final class PlanningRecorder
      extends org.apache.spark.sql.util.QueryExecutionListener {
    private def record(qe: org.apache.spark.sql.execution.QueryExecution)
        : Unit = if (traced(pass.toLong)) planning.add(Phases(query, pass,
      qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
    override def onSuccess(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        e: Exception): Unit = record(qe)
  }

  /** Forwarding sink: every [[UpsertJoin.UpsertSink]] method goes to the
    * production sink unchanged, so a traced run executes the same sink
    * code; calls are timed and attributed to the current batch. The
    * batch-boundary growth hook is the first sink call of every batch,
    * so it is also where the previous batch's on-disk effect is read.
    */
  final class TimedSink(val underlying: UpsertJoin.UpsertSink,
                        @transient spark: SparkSession,
                        @transient beforeBatch: Long => Unit)
      extends UpsertJoin.UpsertSink with Serializable {
    private def timed[T](method: String)(body: => T): T = {
      val t0 = System.currentTimeMillis()
      try body finally {
        val b = currentBatch(spark)
        if (traced(b)) sinkCalls.add(SinkCall(b, method, t0,
          System.currentTimeMillis()))
      }
    }
    def upsert(keyCol: String, batch: DataFrame): Unit =
      timed("upsert")(underlying.upsert(keyCol, batch))
    def snapshot(s: SparkSession): DataFrame = underlying.snapshot(s)
    override def bucketCount: Option[Int] = underlying.bucketCount
    override def upsertPrepared(keyCol: String, batch: DataFrame,
                                touched: Seq[Int]): Unit =
      timed("upsertPrepared")(underlying.upsertPrepared(keyCol, batch,
        touched))
    override def upsertPreparedUnique(keyCol: String, batch: DataFrame,
                                      touched: Seq[Int]): Unit =
      timed("upsertPreparedUnique")(underlying.upsertPreparedUnique(keyCol,
        batch, touched))
    override def upsertPartialUnique(keyCol: String, batch: DataFrame,
                                     touched: Seq[Int]): Unit =
      timed("upsertPartialUnique")(underlying.upsertPartialUnique(keyCol,
        batch, touched))
    override def supportsPartial: Boolean = underlying.supportsPartial
    override def upsertPartialRowsUnique(s: SparkSession, keyCol: String,
        rows: Array[Row], schema: StructType, touched: Seq[Int]): Unit =
      timed("upsertPartialRowsUnique")(underlying.upsertPartialRowsUnique(
        s, keyCol, rows, schema, touched))
    override def upsertPreparedRowsUnique(s: SparkSession, keyCol: String,
        rows: Array[Row], schema: StructType, touched: Seq[Int]): Unit =
      timed("upsertPreparedRowsUnique")(underlying.upsertPreparedRowsUnique(
        s, keyCol, rows, schema, touched))
    override def awaitCompaction(): Unit =
      timed("awaitCompaction")(underlying.awaitCompaction())
    override def maybeRehashIfDue(keyCol: String): Option[Int] =
      timed("maybeRehashIfDue") {
        if (enabled) beforeBatch(currentBatch(spark))
        underlying.maybeRehashIfDue(keyCol)
      }
  }

  object TimedSink {
    /** The [[UpsertJoin.UpsertSink]] methods a [[TimedSink]] does not
      * hand straight to the sink it wraps. Each trait method is called
      * once on a TimedSink over a recording proxy, whose first call must
      * be that same method. A method TimedSink leaves to the trait's
      * default fails: the default runs (through the forwarder Scala
      * emits for it) instead of the production sink's override.
      */
    def unforwarded(spark: SparkSession): Seq[String] = {
      val api = classOf[UpsertJoin.UpsertSink]
      def zero(t: Class[_]): AnyRef =
        if (!t.isPrimitive || t == java.lang.Void.TYPE) null
        else java.lang.reflect.Array.get(
          java.lang.reflect.Array.newInstance(t, 1), 0)
      api.getMethods.toSeq
        .filterNot(m => java.lang.reflect.Modifier.isStatic(m.getModifiers))
        .filterNot { m =>
          val seen = new ConcurrentLinkedQueue[java.lang.reflect.Method]()
          val probe = java.lang.reflect.Proxy.newProxyInstance(
            api.getClassLoader, Array[Class[_]](api),
            (_: AnyRef, pm: java.lang.reflect.Method, _: Array[AnyRef]) => {
              seen.add(pm); zero(pm.getReturnType)
            }).asInstanceOf[UpsertJoin.UpsertSink]
          val timed = new TimedSink(probe, spark, _ => ())
          scala.util.Try(m.invoke(timed,
            m.getParameterTypes.map(zero): _*))
          Option(seen.peek()).contains(m)
        }.map(_.getName).sorted
    }
  }

  /** One filesystem listing: relative path -> (size, mtime). */
  def listing(root: java.io.File): Map[String, (Long, Long)] = {
    val base = root.toPath
    def walk(): Map[String, (Long, Long)] = {
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map { p =>
          val f = p.toFile
          base.relativize(p).toString -> (f.length(), f.lastModified())
        }.toMap
      finally s.close()
    }
    // a directory swapped mid-walk is retried; the job's own writes are
    // not concurrent with the batch-boundary hook that calls this
    if (!root.exists()) Map.empty
    else Iterator.continually(scala.util.Try(walk()))
      .take(5).collectFirst { case scala.util.Success(m) => m }
      .getOrElse(Map.empty)
  }

  /** Size summary of a directory: total bytes, file count, and the
    * bytes of files that are new or changed since `prev`.
    */
  final case class DirDelta(bytes: Long, files: Int, rewritten: Long,
                            pendingGens: Int)

  def delta(prev: Map[String, (Long, Long)],
            cur: Map[String, (Long, Long)]): DirDelta = {
    val data = cur.filter { case (k, _) => !isMeta(k) }
    val rewritten = data.collect {
      case (k, v) if !prev.get(k).contains(v) => v._1 }.sum
    val gens = cur.keys.filter(_.contains("__pending/"))
      .map(k => k.substring(0, k.indexOf("__pending/") + 10) +
        k.substring(k.indexOf("__pending/") + 10).takeWhile(_ != '/'))
      .toSet.size
    DirDelta(data.values.map(_._1).sum, data.size, rewritten, gens)
  }

  /** Checksums and markers are bookkeeping, not data. */
  private def isMeta(rel: String): Boolean = {
    val n = rel.substring(rel.lastIndexOf('/') + 1)
    n.endsWith(".crc") || n.startsWith("_") || n.startsWith(".")
  }

  /** GC time and post-GC heap, from the JVM's own beans. */
  object Jvm {
    @volatile var peakAfterGcBytes: Long = 0L
    @volatile var watching: Boolean = false

    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L,
        b.getCollectionTime)).sum

    /** Heap used after each collection, summed over heap pools; the
      * peak is kept while `watching`.
      */
    def install(): Unit = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification,
                                     _: Any) => {
            if (watching && n.getType == com.sun.management
              .GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[
                  javax.management.openmbean.CompositeData])
              val heapPools = java.lang.management.ManagementFactory
                .getMemoryPoolMXBeans.asScala
                .filter(_.getType == java.lang.management.MemoryType.HEAP)
                .map(_.getName).toSet
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
              if (used > peakAfterGcBytes) peakAfterGcBytes = used
            }
          }, null, null)
        case _ =>
      }

    /** A full collection (its post-GC heap joins the peak); returns the
      * heap still in use after it: what the driver-resident state of the
      * window holds.
      */
    def collectNow(): Long = {
      // the first collection queues Spark's dropped broadcasts and
      // shuffles for its cleaner; the second reclaims what it released
      System.gc()
      Thread.sleep(1000)
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
    }
  }
}
