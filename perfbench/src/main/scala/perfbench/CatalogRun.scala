package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** The batch workload: timed passes over a fixed set of catalog rows,
  * each query built through `SparkEntry.queries` and executed into the
  * noop sink (as `graft.Bench` times them). The untimed warm-up pass
  * writes every result to parquet for the oracle comparison.
  */
object CatalogRun {
  final case class Exec(pass: Int, query: String, buildMs: Double,
                        executeMs: Double, startMs: Long, endMs: Long)

  /** Untimed warm-up passes before the window (JIT, file listing and
    * footer caches); the first one writes the results the oracle
    * comparison reads. Pass times still fall by a few percent a pass
    * for several passes after this (the JIT keeps compiling), but each
    * pass costs about 9 s and the whole run must stay near a minute.
    */
  val WarmPasses = 1

  def main(opt: Map[String, String]): Unit = {
    val work = new File(opt("work"))
    val data = opt("data")
    val trace = opt("trace") == "1"
    val names = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val spark = Session.build(opt("cores").toInt, s"$work/default-ckpt")
    Trace.Jvm.install()
    if (trace) {
      spark.sparkContext.addSparkListener(new Trace.Recorder)
      spark.listenerManager.register(new Trace.PlanningRecorder)
    }
    val sc = spark.sparkContext

    val out = new File(work, "out")
    def runPass(p: Int): Seq[Exec] = names.map { n =>
      Trace.pass = p; Trace.query = n
      sc.setLocalProperty("perfbench.pass", p.toString)
      sc.setLocalProperty("perfbench.query", n)
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, data)
      val t1 = System.nanoTime()
      // the query's own analysis runs when the frame is built; the
      // action's optimization and planning reach the listener
      if (Trace.traced(p.toLong)) Trace.planning.add(Trace.Phases(n, p,
        df.queryExecution.tracker.phases.map { case (k, v) =>
          k -> v.durationMs }))
      if (p == -1) df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      else df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Exec(p, n, (t1 - t0) / 1e6, (t2 - t1) / 1e6, s0,
        System.currentTimeMillis())
    }

    // set-up: the warm-up passes
    val warmMs = (1 to WarmPasses).map { i =>
      val t0 = System.nanoTime(); runPass(-i); (System.nanoTime() - t0) / 1e6
    }
    new File(work, "seeded").createNewFile()

    Trace.enabled = trace
    Trace.Jvm.watching = true
    val gc0 = Trace.Jvm.gcMillis()
    val windowStart = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var p = 0
    // at least two passes: the median of one would be a single sample,
    // and a traced run needs an untraced pass to compare against
    while (p < 2 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      execs ++= runPass(p)
      passMs += (System.nanoTime() - t0) / 1e6
      p += 1
    }
    val retainedBytes = Trace.Jvm.collectNow()
    Trace.Jvm.watching = false
    val gcMs = Trace.Jvm.gcMillis() - gc0
    Trace.enabled = false
    sc.setLocalProperty("perfbench.pass", null)
    sc.setLocalProperty("perfbench.query", null)
    Thread.sleep(300) // let the listener bus deliver the last stage events

    // the oracle SQL the comparison runs against the same tables
    Json.write(s"$work/oracle_sql.json",
      names.map(n => n -> SparkEntry.oracleSql(n)).toMap)

    Json.write(s"$work/jvm.json", Map(
      "window_start_ms" -> windowStart,
      "warm_passes_ms" -> warmMs,
      "passes_ms" -> passMs.toSeq,
      "execs" -> execs.toSeq,
      "gc_ms" -> gcMs,
      "heap_peak_after_gc_bytes" -> Trace.Jvm.peakAfterGcBytes,
      "heap_retained_bytes" -> retainedBytes,
      "trace" -> (if (!trace) Map.empty else Map(
        "jobs" -> Trace.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
          "id" -> j.id, "pass" -> j.pass, "query" -> j.query,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stageIds)),
        "stages" -> Trace.stages.asScala.toSeq,
        "stage_job" -> Trace.stageJob.asScala.toMap,
        "planning" -> Trace.planning.asScala.toSeq))))
    spark.stop()
  }
}

/** Entry point: `stream` or `catalog`, then `key=value` options. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.drop(1).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    args.head match {
      case "stream" => StreamRun.main(opt)
      case "catalog" => CatalogRun.main(opt)
      case other => sys.error(s"unknown mode $other")
    }
  }
}
