package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-stage wall/task-time profile of catalog queries:
  * `sbt "runMain graft.StageProf <sfDir> <query>[,<query>...]|all [passes]"`.
  * Guide §1.1/§7.1 stand-in for the Spark UI stage page (the bench
  * runs with the UI off): for every completed stage prints wall,
  * summed task time, task count, max task time (straggler/skew probe)
  * and the stage name line. Each pass runs the listed queries in order
  * and ends with `[codegen] compiles=N ms=M`: the classes Janino
  * compiled during the pass (Spark's `CodegenMetrics` compilation-time
  * histogram count) and their summed compile time. A warm pass that
  * compiles as many classes as the cold one means the generated-code
  * cache is evicting them before reuse. Measurement tooling only —
  * never on the bench path.
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val passes = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cores = cpus.toInt,
      appName = "graft-stageprof")
    spark.sparkContext.setLogLevel("WARN")
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val wall = (info.completionTime.getOrElse(0L) -
          info.submissionTime.getOrElse(0L)) / 1e3
        val m = info.taskMetrics
        println(f"[stage ${info.stageId}%3d] wall=$wall%7.3fs " +
          f"tasks=${info.numTasks}%4d taskSum=${m.executorRunTime / 1e3}%8.3fs " +
          f"shufRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
          f"shufWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
          s"| ${info.name.takeWhile(_ != '\n').take(90)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (p <- 1 to passes) {
      println(s"===== pass $p =====")
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ns0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      names.foreach(n => SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
      println(f"[total] ${(System.nanoTime() - t0) / 1e9}%.3fs")
      Thread.sleep(300) // let stage-completed events drain
      println(s"[codegen] compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0} " +
        f"ms=${(CodeGenerator.compileTime - ns0) / 1e6}%.0f")
    }
    spark.stop()
  }
}
