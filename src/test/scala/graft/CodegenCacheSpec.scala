package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** `GraftExtensions` sizes Spark's generated-code cache, so a warm pass
  * over the catalog compiles nothing. The cache is sized once per JVM,
  * at its first code generation, and the shared test session is built
  * without the extension, so each case runs [[CodegenCacheProbe]] in a
  * child JVM on the test classpath.
  */
class CodegenCacheSpec extends SparkTestBase {

  /** Classes compiled in each of the probe's two rounds. */
  private def probe(conf: String*): Seq[Long] = {
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"),
      "bin", "java").toString
    val out = Files.createTempFile("graft-codegen-probe", ".log")
    try {
      val cmd = Seq(javaBin, "-Xmx1g") ++ addOpens ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.CodegenCacheProbe", sf()) ++ conf
      val proc = new ProcessBuilder(cmd.asJava)
        .redirectErrorStream(true).redirectOutput(out.toFile).start()
      if (!proc.waitFor(10, TimeUnit.MINUTES)) {
        proc.destroyForcibly()
        fail("codegen probe timed out")
      }
      val lines = Files.readAllLines(out, StandardCharsets.UTF_8).asScala
      assert(proc.exitValue() === 0, lines.takeRight(40).mkString("\n"))
      lines.collect { case CodegenCacheProbe.Line(n) => n.toLong }.toSeq
    } finally Files.deleteIfExists(out)
  }

  /** The build's `--add-opens` flags, as this JVM reports them. */
  private def addOpens: Seq[String] = {
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    in.zip(in.drop(1) :+ "").collect {
      case (a, _) if a.startsWith("--add-opens=") => a
      case ("--add-opens", v) => s"--add-opens=$v"
    }
  }

  test("a warm catalog pass compiles no class under GraftExtensions") {
    val Seq(cold, warm) = probe()
    assert(cold > 100, "the probe's working set must exceed Spark's default")
    assert(warm === 0L, s"cold pass compiled $cold")
  }

  test("an explicit spark.sql.codegen.cache.maxEntries wins") {
    val Seq(cold, warm) = probe(s"${GraftExtensions.CodegenCacheKey}=100")
    assert(cold > 100)
    assert(warm > 0L, "a 100-entry cache must thrash on this working set")
  }
}

/** Child-JVM body of [[CodegenCacheSpec]]: a `local[2]` session that
  * loads `graft.GraftExtensions` through `spark.sql.extensions` (plus
  * any `key=value` confs given after the table directory), then two
  * rounds over the reference-operator catalog rows, printing each
  * round's compiled-class count.
  */
object CodegenCacheProbe {
  val Line = """\[codegen-probe\] compiles=(\d+)""".r

  val Queries = Seq(
    "q_json_extract", "q_scalar", "q_multijoin", "q_starjoin",
    "q_innerjoin", "q_dedup_latest", "q_dedup_one", "q_count_join",
    "q_tumbling", "q_asof", "q_window_running", "q_window_rank",
    "q_groupconcat", "q_sliding", "q_session", "q_semijoin", "q_antijoin",
    "q_topk", "q_intersect", "q_except", "q_union")

  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("graft-codegen-probe")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    args.drop(1).foreach { kv =>
      val i = kv.indexOf('='); b.config(kv.take(i), kv.drop(i + 1))
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (_ <- 1 to 2) {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Queries.foreach(n => SparkEntry.queries(n)(spark, args(0))
        .write.format("noop").mode("overwrite").save())
      println(s"[codegen-probe] compiles=" +
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0))
    }
    spark.stop()
  }
}
