package graft

import org.scalatest.funsuite.AnyFunSuite

/** `run_spark.sh` passes executors the generated-code cache size at
  * submit time (they read their conf at launch, before the driver's
  * `GraftExtensions` default could reach them); it must be the
  * extension's own value.
  */
class RunSparkScriptSpec extends AnyFunSuite {
  test("run_spark.sh passes GraftExtensions' codegen cache size") {
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("run_spark.sh")), "UTF-8")
    val key = java.util.regex.Pattern.quote(GraftExtensions.CodegenCacheKey)
    val values = s"--conf $key=(\\d+)".r.findAllMatchIn(script)
      .map(_.group(1).toInt).toSeq
    assert(values === Seq(GraftExtensions.CodegenCacheMaxEntries))
  }
}
