package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graftx.CacheBridge
import graft.SparkTestBase

/** What a small driver-tier micro-batch costs Spark, pinned as counts:
  * `processBatch` reads the batch through one bounded take and builds
  * no frame its tier does not run. A cached frame would register a
  * CacheManager entry that every later analysis in the batch consults,
  * and each extra frame or `Dataset.rdd` is a plan of its own.
  */
class DriverTierBatchSpec extends SparkTestBase {

  private def env(pk: String, ts: Long, data: String): String = {
    val d = data.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"data":"$d","uc_pk":"$pk","uc_update_ts":"u$ts","uc_version":"1",""" +
      s""""uc_created_ts":"$ts","uc_row_type":"r","uc_type":"t",""" +
      s""""uc_valid_day":"1","uc_valid_ts":"$ts"}"""
  }

  private def cacheEntries: Int = CacheBridge.entries(spark)

  test("a driver-tier batch adds no cache entry and starts one job") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-drv").toString
    val store = new CrmlsStream.StateStore(spark, s"$tmp/state")
    // the sink CrmlsStreamMain builds without --changelog-dir
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink")
    val input = MemoryStream[(String, String)]
    val tagged = input.toDF().toDF("entity", "value")
    val batches = Seq(
      Seq("listings" -> env("L1", 100,
          """{"ListingKeyNumeric":"LK1","ListAgentKeyNumeric":"A1"}"""),
        "agents" -> env("A1", 10, """{"n":"a1v1"}""")),
      Seq("listings" -> env("L2", 100,
          """{"ListingKeyNumeric":"LK2","ListAgentKeyNumeric":"A1"}"""),
        "agents" -> env("A1", 20, """{"n":"a1v2"}"""),
        "offices" -> env("O1", 5, """{"n":"o1"}""")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      input.addData(rows: _*)
      val before = cacheEntries
      val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
      CrmlsStream.failpoint.set(p =>
        phases.synchronized { phases += p -> cacheEntries })
      val jobs =
        try jobsIn(CrmlsStream.run(tagged, store, sink, s"$tmp/ckpt")
          .awaitTermination())
        finally CrmlsStream.failpoint.set(null)
      assert(phases.map(_._1).contains("J1:discover"),
        s"batch $i did not run processBatch: $phases")
      phases.foreach { case (p, n) =>
        assert(n === before, s"batch $i: cache entries at $p")
      }
      assert(cacheEntries === before, s"batch $i: cache entries after")
      assert(jobs === 1, s"batch $i: Spark jobs")
    }
    assert(sink.snapshot(spark).count() === 2)
  }
}
