package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The streaming CRMLS job against the DURABLE parquet upsert sink:
  * state and output both survive a fresh reader, closing the loop on
  * the production shape (parquet state store + parquet sink).
  */
class DurableCrmlsSpec extends SparkTestBase {
  import spark.implicits._

  private def env(pk: String, ts: Long, data: String): String = {
    val d = data.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"data":"$d","uc_pk":"$pk","uc_update_ts":"u$ts","uc_version":"1",""" +
      s""""uc_created_ts":"$ts","uc_row_type":"r","uc_type":"t",""" +
      s""""uc_valid_day":"1","uc_valid_ts":"$ts"}"""
  }

  test("dimension update propagates into the durable parquet sink") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-durable").toString
    val store = new CrmlsStream.StateStore(spark, s"$tmp/state")
    // merge-on-write: the plain-parquet read below needs bucket files
    // after every batch, not every compaction window
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/out",
      deltaCompactEvery = 0)
    val input = MemoryStream[(String, String)]
    val tagged = input.toDF().toDF("entity", "value")

    input.addData(
      ("listings", env("L1", 100,
        """{"ListingKeyNumeric":"LK1","ListAgentKeyNumeric":"A1"}""")),
      ("agents", env("A1", 10, """{"n":"v1"}""")))
    CrmlsStream.run(tagged, store, sink, s"$tmp/ckpt").awaitTermination()

    input.addData(("agents", env("A1", 20, """{"n":"v2"}""")))
    CrmlsStream.run(tagged, store, sink, s"$tmp/ckpt").awaitTermination()

    // a completely fresh reader over the sink's bucket dirs (plain
    // parquet files — no sink code involved)
    val persisted = spark.read.parquet(s"$tmp/out/bucket_*")
      .select("l_uc_pk", "aa_uc_created_ts")
      .as[(String, Option[Long])].collect().toMap
    assert(persisted === Map("L1" -> Some(20L)))
  }

  test("production stream with the retract log on: the changelog rides " +
      "the join, time-travels to its own live table, and checkpoints") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-durable-cl")
      .toString
    val store = new CrmlsStream.StateStore(spark, s"$tmp/state")
    // the CLI wiring shape (CrmlsStreamMain --changelog-dir
    // --changelog-checkpoint-every): enriched upserts also append
    // retract pairs; cadence 1 checkpoints after every batch
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/out",
      changelogDir = Some(s"$tmp/cl"), changelogCheckpointEvery = 1)
    val input = MemoryStream[(String, String)]
    val tagged = input.toDF().toDF("entity", "value")

    input.addData(
      ("listings", env("L1", 100,
        """{"ListingKeyNumeric":"LK1","ListAgentKeyNumeric":"A1"}""")),
      ("agents", env("A1", 10, """{"n":"v1"}""")))
    CrmlsStream.run(tagged, store, sink, s"$tmp/ckpt").awaitTermination()
    input.addData(("agents", env("A1", 20, """{"n":"v2"}""")))
    CrmlsStream.run(tagged, store, sink, s"$tmp/ckpt").awaitTermination()

    // the dimension update produced a retract pair in the log
    val log = spark.read.parquet(s"$tmp/cl")
      .select("batch_id", "op", "l_uc_pk", "aa_uc_created_ts")
      .as[(Long, Boolean, String, Option[Long])].collect().toSet
    assert(log.contains((1L, false, "L1", Some(10L))) &&
      log.contains((1L, true, "L1", Some(20L))),
      s"expected L1's a10 -> a20 retract pair, got $log")
    // time travel: as-of batch 0 shows the pre-update enrichment,
    // as-of the last batch equals the live sink table
    def at(b: Long): Map[String, Option[Long]] =
      UpsertJoin.snapshotAt(spark, s"$tmp/cl", "l_uc_pk", b)
        .select("l_uc_pk", "aa_uc_created_ts")
        .as[(String, Option[Long])].collect().toMap
    assert(at(0L) === Map("L1" -> Some(10L)))
    assert(at(1L) === Map("L1" -> Some(20L)))
    // cadence 1 wrote an anchor per batch
    assert(UpsertJoin.listChangelogCheckpoints(s"$tmp/cl") === Seq(0L, 1L))
  }
}
