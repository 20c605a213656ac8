package graft.streaming

import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.crmls.Crmls

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

  /** Checkpoint files (offsets and commits) by log, names only. */
  private def ckptFiles(ckpt: String): Set[String] =
    Seq("offsets", "commits").flatMap(log =>
      Option(new java.io.File(s"$ckpt/$log").list()).toSeq.flatten
        .map(f => s"$log/$f")).toSet

  /** Two runs over one checkpoint, the first under `firstManager`
    * when given (else under run's own), the restart under run's.
    */
  private def restartCase(firstManager: Option[String]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-durable").toString
    val store = new CrmlsStream.StateStore(spark, s"$tmp/state")
    // merge-on-write: the plain-parquet read below needs bucket files
    // after every batch, not every compaction window
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/out",
      deltaCompactEvery = 0)
    val input = MemoryStream[(String, String)]
    val tagged = input.toDF().toDF("entity", "value")
    val key = CrmlsStream.CheckpointFileManagerKey

    val first = Seq(
      ("listings", env("L1", 100,
        """{"ListingKeyNumeric":"LK1","ListAgentKeyNumeric":"A1"}""")),
      ("agents", env("A1", 10, """{"n":"v1"}""")))
    input.addData(first: _*)
    firstManager.foreach(spark.conf.set(key, _))
    try CrmlsStream.run(tagged, store, sink, s"$tmp/ckpt").awaitTermination()
    finally firstManager.foreach(_ => spark.conf.unset(key))
    val firstFiles = ckptFiles(s"$tmp/ckpt")
    assert(firstFiles.exists(_.endsWith(".crc")) === firstManager.isDefined,
      s"$firstManager wrote $firstFiles")

    val update = Seq(("agents", env("A1", 20, """{"n":"v2"}""")))
    input.addData(update: _*)
    CrmlsStream.run(tagged, store, sink, s"$tmp/ckpt").awaitTermination()

    // a completely fresh reader over the sink's bucket dirs (plain
    // parquet files — no sink code involved)
    val persisted = spark.read.parquet(s"$tmp/out/bucket_*")
      .select("l_uc_pk", "aa_uc_created_ts")
      .as[(String, Option[Long])].collect().toMap
    assert(persisted === Map("L1" -> Some(20L)), s"$firstManager")
    val cols = Seq("l_uc_pk", "l_uc_created_ts", "aa_uc_pk",
      "aa_uc_created_ts").map(col)
    val byEntity = (first ++ update).groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toDF("value") }
    val expected = Crmls.pipeline(Crmls.allEntities.map(e => e.name ->
        byEntity.getOrElse(e.name, Seq.empty[String].toDF("value"))).toMap)
      .select(cols: _*).collect().toSet
    assert(sink.snapshot(spark).select(cols: _*).collect().toSet === expected,
      s"$firstManager")
    // the restart's offsets and commits went through java.nio
    val restartFiles = ckptFiles(s"$tmp/ckpt") -- firstFiles
    assert(restartFiles.nonEmpty && !restartFiles.exists(_.endsWith(".crc")),
      s"$firstManager: restart wrote $restartFiles")
  }

  test("dimension update propagates into the durable parquet sink") {
    // the second input starts under Spark's default manager (Hadoop's
    // checksummed writes) and restarts under run's
    Seq(None, Some(classOf[FileContextBasedCheckpointFileManager].getName))
      .foreach(restartCase)
  }

  test("run keeps a checkpoint file manager the session already sets") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-durable-fm")
      .toString
    val key = CrmlsStream.CheckpointFileManagerKey
    val own = classOf[FileContextBasedCheckpointFileManager].getName
    val input = MemoryStream[(String, String)]
    input.addData(("agents", env("A1", 10, """{"n":"v1"}""")))
    spark.conf.set(key, own)
    try {
      CrmlsStream.run(input.toDF().toDF("entity", "value"),
        new CrmlsStream.StateStore(spark, s"$tmp/state"),
        UpsertJoin.newInMemorySink(), s"$tmp/ckpt").awaitTermination()
      assert(spark.conf.get(key) === own)
      // the session's manager wrote the checkpoint: Hadoop's sidecars
      assert(ckptFiles(s"$tmp/ckpt").exists(_.endsWith(".crc")))
    } finally spark.conf.unset(key)
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
