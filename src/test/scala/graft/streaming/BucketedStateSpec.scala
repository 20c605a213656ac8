package graft.streaming

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Incremental-maintenance contract of the bucketed state layer: a
  * batch rewrites ONLY the buckets containing its keys — every other
  * bucket's files stay byte-identical (the parquet analog of the
  * reference's incremental RocksDB state).
  */
class BucketedStateSpec extends SparkTestBase {
  import spark.implicits._

  private def md5(p: Path): String =
    MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  /** file-relative-path -> content hash for every file under dir */
  private def fileMap(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).iterator().asScala
        .map(p => root.relativize(p).toString -> md5(p)).toMap
      finally s.close()
    }
  }

  private def bucketFor(key: String, nBuckets: Int): Int =
    Seq(key).toDF("k")
      .select(BucketedState.bucketOf(col("k"), nBuckets).as("b"))
      .head().getInt(0)

  test("StateStore.upsertLatest rewrites only touched buckets") {
    val nBuckets = 8
    val tmp = Files.createTempDirectory("graft-bucketed").toString
    val store = new CrmlsStream.StateStore(spark, s"$tmp/state", nBuckets)

    val batch1 = (0 until 20).map(i => (s"k$i", i.toLong, s"v$i")).toDF("k", "ts", "p")
    store.upsertLatest("e", batch1, "k", "ts")
    val before = fileMap(s"$tmp/state/e")
    assert(before.nonEmpty)

    val hot = bucketFor("k3", nBuckets)
    store.upsertLatest("e", Seq(("k3", 99L, "v3b")).toDF("k", "ts", "p"), "k", "ts")
    val after = fileMap(s"$tmp/state/e")

    val untouchedBefore = before.filterNot(_._1.startsWith(s"bucket_$hot/"))
    val untouchedAfter = after.filterNot(_._1.startsWith(s"bucket_$hot/"))
    assert(untouchedBefore === untouchedAfter,
      "files outside the touched bucket must be byte-identical")
    assert(before.keys.exists(_.startsWith(s"bucket_$hot/")))

    // and the merge itself is correct: k3 advanced, everything else kept
    val got = store.read("e").get.as[(String, Long, String)].collect().toMap2
    assert(got("k3") === (99L, "v3b"))
    assert(got("k7") === (7L, "v7"))
    assert(got.size === 20)
  }

  test("readBuckets without a schema merges the bucket footers and starts no job") {
    val tmp = Files.createTempDirectory("graft-bucketed-footers").toString
    val narrow = Seq(("a", 1L)).toDF("k", "ts")
    val wide = Seq(("b", 2L, "x")).toDF("k", "ts", "extra")
    BucketedState.overwriteBucketsLocal(spark, tmp, Seq(0),
      _ => narrow.collect().iterator, narrow.schema)
    BucketedState.overwriteBucketsLocal(spark, tmp, Seq(3),
      _ => wide.collect().iterator, wide.schema)
    var read: Option[org.apache.spark.sql.DataFrame] = None
    assert(jobsIn {
      read = BucketedState.readBuckets(spark, tmp, Seq(0, 3), None)
    } === 0)
    assert(read.get.schema.fieldNames.toSeq === Seq("k", "ts", "extra"))
    assert(read.get.as[(String, Long, Option[String])].collect().toSet ===
      Set(("a", 1L, None), ("b", 2L, Some("x"))))
    assert(BucketedState.readAll(spark, tmp).get.columns.contains("extra"))
    // a schema still shapes the read: extra columns are pruned
    assert(BucketedState.readBuckets(spark, tmp, Seq(0, 3),
      Some(narrow.schema)).get.columns.toSeq === Seq("k", "ts"))
  }

  test("ParquetUpsertSink rewrites only touched buckets, batch wins") {
    val nBuckets = 8
    val dir = Files.createTempDirectory("graft-bucketed-sink").toString + "/t"
    val sink = new UpsertJoin.ParquetUpsertSink(spark, dir, nBuckets,
      deltaCompactEvery = 0)
    sink.upsert("k", (0 until 20).map(i => (s"k$i", i)).toDF("k", "v"))
    val before = fileMap(dir)

    val hot = bucketFor("k5", nBuckets)
    sink.upsert("k", Seq(("k5", 500)).toDF("k", "v"))
    val after = fileMap(dir)

    assert(before.filterNot(_._1.startsWith(s"bucket_$hot/")) ===
      after.filterNot(_._1.startsWith(s"bucket_$hot/")))
    val got = sink.snapshot(spark).as[(String, Int)].collect().toMap
    assert(got("k5") === 500 && got("k0") === 0 && got.size === 20)
  }

  test("recover heals a crash between the two bucket-swap renames") {
    val nBuckets = 4
    val dir = Files.createTempDirectory("graft-recover").toString + "/t"
    val sink = new UpsertJoin.ParquetUpsertSink(spark, dir, nBuckets,
      deltaCompactEvery = 0)
    sink.upsert("k", (0 until 12).map(i => (s"k$i", i)).toDF("k", "v"))
    val want = sink.snapshot(spark).as[(String, Int)].collect().toSet

    // simulate a death after `live -> trash` but before `fresh -> live`
    val victim = BucketedState.listBuckets(dir).head
    Files.move(java.nio.file.Paths.get(dir, s"bucket_$victim"),
      java.nio.file.Paths.get(dir, s".old_bucket_$victim"))

    // any read path must heal the hole back to the committed state
    val healed = BucketedState.readAll(spark, dir).get
      .as[(String, Int)].collect().toSet
    assert(healed === want, "recover must restore the un-promoted bucket")
    assert(Files.exists(java.nio.file.Paths.get(dir, s"bucket_$victim")))
    assert(!Files.exists(java.nio.file.Paths.get(dir, s".old_bucket_$victim")))
  }

  test("ParquetUpsertSink: duplicate keys within one batch resolve deterministically") {
    val batch = Seq(("a", 1), ("a", 2), ("b", 7)).toDF("k", "v")
    // expected survivor for 'a': the content-hash-max row (the sink's
    // documented within-batch tiebreak)
    val expectA = batch.filter(col("k") === "a")
      .withColumn("__h", xxhash64(struct(col("k"), col("v"))))
      .orderBy(col("__h").desc).select("v").head().getInt(0)

    val survivors = (1 to 2).map { i =>
      val dir = Files.createTempDirectory(s"graft-dup$i").toString + "/t"
      val sink = new UpsertJoin.ParquetUpsertSink(spark, dir)
      sink.upsert("k", batch.repartition(4))
      sink.snapshot(spark).as[(String, Int)].collect().toMap
    }
    assert(survivors(0) === survivors(1))
    assert(survivors(0)("a") === expectA)
    assert(survivors(0)("b") === 7)
  }

  test("rehash grows the bucket count, preserves content, survives restart") {
    def env(pk: String, ts: Long, data: String): String =
      s"""{"data":"$data","uc_pk":"$pk","uc_update_ts":"u$ts",""" +
        s""""uc_version":"1","uc_created_ts":"$ts","uc_row_type":"r",""" +
        s""""uc_type":"t","uc_valid_day":"1","uc_valid_ts":"$ts"}"""
    val tmp = Files.createTempDirectory("graft-rehash").toString
    val store = new CrmlsStream.StateStore(spark, s"$tmp/state", nBuckets = 4)
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink", 4)
    val rows = (0 until 40).map(i => "listings" ->
      env(s"L$i", 100 + i, s"""{\\"ListingKeyNumeric\\":\\"LK$i\\"}"""))
    CrmlsStream.processBatch(spark,
      rows.toDF("entity", "value"), store, sink)

    def listingRows(s: CrmlsStream.StateStore): Set[(String, String)] = {
      s.foldAllPendings()
      BucketedState.readAll(spark, s"$tmp/state/listings", None).get
        .select("l_uc_pk", "l_uc_created_ts")
        .collect().map(r => (r.getString(0), String.valueOf(r.get(1)))).toSet
    }
    val before = listingRows(store)
    assert(before.size === 40)

    // resume protocol doubles as the test lever: a durable
    // .nbuckets_next IS a pending rehash, whoever wrote it
    Files.writeString(
      java.nio.file.Paths.get(s"$tmp/state", ".nbuckets_next"), "32")
    assert(store.maybeRehash() === Some(32))
    assert(store.curBuckets === 32)
    // content byte-for-key identical, now spread over more buckets
    assert(listingRows(store) === before)
    val dirs = new java.io.File(s"$tmp/state/listings").listFiles()
      .filter(_.getName.startsWith("bucket_"))
      .map(_.getName.stripPrefix("bucket_").toInt)
    assert(dirs.max < 32 && dirs.length > 4,
      s"expected re-spread buckets, got ${dirs.sorted.toSeq}")

    // a RESTARTED store (constructor says 4) must read the stamp
    val restarted = new CrmlsStream.StateStore(spark, s"$tmp/state",
      nBuckets = 4)
    assert(restarted.curBuckets === 32)
    // and keep converging: an update through the restarted store lands
    val sink2 = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink", 4)
    CrmlsStream.processBatch(spark,
      Seq("listings" -> env("L1", 999,
        s"""{\\"ListingKeyNumeric\\":\\"LK1b\\"}""")).toDF("entity", "value"),
      restarted, sink2)
    val after = listingRows(restarted)
    assert(after.contains(("L1", "999")) && after.size === 40)
  }

  private implicit class Tup3Map(rows: Array[(String, Long, String)]) {
    def toMap2: Map[String, (Long, String)] =
      rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}
