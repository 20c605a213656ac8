package graft

import org.apache.spark.sql.functions._
import graft.streaming.{BucketedState, CrmlsStream, UpsertJoin}

/** Regression guard for the incremental-state I/O contract the
  * streaming bench measures: a micro-batch may rewrite ONLY the state /
  * sink buckets its keys hash to — per-batch write I/O is O(touched
  * buckets), never O(accumulated state). If a refactor makes any state
  * write full-table (the classic way incremental maintenance silently
  * degrades), the modified-file set grows past the expected bucket dirs
  * and this spec fails at that commit.
  */
class StreamBenchSpec extends SparkTestBase {
  import spark.implicits._

  test("a small batch rewrites only the buckets of its own keys") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sbspec").toString
    // bucket count passed EXPLICITLY and reused for the expected-bucket
    // computation below — a changed store default cannot desync them
    val nBuckets = 16
    val store = new CrmlsStream.StateStore(spark, s"$tmp/state", nBuckets)
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/sink", nBuckets,
      deltaCompactEvery = 0)
    // ref-free listing payloads: no reference-index entries, so the
    // only writable state is the listing table + the sink — both keyed
    // by l_uc_pk, making the expected bucket set exactly computable
    def batch(ids: Seq[Int], ts: Long) = ids.toDF("id")
      .select(lit("listings").as("entity"), graft.crmls.Crmls.envelopeCol(
        concat(lit("L"), col("id").cast("string")), lit(ts),
        to_json(struct(lit("x").as("f")))).as("value"))

    CrmlsStream.processBatch(spark, batch(0 until 400, ts = 100), store, sink)
    val before = StreamBench.fileSizes(Seq(tmp))

    val updateIds = Seq(3, 77, 256)
    CrmlsStream.processBatch(spark, batch(updateIds, ts = 200), store, sink)
    val after = StreamBench.fileSizes(Seq(tmp))

    val expectedBuckets = updateIds.map(i => s"L$i").toDF("k")
      .select(BucketedState.bucketOf(col("k"), nBuckets).as("b"))
      .as[Int].collect().toSet
    // the LSM state tier appends the batch's winners under __pending
    // instead of rewriting bucket dirs — a STRICTLY smaller write than
    // the per-bucket contract this spec was born guarding
    val allowedDirs = expectedBuckets.flatMap(b =>
      Seq(s"$tmp/state/listings/bucket_$b", s"$tmp/sink/bucket_$b")) +
      s"$tmp/state/listings/__pending"

    val modified = after.collect {
      case (p, sz) if !before.get(p).contains(sz) => p
    }.toSeq
    assert(modified.nonEmpty, "the update batch must write something")
    val stray = modified.filterNot(p => allowedDirs.exists(p.startsWith))
    assert(stray.isEmpty,
      s"batch keyed to buckets $expectedBuckets rewrote unrelated files:\n" +
        stray.mkString("\n"))
    // and the untouched buckets' files are literally the same files
    val untouchedBefore = before.filterNot {
      case (p, _) => allowedDirs.exists(p.startsWith)
    }
    untouchedBefore.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"untouched file changed or vanished: $p")
    }
  }
}
