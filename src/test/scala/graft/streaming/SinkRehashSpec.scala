package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Growth rehash of the upsert sink's bucket layout (the r11 verdict's
  * one remaining ∝-state write term): the converged table must be
  * bit-identical across a rehash, the `.nbuckets` stamp must travel
  * atomically with the layout it describes, restarted instances must
  * agree with the files whatever their constructor says, and the LSM
  * (delta) mode must fold its pendings — stamped under the OLD count —
  * before any rebucketing.
  */
class SinkRehashSpec extends SparkTestBase {
  import spark.implicits._

  private def table(s: UpsertJoin.ParquetUpsertSink): Map[String, (Long, String)] =
    s.snapshot(spark).select("k", "ts", "p").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap

  private def bucketIds(dir: String): Seq[Int] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("bucket_"))
      .map(_.getName.stripPrefix("bucket_").toInt).sorted

  test("marker-triggered rehash preserves the table, spreads buckets, " +
      "survives restart, and new upserts land under the grown layout") {
    val tmp = Files.createTempDirectory("graft-skrh").toString
    val dir = s"$tmp/out"
    val sink = new UpsertJoin.ParquetUpsertSink(spark, dir, nBuckets = 4)
    val rows = (0 until 200).map(i => (s"k$i", i.toLong, s"v$i"))
    sink.upsert("k", rows.toDF("k", "ts", "p"))
    val before = table(sink)
    assert(before.size === 200)

    // the resume protocol doubles as the test lever (the store spec's
    // trick): a durable sibling marker IS a pending rehash
    Files.writeString(java.nio.file.Paths.get(s"$dir.nbuckets_next"), "32")
    assert(sink.maybeRehashIfDue("k") === Some(32))
    assert(sink.bucketCount === Some(32))
    assert(table(sink) === before)
    val ids = bucketIds(dir)
    assert(ids.max < 32 && ids.size > 4,
      s"expected re-spread buckets, got $ids")
    // the stamp rode the swap: it lives INSIDE the promoted dir
    assert(Files.readString(
      java.nio.file.Paths.get(dir, ".nbuckets")).trim === "32")
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir.nbuckets_next")))

    // a restarted instance (constructor says 4) reads the stamp
    val restarted = new UpsertJoin.ParquetUpsertSink(spark, dir, nBuckets = 4)
    assert(restarted.bucketCount === Some(32))
    restarted.upsert("k", Seq(("k1", 999L, "v1b")).toDF("k", "ts", "p"))
    assert(table(restarted) === before.updated("k1", (999L, "v1b")))
  }

  test("size-triggered growth: observed bytes past the per-bucket target " +
      "regrow the layout without any external lever") {
    val tmp = Files.createTempDirectory("graft-skrh-sz").toString
    val dir = s"$tmp/out"
    val sink = new UpsertJoin.ParquetUpsertSink(spark, dir, nBuckets = 1,
      deltaCompactEvery = 0)
    // ~4 MB of incompressible-ish payload against a 1 MB/bucket target
    val big = spark.range(4000).select(
      concat(lit("k"), col("id")).as("k"), col("id").as("ts"),
      concat((0 until 32).map(i =>
        md5(concat(col("id").cast("string"), lit(s"-$i")))): _*).as("p"))
    sink.upsert("k", big)
    val before = sink.snapshot(spark).count()
    val grown = sink.maybeRehashIfDue("k")
    assert(grown.exists(_ > 1), s"expected growth, got $grown " +
      s"(bucket bytes ${sink.bucketBytes()})")
    assert(sink.bucketCount === grown)
    assert(sink.snapshot(spark).count() === before)
    // idempotent: a second check right after must not regrow
    assert(sink.maybeRehashIfDue("k") === None)
    // the write-amplification invariant the rehash exists to pin:
    // post-growth, per-bucket bytes sit under 2x the target (the
    // power-of-2 floor's worst case), so amortized compaction writes
    // are bounded by deltaKeys x 2 x target — independent of state
    val total = sink.bucketBytes().toDouble
    assert(total / grown.get <= 2.0 * sink.TargetBucketBytes,
      s"mean bucket size ${total / grown.get} exceeds 2x target " +
        s"${sink.TargetBucketBytes}")
  }

  test("LSM mode folds pendings (old-count bucket stamps) before " +
      "rebucketing; post-rehash appends stamp under the new count") {
    val tmp = Files.createTempDirectory("graft-skrh-lsm").toString
    val dir = s"$tmp/out"
    val sink = new UpsertJoin.ParquetUpsertSink(spark, dir, nBuckets = 4,
      deltaCompactEvery = 10)
    sink.upsert("k", (0 until 50).map(i => (s"k$i", 1L, "a")).toDF("k", "ts", "p"))
    sink.upsert("k", Seq(("k1", 2L, "b"), ("k99", 1L, "new")).toDF("k", "ts", "p"))
    val before = table(sink) // merge-on-read over the 2 pending gens
    assert(new java.io.File(s"$dir/__delta").listFiles()
      .exists(_.getName.startsWith("g")), "test setup: pendings must exist")

    Files.writeString(java.nio.file.Paths.get(s"$dir.nbuckets_next"), "16")
    assert(sink.maybeRehashIfDue("k") === Some(16))
    assert(table(sink) === before)
    // pendings were folded, not dropped or double-counted
    val delta = new java.io.File(s"$dir/__delta")
    assert(!delta.exists() ||
      !delta.listFiles().exists(_.getName.startsWith("g")),
      "pendings must be folded into the rebuilt buckets")

    sink.upsert("k", Seq(("k2", 9L, "c")).toDF("k", "ts", "p"))
    assert(table(sink) === before.updated("k2", (9L, "c")))
  }

  test("rehash keeps schema-divergent buckets (partial-upsert widening) " +
      "intact via a merged-schema rebuild") {
    val tmp = Files.createTempDirectory("graft-skrh-ms").toString
    val dir = s"$tmp/out"
    val sink = new UpsertJoin.ParquetUpsertSink(spark, dir, nBuckets = 4,
      deltaCompactEvery = 0)
    sink.upsert("k", (0 until 40).map(i => (s"k$i", 1L, "a")).toDF("k", "ts", "p"))
    // widen ONE key's bucket with a new column — other buckets keep the
    // narrow schema, so the rebuild must read with schema merging
    val b = BucketedState.bucketOfLocal("k7", 4)
    sink.upsertPartialUnique("k", Seq(("k7", "x7")).toDF("k", "extra"), Seq(b))

    Files.writeString(java.nio.file.Paths.get(s"$dir.nbuckets_next"), "16")
    assert(sink.maybeRehashIfDue("k") === Some(16))
    val rows = sink.snapshot(spark).select("k", "ts", "p", "extra").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) null else r.getString(3)))).toMap
    assert(rows.size === 40)
    assert(rows("k7") === ((1L, "a", "x7")))
    assert(rows("k0") === ((1L, "a", null)))
  }

  test("column families rehash in lockstep: one family's pending marker " +
      "pulls every family to the shared count") {
    val tmp = Files.createTempDirectory("graft-skrh-cf").toString
    val dir = s"$tmp/cf"
    val fams: Seq[(String, String => Boolean)] =
      Seq("hot" -> ((c: String) => c == "ts"))
    val cf = new ColumnFamilySink(spark, dir, fams, nBuckets = 4)
    cf.upsert("k", (0 until 80).map(i => (s"k$i", i.toLong, s"v$i"))
      .toDF("k", "ts", "p"))
    val before = cf.snapshot(spark).select("k", "ts", "p").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

    // a crashed rehash left ONE family with a pending marker
    Files.writeString(
      java.nio.file.Paths.get(s"$dir/cf_hot.nbuckets_next"), "32")
    assert(cf.maybeRehashIfDue("k") === Some(32))
    assert(cf.bucketCount === Some(32))
    // BOTH family layouts carry the shared stamp
    Seq("cf_hot", "cf_base").foreach { f =>
      assert(Files.readString(
        java.nio.file.Paths.get(s"$dir/$f", ".nbuckets")).trim === "32", f)
    }
    val after = cf.snapshot(spark).select("k", "ts", "p").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(after === before)

    // a restarted cf instance agrees, and writes keep converging
    val cf2 = new ColumnFamilySink(spark, dir, fams, nBuckets = 4)
    assert(cf2.bucketCount === Some(32))
    cf2.upsert("k", Seq(("k3", 500L, "w")).toDF("k", "ts", "p"))
    val live = cf2.snapshot(spark).select("k", "ts", "p").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(live === before.filterNot(_._1 == "k3") + (("k3", 500L, "w")))
  }
}
