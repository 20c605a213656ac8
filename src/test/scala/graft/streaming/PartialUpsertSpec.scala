package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** Column-narrowed (partial) upserts: a batch carrying the key plus a
  * SUBSET of columns overwrites exactly those columns — including an
  * explicit NULL ("set to NULL" is a value; "column absent" is not) —
  * keeps every omitted column, and inserts new keys with NULL for the
  * omitted columns. The three sink realizations (merge-on-write join,
  * LSM per-column generation fold — compacted, pending, and across a
  * restart — and the driver-side in-memory reference) must converge to
  * the same table, and the LSM delta files must physically carry only
  * the narrowed columns (the write-I/O claim the feature exists for).
  */
class PartialUpsertSpec extends SparkTestBase {
  import spark.implicits._

  private val fullSchema = StructType(Seq(
    StructField("k", StringType), StructField("a", IntegerType),
    StructField("b", StringType), StructField("c", StringType)))

  private def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def full(rows: (String, Integer, String, String)*) =
    df(fullSchema, rows.map(r => Row(r._1, r._2, r._3, r._4)))

  private def partial(cols: Seq[String], rows: Seq[Row]): DataFrame =
    df(StructType(StructField("k", StringType) +:
      cols.map(c => fullSchema(fullSchema.fieldIndex(c)))), rows)

  /** The driving sequence: full load, then narrowed deltas exercising
    * NULL-update, partial insert of a new key, a full row landing AFTER
    * partials, and a second narrow wave over the fresh key.
    */
  private def drive(sink: UpsertJoin.UpsertSink): Unit = {
    val allBuckets = 0 until 4
    sink.upsert("k", full(
      ("k1", 1, "b1", "c1"), ("k2", 2, "b2", "c2")))
    // NULL-update k1.b (explicit null, must stick); new key k3 via partial
    sink.upsertPartialUnique("k", partial(Seq("b"),
      Seq(Row("k1", null), Row("k3", "b30"))), allBuckets)
    // second narrow wave, different column subset
    sink.upsertPartialUnique("k", partial(Seq("a"),
      Seq(Row("k2", Int.box(200)), Row("k3", Int.box(300)))), allBuckets)
    // full row AFTER partials: k2 fully replaced, k4 inserted
    sink.upsert("k", full(
      ("k2", 22, "b22", "c22"), ("k4", 4, "b4", "c4")))
    // narrow again over keys both old and fresh
    sink.upsertPartialUnique("k", partial(Seq("c"),
      Seq(Row("k4", "c44"), Row("k1", null))), allBuckets)
  }

  private val expected = Set(
    ("k1", Some(1), None, None), // b NULLed by wave 1, c NULLed by wave 4
    ("k2", Some(22), Some("b22"), Some("c22")), // full replace wins
    ("k3", Some(300), Some("b30"), None), // partial-insert: omitted -> NULL
    ("k4", Some(4), Some("b4"), Some("c44")))

  private def rowsOf(sink: UpsertJoin.UpsertSink) =
    sink.snapshot(spark).select("k", "a", "b", "c")
      .as[(String, Option[Int], Option[String], Option[String])]
      .collect().toSet

  test("in-memory reference merge") {
    val sink = UpsertJoin.newInMemorySink()
    drive(sink)
    assert(rowsOf(sink) === expected)
  }

  test("merge-on-write partial merge") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pu").toString
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", nBuckets = 4,
      deltaCompactEvery = 0)
    drive(sink)
    assert(rowsOf(sink) === expected)
  }

  test("LSM fold: pending deltas, compacted, and across a restart") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pu-lsm").toString
    // never compacts in-sequence: snapshot folds 5 pending generations
    val lazySink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/l", 4,
      deltaCompactEvery = 100)
    drive(lazySink)
    assert(rowsOf(lazySink) === expected, "merge-on-read fold")

    // compacts after every 2 appends: mixed full+partial windows fold
    // at compaction time; the tail window stays pending
    val eager = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/e", 4,
      deltaCompactEvery = 2)
    drive(eager)
    assert(rowsOf(eager) === expected, "compaction fold")

    // a NEW instance over the lazy dir: presence must be recovered from
    // the parquet footers alone (no in-memory schema survives)
    val reopened = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/l", 4,
      deltaCompactEvery = 100)
    assert(rowsOf(reopened) === expected, "restart: footer-driven fold")

    // restart forces a compaction on the next append; the fold must
    // come out identical once the deltas promote into bucket files
    reopened.upsertPartialUnique("k", partial(Seq("a"),
      Seq(Row("k1", Int.box(111)))), 0 until 4)
    val after = expected.filterNot(_._1 == "k1") +
      (("k1", Some(111), None, None))
    assert(rowsOf(reopened) === after, "post-restart compaction")
    assert(new java.io.File(s"$tmp/l/__delta").listFiles()
      .count(f => f.getName.startsWith("g")) === 0,
      "compaction must consume all pending generations")
  }

  test("delta files physically carry only the narrowed columns") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pu-narrow").toString
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 100)
    sink.upsert("k", full(("k1", 1, "b1", "c1")))
    sink.upsertPartialUnique("k", partial(Seq("b"),
      Seq(Row("k1", "bX"))), 0 until 4)
    val gens = new java.io.File(s"$tmp/s/__delta").listFiles()
      .filter(_.getName.startsWith("g")).sortBy(_.getName.stripPrefix("g").toLong)
    assert(gens.length === 2)
    val narrow = spark.read.parquet(gens.last.getPath)
    assert(narrow.columns.toSet ===
      Set("k", "b", "__gen", BucketedState.BucketColName),
      "partial generation must not materialize omitted columns")
  }

  test("NULL update and column-absent stay distinguishable through compaction") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pu-null").toString
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 2)
    sink.upsert("k", full(("k1", 1, "b1", "c1"), ("k2", 2, "b2", "c2")))
    // one batch: k1.b explicitly NULL; k2 untouched on b (absent row)
    sink.upsertPartialUnique("k", partial(Seq("b"),
      Seq(Row("k1", null))), 0 until 4)
    val got = rowsOf(sink)
    assert(got === Set(
      ("k1", Some(1), None, Some("c1")),
      ("k2", Some(2), Some("b2"), Some("c2"))))
  }

  test("uniform-narrow pending window folds via the one-window tier") {
    // Every pending generation carries the SAME narrow column set (the
    // sustained dim-only stream): the merge must take the one-window
    // applyLatest tier, and come out identical to the in-memory
    // reference — at merge-on-read, at compaction, and across NULL
    // updates and partial inserts of new keys.
    val tmp = java.nio.file.Files.createTempDirectory("graft-pu-uni").toString
    val waves = Seq(
      partial(Seq("b"), Seq(Row("k1", "u1"), Row("k3", "u3"))),
      partial(Seq("b"), Seq(Row("k2", null))),
      partial(Seq("b"), Seq(Row("k1", "w1"))))
    val ref = UpsertJoin.newInMemorySink()
    ref.upsert("k", full(("k1", 1, "b1", "c1"), ("k2", 2, "b2", "c2")))
    waves.foreach(w => ref.upsertPartialUnique("k", w, 0 until 4))

    // compact the full load alone so the base is bucket files, then
    // reopen lazily: wave 1 compacts on the restart trigger (a
    // single-generation uniform window), waves 2-3 pend together — the
    // snapshot folds a multi-generation uniform-narrow window
    val loader = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 1)
    loader.upsert("k", full(("k1", 1, "b1", "c1"), ("k2", 2, "b2", "c2")))
    val lazySink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 100)
    waves.foreach(w => lazySink.upsertPartialUnique("k", w, 0 until 4))
    assert(rowsOf(lazySink) === rowsOf(ref), "merge-on-read uniform fold")
    assert(new java.io.File(s"$tmp/s/__delta").listFiles()
      .count(_.getName.startsWith("g")) >= 2,
      "waves 2-3 must still pend (the uniform window under test)")

    // a restart compacts the pending uniform window plus one more
    // same-schema generation — the multi-generation uniform COMPACTION
    val reopened = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 100)
    reopened.upsertPartialUnique("k", partial(Seq("b"),
      Seq(Row("k3", "z3"))), 0 until 4)
    ref.upsertPartialUnique("k", partial(Seq("b"),
      Seq(Row("k3", "z3"))), 0 until 4)
    assert(rowsOf(reopened) === rowsOf(ref), "uniform-window compaction")
    assert(rowsOf(reopened) === Set(
      ("k1", Some(1), Some("w1"), Some("c1")),
      ("k2", Some(2), None, Some("c2")),
      ("k3", None, Some("z3"), None)), "hand-computed final table")
    assert(new java.io.File(s"$tmp/s/__delta").listFiles()
      .count(_.getName.startsWith("g")) === 0,
      "compaction must consume all pending generations")
  }

  test("a full-row upsert keeps a column a partial upsert added to its bucket") {
    // merge-on-write must agree with delta mode's fold: a full-row
    // update of a key whose bucket a partial upsert widened keeps the
    // wider column's value, through both the discovering upsert and
    // the precomputed-bucket path
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("ts", LongType), StructField("p", StringType)))
    val keys = (0 until 16).map(i => s"w$i")
    assert(keys.map(BucketedState.bucketOfLocal(_, 4)).distinct.size === 4)
    val hot = keys.find(BucketedState.bucketOfLocal(_, 4) == 3).get
    def rows(ks: Seq[String], ts: Long) =
      df(schema, ks.map(k => Row(k, ts, s"$k@$ts")))
    val widen = df(StructType(Seq(StructField("k", StringType),
      StructField("extra", StringType))), Seq(Row(hot, "x")))
    def run(compactEvery: Int, prepared: Boolean) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-pu-wide").toString
      val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
        deltaCompactEvery = compactEvery)
      sink.upsert("k", rows(keys, 1L))
      sink.upsertPartialUnique("k", widen, Seq(3))
      val update = rows(Seq(hot), 2L)
      if (prepared) sink.upsertPrepared("k", update, Seq(3))
      else sink.upsert("k", update)
      val snap = sink.snapshot(spark)
      assert(snap.columns.contains("extra"),
        s"compactEvery=$compactEvery prepared=$prepared dropped extra: " +
          snap.columns.mkString(","))
      snap.select("k", "ts", "p", "extra")
        .as[(String, Long, String, Option[String])].collect().toSet
    }
    val expected = keys.map(k =>
      if (k == hot) (k, 2L, s"$k@2", Some("x")) else (k, 1L, s"$k@1", None)
    ).toSet
    for (prepared <- Seq(false, true)) {
      val mergeOnWrite = run(0, prepared)
      assert(mergeOnWrite === run(100, prepared), s"prepared=$prepared")
      assert(mergeOnWrite === expected, s"prepared=$prepared")
    }
  }

  test("sinks without column merge refuse partial batches") {
    val dumb = new UpsertJoin.UpsertSink {
      def upsert(keyCol: String, batch: DataFrame): Unit = ()
      def snapshot(s: org.apache.spark.sql.SparkSession): DataFrame = null
    }
    intercept[UnsupportedOperationException] {
      dumb.upsertPartialUnique("k", full(("k1", 1, "b1", "c1")), Seq(0))
    }
  }
}
