package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** [[ColumnFamilySink]]: the column-group layout must be semantically
  * indistinguishable from the row-major sink on identical workloads
  * (full upserts, partials within and across families, NULL updates,
  * new keys via partial rows, LSM pending/compacted/restart states) —
  * and must deliver the claim the layout exists for: a partial upsert
  * touching one family leaves every other family's files BYTE-IDENTICAL
  * through its compactions.
  */
class ColumnFamilySinkSpec extends SparkTestBase {
  import spark.implicits._

  private val fullSchema = StructType(Seq(
    StructField("k", StringType), StructField("a", IntegerType),
    StructField("x_1", StringType), StructField("x_2", StringType),
    StructField("y_1", StringType)))

  private val fams: Seq[(String, String => Boolean)] = Seq(
    "fx" -> ((c: String) => c.startsWith("x_")),
    "fy" -> ((c: String) => c.startsWith("y_")))

  private def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def full(rows: (String, Integer, String, String, String)*) =
    df(fullSchema, rows.map(r => Row(r._1, r._2, r._3, r._4, r._5)))

  private def partial(cols: Seq[String], rows: Seq[Row]): DataFrame =
    df(StructType(StructField("k", StringType) +:
      cols.map(c => fullSchema(fullSchema.fieldIndex(c)))), rows)

  /** Mixed workload: full load; fx-only partial with a NULL update and
    * a partial-inserted new key; a CROSS-family partial (base + fy); a
    * full row landing after partials; one more fx wave.
    */
  private def drive(sink: UpsertJoin.UpsertSink): Unit = {
    val allBuckets = 0 until 4
    sink.upsert("k", full(
      ("k1", 1, "x11", "x21", "y11"), ("k2", 2, "x12", "x22", "y12")))
    sink.upsertPartialUnique("k", partial(Seq("x_1"),
      Seq(Row("k1", null), Row("k3", "x13"))), allBuckets)
    sink.upsertPartialUnique("k", partial(Seq("a", "y_1"),
      Seq(Row("k2", Int.box(200), "Y12"), Row("k3", Int.box(300), "Y13"))),
      allBuckets)
    sink.upsert("k", full(
      ("k2", 22, "X12", "X22", "Y22"), ("k4", 4, "x14", "x24", "y14")))
    sink.upsertPartialUnique("k", partial(Seq("x_2"),
      Seq(Row("k4", "X24"), Row("k1", null))), allBuckets)
  }

  private val expected = Set(
    ("k1", Some(1), None, None, Some("y11")),
    ("k2", Some(22), Some("X12"), Some("X22"), Some("Y22")),
    ("k3", Some(300), Some("x13"), None, Some("Y13")),
    ("k4", Some(4), Some("x14"), Some("X24"), Some("y14")))

  private def rowsOf(sink: UpsertJoin.UpsertSink) =
    sink.snapshot(spark).select("k", "a", "x_1", "x_2", "y_1")
      .as[(String, Option[Int], Option[String], Option[String], Option[String])]
      .collect().toSet

  test("column-family merge-on-write matches the row-major sink") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cf").toString
    val cf = new ColumnFamilySink(spark, s"$tmp/cf", fams, nBuckets = 4)
    val rowMajor = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/rm", 4,
      deltaCompactEvery = 0)
    drive(cf); drive(rowMajor)
    assert(rowsOf(cf) === expected, "hand-computed table")
    assert(rowsOf(cf) === rowsOf(rowMajor), "row-major equivalence")
    // the layout actually split: three family dirs exist
    for (f <- Seq("base", "fx", "fy"))
      assert(new java.io.File(s"$tmp/cf/cf_$f").exists(), s"family $f")
  }

  test("column-family LSM: pending, compacted, and across a restart") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cf-lsm").toString
    val lazySink = new ColumnFamilySink(spark, s"$tmp/l", fams, 4,
      deltaCompactEvery = 100)
    drive(lazySink)
    assert(rowsOf(lazySink) === expected, "merge-on-read fold per family")

    val eager = new ColumnFamilySink(spark, s"$tmp/e", fams, 4,
      deltaCompactEvery = 2)
    drive(eager)
    assert(rowsOf(eager) === expected, "compaction fold per family")

    val reopened = new ColumnFamilySink(spark, s"$tmp/l", fams, 4,
      deltaCompactEvery = 100)
    assert(rowsOf(reopened) === expected, "restart: footer-driven fold")
    reopened.upsertPartialUnique("k", partial(Seq("x_1"),
      Seq(Row("k1", "x1R"))), 0 until 4)
    assert(rowsOf(reopened) ===
      (expected.filterNot(_._1 == "k1") +
        (("k1", Some(1), Some("x1R"), None, Some("y11")))),
      "post-restart compaction")
  }

  /** The layout's reason to exist: fx-only traffic must leave fy and
    * base files byte-identical — through the APPEND and through the
    * COMPACTION that folds it (row-major compaction rewrites touched
    * buckets at full row width; family compaction never opens the
    * other families).
    */
  test("partial traffic to one family leaves other families byte-identical") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cf-iso").toString
    val sink = new ColumnFamilySink(spark, s"$tmp/s", fams, 4,
      deltaCompactEvery = 2)
    sink.upsert("k", full(
      ("k1", 1, "x11", "x21", "y11"), ("k2", 2, "x12", "x22", "y12")))
    def familyBytes(f: String): Map[String, Seq[Byte]] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (!d.exists()) Nil
        else if (d.isDirectory) d.listFiles().toSeq.flatMap(walk)
        else Seq(d)
      walk(new java.io.File(s"$tmp/s/cf_$f")).map(file =>
        file.getPath ->
          java.nio.file.Files.readAllBytes(file.toPath).toSeq).toMap
    }
    val fyBefore = familyBytes("fy")
    val baseBefore = familyBytes("base")
    assert(fyBefore.nonEmpty && baseBefore.nonEmpty)
    // two fx-only waves: the second triggers a compaction (every 2)
    sink.upsertPartialUnique("k", partial(Seq("x_1"),
      Seq(Row("k1", "A"))), 0 until 4)
    sink.upsertPartialUnique("k", partial(Seq("x_2"),
      Seq(Row("k2", "B"))), 0 until 4)
    assert(familyBytes("fy") === fyBefore,
      "fy must be untouched by fx traffic, through compaction")
    assert(familyBytes("base") === baseBefore,
      "base must be untouched by fx traffic, through compaction")
    assert(rowsOf(sink) === Set(
      ("k1", Some(1), Some("A"), Some("x21"), Some("y11")),
      ("k2", Some(2), Some("x12"), Some("B"), Some("y12"))))
  }

  test("whole-row dedup: batch duplicates never tear across families") {
    // two same-key rows in one non-unique batch: the survivor is the
    // max-content-hash row (the row-major rule), and EVERY family must
    // keep that one row's slice — (a, x_1) pairs from different
    // duplicates would be a torn row
    val tmp = java.nio.file.Files.createTempDirectory("graft-cf-dup").toString
    val cf = new ColumnFamilySink(spark, s"$tmp/cf", fams, 4)
    val rowMajor = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/rm", 4)
    val dup = full(("k1", 1, "p", "p2", "py"), ("k1", 2, "q", "q2", "qy"))
    cf.upsert("k", dup); rowMajor.upsert("k", dup)
    val got = rowsOf(cf)
    assert(got === rowsOf(rowMajor), "same survivor as row-major")
    assert(got === Set(("k1", Some(1), Some("p"), Some("p2"), Some("py"))) ||
      got === Set(("k1", Some(2), Some("q"), Some("q2"), Some("qy"))),
      s"torn row: $got")
  }

  test("reserved and duplicate family names are refused") {
    intercept[IllegalArgumentException] {
      new ColumnFamilySink(spark, "/tmp/never", Seq(
        "base" -> ((_: String) => true)), 4)
    }
    intercept[IllegalArgumentException] {
      new ColumnFamilySink(spark, "/tmp/never", Seq(
        "f" -> ((_: String) => true), "f" -> ((_: String) => false)), 4)
    }
  }
}
