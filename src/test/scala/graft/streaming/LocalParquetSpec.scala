package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** The driver-direct parquet writer must produce files Spark's reader
  * (and the sink's compaction) sees as identical to task-written ones:
  * same schema, same values, nulls preserved, mixed types intact; and
  * the driver-direct reader must return what Spark's reader returns.
  */
class LocalParquetSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("payload", StringType),
    StructField("ts", LongType),
    StructField("__gen", LongType),
    StructField("__bucket", IntegerType)))

  /** Files in `dir` named as Hadoop's checksum sidecars. */
  private def crcFiles(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.endsWith(".crc"))

  test("round-trips mixed-type rows including nulls through spark.read") {
    val tmp = java.nio.file.Files.createTempDirectory("lp").toString
    val rows = (0 until 1000).map { i =>
      Row(s"k$i", if (i % 7 == 0) null else "x" * (i % 50),
        if (i % 11 == 0) null else i.toLong * 1000003L,
        3L, i % 16)
    }.toArray
    LocalParquet.write(spark, rows.iterator, schema, s"$tmp/f.parquet")
    assert(crcFiles(tmp).isEmpty)
    // an existing file is refused, not overwritten (the read below
    // still sees the first write)
    intercept[java.nio.file.FileAlreadyExistsException](LocalParquet.write(
      spark, rows.take(1).iterator, schema, s"$tmp/f.parquet"))
    val back = spark.read.parquet(s"$tmp/f.parquet")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val got = back.collect().sortBy(_.getString(0))
    val want = rows.sortBy(_.getString(0))
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }

  test("file is byte-compatible with a task-written one for the sink fold") {
    val tmp = java.nio.file.Files.createTempDirectory("lp2").toString
    val rows = Array(Row("a", "p1", 1L, 0L, 3), Row("b", null, 2L, 0L, 7))
    LocalParquet.write(spark, rows.iterator, schema, s"$tmp/local/f.parquet")
    assert(crcFiles(s"$tmp/local").isEmpty)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
      .coalesce(1).write.parquet(s"$tmp/job")
    val a = spark.read.parquet(s"$tmp/local").collect().sortBy(_.getString(0))
    val b = spark.read.parquet(s"$tmp/job").collect().sortBy(_.getString(0))
    assert(a.toSeq === b.toSeq)
  }

  /** The listing projection (non-null strings, nullable longs and
    * strings) plus the sink's generation and bucket columns.
    */
  private val listingSchema = StructType(
    graft.crmls.Crmls.projectionSchema(graft.crmls.Crmls.listings).fields ++
      schema.fields.takeRight(2))

  private def listingRows(n: Int): Array[Row] =
    (0 until n).map { i =>
      Row.fromSeq(listingSchema.fields.toSeq.zipWithIndex.map {
        case (f, j) if f.nullable && (i + j) % 5 == 0 => null
        case (f, j) => f.dataType match {
          case StringType =>
            if (i % 7 == 0 && f.name != "l_uc_pk") ""
            else s"v$i-$j" + "x" * (i % 3)
          case LongType => i.toLong * 1000003L - j
          case IntegerType => (i + j) % 16
        }
      })
    }.toArray

  /** `LocalParquet.read` of `file` against `spark.read.parquet`, with
    * the schema Spark infers for it.
    */
  private def assertReadsAsSpark(file: String): Int = {
    val want = spark.read.parquet(file)
    val got = LocalParquet.read(spark, file, want.schema)
    assert(got.toSeq === want.collect().toSeq)
    got.length
  }

  test("read returns what spark.read.parquet returns, nulls included") {
    val tmp = java.nio.file.Files.createTempDirectory("lp3").toString
    val rows = listingRows(500)
    LocalParquet.write(spark, rows.iterator, listingSchema, s"$tmp/f.parquet")
    assert(assertReadsAsSpark(s"$tmp/f.parquet") === rows.length)
    assert(LocalParquet.read(spark, s"$tmp/f.parquet", listingSchema).toSeq ===
      rows.toSeq)
    // a requested schema clips by name: reordered, a column dropped, a
    // column the file lacks read as null
    val asked = StructType(Seq(StructField("l_uc_valid_ts", LongType),
      StructField("l_uc_pk", StringType), StructField("absent", StringType)))
    val want = spark.read.schema(asked).parquet(s"$tmp/f.parquet").collect()
    assert(LocalParquet.read(spark, s"$tmp/f.parquet", asked).toSeq ===
      want.toSeq)
    assert(want.forall(_.isNullAt(2)))
  }

  test("read returns what spark.read.parquet returns for a Spark compaction's bucket file") {
    val tmp = java.nio.file.Files.createTempDirectory("lp4").toString
    val projection = StructType(listingSchema.fields.dropRight(2))
    val rows = listingRows(400).map(r => Row.fromSeq(r.toSeq.dropRight(2)))
    import scala.jdk.CollectionConverters._
    // a frame append: its window compacts through the Spark
    // merge-and-write
    val sink = new UpsertJoin.ParquetUpsertSink(spark, s"$tmp/s", 4,
      deltaCompactEvery = 1)
    sink.upsert("l_uc_pk", spark.createDataFrame(rows.toSeq.asJava, projection))
    val files = (0 until 4).flatMap(BucketedState.bucketFiles(s"$tmp/s", _))
    assert(files.nonEmpty)
    assert(files.map(f => assertReadsAsSpark(f.getPath)).sum === rows.length)
  }
}
