package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** The driver-direct parquet writer must produce files Spark's reader
  * (and the sink's compaction) sees as identical to task-written ones:
  * same schema, same values, nulls preserved, mixed types intact.
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
}
