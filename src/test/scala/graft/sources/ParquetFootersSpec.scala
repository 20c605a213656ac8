package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import graft.SparkTestBase

/** Schemas read from parquet footers on the driver must be the schemas
  * Spark's inference gives, without the inference job.
  */
class ParquetFootersSpec extends SparkTestBase {
  import spark.implicits._

  /** `Tables.load` as it reads with Spark's schema inference. */
  private def inferredLoad(dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df
  }

  test("Tables.load reads every table with the schema inference gives, without a job") {
    assert(jobsIn(Tables.all.foreach(n => Tables.load(spark, sf(), n))) === 0)
    Tables.all.foreach { n =>
      val path = s"${sf()}/$n.parquet"
      assert(spark.read.schema(ParquetFooters.schema(spark, Seq(path)))
        .parquet(path).schema === spark.read.parquet(path).schema, n)
      assert(Tables.load(spark, sf(), n).schema ===
        inferredLoad(sf(), n).schema, n)
    }
  }

  test("the session's nanosAsLong reaches the footer converter") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.LocalOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val tmp = java.nio.file.Files.createTempDirectory("graft-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(
        new LocalOutputFile(tmp.resolve("events.parquet")))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L))
    finally writer.close()
    val path = tmp.resolve("events.parquet").toString
    assert(ParquetFooters.schema(spark, Seq(path))("ts").dataType === LongType)
    assert(spark.read.parquet(path).schema("ts").dataType === LongType)
    val loaded = Tables.load(spark, tmp.toString, "events")
    assert(loaded.schema("ts").dataType === TimestampType)
    assert(loaded.select(unix_micros(col("ts"))).as[Long].head() ===
      1700000000123456L)
  }

  test("Tables.load of a directory samples its first data file and keeps partition discovery") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-footers").toString
    Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "part")
      .write.partitionBy("part").parquet(s"$tmp/parted.parquet")
    Seq((1L, "a")).toDF("id", "s").repartition(2)
      .write.parquet(s"$tmp/plain.parquet")
    Seq("parted", "plain").foreach { n =>
      assert(Tables.load(spark, tmp, n).schema ===
        spark.read.parquet(s"$tmp/$n.parquet").schema, n)
      assert(Tables.load(spark, tmp, n).collect().toSet ===
        spark.read.parquet(s"$tmp/$n.parquet").collect().toSet, n)
    }
  }

  test("footers merge by name in path order and refuse a type conflict") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-footers2").toString
    Seq((1L, "a")).toDF("k", "p").coalesce(1).write.parquet(s"$tmp/a")
    Seq((2L, 2)).toDF("k", "extra").coalesce(1).write.parquet(s"$tmp/b")
    Seq(("c", "x")).toDF("k", "p").coalesce(1).write.parquet(s"$tmp/c")
    def file(d: String) = new java.io.File(s"$tmp/$d").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val merged = ParquetFooters.schema(spark, Seq(file("b"), file("a")))
    assert(merged.fieldNames.toSeq === Seq("k", "p", "extra"))
    assert(merged("k").dataType === LongType)
    assert(intercept[org.apache.spark.SparkException](
      ParquetFooters.schema(spark, Seq(file("a"), file("c"))))
      .getMessage.contains("k"))
  }
}
