package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch parquet table loader for the driver test data
  * (`/root/testdata/sf0.01/<name>.parquet` and siblings).
  *
  * Reads go through `spark.read.parquet`, so Catalyst pushes filters and
  * prunes columns at the scan (visible as `PushedFilters`/`ReadSchema` in
  * `.explain("formatted")`). At 100 TB the same call reads a partitioned
  * parquet/lakehouse table; nothing here is local-specific.
  *
  * The read's schema comes from one footer read on the driver
  * ([[ParquetFooters]]): the file itself, or a directory's first data
  * file, the one Spark's inference would sample. So a load runs no Spark
  * job; Spark's partition discovery still runs as usual.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns stored as parquet TIMESTAMP(NANOS), which Spark cannot
    * represent natively (TimestampType is microseconds). With
    * `spark.sql.legacy.parquet.nanosAsLong=true` they surface as LongType
    * nanos; we convert to TimestampType by integer-dividing to micros —
    * the same truncation DuckDB applies when it narrows ns to its us
    * TIMESTAMP, so oracle comparisons see identical values. (Plain
    * double division would silently lose precision: epoch-nanos ~1.7e18
    * exceeds the 2^53 exact-integer range of a double.)
    */
  private val nanosTimestampCols: Map[String, Seq[String]] =
    Map("events" -> Seq("ts"))

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read
      .schema(ParquetFooters.schema(spark, Seq(firstDataFile(spark, path))))
      .parquet(path)
    nanosTimestampCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      if (d.schema(c).dataType == org.apache.spark.sql.types.LongType)
        d.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(s"$c DIV 1000")))
      else d
    }
  }

  /** `path` itself if it is a file, else the first data file under it in
    * path order, skipping hidden (`.`/`_`) names as Spark's file index
    * does (a `_k=v` partition directory is not hidden).
    */
  private def firstDataFile(spark: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def visible(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
    }
    def leaves(s: FileStatus): Iterator[String] =
      if (!s.isDirectory) Iterator(s.getPath.toString)
      else fs.listStatus(s.getPath).iterator.filter(visible).flatMap(leaves)
    leaves(fs.getFileStatus(root)).minOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
  }

  /** Register every table as a temp view so `spark.sql` mirrors the
    * reference's `tEnv.registerTable` usage
    * (reference CRMLSJoiner.scala:179).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
