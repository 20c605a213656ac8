package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftx.ColumnBridge
import org.apache.spark.sql.types.StructType

/** Parquet schemas read from file footers on the driver.
  *
  * A `spark.read.parquet` without a schema runs a Spark job to infer
  * one, even for a single file: Spark sends the footers it samples
  * through a `parallelize(...).collect()`. On a query or micro-batch
  * whose own work is small, that job is a fixed cost paid per read.
  * These helpers read the same footers on the driver, with Spark's own
  * footer reader and schema converter (built from the session conf, so
  * `nanosAsLong` and the binary/INT96 settings apply as in inference),
  * and merge them as parquet `mergeSchema` does. Callers pass the result
  * to `spark.read.schema(...)`, which then runs no job to plan the read.
  */
object ParquetFooters {

  /** Spark schema of each file's footer, in the order given, read in
    * parallel on the JVM's common pool.
    */
  def schemas(spark: SparkSession, files: Seq[String]): Seq[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    files.asJava.parallelStream().map[StructType] { f =>
      val path = new Path(f)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(path, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
        converter)
    }.toList.asScala.toSeq
  }

  /** Merged schema of `files`: fields by name, first seen first, taken
    * in path order (the order Spark's inference sorts them in, so files
    * that agree give exactly the schema it infers). A field whose types
    * conflict is refused, as parquet `mergeSchema` refuses it.
    */
  def schema(spark: SparkSession, files: Seq[String]): StructType = {
    require(files.nonEmpty, "no parquet files to read a schema from")
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    schemas(spark, files.sorted).distinct
      .reduceLeft(ColumnBridge.mergeSchemas(_, _, caseSensitive))
  }
}
