package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-direct parquet writer for DRIVER-RESIDENT row arrays: one
  * sequential pass Row -> InternalRow -> parquet via Spark's own
  * [[ParquetWriteSupport]] (the exact encoder every Spark parquet write
  * task runs), with ZERO Spark jobs and ZERO Catalyst passes.
  *
  * Why it exists: the streaming sink's delta append is, on the
  * incremental-maintenance fast path, a driver-built array of narrow
  * rows. Routing that array back through a DataFrame costs two full
  * materializations before any byte hits disk — the optimizer's
  * ConvertToLocalRelation folds the gen/bucket projection driver-side
  * (interpreted, row by row), then the write job converts and encodes
  * the same rows again — measured at ~2s per 22k-row payload-bearing
  * batch, 10x the actual encode work. This helper is the single-pass
  * form. Files it writes are bit-compatible with Spark's reader and
  * with the sink's compaction (same write support, same conf keys that
  * [[ParquetWriteSupport.init]] consumes).
  *
  * Scale posture: this is a DRIVER fast path for delta-sized batches
  * (bounded by the caller's driver-tier row caps); anything larger
  * takes the distributed frame path. Scope is deliberately single-file
  * creation — no directory semantics, no commit protocol (the caller
  * owns markers/renames).
  *
  * Files are local paths, written through java.nio (parquet's
  * [[LocalOutputFile]]), not Hadoop's local filesystem: without native
  * libhadoop that one starts a `chmod` child process per created file
  * and writes a `.crc` sidecar, which together cost more per file than
  * encoding a small batch.
  */
object LocalParquet {

  private class RowBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](file) {
    override def self(): RowBuilder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Write `rows` (schema `schema`) as one parquet file at `file`.
    * Session parquet options (legacy format, timestamp type, rebase
    * modes, codec) are honored so the file is indistinguishable from a
    * task-written one.
    */
  def write(spark: SparkSession, rows: Iterator[Row], schema: StructType,
            file: String): Unit =
    write(rows, schema, file, prepareConf(spark, schema))

  /** Build the write Configuration once for a given (session, schema) —
    * callers writing MANY files of one schema (the per-bucket state
    * write) share it instead of re-deriving a full hadoop conf per
    * file. The conf is only read after preparation, so sharing across
    * writer threads is safe.
    */
  def prepareConf(spark: SparkSession, schema: StructType): Configuration = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    // ParquetWriteSupport.init reads these through the hadoop conf;
    // Spark's own write path populates them in prepareWrite — mirror it
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set("graft.parquet.codec",
      try CompressionCodecName.valueOf(
        sqlConf.parquetCompressionCodec.toUpperCase(java.util.Locale.ROOT))
        .name()
      catch {
        case _: IllegalArgumentException => CompressionCodecName.SNAPPY.name()
      })
    conf
  }

  /** Prepared-conf form of [[write]] — `conf` must come from
    * [[prepareConf]] with the SAME schema. Like Hadoop's create, it
    * makes missing parent directories and refuses an existing `file`.
    */
  def write(rows: Iterator[Row], schema: StructType, file: String,
            conf: Configuration): Unit = {
    val path = Paths.get(file)
    Files.createDirectories(path.toAbsolutePath.getParent)
    val writer = new RowBuilder(new LocalOutputFile(path))
      .withConf(conf)
      .withCompressionCodec(
        CompressionCodecName.valueOf(conf.get("graft.parquet.codec")))
      .build()
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
  }
}
