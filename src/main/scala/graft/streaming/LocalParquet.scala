package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{InputFile, LocalInputFile, LocalOutputFile,
  OutputFile}
import org.apache.parquet.io.api.RecordMaterializer
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-direct parquet writer for DRIVER-RESIDENT row arrays: one
  * sequential pass Row -> InternalRow -> parquet via Spark's own
  * [[ParquetWriteSupport]] (the exact encoder every Spark parquet write
  * task runs), with ZERO Spark jobs and ZERO Catalyst passes. [[read]]
  * is its twin: one file back to Rows through Spark's own
  * [[ParquetReadSupport]] (the decoder of Spark's row-based scan).
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
  * and single buckets (bounded by the caller's driver-tier row caps);
  * anything larger takes the distributed frame path. Scope is
  * deliberately one file per call, read or written whole — no
  * directory semantics, no commit protocol (the caller owns
  * markers/renames), no filter pushdown.
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

  /** Built on the prepared conf from the start: the builder's
    * conf-less constructor creates a default Hadoop Configuration,
    * which parses Hadoop's default resources (~10 ms per file).
    */
  private class RowReaderBuilder(file: InputFile, hadoopConf: Configuration)
      extends ParquetReader.Builder[InternalRow](file,
        new HadoopParquetConfiguration(hadoopConf)) {
    override def getReadSupport(): ReadSupport[InternalRow] =
      new RebasingReadSupport(
        hadoopConf.get(SQLConf.PARQUET_REBASE_MODE_IN_READ.key),
        hadoopConf.get(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key))
  }

  /** [[ParquetReadSupport]] with the calendar rebase Spark's scan picks
    * per file: the mode comes from the file's own footer metadata (the
    * writer's Spark version and legacy-calendar flags), falling back to
    * the session's read mode. The footer is only known at [[init]],
    * after the reader has opened the file, so the delegate is built
    * there.
    */
  private final class RebasingReadSupport(datetimeMode: String,
                                          int96Mode: String)
      extends ReadSupport[InternalRow] {
    private var delegate: ParquetReadSupport = _
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val meta = context.getKeyValueMetadata
      val lookup = (k: String) =>
        Option(meta.get(k)).flatMap(_.asScala.headOption).orNull
      delegate = new ParquetReadSupport(None, false,
        DataSourceUtils.datetimeRebaseSpec(lookup, datetimeMode),
        DataSourceUtils.int96RebaseSpec(lookup, int96Mode))
      delegate.init(context)
    }
    override def prepareForRead(conf: Configuration,
        keyValueMetaData: java.util.Map[String, String],
        fileSchema: MessageType, readContext: ReadSupport.ReadContext)
        : RecordMaterializer[InternalRow] =
      delegate.prepareForRead(conf, keyValueMetaData, fileSchema,
        readContext)
  }

  /** Read one parquet file at `file` whole, as `schema` (columns are
    * matched by name; a column the file lacks reads as null), exactly
    * as `spark.read.schema(schema).parquet(file)` returns it.
    */
  def read(spark: SparkSession, file: String, schema: StructType): Array[Row] =
    read(file, schema, prepareReadConf(spark, schema))

  /** The read Configuration for `schema`, built once and shared by
    * every [[read]] of that schema (it is only read after preparation,
    * so threads may share it).
    */
  def prepareReadConf(spark: SparkSession, schema: StructType): Configuration = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    // the schema converter and the requested-schema clipping read these
    // through the hadoop conf with no default (a missing key throws
    // parsing "null"); Spark's scan populates them when it builds its
    // reader — mirror it
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
      SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
      SQLConf.PARQUET_REBASE_MODE_IN_READ,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ)
      .foreach(e => conf.set(e.key, sqlConf.getConf(e).toString))
    conf
  }

  /** Prepared-conf form of [[read]] — `conf` must come from
    * [[prepareReadConf]] with the SAME schema.
    */
  def read(file: String, schema: StructType, conf: Configuration): Array[Row] = {
    val reader =
      new RowReaderBuilder(new LocalInputFile(Paths.get(file)), conf).build()
    // the reader reuses one mutable InternalRow per record: convert
    // each before the next read
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    try Iterator.continually(reader.read()).takeWhile(_ != null)
      .map(r => toRow(r).asInstanceOf[Row]).toArray
    finally reader.close()
  }
}
