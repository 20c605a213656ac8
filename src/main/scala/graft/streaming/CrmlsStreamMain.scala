package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Streams

/** Production entry point — the reference's CLI shape
  * (run_code.sh:3-11: `flink run ... --state-path ... --bootstrap-server
  * ... --listings-topic ... --agents-topic ... --oh-topic ...
  * --office-topic ... --media-topic ... --history-topic ...`)
  * re-expressed over the Spark job: six Kafka topics, each tagged with
  * its entity name, unioned into ONE streaming query feeding
  * [[CrmlsStream.run]]'s incremental 11-way join.
  *
  * Submitted via `run_spark.sh graft.streaming.CrmlsStreamMain ...`
  * (which supplies the Kafka connector package and the RocksDB /
  * checkpoint conf block). Requires a broker, so it cannot execute in
  * the offline dev image — argument parsing and the tagged-union
  * construction are pure and covered by CrmlsStreamMainSpec.
  *
  * The sink is a [[UpsertJoin.ParquetUpsertSink]] on its default
  * layout. Without `--changelog-dir` that is delta (LSM) mode: each
  * micro-batch appends its enriched rows as one small generation, and
  * every 10th append folds the window into the bucket files inline.
  * With `--changelog-dir` it is merge-on-write, so the retract log
  * gets one batch per micro-batch.
  */
object CrmlsStreamMain {

  /** topic-flag -> entity tag, in the reference's CLI order. */
  val topicFlags: Seq[(String, String)] = Seq(
    "--listings-topic" -> "listings",
    "--agents-topic" -> "agents",
    "--oh-topic" -> "openhouses",
    "--office-topic" -> "offices",
    "--media-topic" -> "media",
    "--history-topic" -> "history")

  final case class Config(bootstrap: String, statePath: String,
                          topics: Map[String, String],
                          sinkPath: String, checkpointDir: String,
                          startingOffsets: String = "earliest",
                          changelogDir: Option[String] = None,
                          changelogCheckpointEvery: Int = 0)

  /** Parse the reference-shaped argument list (plus the Spark-side
    * additions --sink-path / --checkpoint-dir / --starting-offsets /
    * --changelog-dir / --changelog-checkpoint-every — the last two
    * wire the reference's `toRetractStream` observable
    * (CRMLSJoiner.scala:489) into the production sink as a durable,
    * time-travelable retract log). Pure; throws with a usage line on
    * any unknown or missing flag.
    */
  def parse(args: Array[String]): Config = {
    val usage = ("usage: CrmlsStreamMain --bootstrap-server B " +
      "--state-path P --sink-path S [--checkpoint-dir C] " +
      "[--starting-offsets earliest|latest] " +
      "[--changelog-dir D [--changelog-checkpoint-every N]] " +
      topicFlags.map(_._1 + " T").mkString(" "))
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k -> v
      case other => throw new IllegalArgumentException(
        s"bad argument pair ${other.mkString(" ")}\n$usage")
    }.toMap
    val known = Set("--bootstrap-server", "--state-path", "--sink-path",
      "--checkpoint-dir", "--starting-offsets", "--changelog-dir",
      "--changelog-checkpoint-every") ++ topicFlags.map(_._1)
    val unknown = kv.keySet -- known
    require(unknown.isEmpty, s"unknown flags ${unknown.mkString(",")}\n$usage")
    def req(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k\n$usage"))
    val topics = topicFlags.map { case (flag, entity) =>
      entity -> req(flag)
    }.toMap
    val statePath = req("--state-path")
    Config(
      bootstrap = req("--bootstrap-server"),
      statePath = statePath,
      topics = topics,
      sinkPath = kv.getOrElse("--sink-path", s"$statePath/sink"),
      checkpointDir = kv.getOrElse("--checkpoint-dir", s"$statePath/ckpt"),
      startingOffsets = kv.getOrElse("--starting-offsets", "earliest"),
      changelogDir = kv.get("--changelog-dir"),
      changelogCheckpointEvery = {
        val raw = kv.getOrElse("--changelog-checkpoint-every", "0")
        val n = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"--changelog-checkpoint-every needs a number, got '$raw'\n$usage"))
        // cadence without a log would silently checkpoint nothing — an
        // operator believing a checkpointed retract log is running
        require(n == 0 || kv.contains("--changelog-dir"),
          s"--changelog-checkpoint-every requires --changelog-dir\n$usage")
        n
      })
  }

  /** Six tagged Kafka streams unioned into the (entity, value) frame
    * [[CrmlsStream.run]] consumes. One streaming query / one
    * checkpoint for all six topics — the arrival order WITHIN a
    * micro-batch is preserved, matching the reference's single-job
    * dataflow.
    */
  def taggedUnion(spark: SparkSession, cfg: Config): DataFrame =
    taggedUnionOf(topicFlags.map(_._2).map { entity =>
      entity -> Streams.kafkaJsonSource(spark, cfg.bootstrap,
        cfg.topics(entity), cfg.startingOffsets)
    }.toMap)

  /** The tagging/union shape alone, over any per-entity source frames
    * (each must carry a string `value` column) — split out so the
    * wiring is testable with MemoryStream in the broker-less image.
    */
  def taggedUnionOf(sources: Map[String, DataFrame]): DataFrame =
    topicFlags.map(_._2).map { entity =>
      sources(entity).select(lit(entity).as("entity"),
        col("value").cast("string").as("value"))
    }.reduce(_.unionByName(_))

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = SparkSession.builder().appName("graft-crmls-stream")
      .getOrCreate()
    val store = new CrmlsStream.StateStore(spark, s"${cfg.statePath}/state")
    val sink = new UpsertJoin.ParquetUpsertSink(spark, cfg.sinkPath,
      changelogDir = cfg.changelogDir,
      changelogCheckpointEvery = cfg.changelogCheckpointEvery)
    CrmlsStream.run(taggedUnion(spark, cfg), store, sink,
      cfg.checkpointDir,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("10 seconds")).awaitTermination()
  }
}
