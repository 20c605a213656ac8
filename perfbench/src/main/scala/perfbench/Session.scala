package perfbench

import org.apache.spark.sql.SparkSession

/** The session the production job is deployed with: the conf block of
  * `run_spark.sh`, on one local executor with every core of the host
  * (so shuffle partitions are 3 x cores, as the script sizes them).
  */
object Session {
  def build(cores: Int, checkpointRoot: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", (cores * 3).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.sql.streaming.checkpointLocation", checkpointRoot)
      .config("spark.shuffle.service.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** When a warm-up has settled: the live query's micro-batch times have
  * stopped falling as the JIT compiles.
  */
object Warm {
  /** The median of the last `k` timings is no more than 5% below the
    * median of the `k` before them.
    */
  def settled(ms: Seq[Double], k: Int): Boolean = ms.size >= 2 * k && {
    def med(xs: Seq[Double]) = { val s = xs.sorted; s(s.size / 2) }
    med(ms.takeRight(k)) >= 0.95 * med(ms.takeRight(2 * k).take(k))
  }
}

/** Minimal JSON rendering for the harness's one result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case p: Product => render(p.productElementNames.zip(p.productIterator)
      .toSeq.to(scala.collection.immutable.ListMap))
    case other => render(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.write(tmp,
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
