package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import scala.collection.concurrent.TrieMap

/** Retract-stream emulation (SURVEY §7.2.1): the reference materializes
  * its join as a Flink retract stream — (false, oldRow) / (true, newRow)
  * pairs (reference CRMLSJoiner.scala:489). Spark has no retractions;
  * the equivalent observable is a keyed UPSERT sink: per micro-batch,
  * join the delta against the dimension views and merge by key. The
  * final table is identical; only the wire format differs.
  */
object UpsertJoin {

  /** Changelog shard width: the log is written partitioned by
    * `cl_shard = batch_id / ChangelogShardEvery`, so the time-travel
    * predicate prunes FILES (whole shard dirs) instead of relying on
    * row-group stats — on a production-scale log a snapshotAt reads
    * only the history up to its batch. Coarse on purpose: one dir per
    * batch would explode the dir count at micro-batch cadence, one dir
    * per 16 batches bounds both the dir count and the over-read (< one
    * shard). `batch_id` itself stays a DATA column (stable LongType for
    * every reader — a raw partition column would come back as whatever
    * partition-type inference guesses).
    */
  val ChangelogShardEvery: Long = 16L

  /** Does a changelog exist under `clDir`? True for the sharded layout
    * (cl_shard=N partition dirs) and the legacy flat one (top-level
    * parquet files).
    */
  def changelogExists(clDir: String): Boolean = {
    val d = new java.io.File(clDir)
    d.exists() && d.listFiles() != null && d.listFiles().exists(f =>
      f.getName.endsWith(".parquet") ||
        (f.isDirectory && f.getName.startsWith("cl_shard=")))
  }

  /** Max batch_id present in a changelog, or None for an empty log.
    * Stamps are monotone, so on the sharded layout the max lives in the
    * max shard dir and recovery reads ONLY that one — O(1) in history
    * length. Legacy flat logs (no shard dirs) scan what they have.
    */
  def maxChangelogBatchId(spark: SparkSession, clDir: String): Option[Long] = {
    import org.apache.spark.sql.functions._
    if (!changelogExists(clDir)) None
    else {
      val fs = new java.io.File(clDir).listFiles()
      val shards =
        if (fs == null) Array.empty[Long]
        else fs.filter(f => f.isDirectory && f.getName.startsWith("cl_shard="))
          .map(_.getName.stripPrefix("cl_shard=").toLong)
      val src = if (shards.nonEmpty) s"$clDir/cl_shard=${shards.max}"
                else clDir
      spark.read.parquet(src).agg(max(col("batch_id"))).head() match {
        case r if r.isNullAt(0) => None
        case r => Some(r.getLong(0))
      }
    }
  }

  /** Checkpoint root under a changelog dir. `_`-prefixed, so Spark's
    * file listing hides it from every log scan (same trick as
    * `_delta_log`): the checkpoints ride INSIDE the log dir without the
    * retract-pair readers ever seeing them.
    */
  private def ckptRoot(clDir: String) = new java.io.File(clDir, "_ckpt")

  /** Completed checkpoint batch ids under `clDir`, ascending. A
    * checkpoint dir is named `ckpt=<batchId>` and appears only via the
    * post-write rename in [[ParquetUpsertSink.writeChangelogCheckpoint]],
    * so presence == complete (torn writes stay under a dot-prefixed tmp
    * name and are swept by the next writer).
    */
  def listChangelogCheckpoints(clDir: String): Seq[Long] = {
    val fs = ckptRoot(clDir).listFiles()
    if (fs == null) Nil
    else fs.filter(f => f.isDirectory && f.getName.startsWith("ckpt="))
      .map(_.getName.stripPrefix("ckpt=").toLong).toSeq.sorted
  }

  /** Earliest batch the log can still time-travel to, recorded by
    * [[pruneChangelogBefore]]. 0 when the log has never been pruned.
    */
  def changelogFloor(clDir: String): Long = {
    val m = new java.io.File(clDir, "_pruned_below")
    if (!m.exists()) 0L
    else new String(java.nio.file.Files.readAllBytes(m.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  /** Log retention: drop shard dirs whose batches are all strictly
    * below the newest checkpoint <= `keepFrom`, and checkpoints older
    * than that one. After pruning, [[snapshotAt]] still serves every
    * point >= that checkpoint (checkpoint + surviving tail) and throws
    * on earlier points instead of silently folding a truncated prefix
    * (the floor marker is written BEFORE any deletion, so a crash
    * mid-prune fails safe: reads below the floor are already refused,
    * re-running the prune completes the deletes). The Delta-style
    * trade: bounded storage for bounded history.
    * @return the new floor (the checkpoint actually kept), or None if
    *   no checkpoint <= keepFrom exists (nothing pruned).
    */
  def pruneChangelogBefore(clDir: String, keepFrom: Long): Option[Long] = {
    // listChangelogCheckpoints returns ascending, so last = newest
    val base = listChangelogCheckpoints(clDir).filter(_ <= keepFrom)
      .lastOption
    base.map { b =>
      val floor = new java.io.File(clDir, "_pruned_below")
      java.nio.file.Files.write(floor.toPath,
        b.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // a shard dir is safe to drop only if EVERY batch in it is < b:
      // shard s covers [s*16, s*16+15], all below b iff s*16+15 < b
      val fs = new java.io.File(clDir).listFiles()
      if (fs != null) fs.filter(f =>
        f.isDirectory && f.getName.startsWith("cl_shard=") &&
          (f.getName.stripPrefix("cl_shard=").toLong + 1L) *
            ChangelogShardEvery <= b)
        .foreach(f => BucketedState.deleteRecursively(f.toPath))
      listChangelogCheckpoints(clDir).filter(_ < b).foreach(old =>
        BucketedState.deleteRecursively(
          new java.io.File(ckptRoot(clDir), s"ckpt=$old").toPath))
      b
    }
  }

  /** Changelog rows with `afterBatch < batch_id <= upToBatch`. On the
    * sharded layout the shard predicates are applied FIRST so partition
    * pruning drops whole shard dirs from the scan — from BOTH ends when
    * a checkpoint supplies the lower bound — and the exact batch_id
    * filter then trims the boundary shards. Reads a legacy flat log (no
    * cl_shard dirs) identically, minus the pruning.
    */
  def readChangelog(spark: SparkSession, clDir: String,
                    upToBatch: Long, afterBatch: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = spark.read.option("mergeSchema", "true").parquet(clDir)
    val pruned =
      if (raw.columns.contains("cl_shard")) {
        val hi = raw.filter(col("cl_shard") <= lit(upToBatch / ChangelogShardEvery))
        (if (afterBatch >= 0L)
           hi.filter(col("cl_shard") >= lit(afterBatch / ChangelogShardEvery))
         else hi).drop("cl_shard")
      } else raw
    val upper = pruned.filter(col("batch_id") <= upToBatch)
    if (afterBatch >= 0L) upper.filter(col("batch_id") > afterBatch) else upper
  }

  /** Minimal keyed upsert sink. In production this is a
    * `foreachBatch { MERGE INTO }` against a lakehouse table; for tests
    * an in-memory map with the same merge semantics.
    */
  trait UpsertSink {
    def upsert(keyCol: String, batch: DataFrame): Unit
    def snapshot(spark: SparkSession): DataFrame

    /** Bucket count when the sink is hash-bucketed — lets a caller fold
      * sink-bucket discovery into its own discovery job instead of the
      * sink scheduling one more action per batch.
      */
    def bucketCount: Option[Int] = None

    /** Upsert with precomputed touched buckets (for bucketed sinks this
      * is a single write job; `touched` must cover every bucket the
      * batch's keys hash to). A superset is CORRECT but not free: an
      * extra bucket's rows are read, merged unchanged, rewritten, and
      * swapped — content-identical, but rewrite I/O all the same (and
      * the new files are not byte-identical to the old). Callers that
      * can pass the exact set should. Non-bucketed sinks ignore the
      * hint.
      */
    def upsertPrepared(keyCol: String, batch: DataFrame,
                       touched: Seq[Int]): Unit = upsert(keyCol, batch)

    /** [[upsertPrepared]] with the caller's guarantee that `batch`
      * carries AT MOST ONE row per key — lets a sink skip its defensive
      * per-key dedup (for the delta-append path that dedup is a window
      * + wide-struct hash + an extra exchange, measurably the largest
      * single cost of a large micro-batch). Callers feeding latest-state
      * snapshots (one row per key by construction) should use this.
      */
    def upsertPreparedUnique(keyCol: String, batch: DataFrame,
                             touched: Seq[Int]): Unit =
      upsertPrepared(keyCol, batch, touched)

    /** COLUMN-NARROWED upsert: `batch` carries the key plus a SUBSET of
      * the row's columns, and the merge is per-column — a column the
      * batch carries overwrites (including to NULL: an explicit NULL
      * update is a value, not an omission), a column it omits keeps the
      * key's current value, and a key new to the sink gets NULL for
      * every omitted column. `batch` must be unique per key (the
      * [[upsertPreparedUnique]] contract — a defensive dedup of a
      * partial row has no content to order on).
      *
      * This is the delta shape a dimension-only micro-batch wants: when
      * only one dim of an N-way enrichment changed, the changed role
      * columns are the entire delta — writing (and upstream, computing)
      * the other ~90 unchanged columns per affected key is pure I/O tax.
      * Presence is carried by the batch's SCHEMA (absent = not a column
      * of the frame), never by sentinel values, so "set to NULL" and
      * "don't touch" stay distinguishable.
      *
      * Sinks that cannot merge columns must refuse loudly rather than
      * widen the batch with NULLs — a silent full-row upsert would null
      * out every omitted column.
      */
    def upsertPartialUnique(keyCol: String, batch: DataFrame,
                            touched: Seq[Int]): Unit =
      throw new UnsupportedOperationException(
        s"$getClass does not support column-narrowed (partial) upserts")

    /** Whether [[upsertPartialUnique]] is implemented — callers that
      * can narrow a delta must check before narrowing (and fall back to
      * the full-row form), never probe by catching the refusal.
      */
    def supportsPartial: Boolean = false

    /** Driver-array form of [[upsertPartialUnique]]: the caller's
      * narrow delta is already a driver-resident Row array (the
      * incremental-maintenance fast path builds it with map probes, no
      * job). Default adapter wraps it in a LocalRelation frame; sinks
      * with a jobless append (delta-mode parquet) override to write it
      * directly.
      */
    def upsertPartialRowsUnique(spark: SparkSession, keyCol: String,
                                rows: Array[Row], schema:
                                org.apache.spark.sql.types.StructType,
                                touched: Seq[Int]): Unit =
      upsertPartialUnique(keyCol,
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
        touched)

    /** Full-row twin of [[upsertPartialRowsUnique]]: the batch carries
      * COMPLETE rows (the fused full-row enrichment output), still at
      * most one per key. Default adapter wraps a LocalRelation frame.
      */
    def upsertPreparedRowsUnique(spark: SparkSession, keyCol: String,
                                 rows: Array[Row], schema:
                                 org.apache.spark.sql.types.StructType,
                                 touched: Seq[Int]): Unit =
      upsertPreparedUnique(keyCol,
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
        touched)

    /** A no-op: no sink here runs background work
      * ([[ParquetUpsertSink]]'s LSM compaction runs inline, in the
      * append that fills its window). Kept only because the benchmark
      * harness's forwarding sink overrides it; callers need not call
      * it.
      */
    def awaitCompaction(): Unit = ()

    /** Batch-boundary growth hook: grow the sink's physical layout
      * when its observed size warrants (buckets ∝ state — see
      * [[ParquetUpsertSink]]'s growth rehash). MUST be called BEFORE
      * the batch computes any bucket id against [[bucketCount]];
      * `keyCol` is the upsert key the layout hashes on. Returns the
      * new bucket count when the layout regrew. Default: sinks with no
      * growable layout never regrow.
      */
    def maybeRehashIfDue(keyCol: String): Option[Int] = None
  }

  final class InMemorySink(schemaHolder: Array[org.apache.spark.sql.types.StructType])
      extends UpsertSink with Serializable {
    private val rows = TrieMap.empty[Any, Row]
    def upsert(keyCol: String, batch: DataFrame): Unit = {
      schemaHolder(0) = batch.schema
      batch.collect().foreach(r => rows.put(r.getAs[Any](keyCol), r))
    }
    override def supportsPartial: Boolean = true
    /** Driver-side per-column merge; batch columns must be a subset of
      * the full schema already established by a prior full upsert (the
      * reference merge the Parquet sink's spec compares against).
      */
    override def upsertPartialUnique(keyCol: String, batch: DataFrame,
                                     touched: Seq[Int]): Unit = {
      val full = schemaHolder(0)
      require(full.nonEmpty, "partial upsert before any full upsert")
      val positions = batch.schema.fieldNames.map { c =>
        require(full.fieldNames.contains(c),
          s"partial column $c not in sink schema ${full.fieldNames.toSeq}")
        full.fieldIndex(c)
      }
      val keyIdx = batch.schema.fieldIndex(keyCol)
      batch.collect().foreach { r =>
        val key = r.get(keyIdx)
        val base = rows.get(key).map(_.toSeq.toArray)
          .getOrElse(Array.fill[Any](full.length)(null))
        var i = 0
        while (i < positions.length) { base(positions(i)) = r.get(i); i += 1 }
        rows.put(key, new org.apache.spark.sql.catalyst.expressions
          .GenericRowWithSchema(base, full))
      }
    }
    def snapshot(spark: SparkSession): DataFrame = {
      // align by NAME: stored rows keep the schema of the batch that
      // wrote them, and batches from different processBatch tiers may
      // carry the same columns in different orders — a positional
      // build under the last batch's schema would silently scramble
      // older rows' values
      val full = schemaHolder(0)
      val aligned = rows.values.toSeq.map { r =>
        if (r.schema == null ||
            java.util.Arrays.equals(
              r.schema.fieldNames.asInstanceOf[Array[AnyRef]],
              full.fieldNames.asInstanceOf[Array[AnyRef]])) r
        // null-fill a column the writing tier omitted instead of
        // throwing at snapshot time (fieldIndex raises on a miss);
        // columns the first batch never saw stay out of the snapshot
        // by construction — `full` is the contract schema
        else Row.fromSeq(full.fieldNames.toSeq.map { n =>
          val i = r.schema.fieldNames.indexOf(n)
          if (i < 0) null else r.get(i)
        })
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(aligned), full)
    }
  }

  def newInMemorySink(): InMemorySink =
    new InMemorySink(Array(new org.apache.spark.sql.types.StructType()))

  /** Test-only failpoint for the sink growth rehash, invoked with the
    * window name at each crash boundary ("folded", "marked", "built",
    * "mid-swap", "promoted", "done") — fault-injection enumerates the
    * rehash's crash matrix from here. Null (the default) is a no-op on
    * the hot path.
    */
  private[streaming] val rehashFailpoint =
    new java.util.concurrent.atomic.AtomicReference[String => Unit](null)

  /** Test-only failpoint for the sink's LSM compaction, invoked after
    * the bucket swaps and before the folded generations are deleted.
    * Specs use it to crash in that window and to count compactions.
    * Null (the default) is a no-op.
    */
  private[streaming] val compactFailpoint =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)

  object ParquetUpsertSink {
    /** Compaction cadence of a sink built without a changelog and
      * without an explicit `deltaCompactEvery`: one fold every 10
      * appends, the cadence StreamBench measures.
      */
    val DefaultCompactEvery: Int = 10
  }

  /** Durable keyed upsert sink over hash-bucketed parquet
    * ([[BucketedState]]): merge = touched buckets' snapshot UNION
    * batch, keep one row per key — batch beats state, and ties WITHIN a
    * batch fall to a content-hash order, so the survivor is
    * deterministic under task retries and shuffle reordering. Only the
    * buckets containing batch keys are rewritten (each swapped in by
    * rename — see BucketedState's durability note); untouched buckets'
    * files are byte-identical across batches. This is the
    * Delta/Iceberg-`MERGE INTO`-shaped sink realized on plain parquet;
    * at production scale swap the directory layer for a real MERGE —
    * the streaming side is unchanged. Snapshot size is one row per
    * live key, not history. That is the merge-on-write form, which a
    * sink with a changelog runs by default; without one the default is
    * the delta (LSM) form, which applies the same merge once per
    * compaction window (see `deltaCompactEvery`).
    */
  /** @param changelogDir when set, every upsert ALSO appends the
    *   batch's delta as a retract-style changelog — (op=false, oldRow)
    *   / (op=true, newRow) pairs stamped with a monotone batch_id.
    *   This is the wire observable the reference actually emits
    *   (`toRetractStream`, reference CRMLSJoiner.scala:489): the upsert
    *   table is the CONVERGED state, the changelog is the change
    *   stream; replaying the changelog in batch order reconstructs the
    *   snapshot exactly (ChangelogSinkSpec). No-op upserts (key
    *   rewritten with identical content) emit nothing, so the log
    *   carries changes, not traffic. The log is plain append-only
    *   parquet: a replayed batch appends its delta twice (the upsert
    *   table itself stays correct — the merge is idempotent);
    *   production points this at a transactional log (e.g. a table
    *   format's CDF) for exactly-once.
    * @param deltaCompactEvery 0 = merge-on-write: every upsert reads +
    *   rewrites its touched buckets. > 0 = LSM-style merge-on-read: an
    *   upsert appends ONE small delta file (per-batch write I/O is
    *   O(batch rows), and no state read at all), and every N batches a
    *   compaction folds the accumulated deltas into the bucket files.
    *   Negative (the default) picks by changelog: without
    *   `changelogDir` the sink runs delta mode every
    *   [[ParquetUpsertSink.DefaultCompactEvery]] batches, with one it
    *   merges on write so the log keeps one retract batch per upsert.
    *   Precedence is the append generation (later batch beats earlier
    *   beats base), exactly the sequential-merge order, so snapshots
    *   are IDENTICAL to merge-on-write (LsmUpsertSinkSpec). This is the
    *   posture for high-frequency small batches — the merge-on-write
    *   form pays a read+rewrite of every touched bucket per batch,
    *   which is the parquet small-file tax that floors micro-batch
    *   latency. The compaction runs inline, in the append that fills
    *   the window. Crash-safe the same way the merge path is: deltas
    *   are only deleted after their compaction's bucket swaps, and
    *   re-applying an already-compacted delta is a no-op (latest-wins
    *   on identical content). With changelogDir set, retract pairs are
    *   emitted AT COMPACTION TIME
    *   (the one moment this mode has both the pre-image and the merged
    *   post-image in hand): one changelog batch per compaction window,
    *   collapsing the window's intermediate versions — the same
    *   granularity a table format's change-data-feed gives on
    *   compacted commits. Replay still reconstructs every compacted
    *   snapshot exactly (ChangelogSinkSpec's LSM variant); per-batch
    *   granularity needs merge-on-write.
    */
  /** @param epochSource when set, changelog batch stamps come from the
    *   caller instead of the sink's own counter — the composition hook
    *   for multi-store sinks ([[graft.streaming.ColumnFamilySink]])
    *   whose member stores must stamp ONE logical batch with ONE id
    *   across their per-family logs. The supplier is read once per
    *   emit; monotonicity and restart recovery are the caller's
    *   contract.
    */
  /** @param changelogCheckpointEvery when > 0, every N-th changelog
    *   batch also writes the CONVERGED table under
    *   `changelogDir/_ckpt/ckpt=<batchId>` — [[UpsertJoin.snapshotAt]]
    *   then replays at most N batches of log on top of one checkpoint
    *   read instead of the whole prefix, and
    *   [[UpsertJoin.pruneChangelogBefore]] can retire old shards.
    *   Costs one O(state) dump per N batches (amortized O(state/N) per
    *   batch — size N so this sits well below the per-batch delta
    *   write). 0 = off (the default: pure-replay time travel).
    */
  final class ParquetUpsertSink(spark: SparkSession, dir: String,
                                nBuckets: Int = 16,
                                changelogDir: Option[String] = None,
                                deltaCompactEvery: Int = -1,
                                epochSource: Option[() => Long] = None,
                                changelogCheckpointEvery: Int = 0)
      extends UpsertSink with Serializable {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._

    /** The resolved `deltaCompactEvery` (0 = merge-on-write). */
    private val compactEvery: Int =
      if (deltaCompactEvery >= 0) deltaCompactEvery
      else if (changelogDir.isEmpty) ParquetUpsertSink.DefaultCompactEvery
      else 0

    /** CURRENT bucket count: the constructor's `nBuckets` until a
      * growth rehash ([[maybeRehashIfDue]]), then the durable
      * `.nbuckets` stamp. The stamp is written INSIDE the freshly-built
      * layout before the promote, so the count and the files it
      * describes swap in the SAME atomic rename — a restarted sink can
      * never read a stamp that disagrees with the layout on disk. This
      * is the sink-side twin of the state store's growth machinery
      * (CrmlsStream.StateStore.maybeRehash): without it the sink was
      * the last per-batch write term ∝ state — fixed buckets mean
      * compaction rewrite cost grows linearly with organic state growth
      * past seed (68.4 MB/batch at 1 M seed vs 6.8 at 100 k,
      * STREAMBENCH_OVERCAP_1M_r11).
      */
    private var curBuckets: Int = {
      healRehashSwap() // a torn dir swap may hold the stamp hostage
      val stamp = java.nio.file.Paths.get(dir, ".nbuckets")
      if (java.nio.file.Files.exists(stamp))
        new String(java.nio.file.Files.readAllBytes(stamp),
          java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      else nBuckets
    }

    /** Changelog batch stamp. Recovered from the existing log on
      * construction (max batch_id + 1): a restarted sink instance must
      * keep appending AFTER the batches already emitted, or a replay
      * sorted by batch_id would order post-restart updates before the
      * old tail and reconstruct a stale snapshot. One bounded read of
      * the changelog's batch_id column, only when a log exists (and
      * only when the sink stamps for itself — an [[epochSource]]
      * owner recovers its own counter).
      */
    private var epoch: Long = changelogDir match {
      case Some(clDir) if epochSource.isEmpty =>
        // O(1)-in-history recovery: [[maxChangelogBatchId]] reads only
        // the max shard dir (stamps are monotone)
        maxChangelogBatchId(spark, clDir).map(_ + 1L).getOrElse(0L)
      case _ => 0L
    }

    /** Monotone changelog stamp. */
    private def nextEpoch(): Long = synchronized {
      epochSource match {
        case Some(src) => src()
        case None => val e = epoch; epoch += 1; e
      }
    }

    private def deltaDir = s"$dir/__delta"
    /** Committed generation dirs (g<N> with a _SUCCESS marker), sorted.
      * @param sweep delete marker-less (crashed) generation dirs. Only
      *   WRITE paths may sweep: snapshot() is a documented read API and
      *   can run concurrently with an in-flight append — a read-path
      *   sweep could delete the very generation being written (between
      *   its part files landing and its _SUCCESS marker).
      */
    private def deltaGenDirs(sweep: Boolean): Seq[java.io.File] = {
      val d = new java.io.File(deltaDir)
      if (!d.exists()) Nil
      else d.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("g"))
        .flatMap { f =>
          if (new java.io.File(f, "_SUCCESS").exists()) Some(f)
          else {
            if (sweep) BucketedState.deleteRecursively(f.toPath)
            None
          }
        }
        .sortBy(_.getName.stripPrefix("g").toLong)
    }
    /** Next append generation; deltas surviving a restart keep their
      * precedence because the new instance starts past their max —
      * recovered from the dir names, no Spark job.
      */
    private var gen: Long =
      if (compactEvery > 0)
        deltaGenDirs(sweep = true).lastOption
          .map(_.getName.stripPrefix("g").toLong + 1L).getOrElse(0L)
      else 0L
    // force a compaction on the first append after a restart that found
    // pending deltas — their touched-bucket set is no longer known
    private var sinceCompact: Int = if (gen > 0L) compactEvery else 0

    override def bucketCount: Option[Int] = Some(curBuckets)

    def upsert(keyCol: String, batch: DataFrame): Unit =
      if (compactEvery > 0) {
        // delta mode appends the whole batch in one job — running the
        // touched-bucket discovery collect here would spend exactly the
        // per-batch driver round-trip this mode exists to avoid
        appendDelta(keyCol, batch)
      } else {
        val cached = batch.cache()
        try {
          val touched = cached
            .select(BucketedState.bucketOf(col(keyCol), curBuckets).as("__b"))
            .distinct().collect().map(_.getInt(0)).toSeq.sorted
          mergeWrite(keyCol, cached, touched, readSchema = None)
        } finally cached.unpersist()
      }

    /** Precomputed-bucket path: no discovery collect, and the current
      * sink rows are read with the batch's schema (the merge schema by
      * construction) — zero inference jobs, ONE write job per batch.
      */
    override def upsertPrepared(keyCol: String, batch: DataFrame,
                                touched: Seq[Int]): Unit =
      if (touched.nonEmpty) {
        if (compactEvery > 0) appendDelta(keyCol, batch)
        else mergeWrite(keyCol, batch, touched.sorted, Some(batch.schema))
      }

    override def upsertPreparedUnique(keyCol: String, batch: DataFrame,
                                      touched: Seq[Int]): Unit =
      if (touched.nonEmpty) {
        if (compactEvery > 0) appendDelta(keyCol, batch, keyUnique = true)
        else mergeWrite(keyCol, batch, touched.sorted, Some(batch.schema))
      }

    /** Column-narrowed upsert (trait contract). Delta mode appends the
      * narrow batch AS ITS OWN GENERATION — the file's schema IS the
      * presence set (no bitmap column: parquet footers are durable,
      * restart-safe, and free to read), and the merge goes per-column
      * the moment a compaction window holds generations with differing
      * column sets (see [[foldColumns]]). Merge-on-write joins the
      * touched buckets' current rows 1:1 against the batch and
      * overwrites exactly the batch's columns. Per-batch write I/O is
      * O(batch rows x carried columns) in delta mode — the point of
      * the feature.
      */
    override def supportsPartial: Boolean = true
    override def upsertPartialUnique(keyCol: String, batch: DataFrame,
                                     touched: Seq[Int]): Unit =
      if (touched.nonEmpty) {
        require(batch.columns.contains(keyCol),
          s"partial batch must carry the key column $keyCol")
        if (compactEvery > 0) appendDelta(keyCol, batch, keyUnique = true)
        else mergePartialWrite(keyCol, batch, touched.sorted)
      }

    /** Delta-mode upsert: dedup the batch per key with the SAME
      * deterministic survivor as the merge path (max content hash),
      * stamp the generation, append ONE file. No state read, no bucket
      * rewrite — those costs move to the amortized compaction
      * ([[commitGen]]).
      */
    private def appendDelta(keyCol: String, batch: DataFrame,
                            keyUnique: Boolean = false): Unit = {
      // keyUnique = the caller guarantees one row per key, so the
      // defensive dedup window (wide-struct hash + an exchange + a sort
      // — the dominant cost of appending a large enriched batch) is
      // skipped; the survivor semantics are vacuously identical
      val deduped =
        if (keyUnique) batch
        else {
          val w = Window.partitionBy(col(keyCol))
            .orderBy(xxhash64(struct(batch.columns.map(col): _*)).desc)
          batch.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        }
      val stamped = deduped
        .withColumn("__gen", lit(gen))
        .withColumn(BucketedState.BucketColName,
          BucketedState.bucketOf(col(keyCol), curBuckets))
      // the key column name, durable next to the deltas it keys — a
      // restarted instance's snapshot() must dedup on the right column.
      // Written BEFORE the generation commits: the reverse order had a
      // crash window where a committed gen existed without .keycol and
      // a restarted snapshot() threw instead of serving the table (the
      // opposite orphan — .keycol with zero gens — is harmless).
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(deltaDir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(deltaDir, ".keycol"),
        keyCol.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // one gen = one dir = one file + its own _SUCCESS: the append is
      // atomic per batch (a crashed write has no marker and is swept),
      // and no existing-file listing happens on the write path
      // one output file either way, but the two paths reach it
      // differently: after the dedup window, coalesce(1) collapses only
      // the post-exchange tail into one task; on the keyUnique path
      // there IS no exchange, and coalesce(1) would drag the whole
      // upstream enrichment into a single task — repartition(1) keeps
      // the enrichment parallel and pays one round-robin exchange of
      // the (delta-sized) batch instead. (Measured at the 4,000-row
      // bench mix: writing 8 files via coalesce(8) instead is within
      // noise of this — the append's cost is the ~100-column enriched
      // write job itself, not writer parallelism; see BASELINE r6.)
      // a driver-built batch (LocalRelation leaves only — the narrow
      // incremental-maintenance tier hands us one) has no upstream
      // enrichment to keep parallel, and its LocalTableScan slices pull
      // into a coalesced task without a shuffle — repartition(1) would
      // serialize the whole (payload-bearing) delta through an exchange
      // for nothing
      // "driver-built" = projections/filters over LocalRelation only;
      // anything with real upstream compute (a mapPartitions
      // enrichment, a join) keeps the parallelism-preserving
      // repartition
      lazy val isLocalBatch = {
        import org.apache.spark.sql.catalyst.plans.logical.{
          Filter => LFilter, LocalRelation, Project}
        !stamped.queryExecution.analyzed.exists {
          case _: Project | _: LFilter | _: LocalRelation => false
          case _ => true
        }
      }
      val oneFile =
        if (!keyUnique || isLocalBatch) stamped.coalesce(1)
        else stamped.repartition(1)
      oneFile.write.mode("overwrite").parquet(s"$deltaDir/g$gen")
      commitGen(keyCol)
    }

    /** Shared post-append bookkeeping: advance the generation counter
      * and, in the append that fills the window, compact it inline.
      * (An off-thread compaction kept a window's sort pages on the heap
      * while it ran, which made the retained heap bimodal.)
      */
    private def commitGen(keyCol: String): Unit = {
      gen += 1
      sinceCompact += 1
      if (sinceCompact >= compactEvery) {
        val gens = deltaGenDirs(sweep = true)
        sinceCompact = 0
        if (gens.nonEmpty) compact(keyCol, gens)
      }
    }

    /** Jobless delta append for a DRIVER-RESIDENT narrow batch: stamp
      * gen + bucket per row in the same pass that encodes them
      * ([[LocalParquet]] — Spark's own ParquetWriteSupport, one
      * sequential conversion instead of the frame path's fold + write
      * double materialization), then commit the generation with the
      * same marker discipline as the job form (file first, _SUCCESS
      * last — a crash mid-write leaves an unmarked dir that the next
      * restart sweeps). Restart/compaction behavior is IDENTICAL to
      * [[appendDelta]]: same dir layout, same footer-carried presence
      * schema, same latest-gen-wins fold.
      */
    override def upsertPartialRowsUnique(
        spark: SparkSession, keyCol: String, rows: Array[Row],
        schema: org.apache.spark.sql.types.StructType,
        touched: Seq[Int]): Unit =
      if (touched.nonEmpty) {
        if (compactEvery <= 0 || rows.length > 200000)
          super.upsertPartialRowsUnique(spark, keyCol, rows, schema, touched)
        else appendDeltaRowsLocal(spark, keyCol, rows, schema)
      }

    /** Full-row twin of [[upsertPartialRowsUnique]]: a driver-resident
      * batch carrying the COMPLETE row (the fused full-row
      * enrichment). Delta mode appends it joblessly; otherwise the
      * frame form merges on write.
      */
    override def upsertPreparedRowsUnique(
        spark: SparkSession, keyCol: String, rows: Array[Row],
        schema: org.apache.spark.sql.types.StructType,
        touched: Seq[Int]): Unit =
      if (touched.nonEmpty) {
        if (compactEvery <= 0 || rows.length > 200000)
          super.upsertPreparedRowsUnique(spark, keyCol, rows, schema,
            touched)
        else appendDeltaRowsLocal(spark, keyCol, rows, schema)
      }

    /** Jobless delta append of a driver Row array (shared by the
      * partial and full-row forms — the dir layout is identical; a
      * partial batch's presence set rides in its schema's footer as
      * always).
      */
    private def appendDeltaRowsLocal(
        spark: SparkSession, keyCol: String, rows: Array[Row],
        schema: org.apache.spark.sql.types.StructType): Unit = {
      // an empty batch MUST NOT commit a generation: zero part files
      // under a _SUCCESS marker would fail genFrames' schema inference
      // and permanently brick every later compaction/snapshot (the
      // frame path is immune — Spark writes a schema-only part file)
      if (rows.isEmpty) return
      require(schema.fieldNames.contains(keyCol),
        s"batch must carry the key column $keyCol")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(deltaDir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(deltaDir, ".keycol"),
        keyCol.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val genDir = java.nio.file.Paths.get(s"$deltaDir/g$gen")
      java.nio.file.Files.createDirectories(genDir)
      val outSchema = org.apache.spark.sql.types.StructType(
        schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("__gen",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(
            BucketedState.BucketColName,
            org.apache.spark.sql.types.IntegerType)))
      val ki = schema.fieldIndex(keyCol)
      val g = gen
      def stamp(r: Row): Row = {
        val key = if (r.isNullAt(ki)) null else r.getString(ki)
        // Seq[Any] on purpose: Seq(long, int) would HARMONIZE to
        // Seq[Long], silently widening the bucket int out of its
        // declared IntegerType
        Row.fromSeq(r.toSeq ++
          Seq[Any](g, BucketedState.bucketOfLocal(key, curBuckets)))
      }
      // a gen dir may hold several part files (compaction reads the
      // dir) — chunk large deltas across the common pool; _SUCCESS
      // lands only after every part is durable
      val conf = LocalParquet.prepareConf(spark, outSchema)
      val chunks = rows.grouped(8192).zipWithIndex.toSeq
      import scala.jdk.CollectionConverters._
      chunks.asJava.parallelStream().forEach { case (chunk, i) =>
        LocalParquet.write(chunk.iterator.map(stamp), outSchema,
          genDir.resolve(f"part-$i%05d.parquet").toString, conf)
      }
      java.nio.file.Files.write(genDir.resolve("_SUCCESS"),
        Array.empty[Byte])
      commitGen(keyCol)
    }

    /** Parquet part files directly under `d` (none if `d` is absent). */
    private def partFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)

    /** Spark schema of a committed generation, from its first part
      * file's footer — read on the driver, no inference job. The footer
      * is the one presence record that survives restarts: no in-memory
      * schema cache can say which columns a pre-crash partial append
      * carried.
      */
    private def genSchema(g: java.io.File): org.apache.spark.sql.types.StructType =
      LocalParquet.readSchema(spark, partFiles(g).head.getPath)

    /** Committed generations as (generation number, frame), each read
      * with its footer schema.
      */
    private def genFrames(gens: Seq[java.io.File]): Seq[(Long, DataFrame)] =
      gens.map(g => (g.getName.stripPrefix("g").toLong,
        spark.read.schema(genSchema(g)).parquet(g.getPath)))

    private def rowFields(s: org.apache.spark.sql.types.StructType)
        : Seq[org.apache.spark.sql.types.StructField] =
      s.fields.toSeq.filter(f =>
        f.name != "__gen" && f.name != BucketedState.BucketColName)

    /** Pad a frame out to `fullFields` with typed NULLs for the columns
      * it does not carry (changelog pre-images when the schema widened).
      */
    private def alignTo(df: DataFrame,
        fullFields: Seq[org.apache.spark.sql.types.StructField]): DataFrame = {
      val present = df.columns.toSet
      df.select(fullFields.map(f =>
        if (present(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    }

    /** Latest-generation-wins PER COLUMN, in two stages sized to their
      * inputs. Stage 1 ([[foldCells]]) folds the GENERATIONS ONLY —
      * delta-sized by construction — into one row per touched key whose
      * every column is a (generation, value) cell: absent columns
      * contribute NULL cells, which `max` ignores; generations are
      * distinct across sources and unique per key within one, so the
      * max is deterministic, and a column present in no generation for
      * a key folds to a NULL cell. Stage 2 ([[applyCells]]) joins the
      * folded cells 1:1 against the base and resolves each column with
      * a plain `when(cell non-null, cell.v, base value)` projection —
      * the base's rows (bucket-sized, typically far larger than the
      * delta) stream through codegen'd column expressions and never
      * build a struct cell. A first cut folded base and generations
      * together in one aggregation; at a 100k-row base that priced the
      * whole bucket set at ~100 struct allocations per row and made
      * narrowed compactions SLOWER than wide ones — the fold must be
      * O(delta) with an O(base) pass-through, exactly like the
      * merge-on-write partial join. "NULL update" vs "column absent"
      * stays distinguishable throughout: the former is a cell with a
      * NULL value field, the latter no cell at all.
      */
    private def foldCells(keyCol: String,
        sources: Seq[(DataFrame, Long)],
        cellFields: Seq[org.apache.spark.sql.types.StructField]): DataFrame = {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val valueFields = cellFields.filter(_.name != keyCol)
      val union = sources.map { case (df, g) =>
        val present = df.columns.toSet
        df.select(col(keyCol) +: valueFields.map { f =>
          val cellType = StructType(Seq(StructField("o", LongType),
            StructField("v", f.dataType)))
          (if (present(f.name)) struct(lit(g).as("o"), col(f.name).as("v"))
           else lit(null).cast(cellType)).as(f.name)
        }: _*)
      }.reduce(_ unionByName _)
      val aggs = valueFields.map(f => max(col(f.name)).as(f.name))
      union.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    }

    /** Stage 2 of the per-column fold (see [[foldCells]]). `cells`
      * carries struct cells only for `cellFields` (the union of the
      * generations' columns) — a base column no generation touched has
      * no cell and streams through from `cur` unconditionally, instead
      * of riding the fold as a column of NULL cells.
      */
    private def applyCells(base: Option[DataFrame], cells: DataFrame,
        keyCol: String,
        fullFields: Seq[org.apache.spark.sql.types.StructField],
        cellFields: Seq[org.apache.spark.sql.types.StructField]): DataFrame = {
      val cellCols = cellFields.map(_.name).toSet
      base match {
        case None =>
          cells.select(fullFields.map(f =>
            (if (f.name == keyCol) col(keyCol)
             else if (cellCols(f.name)) col(f.name).getField("v")
             else lit(null).cast(f.dataType)).as(f.name)): _*)
        case Some(b) =>
          val baseCols = b.columns.toSet
          b.alias("cur").join(cells.alias("d"), Seq(keyCol), "full_outer")
            .select(fullFields.map { f =>
              val n = f.name
              (if (n == keyCol) col(keyCol)
               else if (!cellCols(n)) col(s"cur.$n")
               else {
                 val cell = col(s"d.$n")
                 if (baseCols(n))
                   when(cell.isNotNull, cell.getField("v"))
                     .otherwise(col(s"cur.$n"))
                 else cell.getField("v")
               }).as(n)
            }: _*)
      }
    }

    /** One-window realization of the pending-generation merge for the
      * common steady state where EVERY pending generation carries the
      * SAME column set (a sustained dim-only stream appends the same
      * narrow schema batch after batch): latest-wins across the
      * generations is then a plain `row_number` window over the narrow
      * union — no struct cells at all — and the base merge is a single
      * 1:1 full-outer join that overwrites exactly the narrow columns
      * (`__hit` marks delta presence, so an explicit NULL update stays
      * distinguishable from "key not in delta"). Fold cost drops from
      * O(delta x full width) struct allocations to O(delta x narrow
      * width) flat columns — the regression the first dense-payload
      * fanout bench caught.
      */
    private def applyLatest(base: Option[DataFrame], latest: DataFrame,
        keyCol: String,
        fullFields: Seq[org.apache.spark.sql.types.StructField]): DataFrame =
      base match {
        case None => alignTo(latest, fullFields)
        case Some(b) =>
          val baseCols = b.columns.toSet
          val latestCols = latest.columns.toSet
          val d = latest.withColumn("__hit", lit(true))
          b.alias("cur").join(d.alias("d"), Seq(keyCol), "full_outer")
            .select(fullFields.map { f =>
              val n = f.name
              (if (n == keyCol) col(keyCol)
               else if (latestCols(n) && baseCols(n))
                 when(col("d.__hit"), col(s"d.$n")).otherwise(col(s"cur.$n"))
               else if (latestCols(n)) col(s"d.$n")
               else col(s"cur.$n")).as(n)
            }: _*)
      }

    /** Merge pending generations whose column sets differ from the
      * base (the non-uniform branch of [[compact]] and [[snapshot]]):
      * the one-window [[applyLatest]] tier when the generations agree
      * on one column set, the per-column [[foldCells]] tier otherwise
      * — with cells restricted to columns at least one generation
      * actually carries.
      */
    private def mergeGens(keyCol: String,
        gdfs: Seq[(Long, DataFrame)],
        genFields: Seq[Seq[org.apache.spark.sql.types.StructField]],
        base: Option[DataFrame],
        fullFields: Seq[org.apache.spark.sql.types.StructField],
        gens: Seq[java.io.File]): DataFrame =
      if (genFields.map(_.map(_.name)).distinct.size == 1) {
        val d = spark.read.schema(gdfs.head._2.schema)
          .parquet(gens.map(_.getPath): _*)
          .drop(BucketedState.BucketColName)
        val w = Window.partitionBy(col(keyCol)).orderBy(col("__gen").desc)
        val latest = d.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "__gen")
        applyLatest(base, latest, keyCol, fullFields)
      } else {
        val genCols = genFields.flatten.map(_.name).toSet
        val cellFields = fullFields.filter(f =>
          f.name == keyCol || genCols(f.name))
        val cells = foldCells(keyCol,
          gdfs.map { case (g, df) =>
            (df.drop("__gen", BucketedState.BucketColName), g)
          }, cellFields)
        applyCells(base, cells, keyCol, fullFields, cellFields)
      }

    /** Fold one compaction window's generations into the bucket files:
      * latest generation wins per key (base reads as generation -1),
      * exactly the order sequential merge-on-write applied. Deletes
      * EXACTLY the generation dirs it was given, only after the bucket
      * swaps promote — a crash in between replays the compacted deltas
      * onto the already-merged base, where latest-wins makes the replay
      * a no-op.
      */
    private def compact(keyCol: String, gens: Seq[java.io.File]): Unit = {
      val gdfs = genFrames(gens)
      val genFields = gdfs.map { case (_, df) => rowFields(df.schema) }
      val touched = gdfs.map(_._2.select(col(BucketedState.BucketColName)))
        .reduce(_ union _).distinct().collect().map(_.getInt(0)).toSeq.sorted
      val baseDf = BucketedState.readBuckets(spark, dir, touched, None)
      val uniform = genFields.map(_.map(_.name)).distinct.size == 1 &&
        baseDf.forall(b =>
          rowFields(b.schema).map(_.name) == genFields.head.map(_.name))
      val (merged, fullFields, delKeys) = if (uniform) {
        // every generation (and the base) carries the same columns:
        // the original whole-row latest-wins merge — ONE multi-path
        // read with a known schema, one window
        val del = spark.read.schema(gdfs.head._2.schema)
          .parquet(gens.map(_.getPath): _*)
        val all = baseDf.map(_.withColumn("__gen", lit(-1L))
            .withColumn(BucketedState.BucketColName,
              BucketedState.bucketOf(col(keyCol), curBuckets)))
          .fold(del)(b => del.unionByName(b))
        val w = Window.partitionBy(col(keyCol)).orderBy(col("__gen").desc)
        val m = all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "__gen")
          .drop(BucketedState.BucketColName)
        (m, genFields.head, del.select(col(keyCol)))
      } else {
        // generations with differing column subsets (partial upserts
        // pending): per-column fold. Full schema = base columns first,
        // then new columns in first-seen generation order.
        val fullFields = {
          val buf = scala.collection.mutable.LinkedHashMap
            .empty[String, org.apache.spark.sql.types.StructField]
          baseDf.foreach(b => rowFields(b.schema)
            .foreach(f => buf.getOrElseUpdate(f.name, f)))
          genFields.flatten.foreach(f => buf.getOrElseUpdate(f.name, f))
          buf.values.toSeq
        }
        (mergeGens(keyCol, gdfs, genFields, baseDf, fullFields, gens),
          fullFields,
          gdfs.map(_._2.select(col(keyCol))).reduce(_ union _))
      }
      val out = merged
        .withColumn(BucketedState.BucketColName,
          BucketedState.bucketOf(col(keyCol), curBuckets))
        .select((BucketedState.BucketColName +: fullFields.map(_.name))
          .map(col): _*)
      // delta-mode changelog: ONE retract-pair batch per compaction
      // window (pre-image = the base bucket files, post-image = the
      // merged fold). Must execute BEFORE overwriteBuckets swaps the
      // files the pre-image frame reads. A crash between this append
      // and the promote replays the compaction and re-appends the
      // window's pairs — same duplicate-on-replay caveat as the
      // merge-on-write log (production: transactional CDF).
      val clEpoch = changelogDir.map { clDir =>
        emitChangelog(clDir, keyCol, baseDf.map(alignTo(_, fullFields)),
          merged, delKeys)
      }
      BucketedState.overwriteBuckets(spark, dir, out, touched)
      Option(compactFailpoint.get()).foreach(_())
      gens.foreach(g => BucketedState.deleteRecursively(g.toPath))
      clEpoch.foreach(maybeChangelogCheckpoint)
    }

    /** Merge-on-write realization of the partial contract: touched
      * buckets' rows full-outer-joined 1:1 against the (key-unique)
      * batch; a column the batch carries takes the batch value whenever
      * the batch has the key (NULL updates included — the probe is the
      * row match, never the value), every other column keeps its
      * current value, new keys get NULL for omitted columns.
      */
    private def mergePartialWrite(keyCol: String, batch: DataFrame,
                                  touched: Seq[Int]): Unit = {
      val cur = BucketedState.readBuckets(spark, dir, touched, None)
      val (merged, fullFields) = cur match {
        case None =>
          (batch, rowFields(batch.schema))
        case Some(c) =>
          val batchCols = batch.columns.toSet
          val curFieldSeq = rowFields(c.schema)
          val curCols = curFieldSeq.map(_.name).toSet
          val fullFields = curFieldSeq ++
            rowFields(batch.schema).filterNot(f => curCols(f.name))
          val hit = batch.withColumn("__hit", lit(true))
          val joined = c.alias("cur").join(hit.alias("b"),
            Seq(keyCol), "full_outer")
          val m = joined.select(fullFields.map { f =>
            val n = f.name
            (if (n == keyCol) col(keyCol)
             else if (batchCols(n) && curCols(n))
               when(col("b.__hit"), col(s"b.$n")).otherwise(col(s"cur.$n"))
             else if (batchCols(n)) col(s"b.$n")
             else col(s"cur.$n")).as(n)
          }: _*)
          (m, fullFields)
      }
      val out = merged.withColumn(BucketedState.BucketColName,
        BucketedState.bucketOf(col(keyCol), curBuckets))
      val clEpoch = changelogDir.map { clDir =>
        emitChangelog(clDir, keyCol, cur.map(alignTo(_, fullFields)),
          merged, batch)
      }
      BucketedState.overwriteBuckets(spark, dir, out, touched)
      clEpoch.foreach(maybeChangelogCheckpoint)
    }

    private def mergeWrite(keyCol: String, batch: DataFrame,
                           touched: Seq[Int],
                           readSchema: Option[org.apache.spark.sql.types.StructType]): Unit = {
      def tagged(df: DataFrame, isNew: Int) = df.withColumn("__tie",
        struct(lit(isNew), xxhash64(struct(df.columns.map(col): _*))))
      val cur = BucketedState.readBuckets(spark, dir, touched, readSchema)
      val all = cur match {
        case Some(c) => tagged(c, 0).unionByName(tagged(batch, 1))
        case None => tagged(batch, 1)
      }
      val w = Window.partitionBy(col(keyCol)).orderBy(col("__tie").desc)
      val merged = all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__tie", "__rn")
        .withColumn(BucketedState.BucketColName,
          BucketedState.bucketOf(col(keyCol), curBuckets))
      changelogDir match {
        case None =>
          BucketedState.overwriteBuckets(spark, dir, merged, touched)
        case Some(clDir) if touched.isEmpty =>
          // zero touched buckets (a batch whose rows all vanished
          // upstream): nothing to stage or promote — staging would
          // write an empty dir whose read-back cannot infer a schema
          // (r12 advice). Emit the (empty) changelog epoch directly
          // from the merge plan so epoch numbering still advances
          // exactly as the log's consumers expect.
          val clEpoch = emitChangelog(clDir, keyCol, cur,
            merged.drop(BucketedState.BucketColName), batch)
          maybeChangelogCheckpoint(clEpoch)
        case Some(clDir) =>
          // With a changelog the merged rows drive TWO actions, and
          // re-running the state read + union + latest-wins window for
          // each was the dominant per-batch cost (r12, guide §2.4:
          // two operations keyed the same way should share one pass).
          // Instead: stage the bucket write FIRST (touches no live
          // file — the changelog emitter still sees the PRE-write
          // generation), derive the retract pairs by reading the
          // just-written columnar staging files back (a delta/touched-
          // bucket-sized sequential read, always cheaper than
          // recomputing the merge), then promote the staged buckets.
          // Crash windows are unchanged: a death before the promote
          // leaves live state at the previous batch with the changelog
          // possibly one batch ahead — exactly today's death between
          // changelog append and bucket swap — and epoch recovery
          // resumes past the logged batch either way.
          val tmp =
            BucketedState.writeBucketsInflight(spark, dir, merged, touched)
          // read back with the known merge schema: no footer-inference
          // job, and a staged write that produced zero files (all rows
          // filtered) still reads as a valid empty frame (r13)
          val mergedBack = spark.read
            .schema(merged.schema)
            .parquet(tmp.toString)
            .select(merged.columns.filter(_ != BucketedState.BucketColName)
              .map(col): _*)
          val clEpoch = emitChangelog(clDir, keyCol, cur, mergedBack, batch)
          BucketedState.promoteBuckets(dir, touched)
          maybeChangelogCheckpoint(clEpoch)
      }
    }

    /** Retract-pair delta for one upsert batch: for every batch key,
      * (false, previous row) if one existed and changed, (true, new
      * row) if inserted or changed. Change detection is ONE key-equi
      * full-outer join with a null-safe whole-row struct compare —
      * identical rewrites cancel out. Valid because the upsert table is
      * one-row-per-key on both sides (merged: the latest-wins window /
      * 1:1 partial fold; cur: the converged pre-image state), which is
      * what lets a key join replace the row-multiset exceptAll form
      * this had before: that planned as two full-width hash-aggregate
      * set-ops (each shuffling both inputs on EVERY column), i.e. four
      * wide exchanges per batch vs this plan's single key exchange.
      */
    private def emitChangelog(clDir: String, keyCol: String,
                              cur: Option[DataFrame], merged: DataFrame,
                              batch: DataFrame): Long = {
      val batchKeys = batch.select(col(keyCol)).distinct()
      val newRows = merged.join(batchKeys, Seq(keyCol), "left_semi")
      // both sides packed in merged's column order so the structs are
      // type-identical for <=> (call sites align cur to fullFields)
      def packed(df: DataFrame, as: String) = df.select(
        col(keyCol).as("__cl_k"),
        struct(merged.columns.map(col): _*).as(as))
      val e = nextEpoch()
      val delta = cur match {
        case None => newRows.withColumn("op", lit(true))
        case Some(c) =>
          val oldRows = c.join(batchKeys, Seq(keyCol), "left_semi")
          // one pass emits both ops: deleted key -> old side only,
          // insert -> new side only, change -> the retract pair
          packed(newRows, "__cl_new")
            .join(packed(oldRows, "__cl_old"), Seq("__cl_k"), "full_outer")
            .filter(!(col("__cl_new") <=> col("__cl_old")))
            .select(explode(array(
              struct(lit(false).as("op"), col("__cl_old").as("row")),
              struct(lit(true).as("op"), col("__cl_new").as("row")))).as("e"))
            .filter(col("e.row").isNotNull)
            .select(col("e.row.*"), col("e.op").as("op"))
      }
      // shard-partitioned append (see [[UpsertJoin.ChangelogShardEvery]]):
      // the batch_id <= N time-travel predicate then prunes whole shard
      // dirs at the scan instead of opening every file's row-group stats
      val stamped = delta
        .withColumn("batch_id", lit(e))
        .withColumn("cl_shard", lit(e / ChangelogShardEvery))
      stamped.write.mode("append").partitionBy("cl_shard").parquet(clDir)
      e
    }

    /** Post-merge hook: on every `changelogCheckpointEvery`-th batch,
      * dump the converged table as changelog checkpoint `e`. Runs AFTER
      * the bucket swap so the checkpoint equals the state the log says
      * exists as of batch `e`. Idempotent and torn-write-safe: the dump
      * lands under a dot-prefixed tmp dir and a rename publishes it, so
      * [[UpsertJoin.listChangelogCheckpoints]] only ever sees complete
      * checkpoints; a crash in the window leaves tmp garbage that the
      * next writer sweeps, and the reader just keeps using the previous
      * checkpoint (correctness never depends on one existing).
      */
    private def maybeChangelogCheckpoint(e: Long): Unit =
      changelogDir.foreach { clDir =>
        if (changelogCheckpointEvery > 0 &&
            (e + 1L) % changelogCheckpointEvery == 0L)
          writeChangelogCheckpoint(clDir, e)
      }

    private[streaming] def writeChangelogCheckpoint(clDir: String,
                                                    e: Long): Unit = {
      val root = new java.io.File(clDir, "_ckpt")
      root.mkdirs()
      val stale = root.listFiles()
      if (stale != null) stale.filter(_.getName.startsWith(".tmp-"))
        .foreach(f => BucketedState.deleteRecursively(f.toPath))
      val fin = new java.io.File(root, s"ckpt=$e")
      if (!fin.exists()) {
        val tmp = new java.io.File(root, s".tmp-$e")
        // Copy the bucket files, NOT snapshot() (in delta mode it would
        // fold pending generations that belong to later batches) and
        // NOT a Spark read+rewrite (r12: that paid a full
        // re-encode job per checkpoint for byte-content the bucket
        // files already hold — post-merge bucket files are
        // schema-uniform parquet, so a driver-side file copy is the
        // same table and zero jobs; at production state sizes the copy
        // is a sequential I/O pass where the rewrite was
        // decode+shuffle-free-but-re-encode). Post-swap bucket files
        // ARE the converged table as of batch e in every caller: the
        // swap just applied batch e's merge (in delta mode, the
        // compaction that emitted e folded every pending generation).
        val parts = BucketedState.listBuckets(dir).flatMap(b =>
          partFiles(new java.io.File(dir, s"bucket_$b")).map(f => (b, f)))
        if (parts.nonEmpty) {
          tmp.mkdirs()
          parts.foreach { case (b, f) =>
            java.nio.file.Files.copy(f.toPath,
              tmp.toPath.resolve(s"bucket$b-${f.getName}"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
          if (!tmp.renameTo(fin))
            BucketedState.deleteRecursively(tmp.toPath) // lost a race: done
        }
      }
    }

    // ---- growth rehash: buckets ∝ state ------------------------------
    // Compaction rewrites touched buckets, so its per-batch cost is
    // ∝ state/buckets — a FIXED count degrades linearly as state grows
    // past seed. The sink now grows its layout the same way the state
    // store does: when observed bucket bytes pass TargetBucketBytes per
    // bucket, rebuild into a fresh dir under the next power-of-2 count
    // and promote with a heal-able two-rename swap. Resume protocol:
    // a sibling `.nbuckets_next` marker is written first; a crash
    // anywhere re-runs the (idempotent) rehash on the next check, and
    // the `.nbuckets` stamp rides INSIDE the fresh dir so count and
    // layout promote atomically together.

    private def rehashMarker = java.nio.file.Paths.get(s"$dir.nbuckets_next")

    /** Per-bucket size target. SMALLER than the store's 1 MB on
      * purpose: the sink's cost model is write amplification — each
      * delta key eventually costs one rewrite of its bucket at
      * compaction, so amortized sink writes are ≈ deltaKeys ×
      * bucketSize per batch, and bucketSize ∈ [target, 2×target) under
      * the rehash. The store balances against point-lookup read fan-in
      * (bigger buckets, fewer file opens); the sink is write-mostly
      * (snapshot reads are full scans, indifferent to file count), so
      * a 256 KB unit cuts the dominant term 4× for free. Past
      * [[MaxBuckets]] the unit grows again — at that scale the sink is
      * a MERGE-capable table format anyway (class scaladoc).
      */
    private[streaming] val TargetBucketBytes: Long =
      sys.env.get("SPARK_GRAFT_SINK_BUCKET_BYTES")
        .orElse(sys.env.get("SPARK_GRAFT_STATE_BUCKET_BYTES"))
        .map(_.toLong).getOrElse(256L << 10)
    private[streaming] val MaxBuckets: Int = 1 << 16
    private[streaming] val RehashCheckEvery: Int = 8

    /** Bytes currently held in bucket files. Pending deltas are
      * excluded on purpose: they are delta-proportional and folded
      * before any rehash anyway.
      */
    private[graft] def bucketBytes(): Long = {
      def sz(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
      val d = new java.io.File(dir)
      if (!d.exists()) 0L
      else d.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("bucket_"))
        .map(sz).sum
    }

    private def pow2Floor(x: Long): Int = {
      var p = 1
      while (p.toLong * 2 <= x && p < MaxBuckets) p *= 2
      p
    }

    /** Bucket count the observed bytes ask for. */
    private[streaming] def wantBuckets(): Int =
      math.min(MaxBuckets,
        pow2Floor(bucketBytes() / math.max(TargetBucketBytes, 1L)))

    private[streaming] def currentBuckets: Int = curBuckets

    /** Grow the layout when the observed bytes/bucket passed the
      * target; completes a crashed rehash first (marker present with a
      * count the stamp hasn't reached — a marker at-or-below the stamp
      * means the promote happened and only cleanup remains). Returns
      * the new count when the layout regrew.
      */
    private[graft] def maybeRehash(keyCol: String): Option[Int] =
      synchronized {
        if (java.nio.file.Files.exists(rehashMarker)) {
          val n2 = new String(
            java.nio.file.Files.readAllBytes(rehashMarker),
            java.nio.charset.StandardCharsets.UTF_8).trim.toInt
          if (n2 <= curBuckets) { // promote completed; crash pre-cleanup
            healRehashSwap()
            java.nio.file.Files.delete(rehashMarker)
            None
          } else { rehashTo(keyCol, n2); Some(n2) }
        } else {
          val want = wantBuckets()
          if (want > curBuckets) { rehashTo(keyCol, want); Some(want) }
          else None
        }
      }

    // the per-check tree walk is gated to every Nth batch — growth is
    // slow relative to batch cadence (mirrors the store's gating)
    private var rehashTick = 0
    override def maybeRehashIfDue(keyCol: String): Option[Int] =
      synchronized {
        rehashTick += 1
        if (rehashTick == 1 || rehashTick % RehashCheckEvery == 0 ||
            java.nio.file.Files.exists(rehashMarker)) maybeRehash(keyCol)
        else None
      }

    /** Rebuild the bucket layout under `n2` buckets. Pending deltas
      * (stamped with OLD-count bucket ids) are folded first; the fresh
      * layout is built as a sibling dir carrying its own `.nbuckets`
      * stamp, then promoted by the two-rename swap [[healRehashSwap]]
      * can heal. Content-identical by construction — no changelog emit
      * (the forced fold emits its own window, as any compaction does).
      */
    /** Fold any pending LSM deltas into the bucket files NOW.
      * Orderly-shutdown/handoff API,
      * and the rehash's prerequisite — pending rows carry bucket ids of
      * the current count, and [[bucketBytes]] only sees bucket files.
      */
    private[graft] def forceCompact(keyCol: String): Unit = synchronized {
      if (compactEvery > 0) {
        val gens = deltaGenDirs(sweep = true)
        if (gens.nonEmpty) { compact(keyCol, gens); sinceCompact = 0 }
      }
    }

    private[streaming] def rehashTo(keyCol: String, n2: Int): Unit = {
      val fp = rehashFailpoint.get()
      def mark(w: String): Unit = if (fp != null) fp(w)
      forceCompact(keyCol)
      healRehashSwap()
      mark("folded")
      val bytes = n2.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      java.nio.file.Files.write(rehashMarker, bytes)
      mark("marked")
      val buckets = BucketedState.listBuckets(dir)
      if (buckets.nonEmpty) {
        // mergeSchema: bucket files can disagree on columns after
        // partial upserts widened only the buckets they touched
        val df = spark.read.option("mergeSchema", "true")
          .parquet(buckets.map(b => s"$dir/bucket_$b"): _*)
        val out = df.withColumn(BucketedState.BucketColName,
          BucketedState.bucketOf(col(keyCol), n2))
        val fresh = s"$dir.rehash"
        BucketedState.deleteRecursively(java.nio.file.Paths.get(fresh))
        BucketedState.overwriteBuckets(spark, fresh, out, 0 until n2)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(fresh, ".nbuckets"), bytes)
        mark("built")
        val live = java.nio.file.Paths.get(dir)
        val old = java.nio.file.Paths.get(s"$dir.rehash_old")
        java.nio.file.Files.move(live, old,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        mark("mid-swap")
        java.nio.file.Files.move(java.nio.file.Paths.get(fresh), live,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        mark("promoted")
        BucketedState.deleteRecursively(old)
      } else {
        // nothing durable yet: stamp the count in place
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, ".nbuckets"), bytes)
      }
      curBuckets = n2
      java.nio.file.Files.delete(rehashMarker)
      mark("done")
    }

    /** Heal a torn dir-level rehash swap (a crash between the two
      * renames): old-without-live restores the old layout (the fresh
      * build was never promoted); old-with-live deletes the superseded
      * old. A leftover `.rehash` build is discarded either way — it is
      * rebuilt from live on resume.
      */
    private def healRehashSwap(): Unit = {
      val live = new java.io.File(dir)
      val old = new java.io.File(s"$dir.rehash_old")
      if (old.exists() && !live.exists())
        java.nio.file.Files.move(old.toPath, live.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else if (old.exists())
        BucketedState.deleteRecursively(old.toPath)
      BucketedState.deleteRecursively(
        java.nio.file.Paths.get(s"$dir.rehash"))
    }

    /** Converged table. Merge-on-write: just the bucket files. Delta
      * mode additionally folds pending deltas in at read time (the
      * "merge-on-read" half of the LSM trade) — same latest-wins
      * ordering as [[compact]], so the result is independent of when
      * compactions happened to run.
      */
    def snapshot(spark: SparkSession): DataFrame = {
      val base = BucketedState.readAll(spark, dir)
      val gens = if (compactEvery > 0) deltaGenDirs(sweep = false) else Nil
      if (gens.isEmpty) {
        base.getOrElse(throw new IllegalStateException(
          s"no state written yet under $dir"))
      } else {
        // merge-on-read over pending deltas: same fold as [[compact]],
        // chosen the same way — whole-row window when every source
        // carries the same columns, per-column otherwise — so the
        // served table is independent of when compactions happened to
        // run (LsmUpsertSinkSpec / PartialUpsertSpec pin both shapes)
        val keyPath = java.nio.file.Paths.get(deltaDir, ".keycol")
        val keyCol = new String(java.nio.file.Files.readAllBytes(keyPath),
          java.nio.charset.StandardCharsets.UTF_8)
        val gdfs = genFrames(gens)
        val genFields = gdfs.map { case (_, df) => rowFields(df.schema) }
        val uniform = genFields.map(_.map(_.name)).distinct.size == 1 &&
          base.forall(b =>
            rowFields(b.schema).map(_.name) == genFields.head.map(_.name))
        if (uniform) {
          import org.apache.spark.sql.expressions.Window
          val d = spark.read.schema(gdfs.head._2.schema)
            .parquet(gens.map(_.getPath): _*)
            .drop(BucketedState.BucketColName)
          val all = base.map(_.withColumn("__gen", lit(-1L)))
            .fold(d)(_.unionByName(d))
          val w = Window.partitionBy(col(keyCol)).orderBy(col("__gen").desc)
          all.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn", "__gen")
            .select(genFields.head.map(f => col(f.name)): _*)
        } else {
          val fullFields = {
            val buf = scala.collection.mutable.LinkedHashMap
              .empty[String, org.apache.spark.sql.types.StructField]
            base.foreach(b => rowFields(b.schema)
              .foreach(f => buf.getOrElseUpdate(f.name, f)))
            genFields.flatten.foreach(f => buf.getOrElseUpdate(f.name, f))
            buf.values.toSeq
          }
          mergeGens(keyCol, gdfs, genFields, base, fullFields, gens)
        }
      }
    }

    /** Time-travel view: the converged table as of the END of changelog
      * batch `batchId` (see [[UpsertJoin.snapshotAt]]). Requires this
      * sink to have a changelog.
      */
    def snapshotAt(keyCol: String, batchId: Long): DataFrame = {
      val clDir = changelogDir.getOrElse(throw new IllegalStateException(
        "snapshotAt needs a changelog: construct the sink with changelogDir"))
      UpsertJoin.snapshotAt(spark, clDir, keyCol, batchId)
    }
  }

  /** Reconstruct the upsert table AS OF the end of changelog batch
    * `batchId` from a retract-pair changelog alone (the
    * `toRetractStream` wire observable, reference CRMLSJoiner.scala:489
    * — this reader is what makes the emitted log QUERYABLE, not just
    * writable). Fold semantics: a key's state is decided by the highest
    * batch_id <= batchId that touched it — an insert (op=true) there is
    * the live row, a bare retract (op=false) means deleted. A crash
    * replay appends the same delta again under the next batch_id
    * (pre-images unchanged), so the fold lands on the same row;
    * byte-identical same-stamp duplicates (task retry) are harmless
    * too — row_number() = 1 picks exactly one row per key, and
    * identical copies make any pick identical, so no dedup pass (and
    * no extra full-width exchange) is needed. ONE hash exchange on the
    * key, total; the shard partition predicate ([[readChangelog]])
    * prunes whole shard dirs at the scan, so the read is bounded by
    * history touched, not log size.
    */
  def snapshotAt(spark: SparkSession, changelogDir: String, keyCol: String,
                 batchId: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // CHECKPOINTED fast path: fold from the newest full-state
    // checkpoint <= batchId plus only the (ckpt, batchId] log tail —
    // the replay cost is bounded by the checkpoint CADENCE, not by
    // total history length (the Delta-checkpoint move). Checkpoint rows
    // enter the same fold as synthetic inserts stamped at the
    // checkpoint batch, so every tail retract/insert above them wins on
    // batch_id exactly as in the full replay; a missing or torn
    // checkpoint simply isn't listed and the fold falls back one
    // checkpoint (or to full replay) — correctness never depends on a
    // checkpoint existing.
    // STRICT floor refusal, independent of which anchors survive: a
    // crash mid-prune may have deleted prefix shards while older
    // checkpoints still exist — anchoring on one of those would fold a
    // truncated tail and return a silently STALE state labeled as
    // batchId. The floor marker is written before any deletion, so
    // refusing on it alone is the fail-safe (below-floor reads refuse
    // from the moment a prune begins, even if it never finishes).
    val floor = changelogFloor(changelogDir)
    if (batchId < floor)
      throw new IllegalStateException(
        s"changelog under $changelogDir is pruned below batch $floor: " +
          s"snapshotAt($batchId) would fold a truncated prefix")
    val base = listChangelogCheckpoints(changelogDir)
      .filter(_ <= batchId).lastOption
    val log = base match {
      case None => readChangelog(spark, changelogDir, batchId)
      case Some(b) =>
        // mergeSchema: checkpoint files are verbatim bucket-file copies,
        // and a partial upsert that widened only its touched buckets
        // leaves the others on the old schema — footer sampling would
        // silently drop the new columns (r12 advice)
        val ckpt = spark.read.option("mergeSchema", "true")
          .parquet(new java.io.File(ckptRoot(changelogDir), s"ckpt=$b").getPath)
          .withColumn("op", lit(true))
          .withColumn("batch_id", lit(b))
        if (b == batchId) ckpt
        else ckpt.unionByName(
          readChangelog(spark, changelogDir, batchId, afterBatch = b),
          allowMissingColumns = true)
    }
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("batch_id").desc, col("op").desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op"))
      .drop("__rn", "op", "batch_id")
  }

  /** NET per-key changes between the ends of changelog batches
    * `fromBatch` (exclusive) and `toBatch` (inclusive) — the audit /
    * CDC-diff read (Delta's `table_changes`, netted): for every key
    * touched in the window, emit
    *   change = 'insert'  (absent at fromBatch -> present at toBatch)
    *            'update'  (present at both, row differs; new values in
    *                       the data columns, prior values in `old_`-
    *                       prefixed ones)
    *            'delete'  (present at fromBatch -> absent at toBatch;
    *                       the dropped row rides in the `old_` columns)
    * Keys that were touched but netted out (created-then-deleted inside
    * the window, or changed and reverted) emit nothing.
    *
    * The retract-pair log makes this a TAIL-ONLY read: a key's state at
    * `fromBatch` is the pre-image carried by its FIRST retract in the
    * window (no retract at its first touch = the key did not exist),
    * and its state at `toBatch` is the window fold's winner — so the
    * scan is bounded by the window's shard dirs
    * ([[readChangelog]] prunes both ends), never the full history, and
    * no checkpoint or base-table read is needed. Plan shape: one
    * key-partitioned hash aggregate (`min_by`/`max_by` over the
    * (batch_id, op) order — partial-aggregated map-side, no window
    * sort), then a local projection; one exchange total.
    */
  def changelogChangesBetween(spark: SparkSession, changelogDir: String,
                              keyCol: String, fromBatch: Long,
                              toBatch: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromBatch <= toBatch,
      s"changelogChangesBetween: fromBatch $fromBatch > toBatch $toBatch")
    val floor = changelogFloor(changelogDir)
    if (fromBatch + 1L < floor)
      throw new IllegalStateException(
        s"changelog under $changelogDir is pruned below batch $floor: " +
          s"the window ($fromBatch, $toBatch] needs batch ${fromBatch + 1}")
    val tail = readChangelog(spark, changelogDir, toBatch, afterBatch = fromBatch)
    val dataCols = tail.columns.filterNot(c => c == keyCol || c == "op" ||
      c == "batch_id").toSeq
    val packed = tail.select(col(keyCol),
      struct(col("batch_id"), col("op")).as("__ord"),
      struct(col("op").as("op"),
        struct(dataCols.map(col): _*).as("r")).as("__row"))
    val agg = packed.groupBy(col(keyCol)).agg(
      min_by(col("__row"), col("__ord")).as("__first"),
      max_by(col("__row"), col("__ord")).as("__last"))
    // state at fromBatch = the first retract's pre-image (an op=true
    // first touch means the key was absent); state at toBatch = the
    // final insert (a bare final retract means deleted)
    val shaped = agg.select(col(keyCol),
      when(!col("__first.op"), col("__first.r")).as("__old"),
      when(col("__last.op"), col("__last.r")).as("__new"))
    val change = when(col("__old").isNull && col("__new").isNotNull, "insert")
      .when(col("__new").isNull && col("__old").isNotNull, "delete")
      .when(col("__new").isNotNull && !(col("__new") <=> col("__old")), "update")
    shaped.withColumn("change", change)
      .filter(col("change").isNotNull)
      .select(col(keyCol) +: col("change") +:
        (dataCols.map(c => col(s"__new.$c").as(c)) ++
          dataCols.map(c => col(s"__old.$c").as(s"old_$c"))): _*)
  }

  /** Drive a streaming fact source through a per-batch join against
    * (re-evaluated) dimension frames and upsert the result.
    *
    * @param fact     streaming DataFrame (the listings delta)
    * @param joinWith given the micro-batch delta, produce the joined
    *                 rows (evaluates dimension views at batch time, so
    *                 dimension updates are picked up on the next batch)
    * @param upsertKey output column to merge on
    */
  def run(fact: DataFrame, joinWith: DataFrame => DataFrame,
          upsertKey: String, sink: UpsertSink,
          checkpointDir: String): StreamingQuery =
    fact.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) sink.upsert(upsertKey, joinWith(batch))
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
