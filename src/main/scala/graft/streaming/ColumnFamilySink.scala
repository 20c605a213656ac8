package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-family realization of the keyed upsert sink: the row is
  * stored as disjoint COLUMN GROUPS, each its own hash-bucketed
  * [[UpsertJoin.ParquetUpsertSink]] under `dir/cf_<family>/`, all
  * sharing one key column and one bucket function. This is the layout
  * that narrows the COMPACTION term of the LSM trade, which the
  * row-major narrowed sink cannot touch (BASELINE r6 "remaining
  * narrowing ceiling"): a column-narrowed delta lands only in the
  * families its columns belong to, so the periodic compaction rewrites
  * those families' buckets at FAMILY width — the other families' files
  * are never opened, let alone rewritten. The same trade HBase/Kudu
  * column families and Parquet column projection make: writes and
  * rewrites narrow to the touched group, reads that want the whole row
  * pay a key-join across groups.
  *
  * Semantics are pinned equal to the row-major sink by
  * ColumnFamilySinkSpec on identical mixed workloads (full upserts,
  * partial upserts within and across families, NULL updates, new keys
  * arriving via partial rows, restarts, pending-delta snapshots):
  *   - a FULL upsert splits the row across families; the defensive
  *     per-key dedup runs ONCE on the whole row (max content hash, the
  *     row-major survivor rule) BEFORE the split, so every family keeps
  *     the same survivor's slice — per-family dedup could tear a row
  *     across two batch duplicates;
  *   - a PARTIAL upsert routes each carried column to its family and
  *     touches no other family; "NULL update" vs "column absent" keeps
  *     the row-major contract (presence = the batch's schema);
  *   - a key exists in the table iff it exists in >=1 family; families
  *     that never saw the key contribute typed NULLs at read, exactly
  *     the row-major "new key gets NULL for omitted columns" rule.
  *
  * The snapshot is a key-equality FULL OUTER join across the family
  * snapshots (key first, then families in declaration order, each
  * family's columns in its own stored order — row-major column order is
  * NOT preserved across the layout change; compare modulo column
  * order). At production scale the family stores share bucketing by
  * construction, so the join is co-partitioned under a real table
  * format; on the plain-directory layer it is a key shuffle per family
  * — the documented read tax of the layout.
  *
  * Changelog emission IS offered in this layout, as PER-FAMILY retract
  * logs under one SHARED batch stamp: every member store receives its
  * batch id from this sink (one id per logical upsert, however many
  * families it touches), so the family logs are mutually orderable and
  * [[changelogSnapshotAt]] reassembles the whole-row table AS OF any
  * batch with a key join across the per-family replays — the
  * column-family realization of the row-major sink's CDC feed
  * (ChangelogSinkSpec pins batch-for-batch equivalence). What a
  * per-family log deliberately does NOT give is a pre-stitched
  * whole-row retract PAIR stream: a consumer that needs (false,
  * oldRow)/(true, newRow) wire pairs without a reassembly join should
  * use the row-major sink — stitching pairs at write time would need a
  * cross-family read of every touched key's untouched families, the
  * exact write amplification this layout exists to avoid. Changelog
  * requires merge-on-write (deltaCompactEvery == 0): delta mode emits
  * at each family's own compaction, which would tear the shared-stamp
  * invariant.
  *
  * Crash caveat (same class as the row-major log's duplicate-on-replay
  * note): a crash BETWEEN two families' appends of one logical batch
  * leaves that batch id present in only some family logs until the
  * batch replays under the next id — a reassembly pinned exactly at
  * the torn id reads a partial batch; reassembly at any LATER id is
  * correct (the replayed batch supersedes per key). Production points
  * the logs at a transactional table format for exactly-once, as with
  * the row-major sink.
  *
  * @param families (name, column-name predicate) in declaration order;
  *   a column joins the FIRST family whose predicate accepts it, and
  *   columns no predicate claims join the implicit `base` family. The
  *   family split is part of the on-disk layout: reopening an existing
  *   dir with predicates that route an existing column differently
  *   strands the old slice (same class of contract as changing
  *   nBuckets), so treat both as immutable per state dir.
  */
final class ColumnFamilySink(
    spark: SparkSession, dir: String,
    families: Seq[(String, String => Boolean)],
    nBuckets: Int = 16,
    deltaCompactEvery: Int = 0,
    changelogDir: Option[String] = None,
    changelogCheckpointEvery: Int = 0)
    extends UpsertJoin.UpsertSink with Serializable {
  import org.apache.spark.sql.expressions.Window

  require(changelogDir.isEmpty || deltaCompactEvery == 0,
    "column-family changelog requires merge-on-write " +
      "(deltaCompactEvery = 0): delta-mode emission happens at each " +
      "family's own compaction and cannot share one batch stamp")

  private val BaseFamily = "base"
  require(!families.exists(_._1 == BaseFamily),
    s"family name '$BaseFamily' is reserved for the catch-all")
  private val familyNames: Seq[String] = families.map(_._1) :+ BaseFamily
  require(familyNames.distinct.size == familyNames.size,
    s"duplicate family names in ${familyNames.mkString(",")}")

  private def familyOf(c: String): String =
    families.find(_._2(c)).map(_._1).getOrElse(BaseFamily)

  private def familyLogDir(f: String): Option[String] =
    changelogDir.map(cl => s"$cl/cf_$f")

  /** Shared changelog batch stamp: recovered on construction as
    * (max batch_id over every family log) + 1 — the same restart
    * contract as the row-major sink's, held ONCE here so a restarted
    * instance cannot stamp one family past another.
    */
  private var batchEpoch: Long = changelogDir match {
    case Some(_) =>
      // O(1)-in-history per family: only each log's max shard dir is
      // read (UpsertJoin.maxChangelogBatchId)
      val maxes = familyNames.flatMap(familyLogDir)
        .flatMap(UpsertJoin.maxChangelogBatchId(spark, _))
      if (maxes.isEmpty) 0L else maxes.max + 1L
    case None => 0L
  }

  /** Current stamp, read by every member store's emit within one
    * logical upsert; advanced once per upsert entry point. The stamp
    * is only coherent while ONE logical batch is in flight, so the
    * advance AND every family emit of a batch run under [[writeLock]]
    * ([[writeFamilies]]/[[writeFamilyRows]]) — two threads upserting
    * the same sink concurrently would otherwise stamp one batch's
    * family logs with two different ids, tearing the shared-stamp
    * invariant this class exists to provide.
    */
  @volatile private var currentEpoch: Long = batchEpoch
  private val writeLock = new Object
  private def advanceEpoch(): Unit = {
    currentEpoch = batchEpoch
    batchEpoch += 1L
  }

  private val sinks: Map[String, UpsertJoin.ParquetUpsertSink] =
    familyNames.map(n => n -> new UpsertJoin.ParquetUpsertSink(
      spark, s"$dir/cf_$n", nBuckets,
      changelogDir = familyLogDir(n),
      deltaCompactEvery = deltaCompactEvery,
      epochSource = if (changelogDir.isEmpty) None
                    else Some(() => currentEpoch),
      changelogCheckpointEvery = changelogCheckpointEvery)).toMap

  /** Shared CURRENT bucket count across the families. Families always
    * rehash TOGETHER to one count: callers compute `touched` hints
    * against [[bucketCount]] and pass them to every family verbatim,
    * so per-family counts would make the hints wrong for all but one.
    * A crash between two families' rehashes leaves the stamps split —
    * healed HERE at construction (an upsert could run before any
    * growth check, and a touched set computed under the max count
    * would read the wrong buckets of a laggard family), using the key
    * column persisted at the first write.
    */
  private var curBuckets: Int = {
    val counts = sinks.values.map(_.currentBuckets).toSet
    if (counts.size > 1) {
      val kp = java.nio.file.Paths.get(dir, ".keycol")
      require(java.nio.file.Files.exists(kp),
        s"family bucket counts disagree ($counts) with no .keycol to heal by")
      val k = new String(java.nio.file.Files.readAllBytes(kp),
        java.nio.charset.StandardCharsets.UTF_8)
      sinks.values.foreach(s =>
        if (s.currentBuckets < counts.max) s.rehashTo(k, counts.max))
    }
    counts.max
  }

  override def bucketCount: Option[Int] = Some(curBuckets)
  override def supportsPartial: Boolean = true

  /** Growth rehash, families moving in lockstep: complete any crashed
    * per-family rehash first, then align every family to the largest
    * count any family's observed bytes ask for. Sizing off the LARGEST
    * family keeps its buckets at target; smaller families get smaller
    * buckets (harmless — a few more files, same touched-set math).
    */
  private var rehashTick = 0
  override def maybeRehashIfDue(keyCol: String): Option[Int] =
    writeLock.synchronized {
      rehashTick += 1
      val split = sinks.values.exists(_.currentBuckets != curBuckets)
      if (rehashTick != 1 && rehashTick % 8 != 0 && !split) None
      else {
        sinks.values.foreach(_.maybeRehash(keyCol)) // crashed-rehash resume
        val want = (sinks.values.map(s =>
          math.max(s.wantBuckets(), s.currentBuckets)) ++ Seq(curBuckets)).max
        sinks.values.foreach(s =>
          if (s.currentBuckets < want) s.rehashTo(keyCol, want))
        val grew = want > curBuckets
        curBuckets = want
        if (grew) Some(want) else None
      }
    }

  /** Key column name, durable next to the families (the snapshot join
    * key; same recovery story as the row-major delta dir's `.keycol`).
    */
  private def persistKeyCol(keyCol: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".keycol"),
      keyCol.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Split `batch` into per-family projections (key + that family's
    * columns), dropping families the batch carries no column of.
    */
  private def split(keyCol: String, batch: DataFrame): Seq[(String, DataFrame)] = {
    val byFam = batch.columns.filterNot(_ == keyCol).groupBy(familyOf)
    familyNames.flatMap(f => byFam.get(f).map(cs =>
      f -> batch.select((keyCol +: cs.toSeq).map(col): _*)))
  }

  /** Fan a key-unique batch out to its families. The batch plan is
    * evaluated once per touched family; `cache` the caller's frame when
    * >1 family is touched so the upstream (e.g. the enrichment) doesn't
    * recompute per family.
    */
  private def writeFamilies(keyCol: String, batch: DataFrame,
                            touched: Seq[Int], partial: Boolean): Unit =
    writeLock.synchronized {
      if (changelogDir.isDefined) advanceEpoch() // one stamp per batch
      persistKeyCol(keyCol)
      val parts = split(keyCol, batch)
      val multi = parts.size > 1
      val src = if (multi) batch.cache() else batch
      try {
        val resplit = if (multi) split(keyCol, src) else parts
        resplit.foreach { case (f, fdf) =>
          val fp = ColumnFamilySink.familyFailpoint.get()
          if (fp != null) fp(f)
          if (partial) sinks(f).upsertPartialUnique(keyCol, fdf, touched)
          else sinks(f).upsertPreparedUnique(keyCol, fdf, touched)
        }
      } finally if (multi) src.unpersist()
    }

  /** Whole-row defensive dedup (the row-major survivor rule), run
    * BEFORE the family split so no row tears across families.
    */
  private def dedupWholeRow(keyCol: String, batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(xxhash64(struct(batch.columns.map(col): _*)).desc)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  def upsert(keyCol: String, batch: DataFrame): Unit = {
    val deduped = dedupWholeRow(keyCol, batch).cache()
    try {
      val touched = deduped
        .select(BucketedState.bucketOf(col(keyCol), curBuckets).as("__b"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      writeFamilies(keyCol, deduped, touched, partial = false)
    } finally deduped.unpersist()
  }

  override def upsertPrepared(keyCol: String, batch: DataFrame,
                              touched: Seq[Int]): Unit =
    if (touched.nonEmpty)
      writeFamilies(keyCol, dedupWholeRow(keyCol, batch), touched.sorted,
        partial = false)

  override def upsertPreparedUnique(keyCol: String, batch: DataFrame,
                                    touched: Seq[Int]): Unit =
    if (touched.nonEmpty)
      writeFamilies(keyCol, batch, touched.sorted, partial = false)

  override def upsertPartialUnique(keyCol: String, batch: DataFrame,
                                   touched: Seq[Int]): Unit =
    if (touched.nonEmpty) {
      require(batch.columns.contains(keyCol),
        s"partial batch must carry the key column $keyCol")
      writeFamilies(keyCol, batch, touched.sorted, partial = true)
    }

  /** Driver-array forms: split the ROWS per family here — one plain
    * loop instead of caching a frame and re-evaluating its plan per
    * family — and delegate each slice to the family store's jobless
    * delta append. Same family routing, same write order, same
    * key-unique contract as the frame forms.
    */
  private def writeFamilyRows(spark: SparkSession, keyCol: String,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      touched: Seq[Int], partial: Boolean): Unit = writeLock.synchronized {
    if (changelogDir.isDefined) advanceEpoch() // one stamp per batch
    persistKeyCol(keyCol)
    val ki = schema.fieldIndex(keyCol)
    val nonKey = schema.fields.zipWithIndex.filter(_._1.name != keyCol)
    familyNames.foreach { f =>
      val idxs = nonKey.collect {
        case (fld, i) if familyOf(fld.name) == f => i
      }
      if (idxs.nonEmpty) {
        val fp = ColumnFamilySink.familyFailpoint.get()
        if (fp != null) fp(f)
        val famSchema = org.apache.spark.sql.types.StructType(
          schema.fields(ki) +: idxs.map(schema.fields(_)))
        val famRows = rows.map { r =>
          val arr = new Array[Any](1 + idxs.length)
          arr(0) = r.get(ki)
          var i = 0
          while (i < idxs.length) { arr(i + 1) = r.get(idxs(i)); i += 1 }
          org.apache.spark.sql.Row.fromSeq(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
        }
        if (partial) sinks(f).upsertPartialRowsUnique(spark, keyCol,
          famRows, famSchema, touched)
        else sinks(f).upsertPreparedRowsUnique(spark, keyCol,
          famRows, famSchema, touched)
      }
    }
  }

  override def upsertPartialRowsUnique(spark: SparkSession, keyCol: String,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      touched: Seq[Int]): Unit =
    if (touched.nonEmpty) {
      require(schema.fieldNames.contains(keyCol),
        s"partial batch must carry the key column $keyCol")
      writeFamilyRows(spark, keyCol, rows, schema, touched.sorted,
        partial = true)
    }

  override def upsertPreparedRowsUnique(spark: SparkSession, keyCol: String,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      touched: Seq[Int]): Unit =
    if (touched.nonEmpty)
      writeFamilyRows(spark, keyCol, rows, schema, touched.sorted,
        partial = false)

  /** Converged table: FULL OUTER key join across the family snapshots
    * (each family folds its own pending deltas — merge-on-read per
    * family, settled compactions joined first). Key first, then
    * families in declaration order.
    */
  def snapshot(spark: SparkSession): DataFrame = {
    val keyPath = java.nio.file.Paths.get(dir, ".keycol")
    require(java.nio.file.Files.exists(keyPath),
      s"no state written yet under $dir")
    val keyCol = new String(java.nio.file.Files.readAllBytes(keyPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val parts = familyNames.flatMap { f =>
      if (new java.io.File(s"$dir/cf_$f").exists())
        Some(sinks(f).snapshot(spark))
      else None
    }
    require(parts.nonEmpty, s"no family state under $dir")
    parts.reduce((a, b) => a.join(b, Seq(keyCol), "full_outer"))
  }

  /** Join-time changelog reassembly: the whole-row table AS OF batch
    * `upToBatch` (inclusive), rebuilt purely from the per-family
    * retract logs. Per family: replay entries with batch_id <=
    * upToBatch — within a key, the LATEST batch wins and within one
    * batch the op=true row beats its retract (exactly the row-major
    * replay rule ChangelogSinkSpec pins); a key whose latest entry is
    * a bare retract drops. Families first touched after `upToBatch`
    * contribute typed NULLs via the full-outer key join — the same
    * evolution the live snapshot had at that batch. Cost: one window
    * per family log; without checkpoints that is the FULL log read
    * (append-only, grows with history), with `changelogCheckpointEvery`
    * set each family anchors on its newest checkpoint <= the batch and
    * replays at most a cadence's worth of tail. An audit/replay-time
    * API either way, not a serving path; the live table is
    * [[snapshot]].
    */
  def changelogSnapshotAt(spark: SparkSession, upToBatch: Long): DataFrame = {
    require(changelogDir.isDefined,
      "changelogSnapshotAt needs the sink constructed with changelogDir")
    val keyPath = java.nio.file.Paths.get(dir, ".keycol")
    require(java.nio.file.Files.exists(keyPath),
      s"no state written yet under $dir")
    val keyCol = new String(java.nio.file.Files.readAllBytes(keyPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val parts = familyNames.flatMap { f =>
      familyLogDir(f).filter(UpsertJoin.changelogExists).map { clDir =>
        // the checkpoint-aware fold: anchors on each family's newest
        // checkpoint <= upToBatch when the sink was constructed with
        // changelogCheckpointEvery (replay bounded by cadence), and is
        // the plain shard-pruned replay otherwise
        UpsertJoin.snapshotAt(spark, clDir, keyCol, upToBatch)
      }
    }
    require(parts.nonEmpty, s"no family changelog under $changelogDir")
    parts.reduce((a, b) => a.join(b, Seq(keyCol), "full_outer"))
  }
}

object ColumnFamilySink {
  /** Test-only failpoint, invoked with the family name immediately
    * before each family's append within one logical batch — the
    * documented torn-batch window (a crash between two families'
    * appends leaves that batch id partial until replay supersedes it).
    * Null (the default) is a no-op on the hot path.
    */
  private[streaming] val familyFailpoint =
    new java.util.concurrent.atomic.AtomicReference[String => Unit](null)
}
