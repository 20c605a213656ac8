package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.crmls.Crmls
import graft.operators.LatestVersion

/** Streaming realization of the reference's production job (SURVEY
  * §7.2(2), reference CRMLSJoiner.scala): six change-capture topics,
  * each reduced to latest-version-per-key, maintained as state, and an
  * 11-way left join whose result updates when EITHER side changes.
  *
  * Architecture (micro-batch, `foreachBatch`):
  *
  *  1. The six raw streams are UNIONED into one tagged stream — one
  *     streaming query, one checkpoint, arrival-order preserved per
  *     micro-batch.
  *  2. Per batch, each entity's delta upserts into its latest-state
  *     table (argmax merge: existing state UNION delta -> window max —
  *     same single-shuffle dedup as batch). State lives in a
  *     [[StateStore]]: parquet-backed here; Delta/Iceberg MERGE at
  *     production scale.
  *  3. Affected listing keys = listings whose pk appears in the batch's
  *     listing delta, PLUS listings referencing any updated dimension
  *     key — resolved against an incrementally-maintained REVERSE
  *     INDEX (`listing_ref_idx`: (ref_col, ref_val) -> l_uc_pk,
  *     bucketed by ref_val). Only those listings are re-joined and
  *     upserted — dimension updates propagate without recomputing the
  *     world, the same observable behavior as Flink's retract stream
  *     (new row supersedes old by l_uc_pk).
  *
  * Driver-job budget — the 100 TB latency constraint: a micro-batch
  * driver that schedules one Spark action per entity per sub-step is
  * the pipeline's bottleneck long before the data is (the reference
  * runs ONE continuously-scheduled dataflow; the micro-batch analog
  * must keep its per-batch job count O(1), not O(entities)). The whole
  * of [[processBatch]] is therefore FOUR actions, independent of how
  * many entities the batch touches:
  *
  *   J1  discovery — one aggregation over the tagged batch computing
  *       every touched-bucket set at once: per-entity state buckets,
  *       reverse-index write buckets, and (for listing/media/history
  *       deltas) the directly-affected listing + sink buckets.
  *   J2  state write — the six argmax merges AND the reverse-index
  *       set-merge union into ONE frame (canonical union schema,
  *       entity discriminator column) written by ONE dynamic-partition
  *       job; the driver then rename-swaps exactly the touched
  *       (entity, bucket) dirs ([[BucketedState.overwriteEntityBuckets]]).
  *   J3  (only when a dimension delta is present) affected-key
  *       discovery — bucket-pruned reverse-index lookup joined to the
  *       dim delta keys; collects just the affected listings' state +
  *       sink BUCKET ids, never the keys themselves.
  *   J4  re-join + sink upsert — affected listing buckets, semi-joined
  *       to the affected keys, through the 11-way join against the
  *       current dim states, merged into the sink's touched buckets
  *       (precomputed in J1/J3, so the sink schedules no discovery
  *       action of its own).
  *
  * All state reads pass static schemas ([[Crmls.projectionSchema]]) —
  * zero parquet-inference jobs.
  *
  * At 100 TB: every state table is hash-bucketed ([[BucketedState]]);
  * a batch WRITES only the buckets its keys touch, and step 3 READS
  * only the index/listing buckets its delta keys hash to — per-batch
  * I/O is proportional to the delta, not to the accumulated state.
  */
object CrmlsStream {

  /** Listing columns that reference dimension keys (agent x4,
    * office x4, open-house listing key) — the reverse-index key set.
    */
  private val ListingRefCols: Seq[String] = Seq(
    "l_list_agent_key", "l_buyer_agent_key",
    "l_co_list_agent_key", "l_co_buyer_agent_key",
    "l_list_office_key", "l_buyer_office_key",
    "l_co_list_office_key", "l_co_buyer_office_key",
    "l_listing_key")

  /** Reverse-index sub-table name and schema: (ref_col, ref_val) ->
    * l_uc_pk, bucketed by ref_val. Entries are append-only: when a
    * listing's reference CHANGES, the stale entry survives and can only
    * cause a harmless false-positive re-join of that listing.
    */
  private val IdxName = "listing_ref_idx"

  private val IdxSchema = StructType(Seq(
    StructField("ref_col", StringType), StructField("ref_val", StringType),
    StructField("l_uc_pk", StringType)))

  /** Which listing delta columns are candidate listing pks directly
    * (media/history reference the listing PK itself, so their delta
    * keys ARE candidate pks — nonexistent ones drop in the semi-join).
    */
  private val DirectPkSources: Seq[(String, String)] = Seq(
    "listings" -> "l_uc_pk",
    "media" -> "m_resource_record_key",
    "history" -> "h_resource_record_key")

  /** Dimension entities whose updates fan out to listings via the
    * reverse index: (entity, delta key column, index ref_cols).
    */
  private val DimLookups: Seq[(String, String, Seq[String])] = Seq(
    ("agents", "a_uc_pk", Seq(
      "l_list_agent_key", "l_buyer_agent_key",
      "l_co_list_agent_key", "l_co_buyer_agent_key")),
    ("openhouses", "o_listing_key", Seq("l_listing_key")),
    ("offices", "ofc_uc_pk", Seq(
      "l_list_office_key", "l_buyer_office_key",
      "l_co_list_office_key", "l_co_buyer_office_key")))

  /** Union schema over the six entity projections + the reverse index
    * (first occurrence wins on shared names — `l_uc_pk` is shared by
    * design). Every J2 write emits exactly these columns, so state
    * files have ONE physical schema regardless of which entities a
    * batch touched; per-entity reads column-prune back down to the
    * entity's own fields.
    */
  private lazy val canonicalFields: Seq[StructField] = {
    val all = Crmls.allEntities.flatMap(s => Crmls.projectionSchema(s).fields) ++
      IdxSchema.fields
    all.foldLeft(Vector.empty[StructField]) { (acc, f) =>
      if (acc.exists(_.name == f.name)) acc else acc :+ f
    }
  }

  private def canonicalize(df: DataFrame, entity: String,
                           bucket: Column): DataFrame = {
    val have = df.columns.toSet
    df.select(
      lit(entity).as(BucketedState.EntityColName) +:
        bucket.as(BucketedState.BucketColName) +:
        canonicalFields.map(f =>
          (if (have(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
  }

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Output schema of [[canonicalize]]: (entity, bucket,
    * canonicalFields...) — the ONE physical schema every state write
    * emits, and the row layout of the driver-tier merge below.
    */
  private lazy val unionSchema: StructType = StructType(
    StructField(BucketedState.EntityColName, StringType, nullable = false) +:
      StructField(BucketedState.BucketColName, IntegerType, nullable = false) +:
      // every canonical field is nullable in union rows: entities other
      // than the field's owner pad it with null (exactly what
      // canonicalize's lit(null) cast does plan-side)
      canonicalFields.map(_.copy(nullable = true)))

  /** Cached driver evaluators of [[tieTagged]]'s content hash
    * (`xxhash64(struct(cols...))`), one per entity schema. The driver
    * merge MUST pick the same winners the window form picks, so the
    * hash is evaluated through the identical Catalyst expression
    * (ColumnBridge.rowXxHash64), never reimplemented.
    */
  private val tieHashers =
    scala.collection.concurrent.TrieMap.empty[StructType, Row => Long]
  private def tieHasher(schema: StructType): Row => Long =
    tieHashers.getOrElseUpdate(schema,
      org.apache.spark.sql.graftx.ColumnBridge.rowXxHash64(schema))

  /** Cached driver-side evaluators of [[Crmls.project]] per entity —
    * the same analyzed expression tree the plan form folds, bound and
    * codegen'd ONCE (ColumnBridge.rowProjector). The per-batch
    * alternative (a fresh LocalRelation plan per entity per batch)
    * re-ran the analyzer + optimizer for identical expressions every
    * micro-batch — 0.3-0.45 s of every fused batch's J1 leg.
    *
    * Keyed by (SparkSession, entity): the analyzed tree folds
    * session-conf-dependent expressions (e.g. timeZone) at compile
    * time, so a projector must not outlive or cross sessions. Wrapped
    * per-thread (ThreadLocal) because UnsafeProjection reuses a mutable
    * result buffer — two streaming queries batching concurrently in one
    * JVM would otherwise corrupt each other's rows.
    */
  // weak session keys: a long-running JVM that churns sessions (or
  // many foreachBatch threads) must not retain dead sessions' compiled
  // projectors forever — entries become GC-able with their session
  private val envProjectors = new java.util.WeakHashMap[
    SparkSession, scala.collection.concurrent.TrieMap[
      String, ThreadLocal[Row => Row]]]()
  private[streaming] def envProjector(spark: SparkSession,
                                      spec: Crmls.EntitySpec): Row => Row = {
    val perSession = envProjectors.synchronized {
      var m = envProjectors.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap
          .empty[String, ThreadLocal[Row => Row]]
        envProjectors.put(spark, m)
      }
      m
    }
    // the initializer must NOT strongly capture the session: the map
    // value would then reference its own weak key and no entry could
    // ever be collected (the WeakHashMap javadoc pitfall). A weak ref
    // is safe here: the caller holds `spark` for the whole batch, so
    // the deref below can only see null if the entry ALSO outlived its
    // session — a cache-coherence bug worth failing loudly on.
    val sessionRef = new java.lang.ref.WeakReference(spark)
    perSession.getOrElseUpdate(spec.name,
      ThreadLocal.withInitial { () =>
        val session = sessionRef.get()
        require(session != null,
          s"envProjector(${spec.name}): cached entry outlived its SparkSession")
        val valueSchema = StructType(Seq(StructField("value", StringType)))
        val empty = session.createDataFrame(
          java.util.Collections.emptyList[Row](), valueSchema)
        org.apache.spark.sql.graftx.ColumnBridge.rowProjector(
          Crmls.project(empty, spec), valueSchema)
      }).get()
  }

  /** Driver-tier cap for the reverse-index probe: past this many index
    * rows the affected-key resolution falls back to a distributed join.
    * Overridable per [[processBatch]] call (tier-forcing tests and
    * benches drive the distributed fallbacks with tiny caps).
    */
  private[streaming] val DriverAffectedMaxRows: Int = 100000

  /** Driver tier for batch materialization: a micro-batch at or under
    * this many raw rows is collected once and parsed via local-relation
    * projections (which fold at optimize time), so discovery schedules
    * no aggregation job and builds no per-batch mega-plan. Catch-up
    * batches past it keep the distributed discovery aggregation.
    * Overridable per [[processBatch]] call, like [[DriverAffectedMaxRows]].
    */
  private[streaming] val DriverBatchMaxRows: Int = 50000

  /** Key budget of the over-cap point-lookup tier: past this many
    * affected listing pks the per-dim `isin` point-lookup plans stop
    * paying (hundreds of thousands of literals) and the batch falls
    * back to the joinAll plan, whose cost is amortized by its size.
    */
  private[streaming] val DriverSliceMaxKeys: Int = 10000

  /** Test-only failpoint, invoked with each phase label at
    * [[processBatch]]'s phase boundaries (the `mark` calls). A
    * fault-injection test installs a thrower to simulate a crash at an
    * exact window; null (the default) is a no-op on the hot path.
    */
  private[streaming] val failpoint =
    new java.util.concurrent.atomic.AtomicReference[String => Unit](null)

  private def localDfOf(spark: SparkSession, rows: Array[Row],
                        schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** [[localDfOf]] for LARGE driver row arrays (the fused write frame):
    * a LocalRelation converts every Row to InternalRow on the DRIVER at
    * plan time — one thread touching rows x width fields. Distributing
    * the array first makes the conversion per-task work instead; the
    * rows themselves ship inside the same JVM in local mode and as task
    * binaries on a cluster (bounded by the residency caps either way).
    */
  private def parallelDfOf(spark: SparkSession, rows: Array[Row],
                           schema: StructType): DataFrame =
    if (rows.length <= 10000) localDfOf(spark, rows, schema)
    else spark.createDataFrame(
      spark.sparkContext.parallelize(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(rows),
        math.min(spark.sparkContext.defaultParallelism,
          1 + rows.length / 10000)),
      schema)

  /** canonical-row field positions: canonicalize() emits (entity,
    * bucket, canonicalFields...), so field `name` sits at offset
    * 2 + its canonicalFields index.
    */
  private lazy val canonIdx: Map[String, Int] =
    canonicalFields.zipWithIndex.map { case (f, i) => f.name -> (i + 2) }.toMap

  private def extractEntityRows(collected: Array[Row], entity: String,
                                schema: StructType): Array[Row] = {
    val idxs = schema.fields.map(f => canonIdx(f.name))
    collected.iterator.filter(_.getString(0) == entity)
      .map(r => Row.fromSeq(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(idxs.map(r.get))))
      .toArray
  }

  /** Latest-state storage abstraction: hash-bucketed parquet dirs for
    * tests/local ([[BucketedState]]), MERGE-capable table format in
    * production. A batch rewrites only the buckets containing its keys
    * — the reference's RocksDB state is incremental the same way
    * (CRMLSJoiner.scala:57-59), and untouched buckets' files stay
    * byte-identical.
    */
  /** @param localSnapshotMaxRows / idxLocalMaxRows residency caps of
    *   the driver snapshot tier — injectable so tests and benches can
    *   force every batch past the local tiers onto the distributed
    *   middle/legacy paths (the exact code a 100x-state deployment
    *   runs), not just exercise them on paper.
    * @param pendingEnabled the pending-delta (LSM) tier flag, on by
    *   default; off restores full touched-bucket rewrites per batch.
    *   Injectable so on/off equivalence is testable in-process.
    */
  final class StateStore(spark: SparkSession,
                         private[streaming] val dir: String,
                         nBuckets: Int = 16,
                         private[streaming] val localSnapshotMaxRows: Int = 200000,
                         private[streaming] val idxLocalMaxRows: Int = 1000000,
                         private[streaming] val pendingEnabled: Boolean = true)
      extends Serializable {
    private[streaming] def path(entity: String) = s"$dir/$entity"

    /** CURRENT bucket count — the constructor value until a rehash
      * grows it, then the durable `.nbuckets` stamp (a restarted store
      * MUST agree with the files on disk, whatever its constructor got;
      * see [[maybeRehash]]).
      */
    private[graft] var curBuckets: Int = {
      val stamp = java.nio.file.Paths.get(dir, ".nbuckets")
      if (java.nio.file.Files.exists(stamp))
        new String(java.nio.file.Files.readAllBytes(stamp),
          java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      else nBuckets
    }

    // ---- pending-delta state appends (LSM tier) ----------------------
    // A FUSED micro-batch appends each entity's per-batch WINNERS (the
    // merged rows whose key was in the batch's delta) as one pending
    // generation — per-batch durable I/O is then proportional to the
    // DELTA, not to the touched buckets' accumulated content (a 2k-key
    // dim update was rewriting the entire 100k-row media state every
    // batch). Pendings are folded into the bucket files (a) from the
    // resident snapshot every [[PendingFoldEvery]] generations — free
    // content-wise, the snapshot IS base ⊎ pendings, (b) synchronously
    // before ANY path that reads state files (non-fused batches, cold
    // start, upsertLatest), via [[ensureFolded]]. Readers therefore
    // NEVER merge pendings — the fold is their only consumer.
    //
    // Crash matrix: a gen dir without _SUCCESS is swept; a crash after
    // the fold's bucket swaps but before gen deletion leaves stale
    // pendings whose content the promoted buckets already contain
    // (pure fold: no new delta in the same write), so a re-fold is
    // content-identical; an unfolded pending after a JVM crash is
    // recovered by the cold fold-from-files, where LATEST GENERATION
    // wins per key (never the argmax — its isNew axis is not
    // recoverable from files, and each pending row is already the
    // post-merge winner of its batch).
    private[streaming] val PendingFoldEvery: Int = 8
    private def pendingPath(entity: String) = s"${path(entity)}/__pending"
    @transient private lazy val pendingGenNext =
      scala.collection.mutable.Map.empty[String, Long]
    @transient private lazy val pendingBucketSets =
      scala.collection.mutable.Map.empty[String,
        scala.collection.mutable.Set[Int]]

    private def pendingGenDirs(entity: String): Seq[java.io.File] = {
      val d = new java.io.File(pendingPath(entity))
      if (!d.isDirectory) Nil
      else d.listFiles().filter(f =>
          f.isDirectory && f.getName.startsWith("g"))
        .filter { f =>
          if (new java.io.File(f, "_SUCCESS").exists()) true
          else { BucketedState.deleteRecursively(f.toPath); false }
        }
        .sortBy(_.getName.stripPrefix("g").toLong).toSeq
    }

    private[streaming] def hasPendings(entity: String): Boolean =
      pendingGenDirs(entity).nonEmpty

    /** Append one entity's batch winners as a pending generation
      * (entity schema + __gen + __bucket, driver-direct, _SUCCESS
      * last). Caller contract: the entity's local snapshot is resident
      * and already refreshed with this batch's merge — the periodic
      * fold writes from it.
      */
    private[streaming] def appendPendingLocal(
        entity: String, rows: Array[Row], schema: StructType,
        keyColName: String): Unit = synchronized {
      val g = pendingGenNext.getOrElseUpdate(entity,
        pendingGenDirs(entity).lastOption
          .map(_.getName.stripPrefix("g").toLong + 1L).getOrElse(0L))
      val genDir = java.nio.file.Paths.get(pendingPath(entity), s"g$g")
      java.nio.file.Files.createDirectories(genDir)
      val ki = schema.fieldIndex(keyColName)
      val outSchema = StructType(schema.fields ++ Seq(
        StructField("__gen", org.apache.spark.sql.types.LongType),
        StructField(BucketedState.BucketColName, IntegerType)))
      val bs = pendingBucketSets.getOrElseUpdate(entity,
        scala.collection.mutable.Set.empty[Int])
      // key column, durable next to the gens (schema-less fold sites —
      // read()/upsertLatest — recover it from here)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(pendingPath(entity), ".keycol"),
        keyColName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      LocalParquet.write(spark, rows.iterator.map { r =>
        val b = BucketedState.bucketOfLocal(
          if (r.isNullAt(ki)) null else r.getString(ki), curBuckets)
        bs += b
        Row.fromSeq(r.toSeq ++ Seq[Any](g, b))
      }, outSchema, genDir.resolve("part-00000.parquet").toString)
      java.nio.file.Files.write(genDir.resolve("_SUCCESS"),
        Array.empty[Byte])
      pendingGenNext(entity) = g + 1L
      // keep the driver mirror current (jobless overlay). A cold miss
      // with OLDER gens on disk must materialize from files first —
      // seeding the cache with only this batch's rows would hide the
      // prior generations from every overlay until the next fold.
      if (!pendingCache.contains(entity) && pendingGenDirs(entity).size > 1)
        pendingLatestRows(entity, schema, keyColName): Unit // reads g too
      else {
        val m = pendingCache.getOrElseUpdate(entity,
          scala.collection.mutable.LinkedHashMap.empty[String, Row])
        rows.foreach(r =>
          m(pendingCacheKey(entity, keyColName, schema, r)) = r)
      }
    }

    private[streaming] def pendingGenCount(entity: String): Int =
      pendingGenDirs(entity).size

    // ---- pending OVERLAY (round 11): the dist-pendings tier -----------
    // The fused tier's fold invariant ("readers never merge pendings")
    // priced every OVER-CAP batch at a full touched-bucket rewrite —
    // 76 MB/batch ∝ state/buckets at the 1 M-seed capture, the one term
    // still coupled to state size. The dist tier keeps the pendings
    // UNFOLDED across batches and overlays them at read time instead:
    //   truth(entity) = base files (∖ pending keys) ⊎ latest pending row
    // The pendings between folds are delta-proportional (per-batch
    // winners), so the whole pending side rides in driver memory and
    // the overlay is JOBLESS. Folds run ONLY at the batch-boundary
    // prelude ([[foldPendingsAtCadence]]) — a mid-batch fold would
    // delete files that this batch's already-constructed lazy plans
    // still reference.

    /** Driver-memory mirror of the UNFOLDED pendings, keyed latest-wins
      * (insertion order is generation order — appends overwrite per
      * key, exactly the gen-desc fold rule). Populated by
      * [[appendPendingLocal]] as it writes (the rows ARE driver rows on
      * every pending path), rebuilt from the gen files on a cold read,
      * dropped by [[ensureFolded]]. Bounded by the dist-pendings
      * admission: ≤ PendingFoldEvery generations of driver-tier deltas.
      */
    @transient private lazy val pendingCache = scala.collection.mutable
      .Map.empty[String, scala.collection.mutable.LinkedHashMap[String, Row]]

    private def pendingCacheKey(entity: String, keyColName: String,
                                schema: StructType, r: Row): String =
      if (entity == IdxName)
        (0 until r.length).map(i =>
          if (r.isNullAt(i)) "\u0000" else String.valueOf(r.get(i)))
          .mkString("|")
      else {
        val ki = schema.fieldIndex(keyColName)
        if (r.isNullAt(ki)) "\u0000" else r.getString(ki)
      }

    /** Latest pending rows for the entity (entity schema, no markers),
      * from the driver mirror — one bounded file fold on a cold miss.
      */
    private def pendingLatestRows(entity: String, schema: StructType,
                                  keyColName: String): Seq[Row] =
      synchronized {
        pendingCache.get(entity) match {
          case Some(m) => m.values.toSeq
          case None =>
            if (!hasPendings(entity)) Nil
            else {
              val gens = pendingGenDirs(entity)
              val pendSchema = StructType(schema.fields ++ Seq(
                StructField("__gen", org.apache.spark.sql.types.LongType),
                StructField(BucketedState.BucketColName, IntegerType)))
              val raw = spark.read.schema(pendSchema)
                .parquet(gens.map(_.getPath): _*)
                .orderBy(col("__gen"))
                .collect()
              val m = scala.collection.mutable.LinkedHashMap.empty[String, Row]
              raw.foreach { r =>
                val entityRow = Row.fromSeq(r.toSeq.dropRight(2))
                m(pendingCacheKey(entity, keyColName, schema, entityRow)) =
                  entityRow
              }
              pendingCache(entity) = m
              m.values.toSeq
            }
        }
      }

    /** `base` with this entity's unfolded pendings folded in: base rows
      * whose key a pending row supersedes are filtered out by a LITERAL
      * key predicate (no broadcast exchange — a broadcast materializes
      * as its own Spark job, and the overlay runs on several state
      * reads per batch), and the latest pending rows ride in as a local
      * relation. The reverse index is add-only and just unions (readers
      * distinct). Jobless by construction: the pending side lives in
      * driver memory.
      */
    private[streaming] def withPendingOverlay(entity: String,
        schema: StructType, keyColName: String, buckets: Option[Seq[Int]],
        base: Option[DataFrame]): Option[DataFrame] = {
      val all = pendingLatestRows(entity, schema, keyColName)
      if (all.isEmpty) return base
      val want = buckets.map(_.toSet)
      val ki = schema.fieldIndex(keyColName)
      val rows = want match {
        case None => all
        case Some(bs) => all.filter { r =>
          val k = if (r.isNullAt(ki)) null else r.getString(ki)
          bs.contains(BucketedState.bucketOfLocal(k, curBuckets))
        }
      }
      if (rows.isEmpty) return base
      val latest = localDfOf(spark, rows.toArray, schema)
      if (entity == IdxName)
        Some(base.map(_.unionByName(latest)).getOrElse(latest))
      else base match {
        case None => Some(latest)
        case Some(b) =>
          val keys = rows.map(r =>
            if (r.isNullAt(ki)) null else r.getString(ki))
            .filter(_ != null)
          // null-safe complement: a bare NOT-isin would also drop
          // base rows whose key is NULL
          val keep =
            if (keys.isEmpty) b
            else b.filter(col(keyColName).isNull ||
              !col(keyColName).isin(keys: _*))
          Some(keep.unionByName(latest)
            .select(schema.fieldNames.toSeq.map(col): _*))
      }
    }

    /** Batch-boundary fold policy for the dist-pendings tier: fold an
      * entity only at the compaction cadence (amortizing the touched-
      * bucket rewrite over [[PendingFoldEvery]] batches) or when it is
      * COLD (no snapshot, not known past the cap — process restart with
      * pendings on disk) so it can re-enter the local tier. Everything
      * else keeps its pendings and is served via the overlay.
      */
    // ---- buckets ∝ state (round 11): power-of-2 rehash on growth ------
    // The over-cap tier's per-batch durable cost carries a term
    // ∝ state/buckets (the fold's touched-bucket rewrite), so a fixed
    // bucket count degrades linearly with state growth — the r10 1 M
    // captures were HAND-sized to 1,024. The store now derives the
    // count from observed state bytes: grow to pow2floor(bytes /
    // TargetBucketBytes) whenever that exceeds the current count,
    // rebucketing each entity via a build-into-fresh-dir + two-rename
    // swap (the same heal-able protocol as the bucket promote) and
    // stamping the result durably — a restarted store reads the stamp,
    // never its constructor default. Resume protocol: `.nbuckets_next`
    // written first; a crash mid-rehash re-runs the whole (idempotent)
    // rehash on the next maybeRehash.
    private[streaming] val TargetBucketBytes: Long =
      sys.env.get("SPARK_GRAFT_STATE_BUCKET_BYTES").map(_.toLong)
        .getOrElse(1L << 20)
    private[streaming] val MaxBuckets: Int = 1 << 16
    private def allEntityNames: Seq[String] =
      Crmls.allEntities.map(_.name) :+ IdxName
    private def entitySchemaOf(e: String): (StructType, String) =
      if (e == IdxName) (IdxSchema, "ref_val")
      else {
        val spec = Crmls.allEntities.find(_.name == e).get
        (Crmls.projectionSchema(spec), spec.dedupKeyCol)
      }

    /** Total durable state bytes (bucket files + pendings). */
    private[graft] def stateBytes(): Long = {
      def sizeOf(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
      allEntityNames.map(e => sizeOf(new java.io.File(path(e)))).sum
    }

    private def pow2Floor(x: Long): Int = {
      var p = 1
      while (p.toLong * 2 <= x && p < MaxBuckets) p *= 2
      p
    }

    /** Grow the bucket count when the observed bytes/bucket passed the
      * target; also completes a crashed rehash. Batch-boundary API —
      * call BEFORE a batch computes any bucket id. Returns the new
      * count when it rehashed.
      */
    private[graft] def maybeRehash(): Option[Int] = synchronized {
      val next = java.nio.file.Paths.get(dir, ".nbuckets_next")
      if (java.nio.file.Files.exists(next)) {
        val n2 = new String(java.nio.file.Files.readAllBytes(next),
          java.nio.charset.StandardCharsets.UTF_8).trim.toInt
        rehashTo(n2); Some(n2)
      } else {
        val want = math.min(MaxBuckets,
          pow2Floor(stateBytes() / math.max(TargetBucketBytes, 1L)))
        if (want > curBuckets) { rehashTo(want); Some(want) } else None
      }
    }

    private def rehashTo(n2: Int): Unit = {
      foldAllPendings() // pending rows carry bucket ids of the OLD count
      val next = java.nio.file.Paths.get(dir, ".nbuckets_next")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(next, n2.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      allEntityNames.foreach { e =>
        healRehash(e)
        if (BucketedState.listBuckets(path(e)).nonEmpty) {
          val (schema, keyCol) = entitySchemaOf(e)
          val df = BucketedState.readAll(spark, path(e), Some(schema)).get
          val out = df.withColumn(BucketedState.BucketColName,
            BucketedState.bucketOf(col(keyCol), n2))
          val fresh = s"${path(e)}.rehash"
          BucketedState.deleteRecursively(java.nio.file.Paths.get(fresh))
          BucketedState.overwriteBuckets(spark, fresh, out, 0 until n2)
          // dir-level two-rename swap, heal-able by [[healRehash]]
          val live = java.nio.file.Paths.get(path(e))
          val old = java.nio.file.Paths.get(s"${path(e)}.rehash_old")
          java.nio.file.Files.move(live, old,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          java.nio.file.Files.move(java.nio.file.Paths.get(fresh), live,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          BucketedState.deleteRecursively(old)
        }
        invalidate(e) // snapshot bucket arrays hashed under the old count
      }
      pendingGenNext.clear(); pendingBucketSets.clear()
      curBuckets = n2
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".nbuckets"),
        n2.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.delete(next)
    }

    /** Heal a torn dir-level swap: old-without-live restores the old
      * dir (content was never promoted); old-with-live deletes the
      * superseded old; a leftover `.rehash` build is discarded (it is
      * rebuilt from live).
      */
    private def healRehash(e: String): Unit = {
      val live = new java.io.File(path(e))
      val old = new java.io.File(s"${path(e)}.rehash_old")
      if (old.exists() && !live.exists())
        java.nio.file.Files.move(old.toPath, live.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else if (old.exists())
        BucketedState.deleteRecursively(old.toPath)
      BucketedState.deleteRecursively(
        java.nio.file.Paths.get(s"${path(e)}.rehash"))
    }

    // the per-batch stateBytes() walk is gated to every Nth batch —
    // growth is slow relative to batch cadence, and a tree walk per
    // micro-batch is pure overhead on an object store
    private val rehashCheckEvery = PendingFoldEvery
    private var rehashTick = 0
    private[streaming] def maybeRehashIfDue(): Option[Int] = synchronized {
      rehashTick += 1
      if (rehashTick == 1 || rehashTick % rehashCheckEvery == 0 ||
          java.nio.file.Files.exists(
            java.nio.file.Paths.get(dir, ".nbuckets_next")))
        maybeRehash()
      else None
    }

    /** Batch-boundary fold policy for the dist-pendings tier. The
      * trigger is a ROW BUDGET, not a batch count: successive over-cap
      * batches touch mostly DISTINCT buckets, so folding every N
      * batches rewrites nearly N× the buckets of one fold — no
      * amortization (measured at the 1 M seed: fold-every-8 left
      * rewritten-MB/batch within 15% of the per-batch-rewrite design
      * it replaced). Folding when the pending rows reach the driver
      * slice budget makes the interval ∝ budget/delta instead: per-
      * batch durable writes are the delta appends, and the bounded
      * compaction amortizes over hundreds of batches. The gen-count
      * backstop keeps the __pending dir's file count sane; a COLD
      * entity (restart with pendings, not known past cap) folds so it
      * can re-enter the local tier.
      */
    private[streaming] val PendingFoldRowBudget: Int = DriverSliceMaxKeys
    private[streaming] val PendingFoldMaxGens: Int = 64
    private[streaming] def foldPendingsAtCadence(): Unit = synchronized {
      (Crmls.allEntities.map(_.name) :+ IdxName).foreach { e =>
        if (hasPendings(e)) {
          val cold = !snapshots.contains(e) && !pastLocalCap(e)
          lazy val pendRows = {
            val (schema, keyCol) = entitySchemaOf(e)
            pendingLatestRows(e, schema, keyCol).size
          }
          if (cold || pendingGenCount(e) >= PendingFoldMaxGens ||
              pendRows >= PendingFoldRowBudget)
            ensureFoldedAuto(e)
        }
      }
    }

    /** Schema-less [[ensureFolded]] for call sites that only know the
      * entity name: schema comes from the pending files' footers,
      * the key column from the durable `.keycol`.
      */
    private[streaming] def ensureFoldedAuto(entity: String): Unit =
      synchronized {
        val gens = pendingGenDirs(entity)
        if (gens.isEmpty) return
        val keyCol = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(pendingPath(entity), ".keycol")),
          java.nio.charset.StandardCharsets.UTF_8)
        val inferred = graft.sources.ParquetFooters.schema(spark,
          gens.flatMap(BucketedState.partFiles).map(_.getPath))
        val schema = StructType(inferred.fields.filterNot(f =>
          f.name == "__gen" || f.name == BucketedState.BucketColName))
        ensureFolded(entity, schema, keyCol)
      }

    /** Fold every entity's pendings — the prelude of any non-fused
      * batch (after it, every state read sees plain bucket files).
      */
    private[graft] def foldAllPendings(): Unit = {
      Crmls.allEntities.foreach(s =>
        ensureFolded(s.name, Crmls.projectionSchema(s), s.dedupKeyCol))
      ensureFolded(IdxName, IdxSchema, "ref_val")
    }

    /** Fold every pending generation into the bucket files (no-op
      * without pendings). Snapshot-resident entities fold driver-direct
      * from the snapshot (its rows ARE base ⊎ pendings); otherwise —
      * cold start — a latest-generation-wins file merge runs (one
      * bounded distributed job). Protocol per the crash matrix above:
      * write + swap buckets first, delete gens last.
      */
    private[streaming] def ensureFolded(entity: String, schema: StructType,
                                        keyColName: String): Unit =
      synchronized {
        val gens = pendingGenDirs(entity)
        if (gens.isEmpty) return
        snapshots.get(entity) match {
          case Some(Left(snap)) =>
            val covered = pendingBucketSets.get(entity).map(_.toSet)
              .getOrElse(readPendingBuckets(gens, schema))
            val byBucket = scala.collection.mutable.Map
              .empty[Int, scala.collection.mutable.ArrayBuffer[Row]]
            covered.foreach(b => byBucket(b) =
              scala.collection.mutable.ArrayBuffer.empty[Row])
            var i = 0
            while (i < snap.rows.length) {
              if (covered.contains(snap.buckets(i)))
                byBucket(snap.buckets(i)) += snap.rows(i)
              i += 1
            }
            BucketedState.overwriteBucketsLocal(spark, path(entity),
              byBucket.keys.toSeq, b => byBucket(b).iterator, schema)
            // the snapshot stays installed: the fold wrote exactly its
            // content, so files and snapshot now agree
          case other =>
            val pendSchema = StructType(schema.fields ++ Seq(
              StructField("__gen", org.apache.spark.sql.types.LongType),
              StructField(BucketedState.BucketColName, IntegerType)))
            val pend = spark.read.schema(pendSchema)
              .parquet(gens.map(_.getPath): _*)
            val covered = pend
              .select(col(BucketedState.BucketColName)).distinct()
              .collect().map(_.getInt(0)).toSeq.sorted
            val base = BucketedState.readBuckets(spark, path(entity),
              covered, Some(schema))
            val all = base.map(_.withColumn("__gen", lit(-1L)))
              .map(_.unionByName(
                pend.drop(BucketedState.BucketColName)))
              .getOrElse(pend.drop(BucketedState.BucketColName))
            val merged =
              if (entity == IdxName)
                all.drop("__gen").distinct()
              else {
                val w = org.apache.spark.sql.expressions.Window
                  .partitionBy(col(keyColName)).orderBy(col("__gen").desc)
                all.withColumn("__rn", row_number().over(w))
                  .filter(col("__rn") === 1).drop("__rn", "__gen")
              }
            BucketedState.overwriteBuckets(spark, path(entity),
              merged.withColumn(BucketedState.BucketColName,
                BucketedState.bucketOf(col(keyColName), curBuckets)),
              covered)
            // a persisted distributed snapshot (Right) covers buckets
            // this merge just rewrote — dirty-mark exactly those (the
            // untouched majority of the base stays served from cache;
            // re-installing the whole base would re-read FULL state
            // every fold cadence, ∝ state size). distMarkDirty itself
            // rebases once dirty covers half the buckets. The dist-
            // pendings tier routinely folds with a live base, so this
            // is the hot compaction path, not defense.
            if (other.isDefined && !distMarkDirty(entity, covered))
              invalidate(entity)
        }
        gens.foreach(g => BucketedState.deleteRecursively(g.toPath))
        pendingBucketSets.remove(entity)
        pendingCache.remove(entity)
      }

    private def readPendingBuckets(gens: Seq[java.io.File],
                                   schema: StructType): Set[Int] = {
      val pendSchema = StructType(schema.fields ++ Seq(
        StructField("__gen", org.apache.spark.sql.types.LongType),
        StructField(BucketedState.BucketColName, IntegerType)))
      spark.read.schema(pendSchema).parquet(gens.map(_.getPath): _*)
        .select(col(BucketedState.BucketColName)).distinct()
        .collect().map(_.getInt(0)).toSet
    }

    def read(entity: String): Option[DataFrame] = {
      ensureFoldedAuto(entity)
      BucketedState.readAll(spark, path(entity))
    }

    /** Cross-batch snapshot cache for the latest-state tables: without
      * it every batch re-lists and re-scans bucket trees — that, not
      * the join itself, dominated micro-batch latency. A snapshot is
      * served until a write touches the entity. Entities at or under
      * their local cap are held as driver-resident row arrays (with
      * each row's bucket precomputed, so per-batch untouched/touched
      * splits are a plain array scan) — the RocksDB-resident-state
      * analog; larger entities fall back to a persisted distributed
      * snapshot. A dim too big for either would already be past
      * broadcastability, which is the real scale limit of the join
      * shape (Crmls.joinAll's documented fallback drops the hint).
      */
    /** @param keyIndex dedup-key -> row position (last wins — exactly
      *   one row per key by the latestOne invariant for entity tables;
      *   meaningless for the reverse index, which is keyless). Lets
      *   the incremental refresh replace winners in O(delta).
      */
    private[streaming] final case class LocalSnap(rows: Array[Row],
        buckets: Array[Int],
        keyIndex: java.util.HashMap[String, Integer])

    @transient private lazy val snapshots =
      scala.collection.mutable.Map.empty[String, Either[LocalSnap, DataFrame]]

    /** Driver lookup over the reverse index ((ref_col, ref_val) ->
      * listing pks), maintained next to the index's [[LocalSnap]] —
      * the affected-key fan-out then resolves with zero jobs.
      */
    @transient private var idxMap: Option[scala.collection.mutable.HashMap[
      (String, String), scala.collection.mutable.ArrayBuffer[String]]] = None

    /** Lookup-map tier over the local snapshots ([[DimEnrich]]): one
      * driver-built hash map per dimension, shipped via
      * `SparkContext.broadcast` ONCE and reused across batches until
      * the dimension's state changes. This is what lets the J4
      * enrichment probe dims with zero per-batch broadcast-exchange
      * builds (the RocksDB-resident-state analog).
      */
    // Driver lookup maps are the source of truth; a BROADCAST of a map
    // is published lazily, only when a distributed consumer
    // (DimEnrich.enrich / enrichPartial mapPartitions) actually needs
    // it, and cached until the map changes. The narrow driver tier
    // probes the driver map directly — eagerly re-broadcasting the
    // (payload-bearing, ~100k-entry) media map every batch was pure
    // serialization tax on the fused path.
    @transient private lazy val dimMapVals = scala.collection.mutable.Map
      .empty[String, Map[String, Array[Any]]]
    @transient private lazy val dimMapBcs = scala.collection.mutable.Map
      .empty[String, org.apache.spark.broadcast.Broadcast[Map[String, Array[Any]]]]

    private def setMapVal(entity: String,
                          m: Map[String, Array[Any]]): Unit = {
      dimMapBcs.remove(entity).foreach(_.destroy())
      dimMapVals(entity) = m
    }

    private def rebuildMap(entity: String, rows: Array[Row],
                           schema: StructType, keyCol: String)
        : Map[String, Array[Any]] = {
      val m = DimEnrich.buildLookup(rows.iterator, schema, keyCol)
      setMapVal(entity, m)
      m
    }

    /** The entity's current DRIVER-HELD lookup map, building (and
      * caching) it from the local snapshot on first use. None = the
      * entity's state is past the local tier — the caller must fall
      * back to the SQL join form. An entity with no state at all gets
      * an empty map (a left join against an empty dim).
      */
    private[streaming] def lookupMapLocal(spec: Crmls.EntitySpec,
        schema: StructType): Option[Map[String, Array[Any]]] =
      synchronized {
        dimMapVals.get(spec.name).map(Some(_)).getOrElse {
          cachedReadAll(spec.name, schema, spec.dedupKeyCol) match {
            case None =>
              Some(rebuildMap(spec.name, Array.empty, schema, spec.dedupKeyCol))
            case Some(_) => snapshots.get(spec.name) match {
              case Some(Left(snap)) =>
                Some(rebuildMap(spec.name, snap.rows, schema, spec.dedupKeyCol))
              case _ => None
            }
          }
        }
      }

    /** Broadcast form of [[lookupMapLocal]] for the mapPartitions
      * enrichment paths — published on demand, cached per map
      * generation.
      */
    private[streaming] def lookupMap(spec: Crmls.EntitySpec,
        schema: StructType)
        : Option[org.apache.spark.broadcast.Broadcast[Map[String, Array[Any]]]] =
      synchronized {
        lookupMapLocal(spec, schema).map { m =>
          dimMapBcs.getOrElseUpdate(spec.name,
            spark.sparkContext.broadcast(m))
        }
      }

    // the reverse index's rows are three short strings — hold more of
    // them than of the wide entity projections
    private def capFor(entity: String): Int =
      if (entity == IdxName) idxLocalMaxRows else localSnapshotMaxRows

    // ---- cross-batch distributed snapshot (base + dirty buckets) ----
    // For an entity past the driver-residency caps the store keeps a
    // PERSISTED full-state base (the Right leg of `snapshots`, carrying
    // a precomputed [[SnapBucketCol]]) ACROSS batches, plus the set of
    // buckets whose truth has moved to FILES since the base was taken
    // (each batch's promote marks its touched buckets dirty via
    // [[distMarkDirty]]). The entity's current state is then
    //   base (clean buckets, executor memory) ∪ file read (dirty)
    // so per-batch state I/O is proportional to the buckets dirtied
    // since the last rebase — never to the accumulated state — and the
    // composed plan has CONSTANT depth (no chained incremental views,
    // hence no lineage blowup and nothing to checkpoint). The base is
    // materialized EAGERLY at install (one bounded job): the bucket
    // promote deletes the files it replaces, so a lazily-materialized
    // cache could dangle on missing files; an eager cache is immutable.
    // Pure derived data: a lost cached block surfaces as a batch
    // failure whose replay rebuilds the base from files (the state
    // files stay the single durable truth). Once dirty covers half the
    // buckets the cache stops paying — drop it and rebase on next use.
    //
    // `pastLocalCap` memoizes "this entity's row count exceeds its
    // driver-residency cap": state tables only grow under the upsert
    // flows, so once true it stays true, and the per-batch local-tier
    // residency probes (one limit-collect job per entity per batch on
    // the forced-distributed path) are skipped for good.
    private val SnapBucketCol = "__snap_bucket"
    @transient private lazy val distDirty =
      scala.collection.mutable.Map.empty[String, Set[Int]]
    @transient private[streaming] lazy val pastLocalCap =
      scala.collection.mutable.Set.empty[String]

    /** Install (and eagerly materialize) a fresh dist base from the
      * entity's current files. Caller holds the store lock and has
      * already folded pendings. Returns None when the entity has no
      * state files at all.
      */
    private def installDistBase(entity: String, schema: StructType,
                                keyColName: String): Option[DataFrame] =
      BucketedState.readAll(spark, path(entity), Some(schema)).map { df =>
        val base = df.withColumn(SnapBucketCol,
          BucketedState.bucketOf(col(keyColName), curBuckets)).persist()
        base.count() // pin content now — promote deletes replaced files
        snapshots(entity) = Right(base)
        distDirty(entity) = Set.empty
        base
      }

    /** The dist-composed current state restricted to `buckets` (all of
      * them when `buckets` is None): clean buckets from the cached
      * base, dirty buckets from their files.
      */
    private def composeDist(entity: String, base: DataFrame,
                            schema: StructType,
                            buckets: Option[Seq[Int]]): DataFrame = {
      val dirty = distDirty.getOrElse(entity, Set.empty)
      val want = buckets.map(_.distinct)
      val cleanPart = want match {
        case Some(bs) =>
          val clean = bs.filterNot(dirty)
          if (clean.isEmpty) None
          else Some(base.filter(col(SnapBucketCol).isin(clean: _*)))
        case None =>
          if (dirty.isEmpty) Some(base)
          else Some(base.filter(!col(SnapBucketCol).isin(dirty.toSeq: _*)))
      }
      val fileBuckets = want.map(_.filter(dirty)).getOrElse(dirty.toSeq)
      val filePart =
        if (fileBuckets.isEmpty) None
        else BucketedState.readBuckets(spark, path(entity),
          fileBuckets, Some(schema))
      (cleanPart.map(_.drop(SnapBucketCol)).toSeq ++ filePart.toSeq)
        .reduceOption(_ unionByName _)
        .getOrElse(emptyOf(spark, schema))
    }

    /** Current content of `touched` buckets via the dist snapshot —
      * None when no base is installed and the entity isn't known to be
      * past the local tier (callers then fall back to a plain file
      * read). Installs the base on first use for a memo'd entity.
      */
    private[streaming] def distTouchedDf(entity: String, schema: StructType,
        keyColName: String, touched: Seq[Int]): Option[DataFrame] =
      synchronized {
        snapshots.get(entity) match {
          case Some(Right(base)) =>
            withPendingOverlay(entity, schema, keyColName, Some(touched),
              Some(composeDist(entity, base, schema, Some(touched))))
          case Some(Left(_)) => None // the local tier serves these
          case None if pastLocalCap(entity) =>
            // fold only when no pendings are in flight: a mid-batch fold
            // would delete files this batch's lazy plans already hold —
            // with pendings, install the base from the CURRENT files and
            // let the overlay serve the pending generations
            if (!hasPendings(entity))
              ensureFolded(entity, schema, keyColName)
            installDistBase(entity, schema, keyColName)
              .map(b => composeDist(entity, b, schema, Some(touched)))
              .flatMap(c => withPendingOverlay(entity, schema, keyColName,
                Some(touched), Some(c)))
          case None => None
        }
      }

    /** Record that a batch promoted new content into `touched` buckets
      * of an entity whose dist base is installed. Returns false when no
      * base exists (the caller falls back to a plain invalidate). Once
      * the dirty set covers half the buckets the base is dropped — the
      * next read rebases from files.
      */
    private[streaming] def distMarkDirty(entity: String,
                                         touched: Seq[Int]): Boolean =
      synchronized {
        snapshots.get(entity) match {
          case Some(Right(_)) =>
            val d = distDirty.getOrElse(entity, Set.empty) ++ touched
            if (d.size * 2 >= curBuckets) invalidate(entity)
            else distDirty(entity) = d
            true
          case _ => false
        }
      }

    private def localDf(rows: Array[Row],
                        schema: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    private def mkSnap(entity: String, rows: Array[Row],
                       schema: StructType, keyColName: String): LocalSnap = {
      val ki = schema.fieldIndex(keyColName)
      val buckets = new Array[Int](rows.length)
      val keyIndex = new java.util.HashMap[String, Integer](
        math.max(16, rows.length * 2))
      var i = 0
      while (i < rows.length) {
        val key =
          if (rows(i).isNullAt(ki)) null else rows(i).getString(ki)
        buckets(i) = BucketedState.bucketOfLocal(key, curBuckets)
        keyIndex.put(key, i)
        i += 1
      }
      LocalSnap(rows, buckets, keyIndex)
    }

    private def installSnap(entity: String, snap: LocalSnap,
                            schema: StructType, keyColName: String,
                            buildMap: Boolean): Unit = {
      snapshots(entity) = Left(snap)
      if (buildMap) rebuildMap(entity, snap.rows, schema, keyColName)
      if (entity == IdxName) rebuildIdxMap(snap.rows)
    }

    private def rebuildIdxMap(rows: Array[Row]): Unit = {
      val m = scala.collection.mutable.HashMap.empty[
        (String, String), scala.collection.mutable.ArrayBuffer[String]]
      rows.foreach { r =>
        m.getOrElseUpdate((r.getString(0), r.getString(1)),
          scala.collection.mutable.ArrayBuffer.empty[String]) += r.getString(2)
      }
      idxMap = Some(m)
    }

    /** Driver fan-out over the reverse index: listing pks referenced by
      * any (refCol in refCols, key in keys) entry. None = no local
      * index (fall back to the file probe).
      */
    private[streaming] def idxFanout(
        lookups: Seq[(Seq[String], Set[String])]): Option[Seq[String]] =
      synchronized {
        idxMap.map { m =>
          lookups.flatMap { case (refCols, keys) =>
            refCols.flatMap(rc => keys.iterator.flatMap(k =>
              m.getOrElse((rc, k), Nil)))
          }
        }
      }

    private[streaming] def localSnap(entity: String): Option[LocalSnap] =
      synchronized {
        snapshots.get(entity) match {
          case Some(Left(s)) => Some(s)
          case _ => None
        }
      }

    /** The entity's current rows in `touched` buckets, straight from
      * the snapshot arrays — the zero-I/O `cur` source for the
      * per-batch merge.
      */
    private[streaming] def localTouchedRows(
        entity: String, touched: Seq[Int]): Option[Array[Row]] =
      localSnap(entity).map { snap =>
        val t = touched.toSet
        val keep = Array.newBuilder[Row]
        var i = 0
        while (i < snap.rows.length) {
          if (t.contains(snap.buckets(i))) keep += snap.rows(i)
          i += 1
        }
        keep.result()
      }

    /** [[localTouchedRows]] as a driver-local relation (the lazy-plan
      * merge tier's input form).
      */
    private[streaming] def localTouchedDf(entity: String, schema: StructType,
                                          touched: Seq[Int]): Option[DataFrame] =
      localTouchedRows(entity, touched).map(localDf(_, schema))

    /** True when the entity can participate in the fused local merge:
      * either a local snapshot exists, or the entity has no state at
      * all yet (the merge output is then just the delta).
      */
    private[streaming] def localOrEmpty(entity: String): Boolean =
      localSnap(entity).isDefined ||
        (BucketedState.listBuckets(path(entity)).isEmpty &&
          // cold start with unfolded pendings: the bucket dirs can be
          // empty while the real state sits in __pending — such an
          // entity must take the non-fused path, whose prelude folds
          !hasPendings(entity))

    private[streaming] def cachedReadAll(
        entity: String, schema: StructType,
        keyColName: String): Option[DataFrame] =
      synchronized {
        snapshots.get(entity) match {
          case Some(Left(snap)) => Some(localDf(snap.rows, schema))
          case Some(Right(base)) =>
            withPendingOverlay(entity, schema, keyColName, None,
              Some(composeDist(entity, base, schema, None)))
          case None if hasPendings(entity) =>
            // defensive: the prelude folds cold entities, so this branch
            // should not see pendings — if it does, serve files ⊎ overlay
            // WITHOUT folding or installing (no mid-batch file deletion)
            withPendingOverlay(entity, schema, keyColName, None,
              BucketedState.readAll(spark, path(entity), Some(schema)))
          case None =>
            ensureFolded(entity, schema, keyColName)
            BucketedState.readAll(spark, path(entity), Some(schema)).flatMap { df =>
              val localProbe =
                if (pastLocalCap(entity)) None
                else {
                  val probe = df.limit(capFor(entity) + 1).collect()
                  if (probe.length <= capFor(entity)) Some(probe)
                  else { pastLocalCap += entity; None }
                }
              localProbe match {
                case Some(probe) =>
                  installSnap(entity,
                    mkSnap(entity, probe, schema, keyColName),
                    schema, keyColName, buildMap = false)
                  Some(localDf(probe, schema))
                case None =>
                  installDistBase(entity, schema, keyColName)
                    .map(b => composeDist(entity, b, schema, None))
              }
            }
        }
      }

    /** Untouched-bucket rows for a refresh: from the local snapshot (a
      * plain array scan) or — when no snapshot exists yet — bootstrapped
      * from the untouched buckets' files (one read job, first touch
      * only). None = past the local tier.
      */
    private def untouchedRows(entity: String, schema: StructType,
                              keyColName: String,
                              touchedBuckets: Seq[Int]): Option[Array[Row]] = {
      val t = touchedBuckets.toSet
      snapshots.get(entity) match {
        case Some(Left(snap)) =>
          val keep = Array.newBuilder[Row]
          var i = 0
          while (i < snap.rows.length) {
            if (!t.contains(snap.buckets(i))) keep += snap.rows(i)
            i += 1
          }
          Some(keep.result())
        case Some(Right(_)) => None
        case None if pastLocalCap(entity) => None // memo: skip the probe
        case None if hasPendings(entity) =>
          // defensive (prelude folds cold entities): never install a
          // local snapshot from files that lack the pending generations,
          // and never fold mid-batch — stay on the dist/overlay path
          None
        case None =>
          ensureFolded(entity, schema, keyColName)
          val others = BucketedState.listBuckets(path(entity)).filterNot(t)
          BucketedState.readBuckets(spark, path(entity), others,
              Some(schema)) match {
            case None => Some(Array.empty[Row])
            case Some(df) =>
              val probe = df.limit(capFor(entity) + 1).collect()
              if (probe.length > capFor(entity)) {
                pastLocalCap += entity; None
              } else Some(probe)
          }
      }
    }

    /** In-place refresh of a LOCAL snapshot (and its lookup map) after
      * a batch merged `touchedBuckets`: untouched rows are kept and the
      * touched buckets' new content comes either from the lazy merged
      * frame (one small job) or — on the fused path — from rows the
      * caller already collected. Returns true when refreshed; false
      * means the entity is past the local tier (the snapshot is then
      * invalidated). Runs BEFORE the batch's state write: the merged
      * content derives from the pre-write file generation plus the
      * delta, so on a write failure + replay the recomputation
      * converges to the same rows (idempotent).
      */
    private[streaming] def tryRefreshLocal(
        entity: String, schema: StructType, keyColName: String,
        touchedBuckets: Seq[Int], merged: DataFrame,
        buildMap: Boolean): Boolean =
      refreshFromRows(entity, schema, keyColName, touchedBuckets,
        () => merged.collect(), buildMap)

    /** O(delta) snapshot refresh for the fused LSM path: the batch's
      * WINNERS replace (or append) by key via the snapshot's keyIndex;
      * rows/buckets copy as reference arrays (a 100k-pointer memcpy,
      * microseconds — never a re-hash of every row's bucket), the
      * keyIndex clones once, the dim lookup map updates persistently
      * (`old ++ delta`, structural sharing; broadcast re-publication
      * is deferred to the first distributed consumer), and the
      * reverse index APPENDS (its winners are new-entry-only by
      * construction). The earlier full form re-bucketed, re-mapped and
      * re-broadcast the entire entity per batch — O(state) driver work
      * the LSM tier exists to avoid. Falls back to [[refreshFromRows]]
      * (full content via `full`) when no local snapshot is resident.
      */
    private[streaming] def refreshFromDelta(
        entity: String, schema: StructType, keyColName: String,
        touchedBuckets: Seq[Int], winners: Array[Row],
        full: () => Array[Row], buildMap: Boolean): Boolean =
      synchronized {
        snapshots.get(entity) match {
          case Some(Left(snap)) =>
            val ki = schema.fieldIndex(keyColName)
            def keyOf(r: Row): String =
              if (r.isNullAt(ki)) null else r.getString(ki)
            val fresh =
              if (entity == IdxName) winners
              else winners.filter(w => !snap.keyIndex.containsKey(keyOf(w)))
            val n = snap.rows.length
            if (n + fresh.length > capFor(entity)) {
              pastLocalCap += entity; invalidate(entity); false
            } else {
              val rows = java.util.Arrays.copyOf(snap.rows, n + fresh.length)
              val buckets =
                java.util.Arrays.copyOf(snap.buckets, n + fresh.length)
              val keyIndex =
                new java.util.HashMap[String, Integer](snap.keyIndex)
              if (entity != IdxName) {
                winners.foreach { w =>
                  val key = keyOf(w)
                  val at = keyIndex.get(key)
                  if (at != null) rows(at) = w // same key => same bucket
                }
              }
              var i = 0
              fresh.foreach { w =>
                val key = keyOf(w)
                rows(n + i) = w
                buckets(n + i) = BucketedState.bucketOfLocal(key, curBuckets)
                keyIndex.put(key, n + i)
                i += 1
              }
              snapshots(entity) = Left(LocalSnap(rows, buckets, keyIndex))
              if (buildMap) {
                val updates = winners.iterator.flatMap { w =>
                  val key = keyOf(w)
                  if (key == null) None
                  else {
                    val vals = new Array[Any](schema.length)
                    var j = 0
                    while (j < schema.length) { vals(j) = w.get(j); j += 1 }
                    Some(key -> vals)
                  }
                }.toSeq
                setMapVal(entity,
                  dimMapVals.getOrElse(entity,
                    DimEnrich.buildLookup(snap.rows.iterator, schema,
                      keyColName)) ++ updates)
              }
              if (entity == IdxName) idxMap match {
                case Some(m) => fresh.foreach { r =>
                  m.getOrElseUpdate((r.getString(0), r.getString(1)),
                    scala.collection.mutable.ArrayBuffer.empty[String]) +=
                    r.getString(2)
                }
                case None => rebuildIdxMap(rows)
              }
              true
            }
          case _ =>
            refreshFromRows(entity, schema, keyColName, touchedBuckets,
              full, buildMap)
        }
      }

    private[streaming] def refreshFromRows(
        entity: String, schema: StructType, keyColName: String,
        touchedBuckets: Seq[Int], fresh: () => Array[Row],
        buildMap: Boolean): Boolean =
      synchronized {
        untouchedRows(entity, schema, keyColName, touchedBuckets) match {
          case None =>
            // past the local tier. No local snapshot can exist in any
            // None-returning branch (dist base installed, pastLocalCap
            // memoized, or probe overflow with nothing installed), so
            // there is nothing to drop here; staleness of a dist BASE
            // is handled by the batch's promote marking its touched
            // buckets dirty (the J2 distMarkDirty/invalidate sweep).
            false
          case Some(untouched) =>
            val freshRows = fresh()
            if (untouched.length + freshRows.length <= capFor(entity)) {
              installSnap(entity,
                mkSnap(entity, untouched ++ freshRows, schema, keyColName),
                schema, keyColName, buildMap)
              true
            } else { pastLocalCap += entity; invalidate(entity); false }
        }
      }

    /** Drop (and unpersist) a cached snapshot and its lookup map —
      * MUST NOT run while a reader of the current generation is in
      * flight.
      */
    private[streaming] def invalidate(entity: String): Unit = synchronized {
      snapshots.remove(entity).foreach {
        case Right(df) => df.unpersist()
        case Left(_) => ()
      }
      distDirty.remove(entity)
      dimMapVals.remove(entity)
      dimMapBcs.remove(entity).foreach(_.destroy())
      if (entity == IdxName) idxMap = None
    }

    /** Argmax-merge a delta into the entity's latest-state table
      * (standalone single-table form; [[processBatch]] fuses all its
      * merges into one write instead — see the J2 job note above).
      *
      * Tie note: state tables keep exactly ONE row per key
      * (`latestOne`, keyed tiebreak), where the reference's batch dedup
      * keeps all rows tying on max ts (`latestAll`). An upsert sink
      * needs a unique key, so ties collapse deterministically here; the
      * batch pipeline preserves the reference's tie-keeping semantics.
      */
    def upsertLatest(entity: String, delta: DataFrame, keyCol: String,
                     tsCol: String): DataFrame = {
      ensureFoldedAuto(entity)
      invalidate(entity)
      val cached = delta.cache()
      try {
        // which buckets does this batch touch? (one tiny job; the delta
        // is cached so the merge below doesn't recompute the projection)
        val touched = cached
          .select(BucketedState.bucketOf(col(keyCol), curBuckets).as("__b"))
          .distinct().collect().map(_.getInt(0)).toSeq.sorted
        // merge against ONLY the touched buckets' current rows. The
        // state's column set must match the delta's: a store populated
        // by processBatch carries the canonical UNION schema, and
        // silently unioning a narrower delta against it would either
        // throw deep in the union or — worse — rewrite buckets with a
        // narrower schema and corrupt later schema-less reads. Fail
        // with the actual mismatch instead.
        val merged = BucketedState.readBuckets(spark, path(entity), touched) match {
          case Some(cur) =>
            val curCols = cur.columns.toSet
            val deltaCols = cached.columns.toSet
            require(curCols == deltaCols,
              s"upsertLatest($entity): delta columns $deltaCols do not match " +
                s"existing state columns $curCols — a store written by " +
                "processBatch (union schema) must be updated via processBatch")
            tieTagged(cur, 0).unionByName(tieTagged(cached, 1))
          case None => tieTagged(cached, 1)
        }
        val latest = LatestVersion.latestOne(
          merged, keyCol, tsCol, tiebreakCol = "__tie").drop("__tie")
          .withColumn(BucketedState.BucketColName,
            BucketedState.bucketOf(col(keyCol), curBuckets))
        BucketedState.overwriteBuckets(spark, path(entity), latest, touched)
      } finally cached.unpersist()
      read(entity).get
    }
  }

  /** Deterministic merge-tie tag: newer batch wins over existing state;
    * within one batch, ties fall to a content-hash order — never to
    * shuffle arrival order (task retries must converge).
    */
  private def tieTagged(df: DataFrame, isNew: Int): DataFrame =
    df.withColumn("__tie",
      struct(lit(isNew), xxhash64(struct(df.columns.map(col): _*))))

  /** Per-batch merge + affected-key re-join + upsert — four Spark
    * actions total (see the job-budget scaladoc above). Factored out of
    * the streaming query so batch tests can drive it directly.
    *
    * @param taggedBatch columns: entity (string), value (envelope JSON)
    */
  /** @param narrowDimSink opt-in (`SPARK_GRAFT_NARROW_SINK` env, or
    *   explicit): on a DIMENSION-ONLY micro-batch, emit the sink delta
    *   as key + the present dims' role columns via
    *   [[UpsertJoin.UpsertSink.upsertPartialUnique]] instead of the
    *   full ~100-column enriched row — the listing's own columns and
    *   the untouched dims' role columns cannot have changed (their
    *   inputs didn't), so recomputing and rewriting them per affected
    *   key is write amplification. Requires a partial-capable sink AND
    *   a sink whose history covers the state store's listing keys
    *   (same checkpoint lineage — a fresh sink dir over old state
    *   would leave the omitted columns NULL until each key's next
    *   full-row batch). Batches carrying a listings delta always take
    *   the full-row path.
    */
  def processBatch(spark: SparkSession, taggedBatch: DataFrame,
                   store: StateStore, sink: UpsertJoin.UpsertSink,
                   narrowDimSink: Boolean =
                     sys.env.contains("SPARK_GRAFT_NARROW_SINK"),
                   driverBatchMaxRows: Int = DriverBatchMaxRows,
                   driverAffectedMaxRows: Int = DriverAffectedMaxRows): Unit = {
    import Crmls._
    val profile = sys.env.contains("SPARK_GRAFT_SB_PROFILE")
    var t0 = System.nanoTime()
    def mark(phase: String): Unit = {
      // test-only failpoint: the phase boundaries ARE the crash
      // windows, so fault-injection enumerates them from here instead
      // of hand-picking call sites
      val fp = failpoint.get(); if (fp != null) fp(phase)
      if (profile) {
        val t1 = System.nanoTime()
        println(f"[profile] $phase%-12s ${(t1 - t0) / 1e9}%6.2fs")
        t0 = t1
      }
    }
    // batch-boundary rehash checks (buckets ∝ state): MUST precede any
    // bucket-id computation — everything below hashes against storeN
    // and sink.bucketCount, both read AFTER the checks
    store.maybeRehashIfDue().foreach(n2 => mark(s"J0:rehash:$n2"))
    sink.maybeRehashIfDue("l_uc_pk").foreach(n2 =>
      mark(s"J0:sink-rehash:$n2"))
    val storeN = store.curBuckets
    // a micro-batch is tiny relative to its source partitioning (a
    // unioned multi-topic stream easily carries 40 rows in 40+
    // partitions) and every J1 discovery branch re-scans it — coalesce
    // first or task-launch count, not data, dominates the batch. But a
    // CATCH-UP batch (backfill, Trigger.AvailableNow) can carry
    // millions of rows: one task would then parse every envelope
    // serially and one executor would hold the whole cache. Partition
    // count is the zero-job proxy for batch size: narrow sources stay
    // at 1 (the latency regime this path is tuned for), wide sources
    // keep bounded parallelism. The batch's own physical RDD gives the
    // count without planning a second execution (`Dataset.rdd` would).
    val batchRdd = taggedBatch.queryExecution.toRdd
    val srcParts = batchRdd.getNumPartitions
    val width = if (srcParts <= 16) 1 else math.min(64, srcParts / 4)
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      // ---- J1: batch materialization + discovery. DRIVER TIER: one
      // bounded take of the raw tagged batch; the six envelope
      // projections then evaluate over driver-local relations
      // (ConvertToLocalRelation folds them at optimize time) and every
      // touched-bucket set, key list and reverse-index entry is plain
      // driver code — no discovery aggregation job, no mega-plan to
      // analyze per batch. A catch-up batch past the row budget keeps
      // the distributed discovery aggregation (the legacy leg below),
      // whose collect is CAPPED so truncated key lists are never used.
      val eIdx = taggedBatch.schema.fieldIndex("entity")
      val vIdx = taggedBatch.schema.fieldIndex("value")
      // strings are copied out per row: the RDD's InternalRows may be
      // one reused buffer
      val probeRows: Array[(String, String)] = batchRdd.coalesce(width)
        .map { r =>
          (if (r.isNullAt(eIdx)) null else r.getUTF8String(eIdx).toString,
            if (r.isNullAt(vIdx)) null else r.getUTF8String(vIdx).toString)
        }
        .take(driverBatchMaxRows + 1)
      val driverTier = probeRows.length <= driverBatchMaxRows
      val specByName = allEntities.map(s => s.name -> s).toMap
      def mkRefEntries(listingDf: DataFrame): DataFrame =
        listingDf.select(col("l_uc_pk"),
            explode(array(ListingRefCols.map(c =>
              struct(lit(c).as("ref_col"), col(c).as("ref_val"))): _*)).as("r"))
          .select(col("r.ref_col"), col("r.ref_val"), col("l_uc_pk"))
          .filter(col("ref_val").isNotNull)

      var deltaRows: Map[String, Array[Row]] = Map.empty
      var refRows: Array[Row] = Array.empty
      var touched: Map[String, Seq[Int]] = Map.empty
      var directPks: Seq[String] = Nil
      var dimKeys: Map[String, Set[String]] = Map.empty
      var discoveryOverflow = false

      val deltas: String => DataFrame = if (driverTier) {
        deltaRows = allEntities.map { s =>
          val vals = probeRows.iterator
            .filter(_._1 == s.name)
            .map(r => Row(r._2)).toArray
          s.name -> (if (vals.isEmpty) Array.empty[Row]
            else { val p = envProjector(spark, s); vals.map(p) })
        }.toMap
        val lSchema = projectionSchema(listings)
        val pkI = lSchema.fieldIndex("l_uc_pk")
        val refIdx = ListingRefCols.map(c => c -> lSchema.fieldIndex(c))
        refRows = deltaRows("listings").flatMap { r =>
          refIdx.collect { case (c, i) if !r.isNullAt(i) =>
            Row(c, r.getString(i), r.getString(pkI)) }
        }
        def bucketsOf(rows: Array[Row], ki: Int): Seq[Int] =
          rows.iterator.map(r => BucketedState.bucketOfLocal(
            if (r.isNullAt(ki)) null else r.getString(ki), storeN))
            .toSet.toSeq.sorted
        touched = allEntities.flatMap { s =>
          val rows = deltaRows(s.name)
          if (rows.isEmpty) None
          else Some(s.name -> bucketsOf(rows,
            projectionSchema(s).fieldIndex(s.dedupKeyCol)))
        }.toMap ++
          (if (refRows.isEmpty) Map.empty[String, Seq[Int]]
           else Map(IdxName -> bucketsOf(refRows, 1)))
        directPks = DirectPkSources.flatMap { case (n, k) =>
          val ki = projectionSchema(specByName(n)).fieldIndex(k)
          deltaRows(n).iterator.filter(!_.isNullAt(ki)).map(_.getString(ki))
        }.distinct
        dimKeys = DimLookups.flatMap { case (n, k, _) =>
          val ki = projectionSchema(specByName(n)).fieldIndex(k)
          val ks = deltaRows(n).iterator
            .filter(!_.isNullAt(ki)).map(_.getString(ki)).toSet
          if (ks.isEmpty) None else Some(n -> ks)
        }.toMap
        // built on first use: only the lazy merge plans and the
        // distributed fallbacks read these frames, and each costs a
        // LocalRelation conversion plus an analysis
        val frames = scala.collection.concurrent.TrieMap
          .empty[String, DataFrame]
        name => frames.getOrElseUpdate(name, localDfOf(spark,
          deltaRows(name), projectionSchema(specByName(name))))
      } else {
        // cached only by this legacy (distributed-discovery) tier, which
        // re-scans the batch per entity. `cache()` registers a
        // CacheManager entry as soon as it is called, and every later
        // analysis in the batch consults it: the driver tier never
        // builds this frame
        val cached = taggedBatch.coalesce(width).cache()
        scratch += cached
        val planDeltas: Map[String, DataFrame] = allEntities.map(s =>
          s.name -> project(
            cached.filter(col("entity") === s.name).select("value"), s)).toMap
        def directKeysDf(name: String, keyCol: String): DataFrame =
          planDeltas(name).select(col(keyCol).as("l_uc_pk"))
            .filter(col("l_uc_pk").isNotNull)
        val refEntriesPlan = mkRefEntries(planDeltas("listings"))
        def tb(tag: String, df: DataFrame, key: Column, n: Int) =
          df.select(lit(tag).as("t"), BucketedState.bucketOf(key, n).as("b"),
            lit(null).cast("string").as("v"))
        def tv(tag: String, df: DataFrame, value: Column) =
          df.select(lit(tag).as("t"), lit(null).cast("int").as("b"),
            value.as("v"))
        val bucketLegs =
          allEntities.map(s =>
            tb(s.name, planDeltas(s.name), col(s.dedupKeyCol), storeN)) ++
            Seq(tb(IdxName, refEntriesPlan, col("ref_val"), storeN))
        val discovery = bucketLegs ++
            DirectPkSources.map { case (n, k) =>
              tv("__pk", directKeysDf(n, k), col("l_uc_pk")) } ++
            DimLookups.map { case (n, k, _) =>
              tv("__dim:" + n,
                planDeltas(n).select(col(k).as("__k"))
                  .filter(col("__k").isNotNull),
                col("__k")) }
        val discLimit =
          (allEntities.size + 1) * storeN + driverAffectedMaxRows + 1
        var discRows = discovery.reduce(_ unionByName _).distinct()
          .limit(discLimit).collect()
        discoveryOverflow = discRows.length >= discLimit
        if (discoveryOverflow) {
          discRows = bucketLegs.reduce(_ unionByName _).distinct().collect()
        }
        touched = discRows.filter(!_.isNullAt(1))
          .groupBy(_.getString(0))
          .map { case (t, rs) => t -> rs.map(_.getInt(1)).toSeq.sorted }
        directPks = discRows
          .filter(r => r.getString(0) == "__pk" && !r.isNullAt(2))
          .map(_.getString(2)).toSeq
        dimKeys = discRows
          .filter(_.getString(0).startsWith("__dim:"))
          .groupBy(_.getString(0).stripPrefix("__dim:"))
          .map { case (n, rs) => n -> rs.map(_.getString(2)).toSet }
        planDeltas
      }
      val present = allEntities.map(_.name).filter(touched.contains)
      mark("J1:discover")
      if (present.isEmpty) return

      // Fused-tier admission, decided UP FRONT (nothing below mutates
      // snapshots before the fastMerge branch): a non-fused batch first
      // folds any pending state generations, so every file read below
      // sees plain bucket files — readers never merge pendings.
      val branchEntities: Seq[String] =
        present ++ touched.get(IdxName).map(_ => IdxName).toSeq
      val fastMerge = driverTier && branchEntities.forall(store.localOrEmpty)
      // Dist-pendings admission (the over-cap LSM tier): a driver-tier
      // batch whose state is past the local caps appends per-entity
      // winners as pending generations instead of rewriting its touched
      // buckets full-width; every state reader overlays the unfolded
      // pendings (withPendingOverlay). Folds then happen HERE ONLY, at
      // the batch boundary — compaction cadence or cold re-entry — so
      // no lazy plan built below can dangle on a deleted pending file.
      // A non-driver-tier batch (catch-up) keeps the classic rewrite
      // and folds everything first, exactly as before.
      val distPendings = store.pendingEnabled && !fastMerge && driverTier
      if (!fastMerge) {
        if (distPendings) store.foldPendingsAtCadence()
        else store.foldAllPendings()
      }

      // ---- merged latest-state frames per present entity: LAZY plans
      // over the PRE-write generation — local snapshot rows where
      // resident (zero state-file I/O), bucket files otherwise. Both
      // the persistence write (J2) and the re-join (J4) consume these,
      // which is what lets the two jobs run CONCURRENTLY — neither
      // reads anything the other mutates (the inflight write creates
      // new files only; bucket promotion waits for both).
      // everything in this block is LAZY: the fused tier consumes the
      // driver arrays directly and must not pay the eager
      // Row->InternalRow conversion these LocalRelation frames do at
      // construction (measured ~0.15s/batch of pure never-used frames)
      lazy val refEntriesDf: DataFrame =
        if (driverTier) localDfOf(spark, refRows, IdxSchema)
        else mkRefEntries(deltas("listings"))
      lazy val mergedByName: Map[String, DataFrame] = present.map { name =>
        val spec = specByName(name)
        val schema = projectionSchema(spec)
        val all = store.localTouchedDf(name, schema, touched(name))
            .orElse(store.distTouchedDf(name, schema, spec.dedupKeyCol,
              touched(name)))
            .orElse(BucketedState.readBuckets(
              spark, store.path(name), touched(name), Some(schema))) match {
          case Some(cur) => tieTagged(cur, 0).unionByName(tieTagged(deltas(name), 1))
          case None => tieTagged(deltas(name), 1)
        }
        name -> LatestVersion.latestOne(all, spec.dedupKeyCol,
          spec.prefix + "uc_created_ts", tiebreakCol = "__tie").drop("__tie")
      }.toMap
      lazy val entityBranches = present.map { name =>
        val spec = specByName(name)
        canonicalize(mergedByName(name), name,
          BucketedState.bucketOf(col(spec.dedupKeyCol), storeN))
      }
      lazy val idxMergedOpt = touched.get(IdxName).map { idxTouched =>
        (store.localTouchedDf(IdxName, IdxSchema, idxTouched)
            .orElse(store.distTouchedDf(IdxName, IdxSchema, "ref_val",
              idxTouched))
            .orElse(BucketedState.readBuckets(
              spark, store.path(IdxName), idxTouched, Some(IdxSchema))) match {
          case Some(cur) => cur.unionByName(refEntriesDf)
          case None => refEntriesDf
        }).distinct()
      }
      lazy val idxBranch = idxMergedOpt.map(m =>
        canonicalize(m, IdxName, BucketedState.bucketOf(col("ref_val"), storeN)))
      val touchedByEntity = (present.map(n => n -> touched(n)) ++
        touched.get(IdxName).map(_ => IdxName -> touched(IdxName))).toMap

      // ---- J3 (dims only): affected listing pks = direct + reverse-
      // index fan-out, resolved against the PRE-write index. Equivalent
      // to post-write: the entries this batch adds come from its own
      // listing delta, and those listings are already in the direct set.
      //
      // THREE tiers: (a) a driver-resident index resolves the fan-out
      // as plain map lookups — zero jobs; (b) otherwise the PROBED
      // index buckets are collected (bounded: |dim delta keys| buckets,
      // each 1/nBuckets of the index) and scanned driver-side; (c) a
      // probe past DriverAffectedMaxRows falls back to the distributed
      // lookup join, degrading to one extra job, never to driver
      // memory.
      val dims = DimLookups.filter(d => present.contains(d._1))
      val affectedLocalPks: Option[Seq[String]] =
        if (discoveryOverflow) None // key lists overflowed the driver budget
        else if (dims.isEmpty) Some(directPks.distinct)
        else store.idxFanout(dims.map { case (name, _, refCols) =>
            (refCols, dimKeys.getOrElse(name, Set.empty[String])) }) match {
          case Some(fanout) =>
            val pks = (directPks ++ fanout).distinct
            if (pks.size > driverAffectedMaxRows) None else Some(pks)
          case None =>
            // raw file probe without an ensureFolded: safe by the
            // fold invariant — index pendings exist only while the idx
            // SNAPSHOT is resident (appends require a refreshed
            // snapshot; cold start and every non-fused batch fold in
            // the prelude; the fused fallback folds before its write),
            // and a resident snapshot takes the idxFanout branch above,
            // never this probe. Reordering tiers here must re-prove it.
            val lookupBuckets = dims.flatMap(d => touched(d._1)).distinct
            store.distTouchedDf(IdxName, IdxSchema, "ref_val", lookupBuckets)
              .orElse(BucketedState.readBuckets(spark, store.path(IdxName),
                lookupBuckets, Some(IdxSchema))) match {
              case None => Some(directPks.distinct)
              case Some(idx) =>
                val probe = idx.limit(driverAffectedMaxRows + 1).collect()
                if (probe.length > driverAffectedMaxRows) None
                else {
                  val fanout = dims.flatMap { case (name, _, refCols) =>
                    val keys = dimKeys.getOrElse(name, Set.empty[String])
                    val rc = refCols.toSet
                    probe.iterator
                      .filter(r => rc.contains(r.getString(0)) &&
                        keys.contains(r.getString(1)))
                      .map(_.getString(2))
                  }
                  Some((directPks ++ fanout).distinct)
                }
            }
        }
      // the affected-key frame is a thunk: only the J4 frame tiers read
      // it, and the fused/local path must not pay its construction
      val affectedOpt: Option[(() => DataFrame, Seq[Int], Seq[Int])] =
        affectedLocalPks match {
          case Some(pks) if pks.isEmpty => None
          case Some(pks) =>
            Some((() => spark.createDataset(pks)(
                org.apache.spark.sql.Encoders.STRING).toDF("l_uc_pk"),
              pks.map(BucketedState.bucketOfLocal(_, storeN)).distinct.sorted,
              sink.bucketCount.map(n =>
                pks.map(BucketedState.bucketOfLocal(_, n)).distinct.sorted)
                .getOrElse(Nil)))
          case None =>
            // distributed fallback: lookup join + bucket collect.
            // This leg reads index AND listing bucket FILES; reached
            // from the FUSED tier (an over-budget fan-out on resident
            // snapshots) those entities' pendings may be unfolded and
            // the files incomplete — on a young store the index bucket
            // dirs may not even exist yet while every entry sits in
            // __pending. Fold first: file readers never merge pendings
            // (the fold invariant), and the resident-snapshot fold is
            // driver-direct.
            if (fastMerge) store.foldAllPendings()
            val direct = DirectPkSources.filter(p => present.contains(p._1))
              .map { case (n, k) =>
                deltas(n).select(col(k).as("l_uc_pk"))
                  .filter(col("l_uc_pk").isNotNull) }
            val idxRead = store.distTouchedDf(IdxName, IdxSchema, "ref_val",
                dims.flatMap(d => touched(d._1)))
              .orElse(BucketedState.readBuckets(spark, store.path(IdxName),
                dims.flatMap(d => touched(d._1)), Some(IdxSchema)))
            val fanout = idxRead.toSeq.flatMap { idx =>
              dims.map { case (name, keyCol, refCols) =>
                val keys = deltas(name).select(col(keyCol).as("__k"))
                  .filter(col("__k").isNotNull).distinct()
                idx.filter(col("ref_col").isin(refCols: _*))
                  .join(broadcast(keys), col("ref_val") === col("__k"))
                  .select(col("l_uc_pk"))
              }
            }
            if (direct.isEmpty && fanout.isEmpty) None
            else {
              val aff = (direct ++ fanout).reduce(_ unionByName _)
                .filter(col("l_uc_pk").isNotNull).distinct().cache()
              scratch += aff
              val pairs = aff.select(
                  BucketedState.bucketOf(col("l_uc_pk"), storeN).as("sb"),
                  sink.bucketCount.map(n =>
                    BucketedState.bucketOf(col("l_uc_pk"), n))
                    .getOrElse(lit(-1)).as("kb"))
                .distinct().collect()
              Some((() => aff, pairs.map(_.getInt(0)).distinct.sorted,
                pairs.map(_.getInt(1)).distinct.sorted))
            }
        }
      mark("J3:affected")

      // ---- snapshot + lookup-map maintenance, BEFORE the join and the
      // write. FUSED tier: every touched entity is local-resident and
      // the merge output is bounded, so ALL merges materialize in ONE
      // collect; snapshots, dim maps and the reverse-index map refresh
      // from those rows driver-side, and the state write itself runs
      // from driver memory (zero state-file reads in the whole batch).
      // LEGACY tier: per-entity refresh collects (one small job each
      // over only the touched buckets), lazy distributed write.
      //
      // Either way the refresh precedes the write: merged content
      // derives from the pre-write generation plus the delta, so on a
      // write failure + replay the recomputation converges (idempotent
      // argmax), and a JVM crash simply rebuilds from files.
      def schemaOf(entity: String): (StructType, String) =
        if (entity == IdxName) (IdxSchema, "ref_val")
        else (projectionSchema(specByName(entity)),
          specByName(entity).dedupKeyCol)
      def isDim(entity: String): Boolean =
        DimEnrich.dimEntities.exists(_.name == entity)
      lazy val unionFrame =
        (entityBranches ++ idxBranch.toSeq).reduce(_ unionByName _)
      val unionWidth = unionSchema.length
      def unionRow(entity: String, bucket: Int, r: Row,
                   pos: Array[Int]): Row = {
        val arr = new Array[Any](unionWidth)
        arr(0) = entity
        arr(1) = bucket
        var i = 0
        while (i < pos.length) { arr(pos(i)) = r.get(i); i += 1 }
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
      }
      /** Entity-schema rows -> canonical union rows (bucket recomputed
        * from the entity's bucket key, exactly as canonicalize does).
        */
      def unionRowsOf(e: String, rows: Array[Row]): Array[Row] = {
        val (schema, keyCol) = schemaOf(e)
        val keyI = schema.fieldIndex(keyCol)
        val pos = schema.fields.map(f => canonIdx(f.name))
        rows.map { r =>
          val key = if (r.isNullAt(keyI)) null else r.getString(keyI)
          unionRow(e, BucketedState.bucketOfLocal(key, storeN), r, pos)
        }
      }
      // driver-JVM form of the same merges (fast tier only): every
      // input is already a driver-resident Row array (snapshot touched
      // buckets + projected delta rows), so the per-entity argmax runs
      // as ONE hash-map pass -- zero Catalyst analysis, zero codegen,
      // zero jobs. Winner selection replicates latestOne's window
      // ordering exactly: (ts desc nulls-last, (isNew, contentHash)
      // desc), with the content hash evaluated through the identical
      // xxhash64(struct(...)) expression ([[tieHasher]]). The idx
      // branch (constant ts/tie) reduces to a distinct over triples.
      // Returns, per entity (ENTITY schema rows): the full merged
      // touched-bucket content (what the snapshot refresh installs)
      // and the batch's PENDING rows — the merged winners of keys the
      // delta touched, i.e. the delta-proportional LSM append; for the
      // reverse index, the genuinely new entries. The merge is
      // KEY-LEVEL: the argmax hash map holds only the DELTA's keys
      // (thousands), and the state pass is a contains-probe +
      // pass-through per row — the earlier whole-state form built a
      // 100k-entry map AND a 60-field canonical union row per state
      // row per batch, which was most of the fused merge's cost.
      // Winner selection still replicates latestOne's window ordering
      // exactly: (ts desc nulls-last, isNew desc, contentHash desc),
      // hash evaluated lazily (only on exact ts ties; a state and a
      // delta row never tie into the hash — isNew differs — and the
      // state holds ONE row per key by the latestOne invariant).
      def driverMerged()
          : (Map[String, Array[Row]], Map[String, Array[Row]]) = {
        val merged = Map.newBuilder[String, Array[Row]]
        val pendings = Map.newBuilder[String, Array[Row]]
        present.foreach { name =>
          val spec = specByName(name)
          val schema = projectionSchema(spec)
          val keyI = schema.fieldIndex(spec.dedupKeyCol)
          val tsI = schema.fieldIndex(spec.prefix + "uc_created_ts")
          val hash = tieHasher(schema)
          def tsOf(r: Row): java.lang.Long =
            if (r.isNullAt(tsI)) null
            else java.lang.Long.valueOf(r.getLong(tsI))
          def keyOf(r: Row): String =
            if (r.isNullAt(keyI)) null else r.getString(keyI)
          // 1. argmax among the DELTA rows per key (isNew ties fall to
          //    the content hash, exactly as before)
          val best = scala.collection.mutable.HashMap
            .empty[String, (Row, java.lang.Long)]
          deltaRows(name).foreach { r =>
            val key = keyOf(r)
            val ts = tsOf(r)
            best.get(key) match {
              case None => best(key) = (r, ts)
              case Some((br, bts)) =>
                val wins =
                  if (ts == null) false
                  else if (bts == null) true
                  else if (ts.longValue != bts.longValue)
                    ts.longValue > bts.longValue
                  else hash(r) > hash(br)
                if (wins) best(key) = (r, ts)
            }
          }
          // 2. one pass over the touched state rows: a key outside the
          //    delta passes through untouched; a delta key's state row
          //    beats the delta winner only on a strictly NEWER ts (on
          //    an exact tie isNew=1 wins — the delta row)
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          store.localTouchedRows(name, touched(name)).foreach(_.foreach {
            r =>
              val key = keyOf(r)
              best.get(key) match {
                case None => out += r
                case Some((_, bts)) =>
                  val ts = tsOf(r)
                  // state beats the delta winner on a strictly newer
                  // ts; when BOTH are null the incumbent state row
                  // stays (a null ts never replaces — the sequential
                  // form considered state first and `wins` is false
                  // for a null challenger)
                  val stateWins =
                    if (ts == null) bts == null
                    else bts == null || ts.longValue > bts.longValue
                  if (stateWins) best(key) = (r, ts)
              }
          })
          // 3. the per-key winners are both merged content and the
          //    pending append (every best key came from the delta)
          val pend = new Array[Row](best.size)
          var i = 0
          best.foreach { case (_, (r, _)) =>
            out += r; pend(i) = r; i += 1
          }
          merged += name -> out.toArray
          pendings += name -> pend
        }
        touched.get(IdxName).foreach { idxTouched =>
          val seen = scala.collection.mutable.HashSet
            .empty[(String, String, String)]
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          def considerIdx(r: Row): Boolean = {
            val t = (r.getString(0), r.getString(1),
              if (r.isNullAt(2)) null else r.getString(2))
            val added = seen.add(t)
            if (added) out += r
            added
          }
          store.localTouchedRows(IdxName, idxTouched)
            .foreach(_.foreach(considerIdx(_)))
          val pendIdx = Array.newBuilder[Row]
          refRows.foreach(r => if (considerIdx(r)) pendIdx += r)
          merged += IdxName -> out.toArray
          pendings += IdxName -> pendIdx.result()
        }
        (merged.result(), pendings.result())
      }
      // Fused-tier admission is RESIDENCY, not a row budget: every merge
      // input is already a driver-resident array (local snapshots +
      // driver-tier delta rows), and the middle tier would collect the
      // very same merged output to refresh those snapshots — so there is
      // no memory regime between "all local" and "past the local caps"
      // for a separate row gate to protect. The caps that matter are the
      // per-entity LocalSnapshotMaxRows / IdxLocalMaxRows residency
      // bounds; an entity past them falls the batch to the distributed
      // middle tier. (Round 5 gated this at 80k rows, which pushed the
      // 4,000-row bench mix into four distributed window merges per
      // batch — 3s of the 9.7s mean — for state the driver already held.)
      // (fastMerge itself is decided up front, right after discovery —
      // the non-fused prelude folds pending state generations there.)

      var collectedUnion: Option[(Array[Row], StructType)] = None
      var mergedEntityRows: Map[String, Array[Row]] = Map.empty
      var pendingByEntity: Map[String, Array[Row]] = Map.empty
      // middle-tier refresh collects, kept for the dist-pendings writer:
      // a refreshed entity's winners are a driver-side filter of these
      // rows (zero extra jobs)
      var capturedFresh: Map[String, Array[Row]] = Map.empty
      val refreshed: Set[String] =
        if (fastMerge) {
          val (mergedEnt, pend) = driverMerged() // zero jobs: every merge
          mergedEntityRows = mergedEnt
          pendingByEntity = pend
          mark("J2:argmax")
          branchEntities.filter { e =>
            val (schema, keyCol) = schemaOf(e)
            store.refreshFromDelta(e, schema, keyCol, touched(e),
              pend.getOrElse(e, Array.empty[Row]),
              () => mergedEnt(e), buildMap = isDim(e))
          }.toSet
        } else {
          // MIDDLE tier: distributed merge plans, but each refresh's
          // collect is CAPTURED — when every branch entity refreshes
          // locally, the state write below runs from these rows instead
          // of re-executing the same merge plans a second time inside
          // the write job (which doubled large-batch latency).
          val freshRows =
            scala.collection.mutable.Map.empty[String, Array[Row]]
          def refresh(e: String, merged: DataFrame,
                      buildMap: Boolean): Boolean = {
            val (schema, keyCol) = schemaOf(e)
            var rows: Array[Row] = null
            val ok = store.refreshFromRows(e, schema, keyCol, touched(e),
              () => { rows = merged.collect(); rows }, buildMap)
            if (ok && rows != null) freshRows(e) = rows
            ok
          }
          val r = branchEntities.filter(_ != IdxName)
            .filter(e => refresh(e, mergedByName(e), isDim(e))) ++
            idxMergedOpt.toSeq.flatMap(m =>
              if (refresh(IdxName, m, buildMap = false)) Seq(IdxName)
              else Nil)
          capturedFresh = freshRows.toMap
          if (r.size == branchEntities.size)
            collectedUnion = Some((
              branchEntities.toArray.flatMap(e =>
                unionRowsOf(e, freshRows(e))),
              unionSchema))
          r.toSet
        }
      // the map-enrichment tier applies only when EVERY dim resolves a
      // lookup map with post-merge content; any dim past the local
      // tier falls the whole join back to the joinAll broadcast plan.
      // DRIVER maps here; the mapPartitions paths publish broadcasts
      // on demand (lookupMap caches per map generation).
      val dimMapsOpt: Option[Map[String, Map[String, Array[Any]]]] = {
        val ms = DimEnrich.dimEntities.flatMap { spec =>
          if (present.contains(spec.name) && !refreshed.contains(spec.name))
            None
          else store.lookupMapLocal(spec, projectionSchema(spec))
            .map(spec.name -> _)
        }
        if (ms.size == DimEnrich.dimEntities.size) Some(ms.toMap) else None
      }
      def dimBroadcasts(): Map[String,
          org.apache.spark.broadcast.Broadcast[Map[String, Array[Any]]]] =
        DimEnrich.dimEntities.map(spec => spec.name ->
          store.lookupMap(spec, projectionSchema(spec)).get).toMap
      mark(if (fastMerge) "J2:merge" else "J3:refresh")

      // ---- J2 ∥ J4: launch the inflight state write on a worker
      // thread (from driver memory on the fused tier, the lazy merge
      // plans otherwise), run the re-join + sink merge on this one.
      // Neither mutates live files; promotion + cache invalidation
      // happen after both so no path-based open can land on a moved
      // file. Crash consistency: an exception on either side leaves
      // the previous state generation live, the batch replays, and
      // both merges are idempotent keyed upserts.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      // LSM tier admission: fused batch, every branch entity refreshed
      // (its snapshot now holds the post-merge truth the periodic fold
      // writes from). The append is delta-proportional; the classic
      // full-bucket write below is the fold/fallback path.
      val usePendings = store.pendingEnabled && fastMerge &&
        refreshed.size == branchEntities.size
      // A FUSED batch that is NOT taking the pendings path (a refresh
      // fell past the local cap, or the LSM tier is off) is about to
      // rewrite its branch entities' base buckets with full merged
      // content. Outstanding pending generations for those entities
      // MUST fold first: after the promote, base would be NEWER than
      // the pendings, yet the cold/file fold orders base as __gen=-1 —
      // stale pending rows would win per key and silently regress this
      // batch's updates on the next fold. Folding here is correct on
      // both sub-cases (a still-resident snapshot folds from itself;
      // an invalidated entity file-merges against the pre-write base),
      // and runs BEFORE the concurrent J4 leg so no reader races the
      // fold's bucket swaps. The non-fused tier folded at batch start.
      if (fastMerge && !usePendings) branchEntities.foreach { e =>
        val (schema, keyCol) = schemaOf(e)
        store.ensureFolded(e, schema, keyCol)
      }
      val stateWrite = Future {
        if (usePendings) {
          branchEntities.foreach { e =>
            val rows = pendingByEntity.getOrElse(e, Array.empty[Row])
            if (rows.nonEmpty) {
              val (schema, keyCol) = schemaOf(e)
              store.appendPendingLocal(e, rows, schema, keyCol)
            }
          }
          // amortized fold from the resident snapshots (content-free:
          // they ARE base ⊎ pendings); runs here so it overlaps J4,
          // which on the fused path never reads state files
          branchEntities.foreach { e =>
            if (store.pendingGenCount(e) >= store.PendingFoldEvery) {
              val (schema, keyCol) = schemaOf(e)
              store.ensureFolded(e, schema, keyCol)
            }
          }
        } else if (fastMerge) {
          // fused but not pendings-eligible (a refresh fell past the
          // local cap, or the kill switch): canonical union rows are
          // built here — only on this path — from the merged entity
          // rows, and written driver-direct
          val rows = branchEntities.toArray.flatMap(e =>
            unionRowsOf(e, mergedEntityRows(e)))
          BucketedState.writeEntityInflightLocal(spark, store.dir,
            rows, unionSchema, touchedByEntity)
        } else if (distPendings) {
          // OVER-CAP LSM WRITE: per-entity winners for exactly the
          // batch's delta keys land as pending generations — durable
          // bytes/batch are delta-proportional; the touched buckets'
          // accumulated content is rewritten only at the fold cadence.
          // Winners of refreshed entities are a driver filter of the
          // captured refresh rows; entities past the local tier run ONE
          // union job over the restricted merge plans (the key
          // predicate pushes below each plan's latest-wins window, so
          // the job is point-lookup-shaped over the cached dist base).
          val deltaKeySets: Map[String, Set[String]] = present.map { name =>
            val spec = specByName(name)
            val ki = projectionSchema(spec).fieldIndex(spec.dedupKeyCol)
            name -> deltaRows(name).iterator.filter(!_.isNullAt(ki))
              .map(_.getString(ki)).toSet
          }.toMap
          val needJob = present.filterNot(capturedFresh.contains)
          val jobRows: Map[String, Array[Row]] =
            if (needJob.isEmpty) Map.empty
            else {
              val branches = needJob.map { name =>
                val spec = specByName(name)
                canonicalize(mergedByName(name).filter(
                  col(spec.dedupKeyCol)
                    .isin(deltaKeySets(name).toSeq: _*)),
                  name, lit(0))
              }
              val collected = branches.reduce(_ unionByName _).collect()
              needJob.map(name => name -> extractEntityRows(collected,
                name, projectionSchema(specByName(name)))).toMap
            }
          present.foreach { name =>
            val spec = specByName(name)
            val schema = projectionSchema(spec)
            val ki = schema.fieldIndex(spec.dedupKeyCol)
            val ks = deltaKeySets(name)
            val winners = capturedFresh.get(name) match {
              case Some(rows) => rows.filter(r =>
                !r.isNullAt(ki) && ks.contains(r.getString(ki)))
              case None => jobRows(name)
            }
            if (winners.nonEmpty) {
              // failpoint per entity: a crash here leaves a TORN
              // multi-entity append (earlier entities' gens durable,
              // later ones missing) — the replay re-appends the full
              // set and the gen-desc fold converges (FaultInjectionSpec
              // enumerates these windows on the over-cap matrix)
              mark(s"J2:pend:$name")
              store.appendPendingLocal(name, winners, schema,
                spec.dedupKeyCol)
            }
          }
          // the reverse index is add-only: the batch's fresh entries ARE
          // its delta winners (fold/overlay distinct away duplicates)
          if (touched.contains(IdxName) && refRows.nonEmpty) {
            mark("J2:pend:__idx")
            store.appendPendingLocal(IdxName, refRows, IdxSchema, "ref_val")
          }
        } else collectedUnion match {
          // middle tier with every refresh captured: write the
          // inflight bucket files driver-direct (no
          // parallelize/exchange/write job; see
          // [[BucketedState.writeEntityInflightLocal]])
          case Some((rows, schema)) =>
            BucketedState.writeEntityInflightLocal(spark, store.dir,
              rows, schema, touchedByEntity)
          case None =>
            BucketedState.writeEntityInflight(spark, store.dir,
              unionFrame, touchedByEntity)
        }
      }
      try {
        affectedOpt.foreach { case (affected, affBuckets, sinkBuckets) =>
          val lSchema = projectionSchema(listings)
          // affected listing rows: a driver filter of the
          // (post-refresh) listing snapshot when resident — zero file
          // reads; otherwise touched buckets come from the lazy merged
          // frame and untouched-but-affected buckets read from disk
          // (files this batch never replaces)
          val affectedListingRows: Option[Array[Row]] =
            (affectedLocalPks, store.localSnap("listings")) match {
              case (Some(pks), Some(snap))
                  if !present.contains("listings") ||
                    refreshed.contains("listings") =>
                val pkI = lSchema.fieldIndex("l_uc_pk")
                val pkSet = pks.toSet
                Some(snap.rows.filter(r =>
                  !r.isNullAt(pkI) && pkSet.contains(r.getString(pkI))))
              case _ => None
            }
          // a thunk as well: the driver-array tier below reads the
          // rows themselves, never this frame
          val affectedListingsOpt: Option[() => DataFrame] =
            affectedListingRows match {
              // parallelDfOf, not localDfOf: a high-fanout dim batch
              // can affect tens of thousands of full-width listing
              // rows — distribute the InternalRow conversion instead
              // of paying it on the driver thread at plan time
              case Some(rows) => Some(() => parallelDfOf(spark, rows, lSchema))
              case None =>
                val unTouchedAff = affBuckets.filterNot(
                  touched.getOrElse("listings", Nil).toSet)
                val listingParts = store.distTouchedDf("listings", lSchema,
                    "l_uc_pk", unTouchedAff)
                  .orElse(BucketedState.readBuckets(spark,
                    store.path("listings"), unTouchedAff, Some(lSchema)))
                  .toSeq ++ mergedByName.get("listings").toSeq
                if (listingParts.isEmpty) None
                // re-select into lSchema order after the semi-join: a
                // USING join projects the key column FIRST, and a sink
                // must see ONE column layout regardless of which J4
                // tier produced a batch's rows
                else Some(() => listingParts.reduce(_ unionByName _)
                  .join(broadcast(affected()), Seq("l_uc_pk"), "left_semi")
                  .select(lSchema.fieldNames.toSeq.map(col): _*))
            }
          mark("J4:aff-df")
          affectedListingsOpt.foreach { affectedListingsOf =>
            lazy val affectedListings = affectedListingsOf()
            // dim state for the fallback SQL join: cached snapshot
            // minus touched buckets, plus the lazy merged frame — but a
            // dim already refreshed above serves its (post-merge)
            // snapshot directly
            def fullState(spec: Crmls.EntitySpec): DataFrame = {
              val schema = projectionSchema(spec)
              val snap = store.cachedReadAll(spec.name, schema,
                spec.dedupKeyCol)
              if (!present.contains(spec.name) ||
                  refreshed.contains(spec.name))
                snap.getOrElse(emptyOf(spark, schema))
              else {
                val untouched = snap
                  .map(_.filter(!BucketedState.bucketOf(
                    col(spec.dedupKeyCol), storeN)
                    .isin(touched(spec.name): _*)))
                  .getOrElse(emptyOf(spark, schema))
                untouched.unionByName(mergedByName(spec.name))
              }
            }
            // Column-narrowed tier: a dim-only batch changes exactly
            // the present dims' role columns of the affected keys —
            // emit key + those columns and let the sink merge per
            // column. The narrowed values are row-identical to the
            // same columns of the full join (DimEnrichSpec); the
            // other ~90 columns are never built or written.
            val narrow = narrowDimSink && sink.supportsPartial &&
              !present.contains("listings")
            if (profile) println(s"[profile] tier narrow=$narrow " +
              s"maps=${dimMapsOpt.isDefined} " +
              s"localRows=${affectedListingRows.map(_.length)} " +
              s"fastMerge=$fastMerge")
            // driver tier of the narrow path — the incremental-
            // maintenance fast lane: probe the (driver-held) dim maps
            // over the resident snapshot rows and hand the sink a
            // driver ARRAY it appends joblessly
            // ([[DimEnrich.enrichPartialLocal]] +
            // [[UpsertJoin.UpsertSink.upsertPartialRowsUnique]]) —
            // zero full-width conversion, zero Catalyst passes, zero
            // exchanges on the whole J4 leg
            val localTier: Option[(Array[Row], StructType)] =
              (dimMapsOpt, affectedListingRows) match {
                case (Some(maps), Some(rows)) =>
                  val res =
                    if (narrow) DimEnrich.enrichPartialLocal(rows, lSchema,
                      maps, present.toSet, "l_uc_pk")
                    else DimEnrich.enrichLocal(rows, lSchema, maps)
                  mark("J4:enrich-loc")
                  Some(res)
                case (Some(_), _) =>
                  None // maps resident, rows not local: frame tier below
                case (None, _) =>
                  // Over-cap driver POINT-LOOKUP tier: the dims are past
                  // driver residency (no lookup maps), but the batch's
                  // affected set is bounded — so instead of re-planning
                  // the 11-join and re-broadcasting whole dim states,
                  // run TWO bounded jobs: (1) collect the affected
                  // listing rows from the pre-write merged listing view,
                  // (2) ONE union job point-looking-up every dim's
                  // slice for exactly the keys those rows reference
                  // (canonical-union encoded, so five entity schemas
                  // ride one collect). The dim states are only SCANNED
                  // (cached dist base + dirty-bucket files) — never
                  // collected or broadcast — and the driver holds
                  // delta-proportional rows only, which is the RocksDB
                  // point-lookup analog of the reference's production
                  // join (CRMLSJoiner.scala:471-487). Past the key
                  // budget the batch falls to the joinAll plan below.
                  affectedLocalPks match {
                    case Some(pks)
                        if pks.nonEmpty && pks.size <= DriverSliceMaxKeys =>
                      // re-select into lSchema order: the semi-join
                      // that built affectedListings is a USING join,
                      // which projects the key column FIRST — the
                      // driver enrichment below indexes by lSchema
                      val affRows = affectedListings
                        .select(lSchema.fieldNames.toSeq.map(col): _*)
                        .collect()
                      mark("J4:aff-coll")
                      val keysByDim: Map[String, Set[String]] =
                        DimEnrich.dimEntities.map { spec =>
                          val idxs = DimEnrich.roles
                            .filter(_._1 == spec.name)
                            .map(r => lSchema.fieldIndex(r._2))
                          val ks = Set.newBuilder[String]
                          affRows.foreach(r => idxs.foreach(i =>
                            if (!r.isNullAt(i)) ks += r.getString(i)))
                          spec.name -> ks.result()
                        }.toMap
                      val slices = DimEnrich.dimEntities.flatMap { spec =>
                        val ks = keysByDim(spec.name)
                        if (ks.isEmpty) None
                        else Some(canonicalize(
                          fullState(spec).filter(
                            col(spec.dedupKeyCol).isin(ks.toSeq: _*)),
                          spec.name, lit(0)))
                      }
                      val sliceRows =
                        if (slices.isEmpty) Array.empty[Row]
                        else slices.reduce(_ unionByName _).collect()
                      mark("J4:dim-slice")
                      val maps = DimEnrich.dimEntities.map { spec =>
                        val schema = projectionSchema(spec)
                        spec.name -> DimEnrich.buildLookup(
                          extractEntityRows(sliceRows, spec.name,
                            schema).iterator,
                          schema, spec.dedupKeyCol)
                      }.toMap
                      val res =
                        if (narrow) DimEnrich.enrichPartialLocal(affRows,
                          lSchema, maps, present.toSet, "l_uc_pk")
                        else DimEnrich.enrichLocal(affRows, lSchema, maps)
                      mark("J4:enrich-pt")
                      Some(res)
                    case _ => None
                  }
              }
            localTier match {
              case Some((outRows, outSchema)) =>
                if (narrow)
                  sink.upsertPartialRowsUnique(spark, "l_uc_pk", outRows,
                    outSchema, sinkBuckets)
                else
                  sink.upsertPreparedRowsUnique(spark, "l_uc_pk", outRows,
                    outSchema, sinkBuckets)
              case None =>
                val joined =
                  if (narrow) dimMapsOpt match {
                    case Some(_) => DimEnrich.enrichPartial(
                      affectedListings, dimBroadcasts(), present.toSet,
                      "l_uc_pk")
                    case None =>
                      // fallback SQL tier: full join plan, narrowed
                      // select — Catalyst prunes the untouched dims'
                      // join legs. No broadcast hint: these dims are
                      // past driver residency by construction, so the
                      // join strategy falls to the size stats of the
                      // cached/dist state (small dims still broadcast
                      // via autoBroadcastJoinThreshold; big ones take
                      // a shuffled join instead of a forced per-batch
                      // full-state broadcast build).
                      joinAll(affectedListings, fullState(agents),
                        fullState(openHouses), fullState(offices),
                        fullState(media), fullState(history))
                        .select(("l_uc_pk" +:
                          DimEnrich.roleColumns(present.toSet)).map(col): _*)
                  }
                  else dimMapsOpt match {
                    case Some(_) =>
                      DimEnrich.enrich(affectedListings, dimBroadcasts())
                    case None => joinAll(affectedListings, fullState(agents),
                      fullState(openHouses), fullState(offices),
                      fullState(media), fullState(history))
                  }
                // one row per l_uc_pk by construction: the affected
                // side is a latest-state snapshot slice (or a
                // semi-joined merge of one), never a raw delta — the
                // sink may skip its dedup
                if (narrow)
                  sink.upsertPartialUnique("l_uc_pk", joined, sinkBuckets)
                else
                  sink.upsertPreparedUnique("l_uc_pk", joined, sinkBuckets)
            }
          }
        }
        mark("J4:join-sink")
      } finally Await.ready(stateWrite, Duration.Inf)
      Await.result(stateWrite, Duration.Inf) // rethrow a write failure
      mark("J2:write-wait")
      // snapshots were refreshed pre-join; an entity past the local
      // tier keeps its dist base — the promote moves its TOUCHED
      // buckets' truth to new files, which distMarkDirty records (the
      // base serves the other buckets from cache next batch). Only an
      // entity with neither snapshot form is invalidated outright.
      // Dirty-mark BEFORE the promote: marking is conservative (a
      // dirty bucket is read from files, which are correct both before
      // and after the swap), while the reverse order had a window —
      // an exception mid-promote would leave promoted buckets unmarked
      // and a same-JVM retry reading their stale cached content.
      if (distPendings) {
        // pendings path: no inflight bucket files were written — the
        // base files are untouched, so an installed dist base stays
        // VALID as-is and the next batch's overlay serves the new
        // generation. Marking dirty here would only force pointless
        // file re-reads of unchanged buckets.
      } else {
        branchEntities.filterNot(refreshed).foreach { e =>
          if (!store.distMarkDirty(e, touched(e))) store.invalidate(e)
        }
        BucketedState.promoteEntityBuckets(store.dir, touchedByEntity)
      }
      mark("J2:promote")
    } finally {
      scratch.foreach(_.unpersist())
    }
  }

  /** Bind the per-batch logic to a streaming tagged source.
    * AvailableNow (drain-and-stop) by default for tests and backfills;
    * a continuous deployment passes `Trigger.ProcessingTime(...)`
    * (see CrmlsStreamMain).
    *
    * Unless the session already sets
    * `spark.sql.streaming.checkpointFileManagerClass`, this sets it to
    * [[LocalCheckpointFileManager]] on the session, so the offset log,
    * the commit log and every file source's log write a local
    * checkpoint through java.nio. Spark's default manager goes through
    * Hadoop's local filesystem, which (without native libhadoop) starts
    * a `chmod` process per checkpoint file: most of a small
    * micro-batch's trigger overhead. A checkpoint on shared storage is
    * written through Hadoop as before.
    */
  def run(tagged: DataFrame, store: StateStore, sink: UpsertJoin.UpsertSink,
          checkpointDir: String,
          narrowDimSink: Boolean =
            sys.env.contains("SPARK_GRAFT_NARROW_SINK"),
          trigger: Trigger = Trigger.AvailableNow(),
          driverBatchMaxRows: Int = DriverBatchMaxRows,
          driverAffectedMaxRows: Int = DriverAffectedMaxRows): StreamingQuery = {
    val conf = tagged.sparkSession.conf
    if (conf.getOption(CheckpointFileManagerKey).isEmpty)
      conf.set(CheckpointFileManagerKey,
        classOf[LocalCheckpointFileManager].getName)
    tagged.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch.sparkSession, batch, store, sink, narrowDimSink,
          driverBatchMaxRows, driverAffectedMaxRows)
      }
      .trigger(trigger)
      .start()
  }

  /** Spark's setting naming the streaming checkpoint's file manager. */
  private[streaming] val CheckpointFileManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"
}
