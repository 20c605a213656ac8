package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Hash-bucketed parquet state directory: the incremental-maintenance
  * substrate behind [[CrmlsStream.StateStore]] and
  * [[UpsertJoin.ParquetUpsertSink]].
  *
  * The reference keeps its join state in RocksDB, where an upsert
  * touches only the SSTs holding the key (reference
  * CRMLSJoiner.scala:57-59). The parquet analog is key-hash bucket
  * directories: a micro-batch rewrites ONLY the buckets containing its
  * keys, so per-batch I/O is O(touched buckets x bucket size), not
  * O(live keys) — at production scale the same layout maps 1:1 onto a
  * table format's `MERGE INTO` with partition pruning.
  *
  * Durability note (honest): a bucket swap is two directory renames
  * (live -> trash, fresh -> live). A crash between them leaves that one
  * bucket's previous content in `.old_bucket_N`; [[recover]] (run
  * before every read and overwrite) restores it, so a partial swap
  * heals to the last committed state instead of serving a hole. This
  * is still NOT a transactional commit across buckets — swap the
  * directory layer for Delta/Iceberg when multi-bucket atomicity is
  * needed. Untouched buckets are never opened, so their files stay
  * byte-identical across batches (asserted by BucketedStateSpec).
  */
object BucketedState {

  val BucketColName = "__bucket"

  /** Deterministic key -> bucket assignment (stable across JVMs, so
    * state written by one run is readable by the next).
    */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets)).cast("int")

  /** Driver-side evaluation of [[bucketOf]] for a string key —
    * bit-identical to the SQL expression (same XxHash64 with the
    * expression's default seed 42, null folds to the seed, pmod
    * semantics), pinned by BucketedStateSpec so the two can never
    * drift. Lets the micro-batch driver tier compute bucket sets for
    * bounded key lists without building a plan per batch.
    */
  def bucketOfLocal(key: String, nBuckets: Int): Int = {
    val h =
      if (key == null) 42L
      else org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.sql.types.StringType, 42L)
    val m = h % nBuckets
    (if (m < 0) m + nBuckets else m).toInt
  }

  private def bucketDir(dir: String, b: Int): Path =
    Paths.get(dir, s"bucket_$b")

  def listBuckets(dir: String): Seq[Int] = {
    recover(dir)
    val d = new java.io.File(dir)
    if (!d.exists()) Nil
    else d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("bucket_"))
      .map(_.getName.stripPrefix("bucket_").toInt).sorted
  }

  /** Crash repair for the two-rename bucket swap: a death between
    * `live -> trash` and `fresh -> live` leaves `.old_bucket_N` with no
    * live dir — restore it (the fresh content was never promoted, so
    * the old content is the last committed state). A death after
    * promotion but before cleanup leaves both — the trash is superseded
    * and is deleted. Runs before every read/overwrite, so partial
    * swaps are healed instead of silently serving a hole.
    */
  def recover(dir: String): Unit = {
    val d = new java.io.File(dir)
    if (!d.exists()) return
    d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(".old_bucket_"))
      .foreach { trash =>
        val live = bucketDir(dir, trash.getName.stripPrefix(".old_bucket_").toInt)
        if (Files.exists(live)) deleteRecursively(trash.toPath)
        else Files.move(trash.toPath, live, StandardCopyOption.ATOMIC_MOVE)
      }
  }

  /** Read only the given buckets' current rows (None if none exist —
    * e.g. the very first batch). Neither form runs a Spark job to plan
    * the read. `schema` only shapes it: files carrying extra columns
    * (the union-schema writes of [[overwriteEntityBuckets]]) are
    * column-pruned to it, and files missing one of its columns read it
    * as null. Without it, the read takes the merge of the footers of
    * the bucket files it opens ([[graft.sources.ParquetFooters]]), so a
    * column that only some buckets carry (a partial upsert widens only
    * the buckets it touches) survives.
    */
  def readBuckets(spark: SparkSession, dir: String, buckets: Seq[Int],
                  schema: Option[StructType] = None): Option[DataFrame] = {
    val existing = existingBuckets(dir, buckets)
    if (existing.isEmpty) None
    else {
      val s = schema.getOrElse(footerSchema(spark, existing))
      Some(spark.read.schema(s).parquet(existing.map(_.toString): _*))
    }
  }

  /** The schema [[readBuckets]] reads the given buckets with when it is
    * given none (None if none of them exists), from their footers.
    */
  def bucketsSchema(spark: SparkSession, dir: String,
                    buckets: Seq[Int]): Option[StructType] =
    Some(existingBuckets(dir, buckets)).filter(_.nonEmpty)
      .map(footerSchema(spark, _))

  private def existingBuckets(dir: String, buckets: Seq[Int]): Seq[Path] = {
    recover(dir)
    buckets.distinct.map(b => bucketDir(dir, b)).filter(Files.exists(_))
  }

  private def footerSchema(spark: SparkSession, dirs: Seq[Path]): StructType =
    graft.sources.ParquetFooters.schema(spark,
      dirs.flatMap(d => partFiles(d.toFile)).map(_.getPath))

  /** Part files of bucket `b` (none if it does not exist). */
  private[streaming] def bucketFiles(dir: String, b: Int): Seq[java.io.File] =
    partFiles(bucketDir(dir, b).toFile)

  /** Parquet part files directly under `d` (none if `d` is absent),
    * hidden (`.`/`_`) names skipped.
    */
  private[streaming] def partFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)

  /** Full-state read across every bucket. */
  def readAll(spark: SparkSession, dir: String,
              schema: Option[StructType] = None): Option[DataFrame] =
    readBuckets(spark, dir, listBuckets(dir), schema)

  private[streaming] def deleteRecursively(p: Path): Unit = {
    val f = p.toFile
    if (f.exists()) {
      if (f.isDirectory) f.listFiles().foreach(c => deleteRecursively(c.toPath))
      Files.delete(p)
    }
  }

  /** Replace exactly the `touched` buckets with the corresponding
    * partitions of `merged` (which must carry [[BucketColName]]). One
    * Spark job writes every touched bucket (dynamic `partitionBy`);
    * the swaps are driver-side renames.
    */
  def overwriteBuckets(spark: SparkSession, dir: String, merged: DataFrame,
                       touched: Seq[Int]): Unit = {
    if (touched.isEmpty) return
    writeBucketsInflight(spark, dir, merged, touched)
    promoteBuckets(dir, touched)
  }

  /** Phase 1 of [[overwriteBuckets]]: the one write job into the
    * `.inflight` staging dir. Touches NO live file — readers of the
    * current state generation (and a changelog emitter that must see
    * the PRE-write rows) can run concurrently; a crash here leaves an
    * orphan staging dir the next writer sweeps. Returns the staging
    * path so the caller can read the merged rows back (columnar,
    * already materialized) instead of recomputing the merge plan for a
    * second action.
    */
  def writeBucketsInflight(spark: SparkSession, dir: String,
                           merged: DataFrame, touched: Seq[Int]): Path = {
    recover(dir)
    val tmp = Paths.get(dir, ".inflight")
    deleteRecursively(tmp)
    // repartition on the bucket column => each bucket dir gets exactly
    // ONE file (the RocksDB-SST analog); without it every shuffle task
    // contributes a file per bucket and state reads drown in tiny files
    merged.filter(col(BucketColName).isin(touched: _*))
      .repartition(col(BucketColName))
      .write.partitionBy(BucketColName).mode("overwrite").parquet(tmp.toString)
    tmp
  }

  /** Phase 2 of [[overwriteBuckets]]: promote the staged buckets live
    * via the heal-able two-rename swap, then drop the staging dir.
    */
  def promoteBuckets(dir: String, touched: Seq[Int]): Unit = {
    val tmp = Paths.get(dir, ".inflight")
    touched.foreach { b =>
      val fresh = tmp.resolve(s"$BucketColName=$b")
      // a touched bucket with no surviving rows keeps its old content
      // only if the merge genuinely emitted nothing for it — in the
      // upsert flows every touched bucket retains >=1 row per key, so
      // a missing partition dir means "no change", not "delete all"
      if (Files.exists(fresh)) swapIn(dir, b, fresh)
    }
    deleteRecursively(tmp)
  }

  /** Promote a freshly-written bucket dir to live via the two-rename
    * swap (live -> trash, fresh -> live) that [[recover]] can heal.
    */
  private def swapIn(dir: String, b: Int, fresh: Path): Unit = {
    Files.createDirectories(Paths.get(dir))
    val live = bucketDir(dir, b)
    val trash = Paths.get(dir, s".old_bucket_$b")
    deleteRecursively(trash)
    if (Files.exists(live))
      Files.move(live, trash, StandardCopyOption.ATOMIC_MOVE)
    Files.move(fresh, live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(trash)
  }

  val EntityColName = "__entity"

  /** Multi-table variant of [[overwriteBuckets]]: `merged` carries an
    * [[EntityColName]] column naming the sub-table (state dir
    * `$rootDir/$entity/bucket_N`) next to [[BucketColName]], and ONE
    * dynamic-partition write job covers every (entity, bucket) this
    * batch touches — the fused alternative to one write job per state
    * table, which is what makes a micro-batch driver-job-bound at
    * scale. `touched` lists the buckets eligible for the rename swap
    * per entity; partitions outside it are discarded with the inflight
    * dir, and a touched bucket whose merge emitted no rows keeps its
    * old content (same contract as [[overwriteBuckets]]).
    */
  def overwriteEntityBuckets(spark: SparkSession, rootDir: String,
                             merged: DataFrame,
                             touched: Map[String, Seq[Int]]): Unit = {
    if (touched.isEmpty) return
    writeEntityInflight(spark, rootDir, merged, touched)
    promoteEntityBuckets(rootDir, touched)
  }

  /** Phase 1 of [[overwriteEntityBuckets]]: the one dynamic-partition
    * write job into `.inflight`. Touches NO live file, so it can run
    * concurrently with readers of the current state generation.
    */
  def writeEntityInflight(spark: SparkSession, rootDir: String,
                          merged: DataFrame,
                          touched: Map[String, Seq[Int]]): Unit = {
    touched.keys.foreach(e => recover(s"$rootDir/$e"))
    Files.createDirectories(Paths.get(rootDir))
    val tmp = Paths.get(rootDir, ".inflight")
    deleteRecursively(tmp)
    // hash-cluster on (entity, bucket) so each pair's rows land in ONE
    // task => exactly one file per bucket dir; the explicit partition
    // count keeps a many-bucket batch writing with full core
    // parallelism instead of the streaming session's (deliberately
    // small) shuffle.partitions — a 4,000-row batch over 256 buckets
    // touches ~1,000 (entity, bucket) dirs, and the wall time of that
    // write is file-count / writers, not bytes
    val pairs = touched.valuesIterator.map(_.distinct.size).sum
    val writers = math.max(1,
      math.min(pairs, spark.sparkContext.defaultParallelism))
    merged.repartition(writers, col(EntityColName), col(BucketColName))
      .write.partitionBy(EntityColName, BucketColName)
      .mode("overwrite").parquet(tmp.toString)
  }

  /** Driver-direct single-entity bucket overwrite: each of `buckets`
    * is written with the full row content `rowsOf` gives for it, via
    * [[LocalParquet]] into a private inflight dir, and rename-swapped
    * live — the jobless analog of [[overwriteBuckets]] for content the
    * driver holds or can build (the pending-state fold passes snapshot
    * rows; the sink's driver compaction merges one bucket per call).
    * `rowsOf` runs inside the bucket's write task on the JVM's common
    * pool, so content built there is held for one bucket per pool
    * thread. Buckets not in `buckets` are untouched; a crash before
    * the swaps leaves live state intact and the orphan inflight dir is
    * swept here on the next call.
    */
  private[streaming] def overwriteBucketsLocal(
      spark: SparkSession, dir: String, buckets: Seq[Int],
      rowsOf: Int => Iterator[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    if (buckets.isEmpty) return
    recover(dir)
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, ".inflight_fold")
    deleteRecursively(tmp)
    val work = buckets.distinct.map { b =>
      val d = tmp.resolve(s"$BucketColName=$b")
      Files.createDirectories(d)
      (b, d)
    }
    val conf = LocalParquet.prepareConf(spark, schema)
    import scala.jdk.CollectionConverters._
    work.asJava.parallelStream().forEach { case (b, d) =>
      LocalParquet.write(rowsOf(b), schema,
        d.resolve("part-00000.parquet").toString, conf)
    }
    work.foreach { case (b, d) => swapIn(dir, b, d) }
    deleteRecursively(tmp)
  }

  /** Driver-direct form of [[writeEntityInflight]] for the FUSED
    * micro-batch tier: the merged generation is already a
    * driver-resident Row array ((entity, bucket, fields...) layout per
    * the caller's union schema), so each touched (entity, bucket)
    * file is written straight through [[LocalParquet]] on the JVM's
    * common pool — no parallelize, no exchange, no write job, and none
    * of the double row serialization those cost per batch (measured:
    * the state-write leg of a 4k-row dim-fanout batch drops ~1.1s ->
    * ~0.2s). Layout, promote contract, and crash behavior are
    * IDENTICAL to the job form: files land under `.inflight`, a crash
    * before [[promoteEntityBuckets]] leaves live state untouched and
    * the next batch sweeps the orphan dir.
    *
    * Scale posture: this is the local/driver tier — admitted only when
    * the fused merge already holds the rows (bounded by the residency
    * caps); past those caps the distributed [[writeEntityInflight]]
    * runs, and at production scale the state store is a MERGE-capable
    * table format either way.
    */
  def writeEntityInflightLocal(spark: SparkSession, rootDir: String,
                               rows: Array[org.apache.spark.sql.Row],
                               unionSchema: org.apache.spark.sql.types.StructType,
                               touched: Map[String, Seq[Int]]): Unit = {
    if (touched.isEmpty) return
    require(unionSchema.fields(0).name == EntityColName &&
      unionSchema.fields(1).name == BucketColName,
      "union rows must lead with (entity, bucket)")
    touched.keys.foreach(e => recover(s"$rootDir/$e"))
    Files.createDirectories(Paths.get(rootDir))
    val tmp = Paths.get(rootDir, ".inflight")
    deleteRecursively(tmp)
    val fileSchema =
      org.apache.spark.sql.types.StructType(unionSchema.fields.drop(2))
    val width = fileSchema.length
    val groups = rows.groupBy(r => (r.getString(0), r.getInt(1)))
    // pre-create the partition dirs serially (cheap), write in parallel
    val work = groups.toSeq.map { case ((e, b), rs) =>
      val dir = tmp.resolve(s"$EntityColName=$e").resolve(s"$BucketColName=$b")
      Files.createDirectories(dir)
      (dir, rs)
    }
    import scala.jdk.CollectionConverters._
    val conf = LocalParquet.prepareConf(spark, fileSchema)
    work.asJava.parallelStream().forEach { case (dir, rs) =>
      LocalParquet.write(
        rs.iterator.map { r =>
          val arr = new Array[Any](width)
          var i = 0
          while (i < width) { arr(i) = r.get(i + 2); i += 1 }
          org.apache.spark.sql.Row.fromSeq(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
        }, fileSchema, dir.resolve("part-00000.parquet").toString, conf)
    }
  }

  /** Phase 2: driver-side rename swaps promoting the inflight
    * partitions to live. MUST run only after every reader of the
    * previous generation has finished — a path-based file open after
    * the swap would miss.
    */
  def promoteEntityBuckets(rootDir: String,
                           touched: Map[String, Seq[Int]]): Unit = {
    val tmp = Paths.get(rootDir, ".inflight")
    for ((e, bs) <- touched; b <- bs.distinct) {
      val fresh = tmp.resolve(s"$EntityColName=$e").resolve(s"$BucketColName=$b")
      if (Files.exists(fresh)) swapIn(s"$rootDir/$e", b, fresh)
    }
    deleteRecursively(tmp)
  }
}
