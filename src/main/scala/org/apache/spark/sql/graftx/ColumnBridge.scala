package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made the Column API
  * implementation-agnostic and the classic converters `private[sql]`;
  * this shim lives in an `org.apache.spark.sql` subpackage solely to
  * re-export the two conversions the engine's native expressions need.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (classic Dataset.ofRows is
    * private[sql]).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .logicalPlan

  /** `left` merged with `right` exactly as parquet `mergeSchema` merges
    * two files' schemas (`StructType.merge` is private[sql]): fields by
    * name in first-seen order, nested structs merged, a type conflict
    * refused.
    */
  def mergeSchemas(left: org.apache.spark.sql.types.StructType,
                   right: org.apache.spark.sql.types.StructType,
                   caseSensitive: Boolean)
      : org.apache.spark.sql.types.StructType =
    left.merge(right, caseSensitive)

  /** Set `key` on the active SparkContext's conf unless it is already
    * set (`SparkContext.conf` and `getActive` are private[spark]); a
    * no-op when no context exists yet.
    */
  def setContextConfIfMissing(key: String, value: String): Unit =
    org.apache.spark.SparkContext.getActive.foreach(_.conf.setIfMissing(key, value))

  /** Reliable-checkpoint directory backing a Dataset returned by
    * `Dataset.checkpoint()` — the LogicalRDD leaf's RDD checkpoint
    * file. None for un-checkpointed frames and for localCheckpoint
    * (whose blocks the ContextCleaner frees on GC).
    */
  def checkpointFile(df: org.apache.spark.sql.DataFrame): Option[String] =
    logicalPlan(df) match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile
      case _ => None
    }

  /** Driver-side evaluator of `xxhash64(struct(col1, ..., colN))` over
    * external Rows of `schema` — the SAME expression tree the Column
    * form builds (seed 42, recursive struct hashing), evaluated
    * interpreted. Lets driver-tier code replicate a plan-side hash
    * tiebreak bit for bit; drift between the two would silently pick
    * different winners in merges that must converge across tiers.
    */
  /** Compile a projection-only DataFrame (a chain of Project nodes
    * over one LocalRelation leaf) into a driver-side Row => Row
    * evaluator: the exact analyzed expression trees, bound once and
    * codegen'd once (UnsafeProjection), then applied per row with no
    * further Catalyst passes. The per-micro-batch alternative —
    * re-analyzing and constant-folding a fresh LocalRelation plan —
    * costs a full analyzer+optimizer run per entity per batch for the
    * SAME expressions; this is the cached form. Values are identical
    * by construction (same trees, same eval). Deterministic
    * expressions only.
    */
  def rowProjector(df: org.apache.spark.sql.DataFrame,
                   inSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Row => org.apache.spark.sql.Row = {
    import org.apache.spark.sql.catalyst.expressions.{
      Attribute, BindReferences, UnsafeProjection}
    import org.apache.spark.sql.catalyst.plans.logical.{
      LocalRelation, LogicalPlan, Project}
    val analyzed = df
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]]
      .queryExecution.analyzed
    def chain(p: LogicalPlan)
        : (List[Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]],
           LogicalPlan) =
      p match {
        case Project(exprs, child) =>
          val (rest, leaf) = chain(child)
          (rest :+ exprs, leaf)
        case leaf => (Nil, leaf)
      }
    val (projLists, leaf) = chain(analyzed)
    require(leaf.isInstanceOf[LocalRelation] && projLists.nonEmpty,
      s"rowProjector needs Project* over LocalRelation, got:\n$analyzed")
    var curOutput: Seq[Attribute] = leaf.output
    val projections = projLists.map { exprs =>
      val bound = exprs.map(e => BindReferences.bindReference(e, curOutput))
      curOutput = exprs.map(_.toAttribute)
      UnsafeProjection.create(bound)
    }
    val outSchema = df.schema
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(inSchema)
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(outSchema)
    row => {
      var ir = toCatalyst(row)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      projections.foreach(p => ir = p(ir))
      toScala(ir).asInstanceOf[org.apache.spark.sql.Row]
    }
  }

  def rowXxHash64(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Row => Long = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateNamedStruct, Literal, XxHash64}
    val structExpr = CreateNamedStruct(
      schema.fields.toIndexedSeq.zipWithIndex.flatMap { case (f, i) =>
        Seq(Literal(f.name),
          BoundReference(i, f.dataType, nullable = true))
      })
    val hashExpr = XxHash64(Seq(structExpr), 42L)
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    r => hashExpr.eval(conv(r)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
      .asInstanceOf[Long]
  }
}
