package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftx.ColumnBridge
import graft.functions.NativeExpressions

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions so `spark.sql` users get them too
  * (`graft_dot`, `graft_minhash`, `graft_simhash`), plans the as-of
  * join, and sizes Spark's generated-code cache to the engine's working
  * set.
  *
  * The code cache (`spark.sql.codegen.cache.maxEntries`, Spark's default
  * 100) is one LRU per JVM, sized once by the JVM's first code
  * generation. A pass over the catalog's reference-operator rows cycles
  * more distinct generated classes than 100 through it, so each one is
  * evicted before it is reused and every warm pass recompiles nearly all of
  * them with Janino, although the generated code is the same each time.
  * `apply` therefore sets the key to [[GraftExtensions.CodegenCacheMaxEntries]]
  * on the active SparkContext's conf, unless the conf already sets it
  * (an explicit value wins). This takes effect only when the extension
  * is loaded through `spark.sql.extensions`: `getOrCreate` then applies
  * it after the context exists and before the session's shared state
  * copies the static confs, which in a JVM whose first session loads the
  * extension is before any code generation. `.withExtensions` runs
  * before a context exists and leaves the cache at Spark's default, as
  * does a JVM that generated code before its first such session.
  *
  * Usage:
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  * }}}
  * or `.withExtensions(new GraftExtensions)` (functions and planner only).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ColumnBridge.setContextConfIfMissing(GraftExtensions.CodegenCacheKey,
      GraftExtensions.CodegenCacheMaxEntries.toString)
    GraftExtensions.definitions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinPlan.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  /** Spark's static conf that sizes the JVM-wide generated-code cache. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Generated-code cache entries: the next power of two above the most
    * distinct classes one JVM compiled, 2,441 in one pass over every
    * `SparkEntry.queries` row at sf0.001 (a `live_listing`-shaped
    * `CrmlsStream.run` compiles 105). An entry retains ~20-30 KB of
    * heap, so a full cache holds ~80-120 MB; the cache only grows to the
    * classes a JVM actually compiles (see BASELINE.md). `run_spark.sh`
    * passes the same value to executors at submit time.
    */
  val CodegenCacheMaxEntries = 4096

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  /** (identifier, info, builder) triples — the same shape
    * `injectFunction` takes, reusable against a live session.
    */
  val definitions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - double dot product of two numeric arrays"),
      (children: Seq[Expression]) =>
        NativeExpressions.ArrayDotProduct(children(0), children(1))),
    (FunctionIdentifier("graft_minhash"),
      info("graft_minhash",
        "graft_minhash(tokenHashes, k, shingleSize) - MinHash signature"),
      (children: Seq[Expression]) => {
        def intArg(e: Expression, name: String): Int = {
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_minhash: $name must be a literal integer")
          e.eval() match {
            case i: Int => i
            case l: Long => l.toInt
            case s: Short => s.toInt
            case other => throw new IllegalArgumentException(
              s"graft_minhash: $name must be a literal integer, got $other")
          }
        }
        NativeExpressions.MinHashSignature(children(0),
          intArg(children(1), "numHashes"), intArg(children(2), "shingleSize"))
      }),
    (FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(tokenHashes) - 64-bit SimHash"),
      (children: Seq[Expression]) =>
        NativeExpressions.SimHash64(children(0))),
    (FunctionIdentifier("graft_srp_buckets"),
      info("graft_srp_buckets",
        "graft_srp_buckets(vec, bands, bitsPerBand, maxDim) - SRP-LSH bucket id per band"),
      (children: Seq[Expression]) =>
        NativeExpressions.SrpBucketArray(children(0),
          literalInt(children(1), "bands", "graft_srp_buckets"),
          literalInt(children(2), "bitsPerBand", "graft_srp_buckets"),
          literalInt(children(3), "maxDim", "graft_srp_buckets"))),
    // graft_redact is a composite built directly as a catalyst tree:
    // registry builders must return analyzable expressions, and the
    // Spark 4 `functions._` combinators produce ColumnNodes that only
    // the DataFrame layer resolves (returning those here leaves an
    // Unevaluable node in the plan). The pattern constants are shared
    // with the Column API (TextFunctions), so the two surfaces cannot
    // drift.
    (FunctionIdentifier("graft_redact"),
      info("graft_redact",
        "graft_redact(text) - mask emails then digit runs (PII scrub)"),
      (children: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
        import graft.functions.{TextFunctions => TF}
        RegExpReplace(
          RegExpReplace(children(0),
            Literal(TF.emailPattern), Literal(TF.emailReplacement)),
          Literal(TF.digitPattern), Literal(TF.digitReplacement))
      }))

  private def literalInt(e: Expression, name: String, fn: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $name must be a literal integer")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be a literal integer, got $other")
    }
  }

  /** Register on an already-created session (e.g. a shared test
    * session, or a notebook where the builder config is out of reach).
    */
  def register(spark: SparkSession): Unit =
    definitions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
