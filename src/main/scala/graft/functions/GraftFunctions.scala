package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Registration of the engine's custom Catalyst expressions as SQL
  * functions — mirroring how the reference wires Iceberg's extensions into
  * the session (`create_iceberg_tables.py:127`,
  * `spark.sql.extensions=IcebergSparkSessionExtensions`).
  *
  * Two routes:
  *   - config: `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  *   - programmatic: `GraftFunctions.register(spark)` (idempotent), for
  *     sessions built without the extension config.
  */
object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"graft_cosine expects 2 arguments, got ${children.length}")
        CosineSimilarity(children.head, children(1))
      }),
    (
      FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "graft_sqdist"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"graft_sqdist expects 2 arguments, got ${children.length}")
        SquaredDistance(children.head, children(1))
      }),
    (
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_minhash_sig expects 1 argument, got ${children.length}")
        MinHashSignature(children.head)
      }),
    (
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleExplode].getName, "graft_shingles"),
      ShingleExplode.fromExpressions _),
    (
      FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "graft_heavy_hitters"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_heavy_hitters expects 1 argument, got ${children.length}")
        MisraGriesAgg(children.head).toAggregateExpression()
      }))

  /** Idempotent registration into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }

  /** `graft_cosine(a, b)` as a Column (session must have it registered). */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** `graft_minhash_sig(hashArray)` row-local signature as a Column. */
  def minhashSig(hashes: Column): Column = call_function("graft_minhash_sig", hashes)

  /** `graft_heavy_hitters(item)` Misra–Gries aggregate as a Column. */
  def heavyHitters(item: Column): Column = call_function("graft_heavy_hitters", item)
}

/** `spark.sql.extensions` entry point: custom SQL functions plus the
  * skyline planner strategy (SURVEY §2.11 rung (c)). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.SkylinePlan.SkylineStrategy)
    // Conf-gated (off by default): transparent ghost-replication rewrite of
    // low-parallelism trailing-range windows.
    ext.injectOptimizerRule(_ => graft.plans.GhostedRangeWindowRewrite)
    // SQL views + ALTER ... ADD/DROP PARTITION FIELD on the snapshot
    // catalog: parse-time intercept (Spark 4.1 hard-rejects non-session
    // CreateView in analysis), read-time view expansion, and the planner
    // strategy executing the intercepted commands. See
    // graft.plans.GraftSqlExtensions.
    ext.injectParser((_, parser) => new graft.plans.GraftSqlParser(parser))
    ext.injectResolutionRule(session => graft.plans.GraftViewReads(session))
    ext.injectResolutionRule(session => graft.plans.GraftMvValidate(session))
    // Automatic MV-based query rewrite: a fresh materialized view of the
    // aggregated base serves the query instead of the base scan. Post-hoc
    // resolution — the plan is resolved but filters are not yet pushed,
    // so the WHERE is still visible to match against the stored spec.
    ext.injectPostHocResolutionRule(session =>
      graft.sources.GraftMvRewrite(session))
    // (Global ORDER BY elision over sorted scans installs itself into
    // experimental.extraOptimizations from GraftMvRewrite — every
    // extension optimizer seam runs BEFORE Early Scan Push-Down attaches
    // the reported ordering it needs.) The strategy planning its
    // multi-partition RangeConcat node lives here.
    ext.injectPlannerStrategy(_ => graft.sources.RangeConcatStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.GraftViewStrategy)
  }
}
