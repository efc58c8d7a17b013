package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The one installer for graft's extension stack on a session: the §2.8
  * custom expressions on the SQL surface (so
  * `spark.sql("SELECT graft_dot(a, b) ...")` works exactly like the
  * Column API, `GraftExpressions.dotF`), the optimizer rules and the
  * planner strategies. [[graft.GraftSession.local]] calls [[register]];
  * any other session calls it once after creation. The builders that
  * plan a custom node (`TopK.topKPerKey`, `AsofJoin.asof`,
  * `RollingQuantile.withRollingQuantile`) call it too, so a bare session
  * can use them directly.
  */
object GraftExtensions {

  private def litDouble(e: Expression): Double = {
    require(e.foldable, s"expected a literal, got $e")
    e.eval() match {
      // SQL fractional literals parse as DECIMAL, not DOUBLE
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number                             => n.doubleValue()
      case other => throw new IllegalArgumentException(s"expected a numeric literal, got $other")
    }
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => FloatVecDot(es(0), es(1))),
    "graft_minhash" -> (es => MinHashSig(es(0), 64)),
    "graft_simhash64" -> (es => SimHash64(es(0))),
    "graft_shingle_hashes" -> (es => ShingleHashes(es(0), 3)),
    "graft_intersect_size" -> (es => SortedLongIntersectSize(es(0), es(1))),
    // sketch aggregates: the analyzer wraps a bare AggregateFunction in
    // an AggregateExpression, so these work anywhere SUM does
    "graft_kll" -> (es => KllSketchAgg(es(0), 200)),
    "graft_kll_merge" -> (es => KllMergeAgg(es(0), 200)),
    "graft_kll_quantile" -> (es => KllQuantileAt(es(0), litDouble(es(1)))),
    "graft_theta" -> (es => ThetaSketchAgg(es(0))),
    "graft_theta_estimate" -> (es => ThetaEstimate(es(0))),
    "graft_theta_intersect" -> (es => ThetaIntersectEstimate(es(0), es(1))),
    // one-pass quantized Gramian over array<float> (v20/s32's moment
    // buffer) — SQL: graft_gramian(embedding, 64)
    "graft_gramian" -> (es => GramianAgg(es(0), litInt(es(1))))
  )

  private def litInt(e: Expression): Int = {
    require(e.foldable, s"expected a literal, got $e")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(s"expected an int literal, got $other")
    }
  }

  /** Optimizer rules, in installation order: window-top-k → TopKPerKey,
    * registered-rollup answering of raw-table aggregates, stored-stats
    * broadcast pricing of registered-table joins, and the unpartitioned
    * rank/ntile/running-agg/offset windows → the distributed GlobalRank
    * family.
    */
  private val rules: Seq[Rule[LogicalPlan]] =
    Seq(TopKRewrite, MvRewrite, StatsPlanner.StatsBroadcastRule, GlobalWindowRewrite)

  /** Planner strategies for the custom logical nodes, in installation order. */
  private val strategies: Seq[SparkStrategy] =
    Seq(TopKStrategy, GlobalRankStrategy, AsofJoinStrategy, RollingQuantileStrategy)

  /** Install whichever SQL functions, rules and strategies the session
    * lacks — idempotent, so a second call changes nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    val missingRules = rules.filterNot(spark.experimental.extraOptimizations.contains)
    if (missingRules.nonEmpty)
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++ missingRules
    val missingStrategies = strategies.filterNot(spark.experimental.extraStrategies.contains)
    if (missingStrategies.nonEmpty)
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missingStrategies
  }
}
