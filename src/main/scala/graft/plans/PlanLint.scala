package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan linter: the scale cliffs the optimizer rules can't (or
  * deliberately won't) rewrite, surfaced as human-readable warnings
  * BEFORE a query ships to a 1000-executor cluster.
  *
  * The GlobalRank family auto-fixes global `row_number`/`rank`/
  * `dense_rank`/`percent_rank`/`cume_dist`/`ntile`/running-sum/
  * running-min-max/`lag`/`lead` windows (rank ties stitch exactly
  * since round 14; cume_dist's peer-group ends, extremum prefixes and
  * literal-offset lag/lead since round 15); everything else that
  * funnels a corpus through one task — `lag ignore nulls`, offsets
  * beyond 1024 or non-literal, RANGE-frame
  * aggregates over an empty partition spec, cartesian products,
  * non-broadcast nested-loop joins — is
  * reported here instead, because rewriting them silently would change
  * semantics (peer frames) or hide an O(n²) the author needs to see.
  * Wired into [[graft.SqlMain]] via `GRAFT_LINT=1`.
  */
object PlanLint {

  /** Unwrap AQE and collect lint warnings from the physical plan. */
  def lint(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    lintPlan(plan)
  }

  private[plans] def lintPlan(plan: SparkPlan): Seq[String] =
    plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        val fns = w.windowExpression.map(_.sql).mkString(", ")
        s"GLOBAL WINDOW (single-task sort over ALL rows): [$fns] has no PARTITION BY — " +
          "at cluster scale every row funnels through one task. If it is a row_number/" +
          "rank/dense_rank/percent_rank/cume_dist/ntile/running-sum/running-min-max/" +
          "literal-offset lag/lead, the GlobalRank rules rewrite it automatically when " +
          "GraftExtensions is installed; ignore-nulls or non-literal offsets and RANGE " +
          "frames need a partition key."
      case c: CartesianProductExec =>
        s"CARTESIAN PRODUCT: ${c.left.simpleStringWithNodeId()} x " +
          s"${c.right.simpleStringWithNodeId()} — O(|L|·|R|) pairs. Add an equi-join " +
          "key, a block-bucketing scheme (d5b's shape), or an LSH candidate stage."
      case b: BroadcastNestedLoopJoinExec =>
        s"BROADCAST NESTED-LOOP JOIN (${b.joinType}): fine for 1-row/KB scalar " +
          "broadcasts (the scalar-fanout idiom); a hazard if the broadcast side can " +
          "grow — check the build side is genuinely bounded."
    }

  /** Print warnings to stderr; returns their count (0 = clean). */
  def report(df: DataFrame, label: String = "query"): Int = {
    val warnings = lint(df)
    warnings.foreach(w => System.err.println(s"[plan-lint] $label: $w"))
    warnings.length
  }
}
