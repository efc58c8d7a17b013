package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule (§2.8, the `Rule[LogicalPlan]` extension level):
  * recognizes the universal "top-k per key" SQL idiom
  *
  * {{{
  *   Project [cols…]                         — rank column NOT referenced
  *     Filter (rn <= k)                      — k a literal
  *       Window [row_number() over (partition by P order by o DESC, t ASC) as rn]
  *         child
  * }}}
  *
  * and replaces it with [[TopKPerKeyNode]], whose physical operator keeps
  * bounded k-element heaps — O(n log k) with ≤ k rows per (key, input
  * partition) riding the exchange — instead of fully sorting every key
  * partition (O(n log n) + a sort buffer over all rows). Measured ~4× on
  * the q9 shape at sf0.1 (q24 vs q9).
  *
  * Deliberately conservative; it fires only when
  *  - the window computes exactly one expression: a `row_number`,
  *  - the ordering is a two-term (primary DESC, tie ASC) total order with
  *    heap-rankable types (see [[TopKStrategy.rankable]]) and
  *    deterministic expressions,
  *  - the rank is bounded by a literal (`<=k`, `<k`, or `=1`),
  *  - the rank column is dropped by the Project above (its VALUES depend
  *    on the full sort, which the heap never materializes), and
  *  - k ≤ 1024, keeping per-key heap memory trivially bounded.
  *
  * Spark's own `InferWindowGroupLimit` runs earlier in the optimizer and
  * puts a `WindowGroupLimit` under the same `Window`. The node replaces
  * that limit as well: when the window's child is a limit over the same
  * partition and order spec that keeps at least k rows per key, the node
  * reads the limit's child, so the plan holds one top-k, not two.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  private def boundFromFilter(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rn)        => Some(k - 1)
    case EqualTo(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rn) && k == 1 => Some(1)
    case _ => None
  }

  private def sameSpecs(a: Seq[Expression], b: Seq[Expression]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.semanticEquals(y) }

  /** The window's input without a stock group limit that keeps ⊇ its top-k. */
  private def belowGroupLimit(w: Window, k: Int): LogicalPlan = w.child match {
    case g: WindowGroupLimit
        if g.limit >= k && sameSpecs(g.partitionSpec, w.partitionSpec) &&
          sameSpecs(g.orderSpec, w.orderSpec) =>
      g.child
    case c => c
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList, Filter(cond, w: Window))
        if w.windowExpressions.length == 1 &&
          w.partitionSpec.nonEmpty &&
          w.orderSpec.length == 2 =>
      (w.windowExpressions.head, w.orderSpec) match {
        case (
              alias @ Alias(WindowExpression(_: RowNumber, _), _),
              // exactly the default null orderings TopKPerKeyExec
              // implements (DESC NULLS LAST / ASC NULLS FIRST) — a
              // non-default NULLS clause must keep the window plan
              Seq(SortOrder(o, Descending, NullsLast, _), SortOrder(t, Ascending, NullsFirst, _))
            )
            if TopKStrategy.rankable(o.dataType) && TopKStrategy.rankable(t.dataType) &&
              o.deterministic && t.deterministic &&
              w.partitionSpec.forall(_.deterministic) =>
          val rn = alias.toAttribute
          boundFromFilter(cond, rn) match {
            case Some(k)
                if k >= 1 && k <= 1024 &&
                  !p.references.contains(rn) &&
                  projectList.forall(_.deterministic) =>
              Project(projectList, TopKPerKeyNode(w.partitionSpec, o, t, k, belowGroupLimit(w, k)))
            case _ => p
          }
        case _ => p
      }
  }
}
