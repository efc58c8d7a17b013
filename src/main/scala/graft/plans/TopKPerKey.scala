package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** §2.8 whole-operator extension: exact per-key top-k.
  *
  * The composed form (row_number window + filter) fully sorts every key
  * partition — O(n log n) per key and a sort buffer over ALL rows. This
  * operator keeps a bounded k-element heap per key — O(n log k) with
  * O(keys·k) memory — the right shape when n/key is large (100 TB logs)
  * and k is small. Heap maintenance happens on the partial (pre-shuffle)
  * side too, so only ≤ k rows per (key, input partition) ride the
  * exchange — the same two-phase contract as partial aggregation.
  *
  * Full extension stack: logical node → strategy (installed by
  * [[GraftExtensions.register]]) →
  * physical exec with `requiredChildDistribution`, demonstrating plan
  * integration rather than an RDD detour: Catalyst still prunes/pushes
  * below it, and EnsureRequirements plans the single hash exchange.
  */
case class TopKPerKeyNode(
    groupExprs: Seq[Expression],
    orderExpr: Expression,   // descending primary (e.g. revenue)
    tieExpr: Expression,     // ascending tiebreak (e.g. id) — total order
    k: Int,
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

object TopKStrategy extends SparkStrategy {

  import org.apache.spark.sql.types._

  /** Types the ranking heap supports: compared with the type's own
    * interpreted ordering (exact for Long/Decimal — no doubleValue()
    * precision cliff above 2^53) and safe to retain across input-row
    * reuse (primitives and immutable boxes; UTF8String is cloned).
    */
  private[plans] def rankable(dt: DataType): Boolean = dt match {
    case _: NumericType | _: DateType | _: TimestampType | _: TimestampNTZType |
        _: BooleanType | _: StringType =>
      true
    case _ => false
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(g, o, t, k, child) =>
      Seq(("order", o), ("tie", t)).foreach { case (role, e) =>
        if (!rankable(e.dataType))
          throw new IllegalArgumentException(
            s"TopKPerKey $role column has unsupported type ${e.dataType.simpleString}: " +
              "supported are numeric (incl. decimal), date, timestamp, boolean, and string"
          )
      }
      // partial pass (any distribution) under a final pass (clustered)
      TopKPerKeyExec(g, o, t, k, TopKPerKeyExec(g, o, t, k, planLater(child), partial = true), partial = false) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    groupExprs: Seq[Expression],
    orderExpr: Expression,
    tieExpr: Expression,
    k: Int,
    child: SparkPlan,
    partial: Boolean
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else ClusteredDistribution(groupExprs) :: Nil

  // preserve the child's (key-clustered) partitioning so downstream
  // key-compatible operators reuse the exchange instead of re-shuffling
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val groupE = groupExprs
    val orderE = orderExpr
    val tieE = tieExpr
    val kk = k
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(groupE, childOutput)
      val ordB = BindReferences.bindReference(orderE, childOutput)
      val tieB = BindReferences.bindReference(tieE, childOutput)
      // type-appropriate interpreted orderings: exact for LongType and
      // DecimalType (the doubleValue() path mis-ranked longs > 2^53).
      // Nulls are FIRST in ascending terms, which realizes the Spark
      // default window semantics this operator mirrors: order DESC
      // NULLS LAST (null = worst score), tie ASC NULLS FIRST (null =
      // best tiebreak).
      def nullsFirst(base: Ordering[Any]): Ordering[Any] = new Ordering[Any] {
        override def compare(x: Any, y: Any): Int = (x, y) match {
          case (null, null) => 0
          case (null, _)    => -1
          case (_, null)    => 1
          case _            => base.compare(x, y)
        }
      }
      val ordOrd = nullsFirst(
        org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(orderE.dataType)
          .asInstanceOf[Ordering[Any]]
      )
      val tieOrd = nullsFirst(
        org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(tieE.dataType)
          .asInstanceOf[Ordering[Any]]
      )
      // eval results may alias the (reused) input row's buffer for
      // non-primitive types — retain defensive copies in the heap
      def own(v: Any): Any = v match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
        case other                                       => other
      }
      // PQ head = worst-ranked entry under (order desc nulls-last,
      // tie asc nulls-first) — the eviction candidate.
      implicit val heapOrd: Ordering[(Any, Any, InternalRow)] =
        new Ordering[(Any, Any, InternalRow)] {
          override def compare(p: (Any, Any, InternalRow), q: (Any, Any, InternalRow)): Int = {
            val c = ordOrd.compare(q._1, p._1) // lower order value ⇒ worse ⇒ toward head
            if (c != 0) c else tieOrd.compare(p._2, q._2) // higher tie ⇒ worse
          }
        }
      val heaps = new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[(Any, Any, InternalRow)]]()
      it.foreach { row =>
        val oAny = ordB.eval(row)
        val tAny = tieB.eval(row)
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[(Any, Any, InternalRow)]
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) {
          heap.enqueue((own(oAny), own(tAny), row.copy()))
        } else if (heapOrd.compare((oAny, tAny, null), heap.head) < 0) {
          // strictly better than the current worst
          heap.dequeue()
          heap.enqueue((own(oAny), own(tAny), row.copy()))
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator.map(_._3))
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}

object TopK {

  /** Forwarder to [[GraftExtensions.register]], kept for existing callers. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = GraftExtensions.register(spark)

  /** Top k rows per key, ranked by `order` DESC NULLS LAST with `tie`
    * ASC NULLS FIRST breaking ties (a total order — required for
    * deterministic results) — exactly the Spark window defaults for
    * `ORDER BY order DESC, tie`, so results match the row_number idiom
    * even on nullable columns. Columns are given by name: the analyzer
    * resolves plain UnresolvedAttributes inside custom nodes, while
    * Column-API expressions stay wrapped in unresolvable ColumnNode
    * shells.
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], order: String, tie: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.register(spark)
    val plan = TopKPerKeyNode(
      keyCols.map(UnresolvedAttribute.quoted),
      UnresolvedAttribute.quoted(order),
      UnresolvedAttribute.quoted(tie),
      k,
      df.queryExecution.analyzed
    )
    GraftColumnBridge.ofRows(spark, plan)
  }
}
