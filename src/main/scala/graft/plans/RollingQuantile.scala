package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  Ascending,
  Attribute,
  AttributeReference,
  BindReferences,
  Expression,
  GenericInternalRow,
  JoinedRow,
  SortOrder,
  UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** §2.8 whole-operator extension (round 18 — the r17 verdict's #2):
  * EXACT ROLLING QUANTILE over the last k rows per key in O(log k) per
  * row, the scale path for e57's rolling p95.
  *
  * The registered k=100 form rides `collect_list` + `sort_array` over a
  * sliding ROWS frame — O(k log k) PER ROW, the right trade at small k
  * but quadratic-ish at k≥1000 (e57's scaladoc documented this path
  * without implementing it). This operator maintains the window as TWO
  * HEAPS with lazy deletion — `lo` (max-heap) holds exactly the
  * ⌈q·n⌉ smallest values, `hi` (min-heap) the rest, a ring buffer
  * remembers arrival order for eviction, and a shared delayed-deletion
  * multiset lets evictions defer their heap removal until the value
  * surfaces at a top (equal values are interchangeable under ordering,
  * so WHICH physical copy is pruned never matters). Insert, evict, and
  * rebalance are all O(log k); the answer is `lo`'s top.
  *
  * Distribution contract: rows cluster by the partition keys and sort
  * (keys ++ order) within partitions, so each group is one contiguous
  * sorted run — the same layout stock WindowExec demands, with the
  * per-row frame re-sort replaced by the incremental structure. NULL
  * values occupy a ring slot but never enter the heaps, mirroring the
  * sort form's `collect_list` (null-skipping) exactly: n_win counts
  * non-null values among the last k ROWS, and an all-null window emits
  * (0, NULL).
  *
  * Scale: state per task is O(k) regardless of group or stream length;
  * parallelism is the number of distinct partition keys (identical to
  * the stock window it replaces). Value type is BIGINT (the cents
  * convention every gated money path uses); fractional quantiles of
  * doubles stay on the sort form.
  */
case class RollingQuantileNode(
    partKeys: Seq[Expression],
    order: Seq[SortOrder],
    valueExpr: Expression,
    k: Int,
    q: Double,
    // constructor params (minted ONCE by the API), not derived vals —
    // a copy() during analysis must not re-mint exprIds
    nWinAttr: AttributeReference,
    outAttr: AttributeReference,
    child: LogicalPlan
) extends UnaryNode {
  require(k >= 1 && q > 0.0 && q <= 1.0, s"rollingQuantile: need k>=1, 0<q<=1 (got k=$k q=$q)")
  override def output: Seq[Attribute] = child.output :+ nWinAttr :+ outAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(nWinAttr :: outAttr :: Nil)
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

object RollingQuantileStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: RollingQuantileNode if n.childrenResolved =>
      RollingQuantileExec(
        n.partKeys, n.order, n.valueExpr, n.k, n.q, n.nWinAttr, n.outAttr, planLater(n.child)
      ) :: Nil
    case _ => Nil
  }
}

/** Sliding-window order statistic: two lazy-deletion heaps + a ring of
  * the last ≤k (value, isNull) slots. Boxing note: java PriorityQueue
  * of java.lang.Long at k≤~10^5 is well inside noise next to the
  * O(k log k) per-row sort it replaces.
  */
private[graft] final class TwoHeapWindow(k: Int, q: Double) {
  private val ringV = new Array[Long](k)
  private val ringNull = new Array[Boolean](k)
  private var ringStart = 0
  private var ringN = 0
  private val lo =
    new java.util.PriorityQueue[java.lang.Long](java.util.Collections.reverseOrder[java.lang.Long]())
  private val hi = new java.util.PriorityQueue[java.lang.Long]()
  private val delayed = new java.util.HashMap[java.lang.Long, Integer]()
  private var loValid = 0
  private var hiValid = 0

  private def pruneTop(h: java.util.PriorityQueue[java.lang.Long]): Unit = {
    while (!h.isEmpty && {
        val c = delayed.get(h.peek()); c != null && c > 0
      }) {
      val v = h.poll()
      val c = delayed.get(v) - 1
      if (c == 0) delayed.remove(v) else delayed.put(v, c)
    }
  }

  private def markDeleted(v: Long): Unit = {
    val key = java.lang.Long.valueOf(v)
    val c = delayed.get(key)
    delayed.put(key, if (c == null) 1 else c + 1)
  }

  /** Slide the window by one row; returns (n_win, quantile or null). */
  def add(v: Long, isNull: Boolean): (Long, Option[Long]) = {
    if (ringN == k) { // evict the oldest ROW (heap-evict only if non-null)
      val o = ringV(ringStart)
      val oNull = ringNull(ringStart)
      ringStart = (ringStart + 1) % k
      ringN -= 1
      if (!oNull) {
        pruneTop(lo)
        if (loValid > 0 && o <= lo.peek()) { markDeleted(o); loValid -= 1 }
        else { markDeleted(o); hiValid -= 1 }
        pruneTop(lo); pruneTop(hi)
      }
    }
    val slot = (ringStart + ringN) % k
    ringV(slot) = v
    ringNull(slot) = isNull
    ringN += 1
    if (!isNull) {
      pruneTop(lo)
      if (loValid > 0 && v <= lo.peek()) { lo.add(v); loValid += 1 }
      else { hi.add(v); hiValid += 1 }
    }
    val n = loValid + hiValid
    if (n == 0) (0L, None)
    else {
      // the sort form's index: element_at(sorted, ceil(q * n)) — same
      // IEEE double ceil both engines compute
      val target = math.ceil(q * n).toInt
      while (loValid > target) {
        pruneTop(lo); hi.add(lo.poll()); loValid -= 1; hiValid += 1
      }
      while (loValid < target) {
        pruneTop(hi); lo.add(hi.poll()); loValid += 1; hiValid -= 1
      }
      pruneTop(lo)
      (n.toLong, Some(lo.peek()))
    }
  }
}

case class RollingQuantileExec(
    partKeys: Seq[Expression],
    order: Seq[SortOrder],
    valueExpr: Expression,
    k: Int,
    q: Double,
    nWinAttr: Attribute,
    outAttr: Attribute,
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ nWinAttr :+ outAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(nWinAttr :: outAttr :: Nil)

  override def requiredChildDistribution: Seq[Distribution] =
    (if (partKeys.isEmpty) AllTuples else ClusteredDistribution(partKeys)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(partKeys.map(SortOrder(_, Ascending)) ++ order)
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    require(
      valueExpr.dataType == LongType,
      s"rollingQuantile needs a BIGINT value (cents convention), got ${valueExpr.dataType}"
    )
    val childOutput = child.output
    val keys = partKeys
    val ve = valueExpr
    val kk = k
    val qq = q
    val outAttrs = output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val bound = BindReferences.bindReference(ve, childOutput)
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(2)
      var curKey: org.apache.spark.sql.catalyst.expressions.UnsafeRow = null
      var win: TwoHeapWindow = null
      it.map { row =>
        val key = keyProj(row)
        if (curKey == null || key != curKey) { // groups are contiguous
          curKey = key.copy()
          win = new TwoHeapWindow(kk, qq)
        }
        val v = bound.eval(row)
        val (n, ans) =
          if (v == null) win.add(0L, isNull = true)
          else win.add(v.asInstanceOf[Long], isNull = false)
        extra.update(0, n)
        ans match {
          case Some(x) => extra.update(1, x)
          case None    => extra.setNullAt(1)
        }
        proj(joined(row, extra))
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}

object RollingQuantile {

  /** Append `<nWinName>` (BIGINT non-null window size) and `<outName>`
    * (BIGINT quantile, null on an all-null window) per row: the exact
    * ⌈q·n⌉-th smallest of the non-null values among the last `k` rows
    * within each `partCols` group under `orderCols`. Columns by name —
    * the analyzer resolves UnresolvedAttributes inside custom nodes
    * (the TopKPerKey convention).
    */
  def withRollingQuantile(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      k: Int,
      q: Double,
      nWinName: String = "n_win",
      outName: String = "q_val"
  ): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.register(spark)
    val plan = RollingQuantileNode(
      partCols.map(UnresolvedAttribute.quoted),
      orderCols.map(c => SortOrder(UnresolvedAttribute.quoted(c), Ascending)),
      UnresolvedAttribute.quoted(valueCol),
      k,
      q,
      AttributeReference(nWinName, LongType, nullable = false)(),
      AttributeReference(outName, LongType, nullable = true)(),
      df.queryExecution.analyzed
    )
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, plan)
  }
}
