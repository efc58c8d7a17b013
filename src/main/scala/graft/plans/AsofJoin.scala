package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  Ascending,
  Attribute,
  BindReferences,
  Expression,
  GenericInternalRow,
  JoinedRow,
  SortOrder,
  UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** §2.8 whole-operator extension: native AS-OF JOIN.
  *
  * The composed form (union-tag + IGNORE NULLS last() window, e7) buffers
  * BOTH sides through one window and re-filters; this operator is the
  * shape a time-series engine actually runs: both sides hash-clustered on
  * the key and sorted (key, time) — Spark's EnsureRequirements plans the
  * exchanges and sorts exactly as it does for SortMergeJoin — then ONE
  * forward merge per partition emits, for every left row, the latest
  * right row with `rTime <= lTime` on the same key. O(|L|+|R|) per
  * partition, no window state, no re-filter, and the right pointer never
  * rewinds. Left rows with no prior right row emit right-side NULLs
  * (left-outer semantics, matching the composed form).
  *
  * Deliberate restrictions, checked by the strategy: key and time are
  * LongType (an id and unix_micros — the universal as-of shape); a
  * right-side tie expression gives equal-time rows a deterministic
  * winner (the last under (time, tie) ascending). Null keys/times are
  * rejected at RUNTIME with an explicit error (silently unboxing null
  * to 0L would join null rows under key/time 0) — null-filter the
  * inputs first.
  */
case class AsofJoinNode(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTie: Expression,
    left: LogicalPlan,
    right: LogicalPlan
) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): LogicalPlan =
    copy(left = l, right = r)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(lk, rk, lt, rt, tie, l, r) =>
      Seq(("left key", lk), ("right key", rk), ("left time", lt), ("right time", rt)).foreach {
        case (role, e) =>
          if (e.dataType != LongType)
            throw new IllegalArgumentException(
              s"AsofJoin $role must be LongType, got ${e.dataType.simpleString}"
            )
      }
      AsofJoinExec(lk, rk, lt, rt, tie, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTie: Expression,
    left: SparkPlan,
    right: SparkPlan
) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending), SortOrder(rightTie, Ascending))
  )

  // key-clustered and (key, time)-sorted on the left — downstream
  // key-compatible operators reuse both the exchange and the sort
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lkB = BindReferences.bindReference(leftKey, left.output)
    val ltB = BindReferences.bindReference(leftTime, left.output)
    val rkB = BindReferences.bindReference(rightKey, right.output)
    val rtB = BindReferences.bindReference(rightTime, right.output)
    val leftOutput = left.output
    val rightOutput = right.output
    val allOutput = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val rBuf = rIt.buffered
      val nullRight = new GenericInternalRow(rightOutput.length)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(
        allOutput.map(a => a: Expression),
        leftOutput ++ rightOutput.map(_.withNullability(true))
      )
      var lastMatch: InternalRow = null
      var lastMatchKey = 0L
      var hasMatch = false
      // a NULL key or time would silently unbox to 0L and join under
      // key/time 0 — reject loudly instead (the documented restriction,
      // now enforced at runtime)
      def evalLong(e: Expression, row: InternalRow, role: String): Long = {
        val v = e.eval(row)
        if (v == null)
          throw new IllegalArgumentException(s"AsofJoin: NULL $role — null-filter the input first")
        v.asInstanceOf[Long]
      }
      lIt.map { lrow =>
        val lk = evalLong(lkB, lrow, "left key")
        val lt = evalLong(ltB, lrow, "left time")
        // the right pointer only moves forward: consume everything at or
        // before (lk, lt); the last same-key row consumed is the match.
        // The head's key is evaluated ONCE per consumed row (the check
        // and the consume share the eval).
        var scanning = true
        while (scanning && rBuf.hasNext) {
          val h = rBuf.head
          val hk = evalLong(rkB, h, "right key")
          if (hk < lk || (hk == lk && evalLong(rtB, h, "right time") <= lt)) {
            rBuf.next()
            if (hk == lk) {
              // eval results alias the reused input row — retain a copy
              // BEFORE the next head() pull can overwrite the backing row
              lastMatch = h.copy()
              lastMatchKey = hk
              hasMatch = true
            }
          } else scanning = false
        }
        val rrow = if (hasMatch && lastMatchKey == lk) lastMatch else nullRight
        proj(joined(lrow, rrow))
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(left = l, right = r)
}

object AsofJoin {

  /** As-of join by column NAME (the analyzer resolves the unresolved
    * attributes against the two children — left and right column names
    * must not collide, same as any join you'd write by hand).
    */
  def asof(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      leftTime: String,
      rightKey: String,
      rightTime: String,
      rightTie: String
  ): DataFrame = {
    val spark = left.sparkSession
    GraftExtensions.register(spark)
    val plan = AsofJoinNode(
      UnresolvedAttribute.quoted(leftKey),
      UnresolvedAttribute.quoted(rightKey),
      UnresolvedAttribute.quoted(leftTime),
      UnresolvedAttribute.quoted(rightTime),
      UnresolvedAttribute.quoted(rightTie),
      left.queryExecution.analyzed,
      right.queryExecution.analyzed
    )
    GraftColumnBridge.ofRows(spark, plan)
  }
}
