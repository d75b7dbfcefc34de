package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, BinaryNode => LogicalBinaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Whole-operator as-of join as a first-class Catalyst plan — the (c) rung
  * of the extension ladder (logical node → planner strategy → physical
  * exec; `graft.ops.AsOf.joinPriorExec` installs the strategy in
  * `spark.experimental.extraStrategies` on first use).
  *
  * Why a custom exec when the union-merge form (graft.ops.AsOf.joinPrior)
  * already has the optimal exchange+sort skeleton: the window form buffers
  * every key's rows in `WindowExec`'s partition buffer
  * (`ExternalAppendOnlyUnsafeRowArray` — spills once a hot key exceeds
  * memory), while this exec streams both sorted sides with O(1) carried
  * state per key (the last visible right payload). At 100 TB a hot key
  * (one user with millions of events) spills in the window form and
  * doesn't here. The exchange/sort physics are identical — Catalyst
  * inserts them from `requiredChildDistribution`/`requiredChildOrdering`
  * exactly as it would for a sort-merge join.
  *
  * Semantics (matches AsOf.joinPrior, reference analog
  * `/root/reference/src/transform.py` date-ordered series): for each left
  * row, the payload of the most recent right row with the same key and
  * `rightTime <= leftTime` (`< ` when `strict`); null payload when none.
  * Both time columns must share a data type; keys likewise.
  */
/** `payload` are right-side attributes to carry; `payloadOut` are the
  * fresh attributes they surface as (declared `producedAttributes`, the
  * Generate.generatorOutput pattern — an Alias here would be stripped by
  * the analyzer's CleanupAliases, which only preserves aliases in
  * Project/Aggregate-like nodes). */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    payload: Seq[Attribute], payloadOut: Seq[Attribute],
    strict: Boolean) extends LogicalBinaryNode {
  override def output: Seq[Attribute] = left.output ++ payloadOut
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, payload, payloadOut, strict) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt,
        payload, payloadOut, strict) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    payload: Seq[Attribute], payloadOut: Seq[Attribute],
    strict: Boolean) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // Same contract as a shuffled join: co-cluster both sides on the key and
  // sort (key, time) — EnsureRequirements materializes the exchanges/sorts
  // only where the children aren't already partitioned/sorted right.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  // Streaming 1:1 partition merge: partitioning and left order survive.
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val keyType = leftKey.dataType
    val timeType = leftTime.dataType
    val payloadExprs: Seq[Expression] = payload
    val leftOut = left.output
    val rightOut = right.output
    val outAttrs = output
    val isStrict = strict
    val lKeyExpr = leftKey; val rKeyExpr = rightKey
    val lTimeExpr = leftTime; val rTimeExpr = rightTime

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lkProj = UnsafeProjection.create(Seq(lKeyExpr), leftOut)
      val ltProj = UnsafeProjection.create(Seq(lTimeExpr), leftOut)
      val rkProj = UnsafeProjection.create(Seq(rKeyExpr), rightOut)
      val rtProj = UnsafeProjection.create(Seq(rTimeExpr), rightOut)
      val pProj = UnsafeProjection.create(payloadExprs, rightOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(keyType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val nullPayload = new GenericInternalRow(payloadExprs.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // single-row lookahead on the right; key/time copied out because
        // the projections reuse their buffers
        private var rHead: InternalRow = _
        private var rHeadKey: UnsafeRow = _
        private var rHeadTime: UnsafeRow = _
        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKey = rkProj(rHead).copy()
            rHeadTime = rtProj(rHead).copy()
          } else { rHead = null; rHeadKey = null; rHeadTime = null }
        advanceRight()

        // O(1) carried state: the latest visible right payload per key
        private var heldKey: UnsafeRow = _
        private var heldPayload: UnsafeRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lkProj(l)
          val lt = ltProj(l)
          var consuming = true
          while (consuming && rHead != null) {
            val kc = keyOrd.compare(rHeadKey, lk)
            val visible = kc < 0 || (kc == 0 && {
              val tc = timeOrd.compare(rHeadTime, lt)
              tc < 0 || (!isStrict && tc == 0)
            })
            if (visible) {
              if (kc == 0) { heldKey = rHeadKey; heldPayload = pProj(rHead).copy() }
              advanceRight()
            } else consuming = false
          }
          val p =
            if (heldKey != null && keyOrd.compare(heldKey, lk) == 0) heldPayload
            else nullPayload
          numOutputRows += 1
          resultProj(joined(l, p))
        }
      }
    }
  }
}
