package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator as-of join through the full custom-plan stack: logical
  * node → planner strategy → physical exec (SURVEY §7 preference (c) — the
  * one operator where we go below the DataFrame API on purpose). Built by
  * [[graft.operators.AsOf.asofJoin]], which checks that both timestamps are
  * long-backed (timestamp, timestamp_ntz or bigint) of one type and that
  * each key has one type on both sides.
  *
  * Semantics: for every left row, the payload of the LATEST right row with
  * `rightTs <= leftTs` in the same key group (ties on equal right ts broken
  * by the greatest `tieBreak`), NULL-padded when no right row precedes or
  * the left ts is NULL — DuckDB's `ASOF LEFT JOIN` (proven by the q45, q69
  * and q141 gate oracles). Unlike SQL equality, null keys group together.
  *
  * Physical algorithm: both sides hash-cluster on the key and sort within
  * partitions by (key, ts[, tie]); one streaming merge pass per partition
  * carries ONE buffered right row (the current best match) — no window
  * buffer, no unioned wide schema, no per-row struct materialization. The
  * shuffle profile is exactly a sort-merge join's; state is O(1) per
  * partition.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    // parallel seqs, NOT Seq[(String, Expression)]: TreeNode.expressions
    // only traverses recognized containers, and tupled exprs would be
    // invisible to column pruning (the child gets over-pruned)
    payloadNames: Seq[String], payloadExprs: Seq[Expression],
    tieBreak: Expression,
    payloadAttrs: Seq[Attribute]) // constructor-fixed: exprIds must survive copy()
    extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ payloadAttrs

  // payload attrs are minted here, not consumed from children — without
  // this, CheckAnalysis counts them as missing inputs
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(payloadAttrs)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinPlan {
  /** Build with freshly minted (then stable) output payload attributes. */
  def create(left: LogicalPlan, right: LogicalPlan,
      leftKeys: Seq[Expression], rightKeys: Seq[Expression],
      leftTs: Expression, rightTs: Expression,
      payload: Seq[(String, Expression)], tieBreak: Expression): AsOfJoinPlan =
    AsOfJoinPlan(left, right, leftKeys, rightKeys, leftTs, rightTs,
      payload.map(_._1), payload.map(_._2), tieBreak,
      payload.map { case (name, e) =>
        AttributeReference(s"asof_$name", e.dataType, nullable = true)()
      })
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]; everything else passes
  * through. Injected via GraftExtensions (injectPlannerStrategy). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(planLater(p.left), planLater(p.right), p.leftKeys,
        p.rightKeys, p.leftTs, p.rightTs, p.payloadExprs, p.tieBreak,
        p.payloadAttrs, p.output) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    payloadExprs: Seq[Expression], tieBreak: Expression,
    payloadAttrs: Seq[Attribute], output: Seq[Attribute])
    extends BinaryExecNode {

  // co-partition both sides on the key; EnsureRequirements inserts the
  // exchanges (and, at scale, reuses any compatible existing partitioning)
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  // sort within partitions: the merge consumes both sides in (key, ts)
  // order; right additionally by tie-break so "last advanced" = max tie
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)),
    (rightKeys :+ rightTs :+ tieBreak).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    // capture only serializable expression trees; code-generated
    // projections must be instantiated inside the partition closure
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val lOutput = left.output
    val rOutput = right.output
    val outAttrs = output
    val pAttrs = payloadAttrs
    val pExprs = payloadExprs
    val keyTypes = leftKeys.map(_.dataType)
    val nPayload = payloadAttrs.size

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOutput)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOutput)
      val lTsBound = BindReferences.bindReference(lTsExpr, lOutput)
      val rTsBound = BindReferences.bindReference(rTsExpr, rOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val payloadProj = UnsafeProjection.create(pExprs, rOutput)
      val outProj = UnsafeProjection.create(outAttrs, lOutput ++ pAttrs)
      val joined = new JoinedRow
      val nullPayload = new GenericInternalRow(nPayload)
      val rBuf = rIter.buffered

      // current best match: the latest right row (by ts, then tie) whose
      // (key, ts) is <= the left cursor — O(1) state per partition
      var matchKey: InternalRow = null
      var matchPayload: InternalRow = null

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTsVal = lTsBound.eval(lRow)
        // advance right up to and including (lKey, lTs); right rows of dead
        // key groups and null-ts rows (sort first, can never match) are
        // consumed without buffering
        var advancing = lTsVal != null
        while (advancing && rBuf.hasNext) {
          val rRow = rBuf.head
          val rKey = rKeyProj(rRow)
          val cmp = keyOrd.compare(rKey, lKey)
          if (cmp > 0) advancing = false
          else {
            val rTsVal = rTsBound.eval(rRow)
            if (cmp < 0 || rTsVal == null) rBuf.next()
            else if (rTsVal.asInstanceOf[Long] <= lTsVal.asInstanceOf[Long]) {
              matchKey = rKey.copy()
              matchPayload = payloadProj(rRow).copy()
              rBuf.next()
            } else advancing = false
          }
        }
        val hit = matchPayload != null && matchKey != null &&
          keyOrd.compare(matchKey, lKey) == 0 && lTsVal != null
        outProj(joined(lRow, if (hit) matchPayload else nullPayload))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
