package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec

/** Plan structural checks shared by the plan specs, [[PlanAudit]] and
  * [[ScaleProbe]].
  *
  * The check that motivated this file: a `Window.orderBy` with no
  * partition key compiles to `Window ← Sort ← Exchange SinglePartition` —
  * every input row moves through ONE task. That plan is correct and
  * invisible to a wall-clock scaling probe (a single-partition sort is
  * still "linear"... on one core), so the probe needs the EXECUTED
  * exchange metric: how many rows actually crossed a single-partition
  * exchange into a window. Bounded control frames (the 32-row partition-
  * offset frames of Sweep.prefixSum, hop censuses, apportionment
  * remainders) legitimately do this with O(partitions) rows; a data-scale
  * frame doing it is the q271/q278/q282/q294 anti-pattern (VERDICT r12).
  */
object PlanChecks {

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other
  }

  /** Every node of `plan`, children and subqueries included, with AQE
    * wrappers descended (the wrappers themselves are not listed). */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val p = unwrap(plan)
    p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Every `(windowNodeName, rowsThroughExchange)` pair where a
    * WindowExec's input arrives through a single-partition shuffle
    * exchange, with the exchange's EXECUTED record count (0 when the
    * metric is absent or the stage never ran). Call after the plan has
    * executed. Reused exchanges and AQE query-stage wrappers are
    * descended through; the search below a window stops at the FIRST
    * exchange on each unary path — that exchange is what feeds the
    * window's sort. */
  def singlePartitionWindowRows(plan: SparkPlan): Seq[(String, Long)] = {
    def firstExchange(p: SparkPlan): Option[ShuffleExchangeLike] =
      unwrap(p) match {
        case e: ShuffleExchangeLike => Some(e)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          r.child match {
            case e: ShuffleExchangeLike => Some(e)
            case _ => None
          }
        case other => other.children.headOption.flatMap(firstExchange)
      }
    def windows(p: SparkPlan): Seq[WindowExec] = unwrap(p) match {
      case w: WindowExec => w +: windows(w.child)
      case other => other.children.flatMap(windows) ++
        other.subqueries.flatMap(windows)
    }
    windows(plan).flatMap { w =>
      firstExchange(w.child) match {
        case Some(e) if e.outputPartitioning.numPartitions == 1 =>
          val rows = e.metrics.get("shuffleRecordsWritten")
            .orElse(e.metrics.get("numOutputRows")).map(_.value).getOrElse(0L)
          Seq(w.nodeName -> rows)
        case _ => Seq.empty
      }
    }
  }

  /** Count of rank-limit pushdown nodes in the executed plan (AQE
    * wrappers descended). A `rk <= N` filter over an UNPARTITIONED window
    * is scale-safe ONLY because one of two optimizer mechanisms bounds
    * what reaches the window's sort:
    *
    *  - `LimitPushDownThroughWindow` (the one Spark 4.1 actually picks
    *    for the empty-partition shape): pushes `Limit N` below the
    *    window, planned as a `TakeOrderedAndProjectExec` — per-partition
    *    top-N + a driver-side merge, NO single-partition exchange at all;
    *  - `InferWindowGroupLimit` (`spark.sql.optimizer.
    *    windowGroupLimitThreshold`): inserts Partial/Final
    *    `WindowGroupLimitExec`s so each upstream task forwards ≤ N rows
    *    into the exchange.
    *
    * A config or upgrade regression that disables BOTH silently restores
    * the full-frame one-task sort (the r12 `weak` anti-pattern) while
    * staying hash-correct — this counter is what WindowGroupLimitSpec
    * pins so that failure is loud. */
  def rankLimitPushdownNodes(plan: SparkPlan): Int = {
    def go(p: SparkPlan): Int = unwrap(p) match {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
        1 + go(w.child)
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        1 + go(t.child)
      case other =>
        other.children.map(go).sum + other.subqueries.map(go).sum
    }
    go(plan)
  }

  /** The LARGEST row count any single-partition window exchange carried
    * in `plan` (0 when there is none) — the one number a scale probe
    * compares across corpus sizes: growing ~linearly with the data means
    * a row-scale frame is being funneled through one task. */
  def maxSinglePartitionWindowRows(plan: SparkPlan): Long = {
    val rows = singlePartitionWindowRows(plan)
    if (rows.isEmpty) 0L else rows.map(_._2).max
  }
}
