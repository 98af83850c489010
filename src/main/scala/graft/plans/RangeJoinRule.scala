package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DayTimeIntervalType, LongType, TimestampType}

/** Optimizer rule: bucketized range-join acceleration.
  *
  * Spark has no range-join optimization — a join whose condition is a
  * bounded time window
  * {{{ rts >= lts AND rts <= lts + INTERVAL g }}}
  * plans as a BroadcastNestedLoopJoin (no equi conjunct: every pair is
  * compared) or, with an equi key, as a hash/sort-merge join whose range
  * predicates only filter AFTER the per-key cross product — a hot key with n
  * rows on both sides still materializes n² pairs.
  *
  * This rule detects the shape and adds a time-bucket equi key (bucket
  * width = the gap; the right side duplicated into its own and the
  * preceding bucket, so every qualifying pair shares a bucket cell). The
  * original range predicates remain in the join condition as the exact
  * filter; the rewrite is therefore semantics-preserving for ANY matched
  * join, and the pair space drops from O(n²) per key to O(pairs within
  * 2·gap). It is the engine's one range join: q46 and q68 are written as
  * plain joins.
  *
  * Scope (deliberately conservative — miss, never corrupt):
  *   - Inner and left outer joins (see `apply` for why right and full
  *     outer are skipped); bounds between bare TimestampType attribute refs,
  *     one side each; upper bound `lts + <foldable day-time interval>`
  *     (`TimestampAddInterval` with a positive literal).
  *   - Any other conjuncts (equi keys included) are preserved untouched.
  *   - Skips plans already carrying the marker bucket column (idempotence
  *     under the optimizer's fixed-point loop).
  *
  * Registered via `graft.functions.GraftExtensions` (injectOptimizerRule).
  */
object RangeJoinRule extends Rule[LogicalPlan] {

  private val LeftBucket = "__graft_bucket_l"
  private val RightBucket = "__graft_bucket_r"

  // LeftOuter is safe alongside Inner: the left side is bucketed (not
  // duplicated), so an unmatched left row still emits exactly once with
  // nulls; a right row's two explode copies land in DIFFERENT cells, so a
  // qualifying pair can never match twice. Right/full outer are NOT safe
  // (the right duplication would emit spurious unmatched right rows).
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner | LeftOuter, Some(cond), hint)
        if !(left.output ++ right.output).exists(_.name == LeftBucket) =>
      detect(cond, j) match {
        case Some((lts, rts, gapUs)) => rewrite(j, lts, rts, gapUs)
        case None => j
      }
  }

  /** Find `rts >= lts` and `rts <= lts + INTERVAL gap` over the same
    * (left-ts, right-ts) attribute pair; both comparison orientations are
    * normalized. Returns (lts, rts, gapMicros). */
  private def detect(cond: Expression, j: Join)
      : Option[(AttributeReference, AttributeReference, Long)] = {
    val conjuncts = splitConjuncts(cond)
    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet

    def sides(a: Expression, b: Expression)
        : Option[(AttributeReference, AttributeReference)] = (a, b) match {
      case (r: AttributeReference, l: AttributeReference)
          if r.dataType == TimestampType && l.dataType == TimestampType &&
            rightOut.contains(r) && leftOut.contains(l) => Some((l, r))
      case _ => None
    }

    // rts >= lts (or lts <= rts); strict variants bucket identically —
    // the original predicate stays in the condition as the exact filter
    val lowers = conjuncts.collect {
      case GreaterThanOrEqual(a, b) => sides(a, b)
      case LessThanOrEqual(b, a) => sides(a, b)
      case GreaterThan(a, b) => sides(a, b)
      case LessThan(b, a) => sides(a, b)
    }.flatten

    // rts <= lts + gap (or lts + gap >= rts)
    def upperOf(r: Expression, add: Expression)
        : Option[(AttributeReference, AttributeReference, Long)] = add match {
      case TimestampAddInterval(l, Literal(gap: Long, _: DayTimeIntervalType), _)
          if gap > 0 =>
        sides(r, l).map { case (lts, rts) => (lts, rts, gap) }
      case _ => None
    }
    val uppers = conjuncts.collect {
      case LessThanOrEqual(r, add) => upperOf(r, add)
      case GreaterThanOrEqual(add, r) => upperOf(r, add)
      case LessThan(r, add) => upperOf(r, add)
      case GreaterThan(add, r) => upperOf(r, add)
    }.flatten

    (for {
      (llo, rlo) <- lowers
      (lup, rup, gap) <- uppers
      if llo.semanticEquals(lup) && rlo.semanticEquals(rup)
    } yield (llo, rlo, gap)).headOption
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Exact long floor-division bucket. Bare `div` truncates toward zero,
    * which disagrees with floor bucketing for pre-1970 (negative
    * unix_micros) timestamps and would drop boundary pairs there; `pmod`
    * makes the numerator exactly divisible, so `div` is the floor — all in
    * long arithmetic (a double round-trip loses bits past 2^53). */
  private def bucketExpr(ts: Expression, gapUs: Long): Expression = {
    val x = UnixMicros(ts)
    val g = Literal(gapUs, LongType)
    IntegralDivide(Subtract(x, Pmod(x, g)), g)
  }

  private def rewrite(j: Join, lts: AttributeReference, rts: AttributeReference,
      gapUs: Long): LogicalPlan = {
    // left: one bucket per row
    val lAlias = Alias(bucketExpr(lts, gapUs), LeftBucket)()
    val newLeft = Project(j.left.output :+ lAlias, j.left)

    // right: explode into own + preceding bucket — every qualifying pair
    // then shares a bucket cell
    val rb = bucketExpr(rts, gapUs)
    val rAttr = AttributeReference(RightBucket, LongType, nullable = true)()
    val newRight = Generate(
      Explode(CreateArray(Seq(rb, Subtract(rb, Literal(1L, LongType))))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(rAttr), child = j.right)

    // original condition stays verbatim (the exact range filter); the
    // bucket equality is the added equi conjunct Catalyst keys the
    // hash/sort-merge join on
    val newCond = And(j.condition.get, EqualTo(lAlias.toAttribute, rAttr))
    Project(j.output, Join(newLeft, newRight, j.joinType, Some(newCond), j.hint))
  }
}
