package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSpec}
import graft.tools.PlanChecks

/** Executed-plan pin for the rank-filter gates' limit-pushdown reliance
  * (VERDICT r13 #5): a `row_number().over(Window.orderBy(...)) <= N`
  * filter over an UNPARTITIONED window is scale-safe only because an
  * optimizer rule bounds what reaches the window's sort — Spark 4.1
  * plans this shape through `LimitPushDownThroughWindow` (a
  * TakeOrderedAndProject below the window: per-partition top-N + merge,
  * no single-partition exchange at all), with `InferWindowGroupLimit`
  * (Partial/Final WindowGroupLimitExec around the exchange) as the
  * second mechanism for rank shapes the limit pushdown can't take. A
  * config (`spark.sql.optimizer.excludedRules`, `spark.sql.optimizer.
  * windowGroupLimitThreshold = -1`) or upgrade regression that loses
  * BOTH silently restores the full-frame one-task sort — the exact r12
  * `weak` anti-pattern — while staying hash-correct. This spec makes
  * that failure loud.
  *
  * Gate inventory: q280 is the ONLY registered gate whose `rk <= N`
  * filter rides an unpartitioned data-scale window — the other rank
  * filters are either per-key partitioned windows (q269's weekly top-10,
  * q328's per-query RRF rank, the item-similarity top-3:
  * hash-partitioned, no funnel), Sweep-computed ranks filtered as plain
  * columns (workingSetCoverage's top-100 — no window at all), or bounded
  * frames (the apportionment remainders, the k+1-row priority sample).
  * That claim is no longer hand-maintained (VERDICT r14 #3):
  * [[graft.ops.QueriesSpec]] executes EVERY registered gate at sf0.001 and
  * fails if any single-partition window exchange carries a data-scale
  * frame — a new unpartitioned rank filter that loses its pushdown now
  * fails CI mechanically. If one is ADDED deliberately, also add it to
  * `gates` below so its pushdown is pinned like q280's.
  *
  * The mechanism tests at the bottom prove (a) the pushdown bounds the
  * sort input on a frame big enough to discriminate, and (b) with both
  * mechanisms disabled the full frame funnels through a single-partition
  * window exchange and the detector sees it — so the gate assertions
  * above them are non-vacuous.
  */
class WindowGroupLimitSpec extends SparkSpec {

  private val gates: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "q280_conversion_paths" -> (graft.ops.EventQueries.conversionPaths _))

  for ((name, fn) <- gates) {
    test(s"$name: rank filter keeps its limit pushdown and a bounded sort") {
      val df = fn(spark, sf0001)
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name returned no rows at sf0.001")
      val plan = df.queryExecution.executedPlan
      assert(PlanChecks.rankLimitPushdownNodes(plan) >= 1,
        s"$name lost its rank-limit pushdown (no TakeOrderedAndProject / " +
          "WindowGroupLimit in the executed plan) — the rank filter now " +
          "funnels the whole frame through one task's sort")
      // Whatever mechanism fired, no single-partition window exchange may
      // carry more than limit × upstream-partitions (+ slack).
      val spw = PlanChecks.singlePartitionWindowRows(plan)
      assert(spw.forall(_._2 <= 200L),
        s"$name's single-partition window exchange is not limit-bounded: $spw")
    }
  }

  test("mechanism: the pushdown bounds a 10k-row unpartitioned rank filter") {
    import spark.implicits._
    val df = spark.range(10000).select($"id")
      .withColumn("rk", row_number().over(Window.orderBy($"id")))
      .filter($"rk" <= 10)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(PlanChecks.rankLimitPushdownNodes(plan) >= 1,
      "pushdown absent on the canonical rank-filter shape")
    assert(PlanChecks.maxSinglePartitionWindowRows(plan) <= 200L,
      "single-partition window exchange carried an unbounded frame")
  }

  test("non-vacuity: disabling both mechanisms restores the global funnel") {
    import spark.implicits._
    LocalSession.withConfs(spark,
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.LimitPushDownThroughWindow",
        "spark.sql.optimizer.windowGroupLimitThreshold" -> "-1") {
      val df = spark.range(10000).select($"id")
        .withColumn("rk", row_number().over(Window.orderBy($"id")))
        .filter($"rk" <= 10)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(PlanChecks.rankLimitPushdownNodes(plan) == 0,
        "disabling LimitPushDownThroughWindow + windowGroupLimitThreshold " +
          "did not remove the pushdown — the bounded assertions above may " +
          "be pinning the wrong mechanism")
      assert(PlanChecks.maxSinglePartitionWindowRows(plan) == 10000L,
        "detector misread the unbounded funnel's row count")
    }
  }
}
