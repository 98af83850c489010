package graft.ops

import graft.{Derived, Fixtures, GateRunner, SparkEntry, SparkSpec}
import graft.tools.PlanChecks

/** The registry pass: every declared gate executes ONCE at sf0.001
  * through [[graft.GateRunner]]'s plan sink (the cache cleared after it,
  * the same path Verify and Bench use) and must
  *  - return rows;
  *  - emit no duplicate column names (the oracle compare sorts columns by
  *    name);
  *  - carry at most [[MaxSpwRows]] rows through any single-partition
  *    window exchange — the r12 q271/q278/q282/q294 anti-pattern, swept
  *    mechanically over the whole registry (VERDICT r14 #3) so a new gate
  *    that funnels a data-scale frame through one task's window sort fails
  *    `sbt test` instead of relying on review;
  *  - build no [[graft.Derived]] value: [[graft.Fixtures.prebuild]] runs
  *    first, so a gate that still builds one consumes a derived input no
  *    prebuild hook lists, which `graft.Bench` would charge to whichever
  *    timed pass reached it first.
  * Exact value parity vs DuckDB is covered at sf0.01 by tools/check.py;
  * DocsConsistencySpec checks that every gate has an oracle and vice
  * versa. */
class QueriesSpec extends SparkSpec {

  /** Threshold rationale. Legitimate single-partition window exchanges are
    * (a) bounded CONTROL frames — Sweep.prefixSum's per-partition offset
    * frame (O(shuffle partitions) = 4 rows under the test session), hop
    * censuses, apportionment remainders — and (b) rank-limit-bounded
    * funnels, where the pushdown mechanisms WindowGroupLimitSpec pins bound
    * the exchange to ≤ limit × upstream-partitions rows. Both are O(100) at
    * any scale. A DATA-scale funnel at sf0.001 shows up as thousands of
    * rows (lineitem ~6,000, events ~2,000), and grows 10× per scale step —
    * the r12 q271/q278/q282/q294 anti-pattern. 1,000 splits the two regimes
    * with an order of magnitude of slack on each side; the detector's
    * discrimination is itself proven by WindowGroupLimitSpec's non-vacuity
    * test (both pushdown mechanisms disabled → the detector reads the full
    * 10,000-row funnel). */
  private val MaxSpwRows = 1000L

  private lazy val prebuilt = Fixtures.prebuild(spark, sf0001)

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for (gate <- GateRunner.all; name = gate.name) {
    test(s"$name runs and returns rows at sf0.001") {
      prebuilt: Unit
      val builds = Derived.builds
      // executes df's own plan (metrics populated), then clears the cache
      val run = GateRunner.run(spark, gate, sf0001, GateRunner.Plan)
      run.error.foreach(e => throw e)
      val df = run.frame.get
      val rows = run.rows
      val funnels = PlanChecks.singlePartitionWindowRows(df.queryExecution.executedPlan)
        .filter(_._2 > MaxSpwRows)
      assert(rows > 0, s"$name returned no rows")
      val dups = df.columns.groupBy(identity).collect { case (c, v) if v.length > 1 => c }
      assert(dups.isEmpty, s"$name: duplicate output columns ${dups.mkString(",")}")
      assert(funnels.isEmpty,
        s"$name: data-scale single-partition window funnel(s) ${funnels.mkString(", ")} " +
          "— the r12 anti-pattern. Partition the window, rewrite via Sweep, or " +
          "bound it with a rank-limit pushdown")
      assert(Derived.builds == builds,
        s"$name built ${Derived.builds - builds} derived input(s) after " +
          "Fixtures.prebuild — add them to their module's prebuild hook")
    }
  }
}
