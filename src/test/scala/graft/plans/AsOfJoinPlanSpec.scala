package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.AsOf

/** The merge exec must agree row-for-row with an in-memory brute-force
  * as-of lookup — on fixtures covering the edge cases and on seeded random
  * data — and must actually plan through AsOfJoinExec. */
class AsOfJoinPlanSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // (key, ts, tie, value)
  private val quoteRows = Seq(
    (1L, ts("2024-01-01 10:00:00"), 101L, 10.0),
    (1L, ts("2024-01-01 10:05:00"), 102L, 11.0),
    (1L, ts("2024-01-01 10:05:00"), 103L, 12.5), // tie on ts → max tie wins
    (2L, ts("2024-01-01 10:02:00"), 104L, 99.0))

  // (key, ts, id)
  private val tradeRows = Seq(
    (1L, ts("2024-01-01 09:59:00"), 201L), // before any quote → null
    (1L, ts("2024-01-01 10:05:00"), 202L), // equal ts → inclusive, tie 103 (12.5)
    (1L, ts("2024-01-01 10:30:00"), 203L),
    (2L, ts("2024-01-01 10:03:00"), 204L),
    (3L, ts("2024-01-01 10:03:00"), 205L)) // key with no quotes → null

  private lazy val quotes = quoteRows.toDF("user_id", "ts", "event_id", "px")
  private lazy val trades = tradeRows.toDF("user_id", "ts", "event_id")

  /** For each left row, the same-key right row with the greatest (ts, tie)
    * at or below the left row's ts, or None; sorted by (key, id). */
  private def reference(left: Seq[(Long, Timestamp, Long)],
      right: Seq[(Long, Timestamp, Long, Double)]): Seq[(Long, Long, Option[Double])] =
    left.map { case (k, lts, id) =>
      val best = right.filter(r => r._1 == k && !r._2.after(lts))
        .maxByOption(r => (r._2.getTime, r._3))
      (k, id, best.map(_._4))
    }.sortBy(r => (r._1, r._2))

  private def collectAsOf(df: DataFrame, key: String, id: String,
      value: String): Seq[(Long, Long, Option[Double])] =
    df.select(key, id, value)
      .as[(Long, Long, Option[Double])].collect().sortBy(r => (r._1, r._2)).toSeq

  test("merge exec matches the brute-force reference on the edge-case fixture") {
    val merged = collectAsOf(AsOf.asofJoin(trades, quotes, Seq("user_id"), "ts",
      Seq("px"), "event_id"), "user_id", "event_id", "asof_px")
    assert(merged == reference(tradeRows, quoteRows))
    // spot-check the tie-break semantics directly
    assert(merged.collect { case (1L, 202L, v) => v } == Seq(Some(12.5)))
  }

  test("plan goes through AsOfJoinExec (one merge operator, no window)") {
    val merged = AsOf.asofJoin(trades, quotes, Seq("user_id"), "ts",
      Seq("px"), "event_id")
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"no AsOfJoinExec in:\n$plan")
    assert(!plan.contains("Window"), s"unexpected WindowExec in:\n$plan")
  }

  test("q45 and q141 plan through AsOfJoinExec, with no window") {
    for ((name, df) <- Seq(
        "q45" -> graft.ops.EventQueries.asofLastError(spark, sf0001),
        "q141" -> graft.ops.EventQueries.asofNextError(spark, sf0001))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), s"$name: no AsOfJoinExec in:\n$plan")
      assert(!plan.contains("Window"), s"$name: unexpected WindowExec in:\n$plan")
    }
  }

  test("merge exec matches the brute-force reference on seeded random data") {
    val rnd = new scala.util.Random(7)
    val rightRows = Seq.fill(400)((rnd.nextInt(6).toLong,
      new Timestamp(1700000000000L + rnd.nextInt(50000) * 1000L),
      rnd.nextLong().abs, rnd.nextDouble()))
    val leftRows = Seq.fill(250)((rnd.nextInt(8).toLong,
      new Timestamp(1700000000000L + rnd.nextInt(50000) * 1000L),
      rnd.nextLong().abs))
    val merged = collectAsOf(AsOf.asofJoin(leftRows.toDF("k", "ts", "lid"),
      rightRows.toDF("k", "ts", "rid", "v"), Seq("k"), "ts", Seq("v"), "rid"),
      "k", "lid", "asof_v")
    assert(merged == reference(leftRows, rightRows))
    assert(merged.exists(_._3.isDefined) && merged.exists(_._3.isEmpty))
  }
}
