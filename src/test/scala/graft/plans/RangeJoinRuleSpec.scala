package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** The rewrite must (1) fire on the bounded-window shape, (2) add a bucket
  * equi conjunct that survives to a hash-joinable plan, and (3) be invisible
  * semantically — identical rows to the un-rewritten join on random data.
  *
  * The shared session installs this rule (GraftExtensions), so the suite
  * excludes it from the session optimizer: each test applies it by hand to
  * the un-rewritten plan and compares against the un-rewritten join. */
class RangeJoinRuleSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  override def beforeAll(): Unit =
    spark.conf.set(SQLConf.OPTIMIZER_EXCLUDED_RULES.key, RangeJoinRule.ruleName)

  override def afterAll(): Unit =
    spark.conf.unset(SQLConf.OPTIMIZER_EXCLUDED_RULES.key)

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  private lazy val probes = (0 until 60).map(i => (i.toLong % 5, ts(i * 7), i.toLong))
    .toDF("k", "lts", "probe_id")
  private lazy val events = (0 until 80).map(i => (i.toLong % 5, ts(i * 5), i * 1.5))
    .toDF("k2", "rts", "v")

  private def naiveJoin(upper: String): DataFrame =
    probes.join(events,
      $"k" === $"k2" && $"rts" >= $"lts" && $"rts" <= expr(s"lts + INTERVAL $upper"))

  private def applyRule(df: DataFrame): (DataFrame, Boolean) = {
    val before = df.queryExecution.optimizedPlan
    val after = RangeJoinRule(before)
    (bridge.ofRows(spark, after), after ne before)
  }

  private def sortedRows(df: DataFrame): Seq[(Long, Timestamp, Long, Long, Timestamp, Double)] =
    df.select($"k", $"lts", $"probe_id", $"k2", $"rts", $"v")
      .as[(Long, Timestamp, Long, Long, Timestamp, Double)]
      .collect().sortBy(r => (r._1, r._3, r._5.getTime))

  test("rule fires on the bounded-window shape and preserves every row") {
    val naive = naiveJoin("30 MINUTE")
    val (rewritten, fired) = applyRule(naive)
    assert(fired, "rule did not fire on the canonical range-join shape")
    assert(sortedRows(rewritten) == sortedRows(naive))
    assert(sortedRows(naive).nonEmpty)
  }

  test("rewritten plan keys the join on the bucket (equi conjunct present)") {
    val after = RangeJoinRule(naiveJoin("30 MINUTE").queryExecution.optimizedPlan)
    val joins = after.collect { case j: Join => j }
    assert(joins.exists(_.condition.exists(
      _.references.exists(_.name.startsWith("__graft_bucket")))),
      s"no bucket conjunct in:\n$after")
  }

  test("rule is idempotent (no refire on its own output)") {
    val once = RangeJoinRule(naiveJoin("30 MINUTE").queryExecution.optimizedPlan)
    val twice = RangeJoinRule(once)
    assert(twice.collect { case j: Join => j }.size ==
      once.collect { case j: Join => j }.size)
  }

  test("rule leaves non-range joins alone") {
    val plain = probes.join(events, $"k" === $"k2").queryExecution.optimizedPlan
    assert(RangeJoinRule(plain) eq plain)
  }

  test("left outer range join: unmatched left rows emit exactly once") {
    val naive = probes.join(events,
      $"k" === $"k2" && $"rts" >= $"lts" &&
        $"rts" <= expr("lts + INTERVAL 10 MINUTE"), "left_outer")
    val (rewritten, fired) = applyRule(naive)
    assert(fired, "rule did not fire on the left-outer range join")
    def rows(df: DataFrame) = df
      .select($"k", $"probe_id", $"k2", $"rts")
      .as[(Long, Long, Option[Long], Option[Timestamp])]
      .collect().sortBy(r => (r._1, r._2, r._4.map(_.getTime).getOrElse(-1L))).toSeq
    assert(rows(rewritten) == rows(naive))
    assert(rows(naive).exists(_._3.isEmpty), "fixture should have unmatched left rows")
  }

  test("strict bounds (< / >) also fire and preserve every row") {
    val naive = probes.join(events,
      $"k" === $"k2" && $"rts" > $"lts" &&
        $"rts" < expr("lts + INTERVAL 30 MINUTE"))
    val (rewritten, fired) = applyRule(naive)
    assert(fired, "rule did not fire on strict bounds")
    assert(sortedRows(rewritten) == sortedRows(naive))
  }

  test("pure range join (no equi key) gains a bucket equi key") {
    val naive = probes.join(events,
      $"rts" >= $"lts" && $"rts" <= expr("lts + INTERVAL 10 MINUTE"))
    val (rewritten, fired) = applyRule(naive)
    assert(fired)
    assert(sortedRows(rewritten) == sortedRows(naive))
  }
}
