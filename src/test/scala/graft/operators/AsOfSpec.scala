package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val quotes = Seq(
    (1L, ts("2024-01-01 10:00:00"), 101L, 10.0),
    (1L, ts("2024-01-01 10:05:00"), 102L, 11.0),
    (1L, ts("2024-01-01 10:10:00"), 103L, 12.0),
    (2L, ts("2024-01-01 10:02:00"), 104L, 99.0)
  ).toDF("user_id", "ts", "event_id", "px")

  private lazy val trades = Seq(
    (1L, ts("2024-01-01 09:59:00"), 201L), // before any quote → null
    (1L, ts("2024-01-01 10:05:00"), 202L), // equal ts → inclusive match (11.0)
    (1L, ts("2024-01-01 10:07:00"), 203L), // between → latest earlier (11.0)
    (1L, ts("2024-01-01 10:30:00"), 204L), // after all → last (12.0)
    (2L, ts("2024-01-01 10:03:00"), 205L), // other key → its own quote
    (3L, ts("2024-01-01 10:03:00"), 206L) // key with no quotes → null
  ).toDF("user_id", "ts", "event_id")

  test("asof join equals the naive per-row lookup on random data (seeded)") {
    val rnd = new scala.util.Random(42)
    val rightRows = Seq.fill(300)((rnd.nextInt(8).toLong,
      new Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L),
      rnd.nextLong().abs, rnd.nextDouble()))
    val leftRows = Seq.fill(200)((rnd.nextInt(10).toLong,
      new Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L),
      rnd.nextLong().abs))
    val right = rightRows.toDF("user_id", "ts", "event_id", "px")
    val left = leftRows.toDF("user_id", "ts", "event_id")

    val got = AsOf.asofJoin(left, right, Seq("user_id"), "ts",
      valueCols = Seq("px"), tieBreak = "event_id")
      .select("user_id", "ts", "event_id", "asof_px")
      .as[(Long, Timestamp, Long, Option[Double])].collect()
      .map(r => (r._1, r._2.getTime, r._3) -> r._4).toMap

    leftRows.foreach { case (k, lts, lid) =>
      val expected = rightRows
        .filter(r => r._1 == k && !r._2.after(lts))
        .sortBy(r => (r._2.getTime, r._3)).lastOption.map(_._4)
      assert(got((k, lts.getTime, lid)) == expected,
        s"key=$k lts=$lts: got ${got((k, lts.getTime, lid))}, want $expected")
    }
    assert(got.size == leftRows.size)
  }

  test("asof join: latest right row at-or-before each left row, per key") {
    val out = AsOf.asofJoin(trades, quotes,
      keys = Seq("user_id"), tsCol = "ts",
      valueCols = Seq("px"), tieBreak = "event_id")
      .select($"event_id", $"asof_px").as[(Long, Option[Double])]
      .collect().toMap
    assert(out(201L).isEmpty)
    assert(out(202L).contains(11.0))
    assert(out(203L).contains(11.0))
    assert(out(204L).contains(12.0))
    assert(out(205L).contains(99.0))
    assert(out(206L).isEmpty)
    assert(out.size == 6) // left join: every left row survives
  }

  test("a right row with a NULL value still matches (no stale carry-forward)") {
    val quotesWithNull = Seq(
      (1L, ts("2024-01-01 10:00:00"), 101L, Some(10.0)),
      (1L, ts("2024-01-01 10:05:00"), 102L, None) // legitimately NULL px
    ).toDF("user_id", "ts", "event_id", "px")
    val probe = Seq((1L, ts("2024-01-01 10:07:00"), 301L))
      .toDF("user_id", "ts", "event_id")
    val out = AsOf.asofJoin(probe, quotesWithNull,
      keys = Seq("user_id"), tsCol = "ts",
      valueCols = Seq("px"), tieBreak = "event_id")
      .select($"event_id", $"asof_px").as[(Long, Option[Double])]
      .collect().toMap
    // the 10:05 quote IS the most recent — its NULL px must come through,
    // not the stale 10.0 from 10:00
    assert(out(301L).isEmpty)
  }

  test("tolerance variant nulls out stale matches") {
    val out = AsOf.asofJoinWithTolerance(trades, quotes,
      keys = Seq("user_id"), tsCol = "ts",
      valueCols = Seq("px"), tieBreak = "event_id",
      toleranceUs = 3L * 60 * 1000000) // 3 minutes
      .select($"event_id", $"asof_px").as[(Long, Option[Double])]
      .collect().toMap
    assert(out(203L).contains(11.0)) // 2 min old → kept
    assert(out(204L).isEmpty) // 20 min old → too stale
    assert(out(205L).contains(99.0))
  }

  test("a DATE timestamp or mismatched key types are rejected before the job runs") {
    val days = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 101L, 10.0))
      .toDF("user_id", "day", "event_id", "px")
    val badTs = intercept[IllegalArgumentException] {
      AsOf.asofJoin(days.select("user_id", "day", "event_id"), days,
        keys = Seq("user_id"), tsCol = "day",
        valueCols = Seq("px"), tieBreak = "event_id")
    }
    assert(badTs.getMessage.contains("day") && badTs.getMessage.contains("date"),
      badTs.getMessage)
    // an int key against a bigint key hashes to different partitions
    val badKey = intercept[IllegalArgumentException] {
      AsOf.asofJoin(trades.withColumn("user_id", $"user_id".cast("int")), quotes,
        keys = Seq("user_id"), tsCol = "ts",
        valueCols = Seq("px"), tieBreak = "event_id")
    }
    assert(badKey.getMessage.contains("user_id") && badKey.getMessage.contains("int (left)"),
      badKey.getMessage)
  }
}
