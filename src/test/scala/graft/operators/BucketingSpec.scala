package graft.operators

import graft.{LocalSession, SparkSpec, Tables}

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("co-bucketed join plans with zero exchanges and matches the plain join") {
    // each test JVM gets a fresh in-memory catalog but the warehouse dir
    // persists on disk — clear orphaned locations from previous runs
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    val li = Tables.lineitem(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Bucketing.writeBucketed(o, "o_bucketed", "l_orderkey", 8)

    // disable auto-broadcast so the fact-fact sort-merge path is exercised
    // (the scenario bucketing exists for — at real scale neither side fits
    // in a broadcast)
    LocalSession.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = Bucketing.bucketedJoin(spark, "li_bucketed", "o_bucketed", "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle, plan was:\n$plan")

      val expected = li.join(o, "l_orderkey").count()
      assert(joined.count() == expected)
      assert(expected > 0)
    }
  }

  test("q156 gate: the bucketed fact-fact join itself plans with zero exchanges") {
    val dir = "/root/testdata/sf0.001"
    // running the gate registers the external bucketed tables in-session
    assert(graft.ops.SourceQueries.bucketedJoin(spark, dir).count() > 0)
    val sfx = graft.Scratch.dirKey(dir)
    val join = Bucketing.bucketedJoin(spark,
      s"li_bucketed_$sfx", s"or_bucketed_$sfx", "l_orderkey")
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"the gate's bucket layout must make the join exchange-free:\n$plan")
  }
}
