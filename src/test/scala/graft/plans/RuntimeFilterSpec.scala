package graft.plans

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSpec}

/** Runtime Bloom-filter join pruning — the 100 TB lever where static
  * predicate pushdown cannot help: a selective filter on the DIMENSION side
  * of a fact-fact join is turned into a bloom_filter_might_contain probe on
  * the fact scan, so most fact rows die before the shuffle. Spark injects
  * it (InjectRuntimeFilter) only past size thresholds tuned for clusters;
  * the test lowers them to prove the engine's query shapes are eligible —
  * at real scale the defaults fire on their own. */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  test("selective fact-fact join is eligible for a runtime bloom filter") {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // at 100 TB both sides exceed the broadcast threshold; model that —
      // InjectRuntimeFilter correctly skips broadcast joins (the filter
      // would add nothing: the build side is already hashed locally)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    LocalSession.withConfs(spark, confs: _*) {
      // raw scans: InjectRuntimeFilter only descends through
      // scan/filter/project shapes, so the parallelism-floor repartition
      // Tables.load adds for the tiny test files would mask eligibility
      // (real deployments hit the many-files branch where no repartition
      // is inserted)
      val dir = sf0001
      val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .filter($"o_orderpriority" === "1-URGENT")
      val joined = lineitem.join(orders, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(sum($"l_quantity".cast("decimal(14,2)")).cast("double").as("qty"))
      // the probe lands on the fact side as
      //   Filter might_contain(scalar-subquery [bloom_filter_agg(o_orderkey)],
      //                        xxhash64(l_orderkey))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected a runtime bloom filter probe in:\n$optimized")
      assert(optimized.contains("bloom_filter_agg"),
        s"expected the bloom filter built from the creation side in:\n$optimized")
      // and the rewrite is semantically invisible
      assert(joined.collect().length == 1)
    }
  }
}
