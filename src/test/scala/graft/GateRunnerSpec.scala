package graft

import org.apache.spark.storage.StorageLevel

/** The shared gate path every entry point runs through: selection rejects
  * what the registry does not hold, one failing gate neither aborts the
  * run nor leaves its cache behind, and timed runs measure production
  * plans. */
class GateRunnerSpec extends SparkSpec {

  test("an unregistered gate name is rejected, and named, at selection") {
    val e = intercept[IllegalArgumentException](
      GateRunner.select(Seq("q02_filter_project", "q02_filter_projekt")))
    assert(e.getMessage.contains("q02_filter_projekt"), e.getMessage)
    assert(GateRunner.select(Seq("q36_date_features", "q02_filter_project"))
      .map(_.name) == Seq("q02_filter_project", "q36_date_features"))
  }

  test("a throwing gate yields a failure outcome, the next gate runs, no cache is left") {
    var cached: Option[org.apache.spark.sql.DataFrame] = None
    val boom = GateRunner.Gate("boom", (s, _) => {
      val df = s.range(100).toDF("id").cache()
      df.count()
      cached = Some(df)
      throw new IllegalStateException("planted failure")
    })
    val failed = GateRunner.run(spark, boom, sf0001, GateRunner.Plan)
    assert(failed.failure.contains(
      "java.lang.IllegalStateException: planted failure"), failed)
    assert(failed.frame.isEmpty)
    assert(cached.get.storageLevel == StorageLevel.NONE,
      "the failed gate's cached frame survived its run")
    val next = GateRunner.select(Seq("q02_filter_project")).head
    val ran = GateRunner.run(spark, next, sf0001, GateRunner.Plan)
    assert(ran.ok && ran.rows > 0, ran)
  }

  test("under the timed protocol q64 runs without its exact yardstick columns") {
    val q64 = GateRunner.select(Seq("q64_approx_aggs")).head
    assert(q64.fn(spark, sf0001).columns.exists(_.startsWith("exact_")),
      "q64 no longer carries exact_* columns outside the timed protocol")
    val (warm, timed) = GateRunner.timed(spark, q64, sf0001)
    assert(warm.ok && timed.ok)
    val cols = warm.frame.get.columns
    assert(!cols.exists(_.startsWith("exact_")), cols.mkString(", "))
    assert(!sys.props.contains("graft.yardstick"), "timed protocol leaked its setting")
  }
}
