package graft.tools

import graft.{GateRunner, LocalSession}

/** Time individual gate queries without running the whole bench, through
  * [[GateRunner.timed]] (one warm pass, one timed noop pass, production
  * plans): `runMain graft.tools.TimeQuery q64_approx_aggs
  * [q65_simhash_pairs ...]`. Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS
  * like Bench; exits nonzero when a gate fails. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeQuery <queryName>...")
    val gates = GateRunner.select(args)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.fromEnv()
    var failed = false
    gates.foreach { g =>
      val (warm, timed) = GateRunner.timed(spark, g, sfDir)
      if (warm.ok && timed.ok) println(f"TIMED ${g.name} ${timed.secs}%.2f s")
      else failed = true
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
