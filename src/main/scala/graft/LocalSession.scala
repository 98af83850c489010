package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session recipe shared by every gate entry point
  * (Verify, Bench, the tools mains) and the test suites (`SparkSpec`, at
  * a fixed 4 cores): shuffle partitions = cores (the CLAUDE.md sizing
  * rule), UTC, graft extensions, no UI. Centralized because a conf drift
  * between these would make a plan audit, a single-query timing or a test
  * exercise a DIFFERENT engine than the one the correctness gate runs.
  *
  * The hockey CLIs (Experiment, Subsample) intentionally keep their own
  * config — SPARK_MASTER override, reference appName, no extensions — they
  * model the reference deployment, not the gate. */
object LocalSession {

  def withCores(cores: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Runs `body` with the session confs `confs` set, then puts each back
    * as it was (its old value, or unset). The change is session-global
    * while `body` runs, so only sequential callers may use it. */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `$SPARK_GRAFT_CPUS` cores, 4 when unset. */
  def fromEnv(logLevel: String = "WARN"): SparkSession =
    withCores(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4), logLevel)
}
