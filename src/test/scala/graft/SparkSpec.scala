package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — getOrCreate
  * returns the same instance across suites, keeping `sbt test` fast). It is
  * the gate entry points' recipe at a fixed 4 cores, whatever
  * `SPARK_GRAFT_CPUS` says: the specs' partition-count rationales (e.g.
  * QueriesSpec's single-partition-window bound) assume 4 partitions. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession.withCores(4)

  lazy val sf0001 = "/root/testdata/sf0.001"
}
