package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs `body` starts on this thread, counted by a listener. A
    * marker job in a group of its own follows `body`; the listener sees
    * events in order, so once it has seen the marker it has seen every
    * job of `body`. */
  protected def jobsOf(body: => Unit): Int = {
    val id = java.util.UUID.randomUUID().toString
    val (jobs, marked) = (new AtomicInteger, new java.util.concurrent.CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`id`) => jobs.incrementAndGet(): Unit
          case Some(g) if g == s"$id-marker" => marked.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(id, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$id-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
