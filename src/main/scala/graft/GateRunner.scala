package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one path by which an entry point runs registry gates: Verify,
  * Bench, tools.TimeQuery, tools.ScaleProbe, tools.Explain and the test
  * registry pass all select, execute and clear through here, so a gate
  * plans, runs and is cleaned up the same way whichever of them asked.
  *
  *  - [[select]] picks gates by name in sorted order and rejects an
  *    unregistered name before any Spark work starts, naming it;
  *  - [[run]] executes one gate into a [[Sink]], stops the clock, clears
  *    the cache in a `finally` (a gate that caches an intermediate must not
  *    pin it for the rest of the run) and records a failure as exception
  *    class plus message instead of throwing;
  *  - [[timed]] is the single-gate timing protocol: one warm pass, then one
  *    timed pass, both on [[production]] plans. */
object GateRunner {

  final case class Gate(name: String, fn: (SparkSession, String) => DataFrame)

  /** What one execution left behind. `secs` is wall time up to the end of
    * the sink, before the cache clear; `rows` is -1 unless the sink counts
    * rows; `frame` is kept only by [[Plan]], whose executed plan carries
    * the metrics of the run. */
  final case class Outcome(name: String, secs: Double, rows: Long,
      frame: Option[DataFrame], error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
    def failure: Option[String] =
      error.map(e => s"${e.getClass.getName}: ${e.getMessage}")
  }

  sealed trait Sink
  /** Full-plan execution with nothing written: what timed passes measure.
    * A plain `count()` would let Catalyst prune the projections and
    * windows the gate exists to compute. */
  case object Noop extends Sink
  /** One parquet directory per gate under `outDir`, for the oracle
    * compare. */
  final case class Parquet(outDir: String) extends Sink
  /** Executes the frame's own physical plan and counts its rows, so the
    * executed exchange metrics of `frame` are readable afterwards. */
  case object Plan extends Sink

  /** Every registered gate, sorted by name. */
  def all: Seq[Gate] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) => Gate(n, fn) }

  /** The named gates in sorted order; an unregistered name fails here,
    * before the caller builds a session or runs anything. */
  def select(names: Iterable[String]): Seq[Gate] = {
    val wanted = names.toSet
    val unknown = wanted.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unregistered gate name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    all.filter(g => wanted.contains(g.name))
  }

  def run(spark: SparkSession, gate: Gate, dir: String, sink: Sink): Outcome = {
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    try {
      val df = gate.fn(spark, dir)
      val rows = sink match {
        case Noop => df.write.format("noop").mode("overwrite").save(); -1L
        case Parquet(out) =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/${gate.name}"); -1L
        case Plan => df.queryExecution.toRdd.count()
      }
      Outcome(gate.name, secs, rows, Some(df).filter(_ => sink == Plan), None)
    } catch { case e: Throwable =>
      val o = Outcome(gate.name, secs, -1L, None, Some(e))
      System.err.println(s"[gate] ${gate.name} failed: ${o.failure.get}")
      o
    } finally spark.catalog.clearCache()
  }

  /** Runs `body` on the production plans a timing must measure: q64's
    * exact yardstick twins exist only to verify its sketches at the
    * correctness gate (see `ExtendedQueries.approxAggs`), so they are
    * switched off unless `graft.yardstick` was set explicitly. The
    * property is restored afterwards. */
  def production[A](body: => A): A =
    if (sys.props.contains("graft.yardstick")) body
    else {
      System.setProperty("graft.yardstick", "off")
      try body finally System.clearProperty("graft.yardstick")
    }

  /** One warm pass through [[Plan]] (fixture builds and JIT land here, and
    * its frame's executed metrics are readable), then one timed pass
    * through [[Noop]]. Returns (warm, timed). */
  def timed(spark: SparkSession, gate: Gate, dir: String): (Outcome, Outcome) =
    production((run(spark, gate, dir, Plan), run(spark, gate, dir, Noop)))
}
