package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Fixtures, Scratch}
import graft.ops._

/** The `gates-sample` workload: a fixed sample of the gate registry
  * (`SparkEntry.queries`) timed on the committed sf0.01 corpus, plus a
  * gate the seed draws for a held-out output check.
  *
  * The timed sample is `Timed`, a literal list so that it never changes
  * under a comparison. It was drawn once, family- and cost-stratified: in
  * every family, with the gates ordered by one warm noop time each on four
  * cores, the gates at evenly spaced cost quantiles, about one in 30 and at
  * least one. A seed-drawn timed sample was tried first: over five seeds
  * its pass time and percentiles spread by 35-40 %, from which gates were
  * drawn and how warm the JVM was when each ran, far above any usable bound.
  *
  * An untimed warm-up pass collects every sampled and held-out gate and
  * checks its row count and order-insensitive digest against the
  * recording; the timed passes then run the timed sample into the noop
  * sink until the run's seconds are spent.
  *
  * Traced, the pass with the listener and spans runs between two passes
  * with nothing attached, so the tracing overhead is measured in one JVM
  * on one build.
  */
object Gates {

  /** The registry's families, in the order `SparkEntry.queries` merges them. */
  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "CoreQueries" -> CoreQueries.queries, "EventQueries" -> EventQueries.queries,
    "TextQueries" -> TextQueries.queries, "DedupQueries" -> DedupQueries.queries,
    "AnnQueries" -> AnnQueries.queries, "MultimodalQueries" -> MultimodalQueries.queries,
    "ExtendedQueries" -> ExtendedQueries.queries, "PipelineQueries" -> PipelineQueries.queries,
    "SourceQueries" -> SourceQueries.queries, "GraphQueries" -> GraphQueries.queries)

  /** family -> gate, cheapest first within a family. */
  val Timed: Seq[(String, String)] = Seq(
    "CoreQueries" -> "q06_sequence_number",
    "EventQueries" -> "q253_longest_streak", "EventQueries" -> "q140_streaming_foreach_sink",
    "TextQueries" -> "q113_heavy_hitters",
    "DedupQueries" -> "q322_contamination_matrix",
    "AnnQueries" -> "q323_kcenter_coreset",
    "MultimodalQueries" -> "q311_patch_extraction",
    "ExtendedQueries" -> "q331_kmv_distinct", "ExtendedQueries" -> "q218_portable_hll",
    "PipelineQueries" -> "q215_partition_gap_audit", "PipelineQueries" -> "q175_source_drift",
    "SourceQueries" -> "q316_orphan_file_audit",
    "GraphQueries" -> "q219_bfs_frontiers")

  val HeldOut = 1

  final case class Gate(family: String, name: String, fn: (SparkSession, String) => DataFrame)

  def timedSample: Seq[Gate] = {
    val byFamily = Families.toMap
    Timed.map { case (f, n) => Gate(f, n, byFamily(f)(n)) }
  }

  def heldOut(seed: Long, timed: Seq[Gate]): Seq[Gate] = {
    val rest = Families.flatMap { case (f, qs) => qs.map { case (n, fn) => Gate(f, n, fn) } }
      .filterNot(g => timed.exists(_.name == g.name)).sortBy(_.name)
    new scala.util.Random(seed).shuffle(rest).take(HeldOut)
  }

  def run(a: Main.Args): Main.Result = {
    val recorded = new Recorded(a.expected, a.cores)
    val dir = a.data.toString
    val gates = timedSample
    val checked = gates ++ heldOut(a.seed, gates)
    val tr = new Tracer
    val counters = new SparkCounters
    val problems = Seq.newBuilder[String]
    var failed = Set.empty[String]
    var warmupS = 0.0
    // Set-up is the session plus an untimed warm-up pass that checks every
    // gate's output and builds the derived inputs the gates use.
    // Fixtures.prebuild builds all of them, about a minute on four cores,
    // more than an untraced run can spend; the traced run builds every
    // group, each in its own span.
    val (spark, setupS) = Main.coldSetUp {
      val spark = Main.session(a, "gates-sample", extensions = true)
      if (a.trace) for ((g, build) <- Fixtures.all) tr.span(s"fixtures.$g")(build(spark, dir))
      val t0 = System.nanoTime()
      if (!a.record) for (g <- checked) {
        val bad = recorded.gates.get(g.name) match {
          case None => Some(s"${g.name}: no recorded output")
          case Some((rows, digest)) =>
            try {
              val (n, d) = digestOf(g.fn(spark, dir).collect())
              if (n == rows && d == digest) None
              else Some(s"${g.name}: $n rows digest $d, recorded $rows rows digest $digest")
            } catch { case e: Exception => Some(s"${g.name}: ${e.getClass.getName}: ${e.getMessage}") }
        }
        bad.foreach { p => problems += p; failed += g.name }
      }
      warmupS = (System.nanoTime() - t0) / 1e9
      spark
    }
    if (a.record) return record(spark, dir, recorded)

    val passes = Seq.newBuilder[Double]
    val execs = Seq.newBuilder[Double]
    var attempted = 0
    def pass(traced: Boolean): Double = {
      val p0 = System.nanoTime()
      for (g <- gates) {
        val t = System.nanoTime()
        try {
          if (traced) tr.span(s"ops.${g.family}")(noop(g.fn(spark, dir)))
          else noop(g.fn(spark, dir))
        } catch { case e: Exception =>
          problems += s"${g.name}: ${e.getClass.getName}: ${e.getMessage}"
          failed += g.name
        }
        execs += (System.nanoTime() - t) / 1e9
        attempted += 1
      }
      val s = (System.nanoTime() - p0) / 1e9
      passes += s
      s
    }
    // traced: the traced pass between two reference passes with nothing
    // attached, so that the JVM warming up over the passes evens out
    val before = if (a.trace) pass(traced = false) else 0.0
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    val gc0 = Clock.gcSeconds
    val start = System.nanoTime()
    if (a.trace) tr.span("run")(pass(traced = true))
    else while (attempted == 0 || (System.nanoTime() - start) / 1e9 < a.seconds) pass(traced = false)
    val gcS = Clock.gcSeconds - gc0
    val untracedS = if (!a.trace) 0.0 else {
      counters.drain()
      spark.sparkContext.removeSparkListener(counters)
      (before + pass(traced = false)) / 2
    }
    if (!a.trace) PeakMemory.sample()

    val eventRows = spark.read.parquet(s"$dir/events.parquet").count().toDouble
    val metrics =
      if (!a.trace) {
        val runS = Main.median(passes.result())
        val ex = execs.result()
        Seq(("setup_s", setupS, "s"), ("run_s", runS, "s"),
          ("events_per_s", eventRows / runS, "1/s"),
          ("op_p50_s", Main.quantile(ex, 0.5), "s"), ("op_p80_s", Main.quantile(ex, 0.8), "s"))
      } else {
        val by = tr.byName(counters, a.cores)
        val root = tr.all.find(_.name == "run").get
        val fixtures = Fixtures.all.map { case (g, _) =>
          s"fixtures.${g}_s" -> by.get(s"fixtures.$g").map(_("s")).getOrElse(0.0)
        }
        val ops = Families.flatMap { case (f, _) =>
          by.get(s"ops.$f").toSeq.flatMap(m =>
            Seq("s", "jobs", "no_task_s", "shuffle_mb").map(k => s"ops.$f.$k" -> m(k)))
        }
        val tracedS = (root.end - root.start) / 1e3
        Main.perLayer(Map("trace.run_s" -> tracedS, "trace.overhead_s" -> (tracedS - untracedS),
          "gates.warmup_s" -> warmupS, "fixtures.scratch_mb" -> Scratch.totalBytes / 1048576.0) ++
          Main.sparkLayer(counters, root, a.cores, gcS) ++ fixtures ++ ops)
      }
    spark.stop()
    Main.Result(attempted + checked.size, failed.size, metrics, problems.result())
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Row count and an order-insensitive digest: the sum, modulo 2^64, of a
    * 64-bit hash of each row's rendering. */
  def digestOf(rows: Array[Row]): (Long, String) = {
    var sum = 0L
    for (r <- rows) {
      val s = render(r)
      sum += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
        (MurmurHash3.stringHash(s, 0xbeef).toLong & 0xffffffffL)
    }
    (rows.length.toLong, f"$sum%016x")
  }

  private def render(v: Any): String = v match {
    case null => "␀"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", "\u001f", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "→" + render(x) }.sorted.mkString("{", "\u001f", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", "\u001f", "]")
    case other => other.toString
  }

  /** Records every gate's output digest. */
  private def record(spark: SparkSession, dir: String, recorded: Recorded): Main.Result = {
    val lines = for ((_, qs) <- Families; (name, fn) <- qs.toSeq.sortBy(_._1)) yield {
      val (n, d) = digestOf(fn(spark, dir).collect())
      s"gate\t$name\t$n\t$d"
    }
    recorded.append(lines)
    spark.stop()
    Main.Result(lines.size, 0, Nil, Nil)
  }
}
