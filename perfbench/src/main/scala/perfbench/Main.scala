package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: a workload by name and seed, measured for a number of
  * seconds, its outputs checked. Writes one JSON object to `--out`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --data <dir> --out <file> --expected <file> [--record]
  *
  * `--trace 0` times the workload with nothing attached and reports the
  * end-to-end metrics; `--trace 1` attaches a listener and spans and
  * reports the per-layer metrics. `--record` writes the reference outputs
  * the checks compare against, in place of a run.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Path, out: Path, expected: Path, record: Boolean) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
  }

  /** Outcome of one run. `metrics` values are (value, unit). */
  final case class Result(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)],
      problems: Seq[String])

  val Workloads: Seq[String] = Seq("hockey-job", "gates-sample")

  def main(argv: Array[String]): Unit = {
    toMain = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    PeakMemory.install()
    val a = parse(argv.toList)
    Files.createDirectories(a.work)
    val ran = a.workload match {
      case "hockey-job" => Hockey.run(a)
      case "gates-sample" => Gates.run(a)
      case other => sys.error(s"unknown workload: $other (one of ${Workloads.mkString(", ")})")
    }
    val result =
      if (a.trace || a.record) ran
      else ran.copy(metrics = ran.metrics :+ (("peak_mem_mb", PeakMemory.mb, "MB")))
    result.problems.foreach(p => System.err.println(s"[check] $p"))
    Files.write(a.out, json(result).getBytes("UTF-8"))
  }

  private def parse(argv: List[String]): Args = {
    def loop(rest: List[String], m: Map[String, String]): Map[String, String] = rest match {
      case "--record" :: t => loop(t, m + ("record" -> "1"))
      case k :: v :: t if k.startsWith("--") => loop(t, m + (k.drop(2) -> v))
      case Nil => m
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    val m = loop(argv, Map.empty)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("data")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath,
      Paths.get(m("expected")).toAbsolutePath, m.contains("record"))
  }

  /** Seconds from JVM start to `main`. */
  private var toMain = 0.0

  /** Runs `setUp` once and returns its result with its seconds plus the
    * JVM's start-up before `main`: the cold set-up a user of the CLI pays.
    * A JVM is cold only once, so a run has one such sample; the median over
    * runs steadies it. */
  def coldSetUp[T](setUp: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = setUp
    (r, toMain + (System.nanoTime() - t) / 1e9)
  }

  /** The session every workload runs on: `local[N]` with N = the host's
    * cores, N shuffle partitions, UTC, no UI, and Spark's scratch space and
    * warehouse under the work directory. `extensions` adds the engine's
    * SQL extensions, which the gate registry needs and the hockey CLI does
    * not install. */
  def session(a: Args, appName: String, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    if (extensions) b.config("spark.sql.extensions", "graft.functions.GraftExtensions")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Harrell-Davis quantile, q in (0, 1): a Beta-weighted mean of all the
    * order statistics. With a dozen values a plain sample median jumps
    * between neighbouring gates from run to run; this one moves smoothly. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 1) s.head
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        (n + 1) * q, (n + 1) * (1 - q))
      s.indices.map(i => s(i) * (beta.cumulativeProbability((i + 1.0) / n) -
        beta.cumulativeProbability(i.toDouble / n))).sum
    }
  }

  /** Every per-layer metric a traced run reports, with its unit. A layer
    * the workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = {
    val spark = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "executor_run_s" -> "s", "busy_frac" -> "ratio", "no_task_s" -> "s",
      "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
      "gc_s" -> "s", "max_task_skew" -> "ratio").map { case (k, u) => s"spark.$k" -> u }
    val pipeline = Hockey.PipelineLayers.flatMap { l =>
      Seq(s"hockey.Pipeline.$l.s" -> "s", s"hockey.Pipeline.$l.jobs" -> "count",
        s"hockey.Pipeline.$l.shuffle_mb" -> "MB")
    }
    val models = Hockey.ModelKeys.flatMap { k =>
      Seq(s"hockey.Models.$k.fit_s" -> "s", s"hockey.Models.$k.jobs" -> "count",
        s"hockey.Models.$k.no_task_s" -> "s", s"hockey.Models.$k.busy_frac" -> "ratio")
    }
    val evaluation = Seq("hockey.Evaluation.evaluate_s" -> "s", "hockey.Evaluation.baselines_s" -> "s")
    val fixtures = graft.Fixtures.all.map { case (g, _) => s"fixtures.${g}_s" -> "s" } :+
      ("fixtures.scratch_mb" -> "MB")
    val ops = Gates.Families.flatMap { case (f, _) =>
      Seq(s"ops.$f.s" -> "s", s"ops.$f.jobs" -> "count", s"ops.$f.no_task_s" -> "s",
        s"ops.$f.shuffle_mb" -> "MB")
    }
    Seq("trace.run_s" -> "s", "trace.overhead_s" -> "s", "gates.warmup_s" -> "s") ++ spark ++ pipeline ++ models ++
      evaluation ++ fixtures ++ ops
  }

  def perLayer(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    PerLayer.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
  }

  /** spark.* over the root span of a traced run. */
  def sparkLayer(counters: SparkCounters, root: Tracer.Span, cores: Int,
      gcS: Double): Map[String, Double] =
    (counters.window(root.start, root.end, cores) + ("gc_s" -> gcS)).map { case (k, v) =>
      s"spark.$k" -> v
    }

  private def json(r: Result): String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val metrics = r.metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${r.failed == 0 && r.attempted > 0}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": $metrics}"""
  }
}
