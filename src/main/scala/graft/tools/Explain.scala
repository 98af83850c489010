package graft.tools

import graft.{GateRunner, LocalSession}

/** Plan-audit utility: print the formatted physical plan of one or all
  * SparkEntry queries. The review checklist per query: filters appear in
  * `PushedFilters`, `ReadSchema` carries only referenced columns, dimension
  * joins are `BroadcastHashJoin`, aggregates split partial/final around one
  * exchange, and window specs share a single sort+exchange.
  *
  * Usage: runMain graft.tools.Explain [queryName ...] [--dir sfDir]
  */
object Explain {
  /** The plan tools' command line: `--dir sfDir` (default sf0.01) and the
    * remaining positional arguments. */
  private[tools] def dirArg(args: Array[String]): (String, Seq[String]) = {
    val dir = args.sliding(2).collectFirst { case Array("--dir", d) => d }
      .getOrElse("/root/testdata/sf0.01")
    val i = args.indexOf("--dir")
    (dir, if (i < 0) args.toSeq else (args.take(i) ++ args.drop(i + 2)).toSeq)
  }

  def main(args: Array[String]): Unit = {
    val (dir, names) = dirArg(args)
    val gates = if (names.nonEmpty) GateRunner.select(names) else GateRunner.all
    val spark = LocalSession.fromEnv(logLevel = "ERROR")
    gates.foreach { g =>
      println(s"\n=== ${g.name} ===")
      g.fn(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
