package graft.tools

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

import graft.GateRunner

/** One-line-per-query physical-plan audit: how many scans, shuffle
  * exchanges, broadcasts, sorts, and whole-stage-codegen spans each gate
  * query plans — the at-a-glance review for "does this operator shuffle
  * more than it must?" Writes a markdown table (PLANS.md when given a
  * path, stdout otherwise).
  *
  * Usage: runMain graft.tools.PlanAudit [outFile] [--dir sfDir]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val (dir, positional) = Explain.dirArg(args)
    val outFile = positional.headOption

    val spark = graft.LocalSession.fromEnv(logLevel = "ERROR")

    // numeric qNN(N) order, not lexicographic (q100 after q99, not at q10)
    val rows = GateRunner.all.sortBy { g =>
      ("""\d+""".r.findFirstIn(g.name).map(_.toInt).getOrElse(Int.MaxValue), g.name)
    }.map { case GateRunner.Gate(name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan
        val nodes = PlanChecks.nodes(plan)
        val names = nodes.map(_.nodeName)
        Seq(name,
          names.count(_.contains("Scan")).toString,
          nodes.count(_.isInstanceOf[ShuffleExchangeExec]).toString,
          nodes.count(_.isInstanceOf[BroadcastExchangeExec]).toString,
          names.count(_.startsWith("Sort")).toString,
          names.count(_.contains("HashAggregate")).toString)
      } catch {
        case e: Throwable => Seq(name, "ERR", e.getClass.getSimpleName, "", "", "")
      }
    }

    val header = Seq("query", "scans", "shuffles", "broadcasts", "sorts",
      "hashAggs")
    val table = (Seq(header, header.map(_ => "---")) ++ rows)
      .map(_.mkString("| ", " | ", " |")).mkString("\n")
    val doc =
      s"""# Physical-plan audit (sf dir: $dir)
         |
         |Per gate query: node counts from the initial physical plan
         |(AQE may further coalesce at runtime). Review rule of thumb:
         |shuffles should match the operator's semantic needs (one per
         |repartition/groupBy/fact-fact join), dimension joins should be
         |broadcasts, and window families should share one sort. (Codegen spans
         |are applied per query stage at AQE materialization, so they are not
         |countable pre-execution.) A gate that does its work eagerly while its
         |frame is built and returns a local relation (q219's BFS census, q323's
         |k centers) shows only that relation's scan here; its jobs have already
         |run.
         |
         |$table
         |""".stripMargin
    outFile match {
      case Some(f) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(f), doc.getBytes)
        println(s"wrote $f")
      case None => println(doc)
    }
    spark.stop()
  }
}
