package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** The scaling probe must itself keep working: corpus salting, two-point
  * timing, ratio math, and the committed-table writer (VERDICT r10 #1 —
  * "a spec asserting the probe runs and the ratios parse"). Runs a small
  * probe (sf0.001, factor 2, two cheap gates) end to end. */
class ScaleProbeSpec extends SparkSpec {

  test("probe runs end to end, ratios parse, table written") {
    val out = graft.Scratch.fresh("scaling-md").resolve("SCALING.md").toString
    val gates = Seq("q101_grouped_quantile_pruned", "q132_session_overlap")
    val results = ScaleProbe.run(spark, sf0001, out, factor = 2,
      gates = graft.GateRunner.select(gates))
    assert(results.map(_.gate) == gates)
    results.foreach { r =>
      assert(r.t1 > 0 && r.tN > 0, s"non-positive timing: $r")
      assert(r.ratio > 0 && r.ratio < ScaleProbe.FailRatio,
        s"${r.gate} ratio ${r.ratio} out of sane range at factor 2")
    }
    val md = Files.readString(Paths.get(out))
    // the committed-artifact shape: one table row per gate, parseable
    // ratio column, and the findings log that must survive regeneration
    gates.foreach { g =>
      val row = s"""\\| $g \\| [0-9.]+ \\| [0-9.]+ \\| [0-9.]+ \\| """.r
      assert(row.findFirstIn(md).nonEmpty, s"no parseable row for $g in:\n$md")
    }
    assert(md.contains("## Findings log"), "findings log lost on regeneration")
  }

  test("q149's occupancy-sized index path engages on a scaled corpus and stays mutual") {
    import org.apache.spark.sql.functions._
    // 5x sf0.001 -> 2500 vectors -> kCells = max(8, 2500/250) = 10: the
    // private adaptive index (the ScaleProbe-measured quadratic fix)
    // actually forks off the shared 8-cell path, which sbt test would
    // otherwise never execute
    import spark.implicits._
    val scaled = ScaleProbe.scaledCorpus(spark, sf0001, 5)
    assert(spark.read.parquet(s"$scaled/embeddings.parquet").count() == 2500)
    val pairs = graft.ops.AnnQueries.mutualKnnIvf(spark, scaled)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty, "adaptive-k mutual kNN found no pairs")
    // canonical orientation and no self-pairs
    assert(pairs.forall { case (a, b) => a < b })
    // determinism: a second run through the memoized index is identical
    val again = graft.ops.AnnQueries.mutualKnnIvf(spark, scaled)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(again == pairs)
  }

  test("the scaled corpus is a genuine salted union, not a verbatim copy") {
    import org.apache.spark.sql.functions._
    val scaled = ScaleProbe.scaledCorpus(spark, sf0001, 2)
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
    val doubled = spark.read.parquet(s"$scaled/documents.parquet")
    assert(doubled.count() == 2 * base.count())
    // keys disjoint per copy, all texts distinct ACROSS copies (a verbatim
    // copy would quadratically inflate LSH/IVF candidate pairs and flag
    // linear algorithms)
    assert(doubled.select("doc_id").distinct().count() == doubled.count())
    val texts = doubled.groupBy("text").count().filter(col("count") > 1)
    val baseDups = base.groupBy("text").count().filter(col("count") > 1)
    // cross-copy duplicates would at least double the intra-copy dup mass
    assert(texts.count() == 2 * baseDups.count(),
      "cross-copy texts collide — the word-salt is broken")
    // n_chars stays coherent with the salted text
    assert(doubled.filter(length(col("text")) =!= col("n_chars")).count() == 0)
    // events survive the ts bridge and carry distinct users per copy
    val ev = graft.Tables.events(spark, scaled)
    val evBase = graft.Tables.events(spark, sf0001)
    assert(ev.count() == 2 * evBase.count())
    assert(ev.select("user_id").distinct().count() ==
      2 * evBase.select("user_id").distinct().count())
  }
}
