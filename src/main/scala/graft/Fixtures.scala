package graft

import org.apache.spark.sql.SparkSession

/** Registry of the memoized derived inputs the gate queries reuse
  * (VERDICT r8 #2): trained/persisted/upserted ANN indexes, the dedup
  * component frame, the persisted LSH index + delta checkpoint, the
  * co-purchase edge checkpoint, the bucketed fact tables, and the scale-
  * guard counts. Each builder is idempotent — its home module builds every
  * derived input through [[Derived]], once per (JVM, sf-dir) — so forcing
  * them here is safe from any entry point. QueriesSpec checks the hooks are
  * complete: after [[prebuild]], no gate builds a further `Derived` value.
  *
  * `graft.Bench` calls [[prebuild]] BEFORE its warm-up and trials: timed
  * passes then measure steady-state plan execution only, and the bench
  * artifact reports fixture cost explicitly (`fixture_secs` + per-fixture
  * breakdown) instead of burying it in whichever query ran first.
  * `graft.Verify` deliberately does NOT prebuild — correctness runs charge
  * fixture builds to their first consumer, same as before. */
object Fixtures {

  /** (name, builder) in build order — ANN's grid index feeds the upsert and
    * lifecycle builds, so it comes first. */
  val all: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "ann_indexes" -> (ops.AnnQueries.prebuildFixtures _),
    "dedup_clusters_lsh_index" -> (ops.DedupQueries.prebuildFixtures _),
    "graph_copurchase_edges" -> (ops.GraphQueries.prebuildFixtures _),
    "bucketed_fact_tables" -> (ops.SourceQueries.prebuildFixtures _),
    "streaming_drive_sources" -> (ops.EventQueries.prebuildFixtures _),
    "fragmented_docs" -> (ops.PipelineQueries.prebuildFixtures _),
    "symspell_linkage_pairs" -> (ops.PipelineQueries.prebuildLinkage _),
    "decile_grid_cuts" -> (ops.ExtendedQueries.prebuildDecileGrid _),
    "apriori_pair_lattice" -> (ops.ExtendedQueries.prebuildPairLattice _))

  /** Build everything; returns (name, seconds) per fixture group. A builder
    * failure is reported and skipped — its consumers will rebuild (and
    * surface the real error) when they run. */
  def prebuild(spark: SparkSession, dir: String): Seq[(String, Double)] =
    all.map { case (name, build) =>
      val t0 = System.nanoTime()
      try build(spark, dir) catch { case e: Throwable =>
        System.err.println(s"[fixtures] $name failed: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
}
