package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Derived, Tables}
import graft.operators.Ann

/** Gate queries for similarity search over the `embeddings` table:
  * brute-force cosine top-k (exact baseline), IVF-style cell-restricted
  * top-k (the scale path), and embedding-cosine near-dup pairs.
  *
  * Cosines are computed in double (float→double widening is exact) and
  * rounded to 6 decimals BEFORE ranking, with an id tie-break — so the
  * top-k set and ordering are deterministic across engines even though the
  * two engines' dot products can differ in the last ulp.
  */
object AnnQueries {

  def bruteForce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Ann.bruteForceTopK(emb, emb.filter($"vec_id" < 10), 10)
  }

  def ivf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Ann.ivfTopK(emb, emb.filter($"vec_id" < 10), 10, "label")
  }

  /** The trained grid-Lloyd index, MEMOIZED per input `dir` — the graph
    * gates' derived-table pattern (GraphQueries.coPurchaseEdges, VERDICT
    * r4 #3) applied to the index build: q77, q149, and q152 consume the
    * IDENTICAL index (same grid, seed `pmod(vec_id, 8)`, 2 Lloyd
    * iterations, ×2 corpus multi-assignment), so training — the seed
    * M-step plus E/M rounds over the corpus — runs ONCE per JVM per dir,
    * charged to its first consumer, exactly how a production pipeline
    * trains an IVF index once and shares it across every search job. The
    * grid-quantized corpus and the cell-assigned (nprobe=2) corpus land
    * in [[graft.Scratch]] parquet checkpoints (real file statistics,
    * vectorized scans, survives `clearCache()`, deleted at JVM exit);
    * the centroid table is O(k·dim) and rides along as collected rows,
    * rebuilt as a local relation per consumer so downstream plans
    * broadcast a literal. */
  private def gridIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    Derived("ann.gridIndex", dir)(trainIvf(spark, dir, 8, "graft_ivf_")).frames(spark)

  /** A trained IVF index: grid-quantized corpus and nprobe=2 celled corpus
    * as parquet paths, centroids as collected rows. */
  private final case class IvfIndex(grid: String, celled: String, centroids: Derived.Rows) {
    /** (grid-quantized corpus, celled corpus, centroids). */
    def frames(spark: SparkSession): (DataFrame, DataFrame, DataFrame) =
      (spark.read.parquet(grid), spark.read.parquet(celled), centroids.toDF(spark))
  }

  /** Grid-Lloyd IVF training over the whole corpus: seed `pmod(vec_id,
    * k)`, 2 iterations, ×2 corpus multi-assignment, checkpoints under a
    * fresh `prefix` scratch dir. */
  private def trainIvf(spark: SparkSession, dir: String, k: Int,
      prefix: String): IvfIndex = {
    import spark.implicits._
    val iv = Tables.embeddings(spark, dir)
      .select($"vec_id", Ann.gridQuantize($"embedding").as("embedding"))
      .withColumn("seed", pmod($"vec_id", lit(k)).cast("int"))
      .cache()
    val centroids = Ann.trainCentroidsGrid(iv, "seed", iters = 2)
    val scratch = graft.Scratch.fresh(prefix)
    val gp = scratch.resolve("grid").toString
    val cp = scratch.resolve("celled").toString
    iv.select($"vec_id", $"embedding").write.mode("overwrite").parquet(gp)
    Ann.probeCells(iv, centroids, nprobe = 2)
      .write.mode("overwrite").parquet(cp)
    iv.unpersist()
    IvfIndex(gp, cp, Derived.rows(centroids))
  }

  /** Label-free IVF: Lloyd-trained coarse quantizer on the INTEGER GRID
    * ([[Ann.gridQuantize]] / [[Ann.trainCentroidsGrid]] — every training
    * and scoring step exact integer or single-IEEE-op arithmetic), then
    * cell-restricted top-10 with nprobe=3 query probing and ×2 corpus
    * multi-assignment. The grid is what retired this gate's `no_oracle`
    * status (VERDICT r4 "next" #8): a DuckDB CTE chain replays seed →
    * M → E → M → assignment bit-exactly, so the gate is hash-exact like
    * every other query. AnnSpec additionally asserts recall@10 ≥ 0.6 vs
    * the exact q29 result (measured 0.78 at sf0.01) — the quantitative
    * cost of cell restriction stays gated too.
    *
    * Scale shape: index from the shared [[gridIndex]] checkpoint (train
    * once, search many — see its doc); the probe pass scores 10 query
    * vectors against the broadcast centroid table; the search is the
    * cell equi-join with the bounded TopK aggregate. Multi-assignment
    * (probeCells n=2 on the corpus side) is the standard recall lever
    * that trades 2× index size for boundary coverage; dedup=true
    * collapses pairs that meet in two probed cells. */
  def ivfTrained(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (grid, celled, centroids) = gridIndex(spark, dir)
    val probes = Ann.probeCells(grid.filter($"vec_id" < 10), centroids, nprobe = 3)
    Ann.ivfTopK(celled, probes, 10, "cell", dedup = true)
  }

  /** IVF RECALL@10 vs exact ground truth, AS A NUMBER (q186, VERDICT r9
    * #7): q100 gates MinHash accuracy quantitatively; this is the ANN
    * counterpart — for each probe width nprobe ∈ {1,2,3}, the trained
    * index's top-10 ([[gridIndex]]'s quantizer, q77's exact search shape)
    * is reconciled against the exact grid-cosine top-10, and the gate
    * emits INTEGER hit counts plus floor(10⁴·hits/exact) basis points —
    * the quality/latency trade-off of probe width, auditable at every sf
    * (AnnSpec additionally pins monotonicity: more probes never lose
    * recall, and np=3 matches q77's ≥0.6 floor). All ranking arithmetic
    * is the engine-exact grid rule, so the oracle replays training +
    * probing + both searches and every count hash-matches. Scale shape:
    * the exact pass is 10 broadcast queries against the corpus (linear,
    * the yardstick's contract); the IVF passes are the production
    * cell-restricted search ×3; the reconciliation joins 3×100 retrieved
    * pairs against 100 exact pairs — driver never sees data. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (grid, celled, centroids) = gridIndex(spark, dir)
    val queries = grid.filter($"vec_id" < 10)
    // cached: the exact frame feeds BOTH the hit join and the n_exact
    // count — uncached, the linear brute-force pass over the corpus
    // would execute twice per run (code review r10)
    val exact = Ann.bruteForceTopK(grid, queries, 10)
      .select($"query_id", $"cand_id").cache()
    val retrieved = (1 to 3).map { np =>
      Ann.ivfTopK(celled, Ann.probeCells(queries, centroids, np), 10, "cell",
        dedup = true)
        .select(lit(np).as("nprobe"), $"query_id", $"cand_id")
    }.reduce(_ unionByName _)
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    retrieved
      .join(exact.withColumn("hit", lit(1L)), Seq("query_id", "cand_id"), "left")
      .groupBy($"nprobe")
      .agg(count(lit(1)).as("n_retrieved"),
        sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select($"nprobe", $"n_retrieved", $"n_hits", $"n_exact",
        // n_exact ≥ 1 on any corpus with ≥ 2 grid vectors, but CLAUDE.md's
        // rule is to guard every integer DIV on both engines (ADVICE r10)
        when($"n_exact" > 0, expr("(10000 * n_hits) DIV n_exact"))
          .otherwise(0L).as("recall_bp"))
  }

  /** IVF RECALL UNDER HOT-CELL QUERY SKEW (q359, VERDICT r13 #8) — the
    * recall audit q186 runs, pointed at the index's own worst case: real
    * query traffic is not uniform over the embedding space, it clusters —
    * and it clusters exactly where the corpus does (users query about
    * popular things), i.e. in the index's DENSEST cell. There nprobe
    * pruning is most at risk: the hot cell's true neighbors are the ones
    * most likely to sit just across a Voronoi boundary in an adjacent
    * cell (the cell is dense because it covers a crowded region, so its
    * boundary carries more mass too). The query set is therefore the 10
    * lowest-id vectors whose PRIMARY (rank-1, cos-desc/cell-asc — the
    * [[Ann.probeCells]] order) assignment is the most-occupied cell, and
    * the readout is q186's: recall@10 vs the exact brute-force top-10 at
    * nprobe 1..3, in integer basis points, plus the hot cell's identity
    * and occupancy so the artifact shows WHICH worst case was measured.
    * Complements q314 (hot-cell SPLIT — the maintenance fix) with the
    * measurement that tells an operator the fix is needed.
    *
    * Scale shape is q186's unchanged: the brute-force pass is the
    * designed-linear ground-truth yardstick over broadcast queries, the
    * probed search is cell-restricted (partition pruning, AnnSpec-pinned),
    * and the hot-cell election is one tiny census + a 1-row broadcast. */
  def ivfHotCellRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (grid, celled, centroids) = gridIndex(spark, dir)
    // rank-1 assignment of every corpus vector: probeCells(nprobe=1) IS
    // the (cos desc, cell asc) argmax the oracle replays from s2
    val primary = Ann.probeCells(grid, centroids, 1)
    val hot = primary.groupBy($"cell").agg(count(lit(1)).as("n_hot"))
      .orderBy($"n_hot".desc, $"cell".asc).limit(1)
      .select($"cell".as("hot_cell"), $"n_hot")
    val queries = primary
      .join(broadcast(hot), $"cell" === $"hot_cell")
      .orderBy($"vec_id").limit(10)
      .select($"vec_id", $"embedding")
    // cached: the exact frame feeds BOTH the hit join and the n_exact
    // count (the q186 rule)
    val exact = Ann.bruteForceTopK(grid, queries, 10)
      .select($"query_id", $"cand_id").cache()
    val retrieved = (1 to 3).map { np =>
      Ann.ivfTopK(celled, Ann.probeCells(queries, centroids, np), 10, "cell",
        dedup = true)
        .select(lit(np).as("nprobe"), $"query_id", $"cand_id")
    }.reduce(_ unionByName _)
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    retrieved
      .join(exact.withColumn("hit", lit(1L)), Seq("query_id", "cand_id"), "left")
      .groupBy($"nprobe")
      .agg(count(lit(1)).as("n_retrieved"),
        sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .crossJoin(broadcast(hot))
      .select($"nprobe", $"hot_cell".cast("int").as("hot_cell"), $"n_hot",
        $"n_retrieved", $"n_hits", $"n_exact",
        when($"n_exact" > 0, expr("(10000 * n_hits) DIV n_exact"))
          .otherwise(0L).as("recall_bp"))
  }

  /** SQL-EXTENSION surface gate (q193): the `SparkSessionExtensions`
    * `injectFunction` path ([[graft.functions.GraftExtensions]]) driven
    * end to end through `spark.sql` — a SQL user calling the fused native
    * expressions by NAME (`graft_cosine`, `graft_rolling_hash`) with no
    * DataFrame API anywhere. The oracle replays both formulas (sequential
    * fold dot product; the q33 rolling-hash recurrence), so hash-equality
    * proves registration, SQL-layer argument binding, and the codegen'd
    * expressions all agree with the declarative twins. reverse(v) makes
    * the cosine non-trivial (self-cosine is identically 1). */
  def sqlExtensionFunctions(spark: SparkSession, dir: String): DataFrame = {
    // Verify/Bench sessions install the functions via the extensions conf;
    // registerSql (idempotent) covers sessions built without it (specs,
    // user notebooks) — the documented live-registry path of
    // [[graft.functions.GraftExtensions]].
    graft.functions.Native.registerSql(spark)
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings_sqlext")
    spark.sql(
      """SELECT vec_id,
        |  round(graft_cosine(CAST(embedding AS ARRAY<DOUBLE>),
        |                     reverse(CAST(embedding AS ARRAY<DOUBLE>))), 6)
        |    AS rev_cosine,
        |  graft_rolling_hash(CAST(label AS STRING)) AS label_hash
        |FROM embeddings_sqlext WHERE vec_id < 100""".stripMargin)
  }

  /** Per-k trained centroid tables for the q190 elbow, memoized like
    * [[upsertCentroids]] (key `dir#k`): same grid-Lloyd recipe as
    * [[gridIndex]] with seed `pmod(vec_id, k)`, 2 iterations. */
  private def elbowCentroidsFor(spark: SparkSession, dir: String, k: Int)
      : DataFrame =
    Derived("ann.elbowCentroids", s"$dir#$k") {
      import spark.implicits._
      val (grid, _, _) = gridIndex(spark, dir)
      val iv = grid.withColumn("seed", pmod($"vec_id", lit(k)).cast("int")).cache()
      val c = Ann.trainCentroidsGrid(iv, "seed", iters = 2)
      iv.unpersist(blocking = false)
      Derived.rows(c)
    }.toDF(spark)

  /** IVF QUANTIZER SIZING ("elbow") gate (q190) — q186's companion on the
    * other axis of the index design space: recall gated the PROBE width,
    * this gates the CELL COUNT. For k ∈ {4, 8, 16} a grid-Lloyd quantizer
    * is trained (2 iterations, seed `vec_id mod k`) and the corpus-wide
    * quantization error — Σ over vectors of ‖v − centroid(v)‖² on the
    * integer grid, an exact BIGINT — is emitted with the surviving-cell
    * census. SSE falls as k grows while per-cell candidate volume (the
    * search cost) falls too; this table is what picks k before anyone
    * builds the 100 TB index. Every step exact-integer or fixed-IEEE
    * (centroids are floor-div lattice points; distances are integer
    * squares < 2⁵³ per vector), so the oracle replays all three
    * trainings and every count/sum hash-matches. Scale shape: trainings
    * are the memoized fixture; the SSE pass is one broadcast-centroid
    * argmax + one global agg per k — no shuffle beyond the M-steps. */
  def ivfElbow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (grid, _, _) = gridIndex(spark, dir)
    Seq(4, 8, 16).map { k =>
      val cents = elbowCentroidsFor(spark, dir, k)
      val assigned = Ann.assignCells(grid, cents)
      val dist2 = aggregate(
        zip_with($"embedding".cast("array<double>"),
          $"centroid".cast("array<double>"), (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, v) => acc + v).cast("long")
      assigned.join(broadcast(cents), "cell")
        .select($"vec_id", $"cell", dist2.as("d2"))
        .agg(countDistinct($"cell").as("n_cells"),
          count(lit(1)).as("n_vecs"),
          sum($"d2").as("sse"))
        .select(lit(k).as("k_cells"), $"n_cells", $"n_vecs", $"sse")
    }.reduce(_ unionByName _)
  }

  /** PERSISTED-index IVF search — the save/load twin of [[ivfTrained]]
    * (q77) and the API a user hits first once the corpus outlives a
    * session: the same grid-Lloyd index is written with
    * [[Ann.saveIndex]] (centroid table + corpus `partitionBy("cell")`)
    * and searched back through [[Ann.searchIndex]], whose probed-cell
    * `isin` filter becomes static PARTITION PRUNING at the parquet scan —
    * at 100 TB the search touches ~nprobe/k of the corpus files, never
    * all of them (AnnSpec asserts the pruned plan; this gate proves the
    * data flowing through the pruned scan is intact). Index layout,
    * training, and ranking are exactly q77's, so the result — and the
    * DuckDB oracle — are identical: equality = lossless persistence +
    * correct pruning. */
  def ivfPersisted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (grid, celled, centroids) = gridIndex(spark, dir)
    val path = graft.Scratch.named(s"q152_${graft.Scratch.dirKey(dir)}").toString
    Ann.saveIndex(centroids, celled, path)
    Ann.searchIndex(spark, path, grid.filter($"vec_id" < 10),
      k = 10, nprobe = 3, dedup = true)
  }

  /** Centroids trained on the BASE slice only (vec_id % 5 ≠ 0), memoized
    * per dir like [[gridIndex]] — the upsert gate's frozen quantizer. */
  private def upsertCentroids(spark: SparkSession, dir: String): DataFrame =
    Derived("ann.upsertCentroids", dir) {
      import spark.implicits._
      val (grid, _, _) = gridIndex(spark, dir)
      val base = grid.filter($"vec_id" % 5 =!= 0)
        .withColumn("seed", pmod($"vec_id", lit(8)).cast("int")).cache()
      val c = Ann.trainCentroidsGrid(base, "seed", iters = 2)
      base.unpersist(blocking = false)
      Derived.rows(c)
    }.toDF(spark)

  /** INCREMENTAL index maintenance (q153) — the upsert path a growing
    * corpus needs: the coarse quantizer is trained ONCE on the base slice
    * (vec_id % 5 ≠ 0 — 80% of the corpus), persisted with
    * [[Ann.saveIndex]]; the remaining 20% arrives later and is
    * [[Ann.appendIndex]]ed — assigned to the FROZEN centroids with the
    * build's ×2 multi-assignment, appended inside the touched `cell=`
    * partition directories, NO retrain and NO rewrite of existing index
    * files. The search then probes the upserted index exactly like q152.
    * The DuckDB oracle replays the same split — train on base, assign
    * base∪delta to the frozen centroids, search — so hash-equality proves
    * the appended files carry precisely the frozen-quantizer assignment
    * (an accidental retrain, or a lost/duplicated delta row, breaks it).
    * At 100 TB the daily-delta cost is |delta| assignment + append;
    * the base index is never touched. */
  /** Builds the upserted index on disk (train-on-base save + frozen-
    * quantizer delta append — see [[ivfUpsert]]) and returns its path.
    * Overwrite-then-append per invocation: re-runs in one JVM can never
    * double-append (static partition overwrite truncates the cells dir). */
  /** Built index path per dir. MEMOIZED like [[gridIndex]] (VERDICT r7
    * perf #3): the build is deterministic and both its consumers (q153
    * search, q154 compaction input) want the same on-disk index, so one
    * JVM builds it once — a bench drive (warm-up + trials × two gates)
    * used to pay save+append from scratch EIGHT times, 89 s of pure file
    * churn at sf0.1. The gates then time what they claim to gate: q153 the
    * pruned search of an upserted index, q154 the compaction rewrite +
    * search. */
  private def upsertedIndex(spark: SparkSession, dir: String): String =
    Derived("ann.upsertedIndex", dir) {
      import spark.implicits._
      val (grid, _, _) = gridIndex(spark, dir)
      val centroids = upsertCentroids(spark, dir)
      val path = graft.Scratch.named(s"q153_${graft.Scratch.dirKey(dir)}").toString
      Ann.saveIndex(centroids,
        Ann.probeCells(grid.filter($"vec_id" % 5 =!= 0), centroids, nprobe = 2),
        path)
      Ann.appendIndex(centroids, grid.filter($"vec_id" % 5 === 0), path,
        assignProbes = 2)
      path
    }

  def ivfUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (grid, _, _) = gridIndex(spark, dir)
    Ann.searchIndex(spark, upsertedIndex(spark, dir),
      grid.filter($"vec_id" < 10), k = 10, nprobe = 3, dedup = true)
  }

  /** INDEX COMPACTION (q154) — the maintenance sibling of q153: the
    * append-built index (whose hot cells hold base + delta files) is
    * rewritten as a NEW GENERATION with one file per cell
    * ([[Ann.compactIndex]]: one cell-keyed shuffle, write-new then
    * swap-pointer, never an in-place overwrite under a concurrent
    * reader), and the search runs against the compacted generation.
    * Compaction is a pure physical rewrite, so the oracle is IDENTICAL
    * to q153's — hash-equality proves no row was lost, duplicated, or
    * re-assigned by the rewrite, and AnnSpec pins the physical claim
    * (file count per cell collapses to 1, pruning intact). */
  def ivfCompacted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (grid, _, _) = gridIndex(spark, dir)
    val gen1 = upsertedIndex(spark, dir)
    val gen2 = graft.Scratch.named(s"q154_${graft.Scratch.dirKey(dir)}").toString
    Ann.compactIndex(spark, gen1, gen2)
    Ann.searchIndex(spark, gen2, grid.filter($"vec_id" < 10),
      k = 10, nprobe = 3, dedup = true)
  }

  /** FULL index LIFECYCLE through the atomic `_CURRENT` pointer (q157,
    * VERDICT r7 #5): build gen-000001 (train-on-base save + frozen-
    * quantizer delta append — q153's exact index), PUBLISH it, compact the
    * live generation into gen-000002 via [[Ann.compactCurrent]] (which
    * re-publishes the pointer only after the rewrite is fully on disk),
    * then search through [[Ann.searchCurrent]] — the reader never names a
    * generation, only the root. The oracle is IDENTICAL to q153's:
    * hash-equality proves pointer resolution handed the reader a complete,
    * correct generation (a search that raced onto a half-written directory,
    * or resolved a stale pointer to a missing gen, breaks it). Lifecycle
    * writes are memoized per dir like [[upsertedIndex]]; the gate times
    * pointer-read + pruned search. AnnSpec pins the mid-swap contract
    * (pre-publish readers keep the old complete generation). */
  private def lifecycleRootFor(spark: SparkSession, dir: String): String =
    Derived("ann.lifecycleRoot", dir) {
      import spark.implicits._
      val (grid, _, _) = gridIndex(spark, dir)
      val centroids = upsertCentroids(spark, dir)
      val r = graft.Scratch.named(s"q157_${graft.Scratch.dirKey(dir)}").toString
      val gen1 = Ann.nextGenerationName(spark, r)
      Ann.saveIndex(centroids,
        Ann.probeCells(grid.filter($"vec_id" % 5 =!= 0), centroids, nprobe = 2),
        s"$r/$gen1")
      Ann.appendIndex(centroids, grid.filter($"vec_id" % 5 === 0), s"$r/$gen1",
        assignProbes = 2)
      Ann.publishGeneration(spark, r, gen1)
      Ann.compactCurrent(spark, r)
      r
    }

  def ivfLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (grid, _, _) = gridIndex(spark, dir)
    Ann.searchCurrent(spark, lifecycleRootFor(spark, dir),
      grid.filter($"vec_id" < 10), k = 10, nprobe = 3, dedup = true)
  }

  /** Bench fixture hook ([[graft.Fixtures]], VERDICT r8 #2): force every
    * memoized derived input of this module — trained/persisted/upserted/
    * lifecycle/random-projection/PQ/scaled-kNN indexes and the scale-guard
    * counts — to build NOW, so timed bench trials measure steady-state
    * search/append/compact only and the artifact charges fixture cost to
    * an explicit `fixture_secs` field. */
  private[graft] def prebuildFixtures(spark: SparkSession, dir: String): Unit = {
    gridIndex(spark, dir): Unit
    upsertedIndex(spark, dir): Unit
    lifecycleRootFor(spark, dir): Unit
    rpIndex(spark, dir): Unit
    pqIndexFor(spark, dir): Unit
    mutualKnnIndex(spark, dir): Unit
    Seq(4, 8, 16).foreach(k => elbowCentroidsFor(spark, dir, k): Unit)
    maxLabelCell(spark, dir): Unit
  }

  /** Cap for [[Ann.nearDupPairs]]' hot-cell sub-bucketing in the
    * same-cell pair gates (q31/q165). */
  private val HotCellCap = 10000

  /** Largest label-cell size per dir, one count job per JVM (memoized like
    * [[embeddingCount]] so the guard never re-counts inside a timed
    * bench pass). */
  private def maxLabelCell(spark: SparkSession, dir: String): Long =
    Derived("ann.maxLabelCell", dir) {
      import spark.implicits._
      Tables.embeddings(spark, dir).groupBy($"label")
        .agg(count(lit(1)).as("n")).agg(max($"n")).head().getLong(0)
    }

  /** Gate-scale guard for the same-cell pair oracles (ADVICE r8): q31 and
    * q165's DuckDB replays recompute the UNGUARDED all-same-label pairing,
    * which equals the engine output only while every label cell stays at or
    * under [[HotCellCap]] (above it, [[Ann.nearDupPairs]] silently restricts
    * pairing to sign-byte sub-buckets — correct scale behavior, but a
    * silent hash divergence at the gate). A regenerated corpus with a >10k
    * label cell now fails FAST with this diagnostic instead. */
  private def requireGateCellScale(spark: SparkSession, dir: String,
      gate: String): Unit = {
    val n = maxLabelCell(spark, dir)
    require(n <= HotCellCap,
      s"$gate: a label cell holds $n vectors > hotCellCap=$HotCellCap — " +
        "Ann.nearDupPairs would sub-bucket it and the unguarded SQL oracle " +
        "no longer replays the output; raise the cap for the gate corpus or " +
        "extend the oracle with the sign-byte sub-bucket rule")
  }

  /** Embedding near-dup pairs: same-cell (label) pairs with cosine ≥ 0.35,
    * through [[Ann.nearDupPairs]]' hot-cell guard — cells above the cap
    * pair only within a sign-byte LSH sub-bucket, so no cell can go
    * quadratic at 100 TB. The gate corpus' cells (≤ ~600 vectors at sf0.1)
    * sit far under the 10k cap, so the output here is exactly the
    * unguarded pairing and the SQL oracle still matches hash-exact —
    * [[requireGateCellScale]] asserts that precondition per dir. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    requireGateCellScale(spark, dir, "q31_embedding_near_dup")
    Ann.nearDupPairs(Tables.embeddings(spark, dir),
      threshold = 0.35, hotCellCap = HotCellCap)
  }

  /** Metadata-filtered ("hybrid") search: top-k cosine restricted to the
    * candidates passing a document-metadata predicate — the retrieval shape
    * of filtered RAG queries. The filter applies BEFORE scoring: the lang
    * predicate pushes into the documents scan, the id semi-join prunes the
    * corpus (both sides are pre-partitioned on the id key in Tables.load,
    * so the join is co-located), and only surviving vectors reach the
    * bounded TopK aggregate. At 100 TB with a selective filter this beats
    * post-filtering an unfiltered top-k both on cost and on recall (no
    * k-starvation when most neighbors fail the predicate). */
  def filteredAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val en = Tables.documents(spark, dir).filter($"lang" === "en")
      .select($"doc_id".as("vec_id"))
    Ann.bruteForceTopK(emb.join(en, Seq("vec_id"), "left_semi"),
      emb.filter($"vec_id" < 10), 10)
  }

  /** Int8-quantized top-k with per-survivor precision audit: the corpus is
    * ranked on [[Ann.quantize]]d vectors (integer dot products — exact in
    * double, so bit-identical on any engine) and the full-precision cosine
    * plus quantization error are computed ONLY for the k kept neighbors.
    * The 8×-smaller scoring input is the bandwidth lever at 100 TB; the
    * in-query `quant_err` column is the evidence the loss is tolerable. */
  def quantizedAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Ann.quantizedTopK(emb, emb.filter($"vec_id" < 10), 10)
  }

  /** kNN LABEL PROPAGATION — the weak-supervision / auto-labeling pass of
    * a training-data pipeline: each query vector takes the majority label
    * of its 10 exact nearest neighbors (q29's deterministic rank rule:
    * 6-decimal cosine, id tie-break), vote ties broken toward the smaller
    * label. The neighbor search is the bounded TopK aggregate; the label
    * lookup is an id equi-join against the (pre-partitioned) corpus; the
    * vote is a two-level hash-agg + 1-row-per-query max_by — every stage
    * keyed and bounded, nothing grows with corpus size except the scan. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val topk = Ann.bruteForceTopK(emb, emb.filter($"vec_id" < 50), 10)
    topk.join(emb.select($"vec_id".as("cand_id"), $"label"), "cand_id")
      .groupBy($"query_id", $"label").agg(count(lit(1)).as("votes"))
      .groupBy($"query_id")
      .agg(max(struct($"votes", (-$"label").as("nl"))).as("m"))
      .select($"query_id", (-$"m.nl").cast("int").as("predicted_label"),
        $"m.votes".as("votes"))
  }

  /** MUTUAL-kNN pairs: (a, b) kept iff b is in a's top-5 AND a is in b's
    * top-5 — the reciprocal-neighbor criterion that seeds density
    * clustering and high-precision near-dup blocking (one-directional
    * neighbors are noisy near cluster boundaries; mutual ones rarely
    * are). One all-corpus top-k pass builds the directed neighbor edges;
    * MUTUALITY is then a pure equi-join of the edge list with itself
    * reversed — k·n edges joined on (a,b), never a rescore. The gate's
    * exact top-k is brute force (every vector a query) — the EXACT
    * BASELINE, deliberately O(n²) and only runnable at gate scale; the
    * production path is [[mutualKnnIvf]] (q149), which feeds the
    * identical mutuality join from cell-restricted edges with no
    * corpus-sized broadcast, recall-gated against this output. */
  /** Hard row bound for the exact baseline above — 10× the sf0.1 corpus,
    * far under where O(n²) hurts, and SELF-ENFORCING: a corpus scale-up
    * that forgets to cap or disable q148 fails fast with a pointer at
    * q149 instead of inheriting the quadratic pass (VERDICT r6 #3). */
  val MutualKnnExactCap = 20000L

  /** Corpus row count backing the q148 guard, one count job per JVM per
    * dir (ADVICE r7): the guard is a pure function of the on-disk corpus,
    * but an eager count() inside the builder would otherwise run inside
    * every timed bench pass and every plan-audit build of q148. */
  private def embeddingCount(spark: SparkSession, dir: String): Long =
    Derived("ann.embeddingCount", dir)(Tables.embeddings(spark, dir).count())

  def mutualKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Ann.requireExactBaselineScale(embeddingCount(spark, dir),
      MutualKnnExactCap, "q149 mutualKnnIvf")
    // both sides of the mutuality join read the edge list; cache so the
    // all-pairs top-k pass runs once, not once per join side
    val directed = Ann.bruteForceTopK(emb, emb, 5)
      .select($"query_id".as("a"), $"cand_id".as("b"), $"cosine")
      .cache()
    directed
      .join(directed.select($"b".as("a"), $"a".as("b")), Seq("a", "b"))
      .filter($"a" < $"b")
      .select($"a".as("vec_a"), $"b".as("vec_b"), $"cosine")
  }

  /** MUTUAL-kNN over IVF-PRODUCED edges — the composition q148's doc
    * claims and this gate PROVES (VERDICT r4 #2): the directed-edge pass
    * is the cell-restricted [[Ann.ivfTopKShuffled]] (both sides shuffle
    * on the cell key — NO corpus-sized broadcast anywhere in the plan),
    * and the identical mutuality equi-join runs over those edges
    * unchanged. This is the pair generator a 100 TB near-dup blocking
    * pass would actually run: candidate edges from the trained
    * quantizer's cells (nprobe=3 probing × 2-cell corpus
    * multi-assignment — q77's exact index shape), reciprocity as an
    * edge-list self-join. The integer-grid training makes the whole
    * thing hash-exact against the DuckDB replay, and AnnSpec gates pair
    * RECALL vs the exact all-pairs q148 output (0.78 at sf0.01) — the
    * quantitative measure of what cell restriction costs. */
  /** Corpus-sized IVF index for the q149 blocking pass, memoized per dir:
    * cell count `max(8, n/250)` — FIXED TARGET OCCUPANCY, so the per-query
    * candidate budget (nprobe × 2-multi-assign × ~250) is a constant and
    * the kNN-join's total work stays LINEAR in corpus size. This is the
    * ScaleProbe-measured fix for the fixed-k quadratic (a 10× corpus on
    * the shared 8-cell [[gridIndex]] made every cell 10× heavier — ratio
    * 25 at factor 10; with occupancy-sized cells the ratio is ~linear).
    * At every shipped sf the formula lands on exactly 8 cells, so the
    * gate delegates to the SHARED index — results and oracle replays stay
    * bit-identical — and only a larger corpus forks a private index.
    * Training cost rides the fixture (at warehouse scale the quantizer
    * trains on a bounded sample — the standard IVF recipe; the search
    * path this gate times is what must scale). */
  private def mutualKnnIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val kCells = math.max(8L, embeddingCount(spark, dir) / 250L).toInt
    if (kCells == 8) gridIndex(spark, dir)
    else Derived("ann.scaledKnnIndex", dir)(
      trainIvf(spark, dir, kCells, "graft_ivf_knn_")).frames(spark)
  }

  def mutualKnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (grid, corpus, centroids) = mutualKnnIndex(spark, dir)
    val queries = Ann.probeCells(grid, centroids, nprobe = 3)
    // mutuality as ONE canonical-key hash-agg (r16): a pair is mutual iff
    // BOTH orientations appear in the directed edge list, and (query_id,
    // cand_id) rows are unique (dedup = true), so symmetrizing each edge
    // to its (min, max) key and keeping keys seen twice is the self-join
    // — one map-side-combinable aggregate over |E| rows instead of
    // shuffling both sides of a cached self-join. The carried cosine is
    // orientation-invariant BITWISE (dot and the norm product are
    // per-element commutative, same summation order over dims), so
    // min(cosine) is the value either orientation carried.
    Ann.ivfTopKShuffled(corpus, queries, 5, "cell", dedup = true)
      .select(least($"query_id", $"cand_id").as("vec_a"),
        greatest($"query_id", $"cand_id").as("vec_b"), $"cosine")
      .groupBy($"vec_a", $"vec_b")
      .agg(count(lit(1)).as("__n"), min($"cosine").as("cosine"))
      .filter($"__n" === 2)
      .select($"vec_a", $"vec_b", $"cosine")
  }

  /** Hard-negative mining gate (q163) — see [[Ann.hardNegativesTopK]]:
    * for each of the 50 query vectors, the 10 most-similar DIFFERENT-label
    * candidates. Same deterministic rank rule as q29 (6-decimal cosine,
    * id tie-break). */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Ann.hardNegativesTopK(emb, emb.filter($"vec_id" < 50), 10)
  }

  /** Prototypicality-pruning gate (q164) — see [[Ann.prototypeOutliers]]:
    * the 5 least-prototypical members of every label group, scored by
    * exact integer-grid cosine against the group's lattice centroid. */
  def protoOutliers(spark: SparkSession, dir: String): DataFrame =
    Ann.prototypeOutliers(Tables.embeddings(spark, dir), 5)

  /** SemDeDup (q165) — semantic dedup in EMBEDDING space: q31's same-cell
    * cosine-threshold pairs (hot-cell-guarded — no quadratic cell at
    * scale) become connected components via the same large-star/small-star
    * fixpoint the text-side dedup uses ([[graft.operators.Connect]]), and
    * every non-canonical member (component minimum keeps) is a PRUNE
    * decision — duplicates in meaning that share no n-gram, which
    * text-hash dedup (q25/q27) cannot see. Emits one row per document in
    * a semantic cluster with its keep/prune verdict; the oracle replays
    * pairs + reachability recursively. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    requireGateCellScale(spark, dir, "q165_semdedup")
    val pairs = Ann.nearDupPairs(Tables.embeddings(spark, dir),
      threshold = 0.35, hotCellCap = HotCellCap)
      .select($"vec_a", $"vec_b")
    graft.operators.Connect.dedupDecisions(pairs, "vec_a", "vec_b")
      .select($"node".as("vec_id"), $"component", $"is_canonical",
        (!$"is_canonical").as("prune"))
  }

  /** Persisted IVF index over the 32-dim RANDOM-PROJECTED vectors,
    * memoized per dir like [[upsertedIndex]] — q169's shortlist
    * index (VERDICT r9 #2). Same recipe as [[gridIndex]] but on
    * [[Ann.signedProjection]] output (already exact integers — ±sums of
    * 1e-3-grid coordinates, no further quantization needed): seed
    * `pmod(vec_id, 8)`, 2 Lloyd iterations, ×2 corpus multi-assignment,
    * written with [[Ann.saveIndex]] so probed cells become partition
    * pruning at the scan. */
  private def rpIndex(spark: SparkSession, dir: String): String =
    Derived("ann.rpIndex", dir) {
      import spark.implicits._
      val red = Ann.signedProjection(Tables.embeddings(spark, dir), 32)
        .withColumn("seed", pmod($"vec_id", lit(8)).cast("int"))
        .cache()
      val centroids = Ann.trainCentroidsGrid(red, "seed", iters = 2)
      val path = graft.Scratch.named(s"q169_${graft.Scratch.dirKey(dir)}").toString
      Ann.saveIndex(centroids, Ann.probeCells(red, centroids, nprobe = 2), path)
      red.unpersist(blocking = false)
      path
    }

  /** Random-projection two-stage ANN gate (q169) — the shortlist-then-
    * rescore retrieval shape: embeddings drop 64 → 32 dims through
    * [[Ann.signedProjection]]'s deterministic ±1 md5 hyperplanes, the
    * first pass ranks in halved RP space to a 100-candidate shortlist,
    * and full precision is spent re-ranking only the shortlisted pairs
    * ([[Ann.rescoreTopK]]) to the final top-10. The shortlist is
    * SUBLINEAR (VERDICT r9 #2 — it was a full linear scan of the reduced
    * corpus): it probes the persisted [[rpIndex]] through
    * [[Ann.searchIndex]], so each query batch touches ~nprobe/k of the
    * RP corpus via partition-pruned cell scans (AnnSpec pins the pruned
    * plan, the q170-style executed-plan assertion). Every stage is
    * engine-exact (integer ±sums, grid-Lloyd training, q29's rank rule),
    * so the oracle replays the WHOLE cascade — projection, training,
    * probing, cell-restricted shortlist, exact rescore. AnnSpec still
    * gates the GEOMETRY — final-output recall vs the exact q29 result —
    * so cell restriction on top of the 2× bandwidth shrink carries a
    * MEASURED accuracy cost (RP's adversarial case: synthetic
    * near-uniform cosines with tiny neighbor gaps; clustered
    * real-embedding corpora retain far more). At 100 TB the shortlist
    * pass is where the scan bandwidth goes: it is now an index probe,
    * not a corpus scan. */
  def rpAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val path = rpIndex(spark, dir)
    val q = Ann.signedProjection(emb.filter($"vec_id" < 10), 32)
    val shortlist = Ann.searchIndex(spark, path, q, k = 100, nprobe = 3,
      dedup = true)
    Ann.rescoreTopK(emb, shortlist, 10)
  }

  /** EMBEDDING-NORM QA (q177): the ingest check an embedding pipeline runs
    * before anything consumes a new batch of vectors — are they still
    * unit-norm, per label? Each vector's squared L2 norm is computed on
    * the 1e-3 integer grid ([[Ann.signedProjection]]'s snap: floor(x·1000)
    * — float→double widening is exact, one correctly-rounded IEEE multiply,
    * floor; then Σv² is a pure BIGINT sum, order-independent), so a
    * unit-norm vector lands at norm² ≈ 10⁶ and the drift flag
    * |norm² − 10⁶| > 2000 (±0.1 % in norm) is an integer predicate. One
    * scan, one label-keyed hash agg — embarrassingly parallel; the QA
    * report is O(labels). A zero-LENGTH embedding is pinned to norm² = 0
    * (the aggregate's init value; the oracle coalesces DuckDB's
    * empty-list NULL to match) — exactly the kind of corrupt row this QA
    * gate exists to surface, counted in `n_outliers`. */
  def embeddingNormQa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = transform(col("embedding").cast("array<double>"),
      x => floor(x * lit(1000.0)))
    val q = Tables.embeddings(spark, dir).select($"vec_id", $"label",
      aggregate(grid, lit(0L), (acc, v) => acc + v * v).as("norm2"))
    q.groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        min($"norm2").as("min_norm2"),
        max($"norm2").as("max_norm2"),
        sum(when(abs($"norm2" - 1000000L) > 2000L, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** INT8 QUANTIZATION RESIDUAL AUDIT (q284) — before shipping an int8
    * copy of the embedding corpus (the q108 path), measure what the
    * cast throws away: per label the element count, the sum / sum of
    * squares / max of the quantization residual in exact thousandths
    * (`floor((127x − floor(127x))·1000)` — every step a correctly
    * rounded IEEE op followed by a floor, so both engines produce the
    * identical integer; residuals then sum as BIGINTs in any order).
    * One explode + one hash-agg; nothing vector-sized leaves the
    * executors. */
  def quantResidualAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val xs = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label",
        explode($"embedding".cast("array<double>")).as("x"))
      .withColumn("e",
        floor(($"x" * lit(127.0) - floor($"x" * lit(127.0))) * lit(1000.0))
          .cast("long"))
    xs.groupBy($"label")
      .agg(countDistinct($"vec_id").as("n_vecs"),
        count(lit(1)).as("n_elems"),
        sum($"e").as("sum_e"),
        sum($"e" * $"e").as("sum_e2"),
        max($"e").as("max_e"))
  }

  private val PqM = 4
  private val PqSubDim = 16

  /** PQ index fixture per (JVM, dir): 4 × 16-d subspace codebooks (k=8,
    * the integer-grid Lloyd of [[gridIndex]] run per subspace) and the
    * corpus encoded as 4 one-byte codes per vector. Codebooks collect to
    * rows (O(m·k·subdim)) and rebuild as local relations so every
    * consumer broadcasts a literal; codes persist as parquet. */
  private def pqIndexFor(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (codesPath, books) =
      Derived("ann.pqIndex", dir) {
        import spark.implicits._
        val base = Tables.embeddings(spark, dir)
          .select($"vec_id", Ann.gridQuantize($"embedding").as("g")).cache()
        val parts = (0 until PqM).map { s =>
          val sub = base.select($"vec_id",
            slice($"g", s * PqSubDim + 1, PqSubDim).as("embedding"),
            pmod($"vec_id", lit(16)).cast("int").as("seed"))
          val book = Ann.trainCentroidsGrid(sub, "seed", iters = 2)
          val codes = Ann.assignCells(sub, book)
            .select($"vec_id", lit(s).as("sub"), $"cell")
          val bookD = book.select(lit(s).as("sub"), $"cell",
            posexplode($"centroid").as(Seq("sdim", "cx")))
          (codes, bookD)
        }
        val scratch = graft.Scratch.named(s"q234_${graft.Scratch.dirKey(dir)}")
        val cp = scratch.resolve("pq_codes").toString
        parts.map(_._1).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(cp)
        val books = Derived.rows(parts.map(_._2).reduce(_ unionByName _))
        base.unpersist()
        (cp, books)
      }
    (spark.read.parquet(codesPath), books.toDF(spark))
  }

  /** PRODUCT-QUANTIZATION ANN with exact re-rank (q234) — the
    * memory-bound half of a production vector index (IVF partitions the
    * corpus, PQ compresses it): each 64-d grid vector is stored as FOUR
    * small codes (one per 16-d subspace, 16 codewords each, codebooks
    * from the same engine-exact integer Lloyd as q77), and the first
    * search pass scans CODES, not vectors — asymmetric distance
    * computation builds a per-query lookup table (for each subspace and
    * codeword, the exact-BIGINT squared L2 between the query's subvector
    * and the codeword) and a candidate's approximate distance is four
    * LUT adds. The 50-deep ADC shortlist is then RE-RANKED exactly,
    * fetching only those 50 full vectors per query — the two-stage
    * compress-then-verify shape every deployed PQ system uses. At 100 TB
    * the first pass reads bytes-per-vector instead of the full vector,
    * the LUT join broadcasts m·k rows, and the exact fetch is 50 rows
    * per query. L2² decomposes additively across subspaces (why PQ uses
    * it; cosine does not). The gate emits per-query recall@10 against
    * the exact-BIGINT full-vector top-10 (floor basis points,
    * zero-guarded) — the oracle replays all four Lloyd trainings, the
    * encoding, both passes, and the reconciliation, so a wrong code, a
    * drifted LUT, or a broken tie-break shifts a count. */
  def pqAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (codes, books) = pqIndexFor(spark, dir)
    val base = Tables.embeddings(spark, dir)
      .select($"vec_id", Ann.gridQuantize($"embedding").as("g"))
    val qd = base.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), posexplode($"g").as(Seq("dim0", "qx")))
      .select($"query_id", ($"dim0" / lit(PqSubDim)).cast("int").as("sub"),
        pmod($"dim0", lit(PqSubDim)).as("sdim"), $"qx".cast("long").as("qx"))
    val lut = qd.join(broadcast(books), Seq("sub", "sdim"))
      .select($"query_id", $"sub", $"cell",
        (($"qx" - $"cx".cast("long")) * ($"qx" - $"cx".cast("long"))).as("d2"))
      .groupBy($"query_id", $"sub", $"cell")
      .agg(sum($"d2").as("d2"))
    val shortlist = codes.join(broadcast(lut), Seq("sub", "cell"))
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id")
      .agg(sum($"d2").as("adist"))
      .select($"query_id", $"vec_id".as("cand_id"),
        (-$"adist").cast("double").as("neg"))
      .groupBy($"query_id")
      .agg(graft.functions.TopK.scoredTopK($"neg", $"cand_id", 50).as("top"))
      .select($"query_id", explode($"top.cand_id").as("cand_id"))
    // exact re-rank of the 50-deep ADC shortlist: fetch ONLY the
    // shortlisted vectors (50/query — the candidate fetch a production
    // searcher pays), exact-BIGINT full-vector L2², keep 10
    val qvec = base.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"g".as("qg"))
    val sqdist = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) =>
        (x.cast("long") - y.cast("long")) * (x.cast("long") - y.cast("long"))),
        lit(0L), (acc, v) => acc + v)
    val approx = shortlist
      .join(base.select($"vec_id".as("cand_id"), $"g".as("cg")), Seq("cand_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .select($"query_id", $"cand_id",
        (-sqdist($"qg", $"cg")).cast("double").as("neg"))
      .groupBy($"query_id")
      .agg(graft.functions.TopK.scoredTopK($"neg", $"cand_id", 10).as("top"))
      .select($"query_id", explode($"top.cand_id").as("cand_id"))
    val qfull = base.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), posexplode($"g").as(Seq("dim0", "qx")))
    val exact = base
      .select($"vec_id".as("cand_id"), posexplode($"g").as(Seq("dim0", "x")))
      .join(broadcast(qfull), Seq("dim0"))
      .filter($"cand_id" =!= $"query_id")
      .groupBy($"query_id", $"cand_id")
      .agg(sum(($"qx".cast("long") - $"x".cast("long")) *
        ($"qx".cast("long") - $"x".cast("long"))).as("sse"))
      .select($"query_id", $"cand_id", (-$"sse").cast("double").as("neg"))
      .groupBy($"query_id")
      .agg(graft.functions.TopK.scoredTopK($"neg", $"cand_id", 10).as("top"))
      .select($"query_id", explode($"top.cand_id").as("cand_id"))
    val nex = exact.groupBy($"query_id").agg(count(lit(1)).as("n_exact"))
    val hits = approx.join(exact, Seq("query_id", "cand_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    nex.join(hits, Seq("query_id"), "left")
      .select($"query_id", $"n_exact",
        coalesce($"n_hits", lit(0L)).as("n_hits"))
      .withColumn("recall_bp",
        when($"n_exact" > 0, expr("(10000 * n_hits) div n_exact"))
          .otherwise(0L))
  }

  /** GREEDY k-CENTER CORESET (q323) — Gonzalez's farthest-point
    * selection, the classic diverse-subset primitive of embedding-space
    * curation (pick k exemplars so every vector is within radius r of
    * one; the greedy picks are a 2-approximation of the optimal cover).
    * Seed = the min vec_id; each round adds the vector FARTHEST from the
    * chosen set (squared L2, ties to the smallest id) and reports the
    * covering radius with the set so far.
    *
    * Exactness: vectors ride the [[graft.operators.Ann.gridQuantize]]
    * grid (floor(x·10⁶) — a fixed IEEE op sequence), cast to BIGINT, so
    * every distance is an exact integer (≤ 64·(4·10⁵)² ≪ 2⁶³) and both
    * engines replay the identical greedy trajectory — float k-center is
    * never oracle-checkable (sum order).
    *
    * Scale shape: k passes over the corpus, each one scan computing
    * min-distance to ≤ k BROADCAST-LITERAL centers + a single agg (max
    * radius, arg-max row) — the canonical driver-coordinated iteration
    * with O(k) driver state (the same documented-O(k)-collect contract
    * as the Lloyd centroids). No joins, no shuffles beyond the agg. */
  def kcenterCoreset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 4
    val q = Tables.embeddings(spark, dir)
      .select($"vec_id",
        transform($"embedding".cast("array<double>"),
          x => floor(x * lit(1000000.0)).cast("long")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def d2To(center: Seq[Long]) =
      aggregate(zip_with($"v", typedlit(center), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, e) => acc + e)
    val seed = q.orderBy($"vec_id".asc).limit(1).select($"vec_id", $"v").head()
    var centers = Vector((seed.getLong(0), seed.getSeq[Long](1)))
    val rows = Vector.newBuilder[(Int, Long, Long)]
    (1 to k).foreach { round =>
      val md = q.select($"vec_id", $"v",
        centers.map(c => d2To(c._2)).reduce(least(_, _)).as("md"))
      // one agg: covering radius + farthest row (ties to min vec_id via
      // the negated-id struct field; vec_id is unique so the array field
      // is never compared)
      val r = md.agg(max($"md").as("radius"),
        max(struct($"md", (-$"vec_id").as("ni"), $"v")).as("far")).head()
      rows += ((round, centers(round - 1)._1, r.getLong(0)))
      if (round < k) {
        val far = r.getStruct(1)
        centers :+= ((-far.getLong(1), far.getSeq[Long](2)))
      }
    }
    q.unpersist()
    spark.createDataFrame(rows.result())
      .toDF("round", "center_id", "radius_sq")
  }

  /** PER-SOURCE EMBEDDING CENTROID DRIFT (q338) — the embedding-space
    * twin of q175's token drift and q292's distribution drift: does a
    * source's embedding distribution sit where the corpus does, or has a
    * pipeline change (new encoder revision, a crawler picking up a new
    * site template) moved it? Per source: squared L2 between the source
    * centroid and the GLOBAL centroid, plus the worst single-dimension
    * deviation — the triage signal for "which source, which dimension".
    *
    * Exactness: vectors ride the q323 grid (floor(x·10⁶) → BIGINT);
    * per-dim sums are exact integers; centroids are FLOOR-DIV fixed
    * point with a +2·10⁶ offset so every dividend is positive (values
    * are bounded in (−2, 2); Spark's `div` truncates and DuckDB's `//`
    * floors — identical only on non-negative dividends, the q324 rule).
    * The global centroid derives from the per-source sums, so both
    * engines fold the same integers in any order.
    *
    * Scale shape: one equi-join (embeddings ↔ documents on the shared id
    * space), a 64× posexplode, and two keyed hash-aggs — the per-dim
    * frame is (sources × 64) rows, metadata-sized forever. */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.documents(spark, dir)
      .select($"doc_id".as("vec_id"), $"source")
    val iv = Tables.embeddings(spark, dir)
      .select($"vec_id", transform($"embedding".cast("array<double>"),
        x => floor(x * lit(1000000.0)).cast("long")).as("v"))
      .join(src, "vec_id")
    val dims = iv.select($"source", posexplode($"v")).toDF("source", "d", "x")
    val perSD = dims.groupBy($"source", $"d")
      .agg(sum($"x").as("s_sd"), count(lit(1)).as("n_s"))
    val gD = perSD.groupBy($"d")
      .agg(sum($"s_sd").as("g_sum"), sum($"n_s").as("n_tot"))
    perSD.join(broadcast(gD), "d")
      .select($"source", $"n_s",
        (expr("(s_sd + 2000000L * n_s) div n_s") - 2000000L).as("c_sd"),
        (expr("(g_sum + 2000000L * n_tot) div n_tot") - 2000000L).as("g_d"))
      .groupBy($"source")
      .agg(max($"n_s").as("n_vecs"),
        sum(($"c_sd" - $"g_d") * ($"c_sd" - $"g_d")).as("drift_sq"),
        max(abs($"c_sd" - $"g_d")).as("max_dim_dev"))
  }

  /** RECIPROCAL-RANK-FUSION HYBRID RETRIEVAL (q328) — the modern RAG
    * retrieval stack in one gate: a LEXICAL ranking (shared distinct
    * tokens with the query document) and a VECTOR ranking (integer-grid
    * inner product against the query embedding — vec_id and doc_id share
    * the corpus id space) are each cut to a bounded top-50 by the
    * [[graft.functions.TopK]] aggregate, then fused per candidate with
    * RRF: Σ 10⁶ div (60 + rank) over the lists the candidate appears in
    * (Cormack's k=60, floor fixed point — never a float reciprocal).
    * Top-10 fused per query, rank-pinned (rrf DESC, doc_id ASC).
    *
    * Scale shape: the lexical leg is one token-keyed join against the
    * BROADCAST query token set + a grouped count; the vector leg is one
    * corpus scan against broadcast query vectors; both rankings use the
    * bounded-heap top-k aggregate (k·groups·partitions exchanged rows —
    * never a corpus-wide sort, the q108 rule), and the fusion joins two
    * ≤ 50·|queries|-row frames. */
  def rrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val K = 50
    val nq = 5
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", explode(graft.functions.TextFunctions.tokens($"text"))
        .as("tok")).distinct()
    val qToks = toks.filter($"doc_id" < nq)
      .select($"doc_id".as("query_id"), $"tok")
    val lexTop = toks.join(broadcast(qToks), Seq("tok"))
      .filter($"doc_id" =!= $"query_id")
      .groupBy($"query_id", $"doc_id").agg(count(lit(1)).as("overlap"))
      .groupBy($"query_id")
      .agg(graft.functions.TopK.scoredTopK(
        $"overlap".cast("double"), $"doc_id", K).as("top"))
      .select($"query_id", posexplode($"top").as(Seq("pos", "s")))
      .select($"query_id", $"s.cand_id".as("doc_id"),
        ($"pos" + 1).cast("long").as("rank_lex"))
    val grid = Tables.embeddings(spark, dir)
      .select($"vec_id", Ann.gridQuantize($"embedding").as("v"))
    val qv = grid.filter($"vec_id" < nq)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val vecTop = grid.join(broadcast(qv), $"vec_id" =!= $"query_id")
      // integral-double grid products: exact, order-independent sums
      .select($"query_id", $"vec_id",
        aggregate(zip_with($"v", $"qv", (x, y) => x * y),
          lit(0.0), (a, e) => a + e).as("dot"))
      .groupBy($"query_id")
      .agg(graft.functions.TopK.scoredTopK($"dot", $"vec_id", K).as("top"))
      .select($"query_id", posexplode($"top").as(Seq("pos", "s")))
      .select($"query_id", $"s.cand_id".as("doc_id"),
        ($"pos" + 1).cast("long").as("rank_vec"))
    val fused = lexTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
      .select($"query_id", $"doc_id",
        coalesce($"rank_lex", lit(0L)).as("rank_lex"),
        coalesce($"rank_vec", lit(0L)).as("rank_vec"),
        (coalesce(expr("1000000 div (60 + rank_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rank_vec)"), lit(0L))).as("rrf_fp"))
    fused
      .withColumn("rk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"rrf_fp".desc, $"doc_id".asc)))
      .filter($"rk" <= 10)
      .select($"query_id", $"rk".cast("int").as("rk"), $"doc_id",
        $"rank_lex", $"rank_vec", $"rrf_fp")
  }

  /** GRID-DENSITY CLUSTERING (q354) — DBSCAN's grid-cell approximation
    * (the scale-safe member of the density family): embeddings project to
    * their first two grid dimensions, points bucket into 0.25-unit cells
    * (integer floor-div with the +2·10⁶ offset, the q338 non-negative
    * rule), cells holding ≥ 8 points are CORE, and clusters are connected
    * components of 8-adjacent core cells ([[graft.operators.Connect]] —
    * the component label is the min cell id, isolated core cells are
    * singleton clusters via the left join). Why this survives 100 TB
    * where point-wise DBSCAN dies: points only ever hash-aggregate into
    * cells, and the CELL graph is bounded by grid resolution (≤ 16×16
    * here) no matter the row count — the ε-neighborhood join never
    * touches point pairs. Output: one census row (core cells, clusters,
    * clustered vs noise points, largest cluster). */
  def gridDensityClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The +2·10⁶ offset and the cid = cx·1000+cy packing both assume the
    // quantized coords sit in [-2·10⁶, 2·10⁶] (embeddings in [-2, 2]):
    // below -2·10⁶ the offset dividend goes negative and Spark's
    // truncating `div` silently ALIASES into cell 0 (vs DuckDB's
    // flooring `//`), and a cy outside [0, 998] would wrap into a
    // neighboring cx's id range. So the guard raise_error-aborts the
    // whole query if a corpus regeneration ever leaves [-2, 2] — loud
    // failure, never a mislabeled cluster. (With cy ≤ 998 asserted, the
    // boundary neighbor wrap (cx,0)+dy=-1 → (cx-1)·1000+999 can never
    // collide with a REAL cell either, since no real cell has cy = 999.)
    val pts = Tables.embeddings(spark, dir)
      .select(Ann.gridQuantize($"embedding").as("g"))
      .select(element_at($"g", 1).cast("long").as("x"),
        element_at($"g", 2).cast("long").as("y"))
      .select(
        when($"x".between(-2000000L, 2000000L) &&
            $"y".between(-2000000L, 2000000L),
          expr("(x + 2000000) div 250000"))
          .otherwise(raise_error(concat(
            lit("q354: quantized embedding coord outside [-2e6, 2e6]: ("),
            $"x".cast("string"), lit(","), $"y".cast("string"), lit(")"))))
          .as("cx"),
        expr("(y + 2000000) div 250000").as("cy"))
    val cells = pts.groupBy($"cx", $"cy").agg(count(lit(1)).as("npts"))
      .localCheckpoint() // feeds core/noise splits and the census
    val core = cells.filter($"npts" >= 8L)
      .withColumn("cid", $"cx" * 1000L + $"cy")
    val deltas = for (dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0)
      yield (dx, dy)
    val nbrs = core.select($"cid", explode(array(deltas.map { case (dx, dy) =>
        (($"cx" + dx) * 1000L + ($"cy" + dy))
      }: _*)).as("ncid"))
    val edges = nbrs
      .join(core.select($"cid".as("ncid")), Seq("ncid"), "left_semi")
      .filter($"cid" < $"ncid")
      .select($"cid".as("a"), $"ncid".as("b"))
    val comp = graft.operators.Connect.components(edges, "a", "b")
    val labeled = core
      .join(comp.select($"node".as("cid"), $"component"), Seq("cid"), "left")
      .select($"cid", $"npts", coalesce($"component", $"cid").as("cluster"))
    val perCluster = labeled.groupBy($"cluster")
      .agg(count(lit(1)).as("n_cells"), sum($"npts").as("n_points"))
    val noise = cells.filter($"npts" < 8L)
      .agg(coalesce(sum($"npts"), lit(0L)).as("n_noise_points"))
    perCluster
      .agg(count(lit(1)).as("n_clusters"),
        sum($"n_cells").as("n_core_cells"),
        sum($"n_points").as("n_clustered_points"),
        max($"n_points").as("largest_cluster_points"))
      .crossJoin(broadcast(noise))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q354_grid_density_clusters" -> (gridDensityClusters _),
    "q359_ivf_hotcell_recall" -> (ivfHotCellRecall _),
    "q328_rrf_hybrid" -> (rrfHybrid _),
    "q338_centroid_drift" -> (centroidDrift _),
    "q323_kcenter_coreset" -> (kcenterCoreset _),
    "q234_pq_ann" -> (pqAnn _),
    "q177_embedding_norm_qa" -> (embeddingNormQa _),
    "q284_quant_residual_audit" -> (quantResidualAudit _),
    "q169_random_projection_ann" -> (rpAnn _),
    "q165_semdedup" -> (semDedup _),
    "q163_hard_negatives" -> (hardNegatives _),
    "q164_prototype_outliers" -> (protoOutliers _),
    "q149_mutual_knn_ivf" -> (mutualKnnIvf _),
    "q148_mutual_knn" -> (mutualKnn _),
    "q142_knn_classify" -> (knnClassify _),
    "q108_quantized_ann" -> (quantizedAnn _),
    "q97_filtered_ann" -> (filteredAnn _),
    "q29_ann_bruteforce" -> (bruteForce _),
    "q30_ann_ivf" -> (ivf _),
    "q31_embedding_near_dup" -> (embeddingNearDup _),
    "q77_ann_ivf_trained" -> (ivfTrained _),
    "q314_ivf_cell_split" -> (ivfCellSplit _),
    "q186_ann_ivf_recall" -> (ivfRecall _),
    "q190_ann_ivf_elbow" -> (ivfElbow _),
    "q193_sql_extension_funcs" -> (sqlExtensionFunctions _),
    "q152_ann_ivf_persisted" -> (ivfPersisted _),
    "q153_ann_index_upsert" -> (ivfUpsert _),
    "q154_ann_index_compact" -> (ivfCompacted _),
    "q157_ann_index_lifecycle" -> (ivfLifecycle _))

  /** Cosine in DuckDB, mirroring Ann.cosine's formula dot/(sqrt·sqrt). */
  private def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** DuckDB floor-div of a per-group integral sum — mirrors
    * Ann.gridCellCentroids' `(s − pmod(s, n)) / n` (Spark `div` truncates,
    * DuckDB `//` floors; this formulation is floor in both). */
  private def floorDivSql(s: String, n: String): String =
    s"CAST(($s - (($s % $n) + $n) % $n) // $n AS DOUBLE)"

  /** IVF HOT-CELL SPLIT (q314) — the index-maintenance op the lifecycle
    * gates (upsert q153, compact q154) still lacked: after enough
    * appends, a cell outgrows its neighbors and every probe that touches
    * it scans too much; the fix is a LOCAL 2-means split of just the hot
    * cells, leaving cold cells untouched (FAISS's classic rebalance).
    *
    * The quantizer here is deliberately degenerate — seed cell
    * `least(vec_id % 8, 3)` gives three 1/8-occupancy cells and one
    * 5/8-occupancy hot cell — so the hotness rule (occupancy × ncells >
    * 2 × total, integer cross-multiplication, never a mean ratio) has
    * something real to fire on. Each hot cell splits by one E/M round on
    * the 1e-6 integer lattice: sub-seed `vec_id % 2`, per-(cell, sub)
    * floor-mean centroids ([[Ann.gridCellCentroids]]), then every row of
    * the hot cell reassigns to the nearer CHILD of its OWN parent
    * (cosine, lower-child tie-break) — the restriction is the point: a
    * split never moves a vector across parents, so all untouched cells'
    * postings stay valid. The census reports, per final cell, its
    * occupancy and the floor-mean of lattice dim 1 — the oracle replays
    * seed → hotness → sub-M → restricted-E → census, so a vector landing
    * in the wrong child (or a cold cell being touched) breaks the hash.
    *
    * Scale: hotness is one tiny census; the split work is proportional to
    * the HOT cells only (one keyed M-step shuffle + a broadcast-children
    * E-step scan), exactly how a 100 TB index is rebalanced in place. */
  def ivfCellSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.embeddings(spark, dir)
      .select($"vec_id", Ann.gridQuantize($"embedding").as("v"))
      .withColumn("cell", least(pmod($"vec_id", lit(8L)), lit(3L)))
    val occ = g.groupBy($"cell").agg(count(lit(1)).as("n"))
    val tot = occ.agg(sum($"n").as("total"), count(lit(1)).as("ncells"))
    val hot = occ.crossJoin(broadcast(tot))
      .select($"cell", ($"n" * $"ncells" > lit(2) * $"total").as("is_hot"))
    val withHot = g.join(broadcast(hot), "cell")
    val hotRows = withHot.filter($"is_hot")
      .withColumn("cell2", $"cell" * 2 + pmod($"vec_id", lit(2L)))
    val subCents = Ann.gridCellCentroids(
      hotRows.select($"cell2".as("cell"), $"vec_id", $"v"), "cell", "v")
      .select($"cell".as("cell2"), $"centroid")
    val reassigned = hotRows.select($"vec_id", $"v", $"cell")
      .join(broadcast(subCents.withColumn("parent", expr("cell2 div 2"))),
        $"cell" === $"parent")
      .select($"vec_id",
        struct(Ann.cosineFast($"v", $"centroid").as("cos"),
          (-$"cell2").as("neg")).as("sc"), $"cell2")
      .groupBy($"vec_id")
      .agg(max_by($"cell2", $"sc").as("new_cell2"))
    val fin = withHot.join(reassigned, Seq("vec_id"), "left")
      .select($"cell".as("parent"),
        coalesce(pmod($"new_cell2", lit(2L)), lit(-1L)).as("sub"),
        element_at($"v", 1).cast("long").as("x0"))
    val s = sum($"x0")
    val n = count(lit(1))
    fin.groupBy($"parent", $"sub")
      .agg(n.as("n_vectors"),
        (((s - pmod(s, n)) / n)).cast("long").as("c0"))
  }

  /** SQL replay of the integer-grid Lloyd index build (q77/q149 — see
    * [[Ann.gridQuantize]] for why every step is engine-exact): grid
    * vectors → seed cells (vec_id mod 8) → M-step → E-step → M-step →
    * final per-vector cell scores `s2`. Consumers rank s2 into single or
    * multi assignments. `ivd` explodes dims 1..64 via generate_series
    * (embeddings are 64-d; DuckDB lacks WITH ORDINALITY). */
  private def gridLloydSqlFor(trainPred: String): String = {
    val mStep = (src: String) =>
      s"""SELECT cell, dim, ${floorDivSql("sum(CAST(x AS BIGINT))", "count(*)")} AS cx
         |  FROM $src GROUP BY cell, dim""".stripMargin
    s"""iv AS (
       |  SELECT vec_id, vec_id % 8 AS seed,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> floor(x * 1000000.0)) AS v
       |  FROM embeddings
       |), ivd AS (
       |  SELECT vec_id, seed, v[dim] AS x, dim
       |  FROM iv, (SELECT unnest(generate_series(1, 64)) AS dim)
       |), tr AS (
       |  SELECT * FROM ivd WHERE $trainPred
       |), c0 AS (
       |  ${mStep("(SELECT seed AS cell, dim, x FROM tr)")}
       |), s1 AS (
       |  SELECT i.vec_id, c.cell,
       |    sum(i.x * c.cx) / (sqrt(sum(i.x * i.x)) * sqrt(sum(c.cx * c.cx))) AS cos
       |  FROM tr i JOIN c0 c ON i.dim = c.dim GROUP BY i.vec_id, c.cell
       |), a1 AS (
       |  SELECT vec_id, cell FROM s1
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cell ASC) = 1
       |), c1 AS (
       |  ${mStep("(SELECT a1.cell, i.dim, i.x FROM tr i JOIN a1 USING (vec_id))")}
       |), s2 AS (
       |  SELECT i.vec_id, c.cell,
       |    sum(i.x * c.cx) / (sqrt(sum(i.x * i.x)) * sqrt(sum(c.cx * c.cx))) AS cos
       |  FROM ivd i JOIN c1 c ON i.dim = c.dim GROUP BY i.vec_id, c.cell
       |), a2 AS (
       |  SELECT vec_id, cell FROM s2
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cell ASC) <= 2
       |)""".stripMargin
  }

  /** Per-k Lloyd CTE block for the q190 elbow replay (suffix `_k` keeps
    * three trainings in one statement): seed `vec_id % k` → M → E → M →
    * single assignment → exact-integer SSE census. Shares `ivd`. */
  private def lloydElbowCtes(k: Int): String = {
    val mStep = (src: String) =>
      s"""SELECT cell, dim, ${floorDivSql("sum(CAST(x AS BIGINT))", "count(*)")} AS cx
         |  FROM $src GROUP BY cell, dim""".stripMargin
    s"""c0_$k AS (
       |  ${mStep(s"(SELECT vec_id % $k AS cell, dim, x FROM ivd)")}
       |), s1_$k AS (
       |  SELECT i.vec_id, c.cell,
       |    sum(i.x * c.cx) / (sqrt(sum(i.x * i.x)) * sqrt(sum(c.cx * c.cx))) AS cos
       |  FROM ivd i JOIN c0_$k c ON i.dim = c.dim GROUP BY i.vec_id, c.cell
       |), a1_$k AS (
       |  SELECT vec_id, cell FROM s1_$k
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cell ASC) = 1
       |), c1_$k AS (
       |  ${mStep(s"(SELECT a.cell, i.dim, i.x FROM ivd i JOIN a1_$k a USING (vec_id))")}
       |), s2_$k AS (
       |  SELECT i.vec_id, c.cell,
       |    sum(i.x * c.cx) / (sqrt(sum(i.x * i.x)) * sqrt(sum(c.cx * c.cx))) AS cos
       |  FROM ivd i JOIN c1_$k c ON i.dim = c.dim GROUP BY i.vec_id, c.cell
       |), a_$k AS (
       |  SELECT vec_id, cell FROM s2_$k
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cell ASC) = 1
       |), sse_$k AS (
       |  SELECT $k AS k_cells,
       |    count(DISTINCT a.cell) AS n_cells,
       |    count(DISTINCT a.vec_id) AS n_vecs,
       |    sum(CAST((i.x - c.cx) * (i.x - c.cx) AS BIGINT)) AS sse
       |  FROM a_$k a JOIN ivd i USING (vec_id)
       |  JOIN c1_$k c ON c.cell = a.cell AND c.dim = i.dim
       |)""".stripMargin
  }

  /** Per-subspace CTE block for the q234 PQ replay: slice global dims
    * (off, off+16] to local `sdim`, run the same M-E-M grid Lloyd as
    * [[gridLloydSqlFor]], encode every vector (code_s), and build the
    * per-query exact-BIGINT L2² lookup table (lut_s) plus the decoded
    * candidate distances (ad_s). All products of grid ints stay < 2⁵³,
    * so every double is exact and summation order is irrelevant. */
  private def pqSubCtes(s: Int): String = {
    val off = s * PqSubDim
    val mStep = (src: String) =>
      s"""SELECT cell, sdim, ${floorDivSql("sum(CAST(x AS BIGINT))", "count(*)")} AS cx
         |  FROM $src GROUP BY cell, sdim""".stripMargin
    s"""sub_$s AS (
       |  SELECT vec_id, vec_id % 16 AS seed, dim - $off AS sdim, x
       |  FROM ivd WHERE dim > $off AND dim <= ${off + PqSubDim}
       |), c0_$s AS (
       |  ${mStep(s"(SELECT seed AS cell, sdim, x FROM sub_$s)")}
       |), s1_$s AS (
       |  SELECT i.vec_id, c.cell,
       |    sum(i.x * c.cx) / (sqrt(sum(i.x * i.x)) * sqrt(sum(c.cx * c.cx))) AS cos
       |  FROM sub_$s i JOIN c0_$s c ON i.sdim = c.sdim GROUP BY i.vec_id, c.cell
       |), a1_$s AS (
       |  SELECT vec_id, cell FROM s1_$s
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cell ASC) = 1
       |), c1_$s AS (
       |  ${mStep(s"(SELECT a.cell, i.sdim, i.x FROM sub_$s i JOIN a1_$s a USING (vec_id))")}
       |), s2_$s AS (
       |  SELECT i.vec_id, c.cell,
       |    sum(i.x * c.cx) / (sqrt(sum(i.x * i.x)) * sqrt(sum(c.cx * c.cx))) AS cos
       |  FROM sub_$s i JOIN c1_$s c ON i.sdim = c.sdim GROUP BY i.vec_id, c.cell
       |), code_$s AS (
       |  SELECT vec_id, cell FROM s2_$s
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cell ASC) = 1
       |), lut_$s AS (
       |  SELECT i.vec_id AS query_id, c.cell,
       |    sum(CAST((i.x - c.cx) * (i.x - c.cx) AS BIGINT)) AS d2
       |  FROM sub_$s i JOIN c1_$s c ON i.sdim = c.sdim
       |  WHERE i.vec_id < 10 GROUP BY i.vec_id, c.cell
       |), ad_$s AS (
       |  SELECT l.query_id, k.vec_id AS cand_id, l.d2
       |  FROM code_$s k JOIN lut_$s l ON k.cell = l.cell
       |)""".stripMargin
  }

  private lazy val pqAnnSql: String = {
    val subs = (0 until PqM).map(pqSubCtes).mkString(",\n")
    val adUnion = (0 until PqM).map(s => s"SELECT * FROM ad_$s")
      .mkString(" UNION ALL ")
    s"""WITH iv AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> floor(x * 1000000.0)) AS v
       |  FROM embeddings
       |), ivd AS (
       |  SELECT vec_id, v[dim] AS x, dim
       |  FROM iv, (SELECT unnest(generate_series(1, 64)) AS dim)
       |),
       |$subs,
       |ad AS ($adUnion),
       |adist AS (
       |  SELECT query_id, cand_id, sum(d2) AS adist FROM ad
       |  WHERE cand_id <> query_id GROUP BY query_id, cand_id
       |), short AS (
       |  SELECT query_id, cand_id FROM adist
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, cand_id ASC) <= 50
       |), ex AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    sum(CAST((q.x - c.x) * (q.x - c.x) AS BIGINT)) AS sse
       |  FROM ivd q JOIN ivd c ON q.dim = c.dim AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 10 GROUP BY 1, 2
       |), approx AS (
       |  SELECT s.query_id, s.cand_id
       |  FROM short s JOIN ex e
       |    ON s.query_id = e.query_id AND s.cand_id = e.cand_id
       |  QUALIFY row_number() OVER (PARTITION BY s.query_id
       |    ORDER BY e.sse ASC, s.cand_id ASC) <= 10
       |), ext AS (
       |  SELECT query_id, cand_id FROM ex
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY sse ASC, cand_id ASC) <= 10
       |), nex AS (
       |  SELECT query_id, count(*) AS n_exact FROM ext GROUP BY query_id
       |), hit AS (
       |  SELECT a.query_id, count(*) AS n_hits
       |  FROM approx a JOIN ext e
       |    ON a.query_id = e.query_id AND a.cand_id = e.cand_id
       |  GROUP BY a.query_id
       |)
       |SELECT n.query_id, CAST(n.n_exact AS BIGINT) AS n_exact,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(CASE WHEN n.n_exact > 0
       |    THEN (10000 * COALESCE(h.n_hits, 0)) // n.n_exact
       |    ELSE 0 END AS BIGINT) AS recall_bp
       |FROM nex n LEFT JOIN hit h ON n.query_id = h.query_id""".stripMargin
  }

  private lazy val ivfElbowSql: String = {
    val ks = Seq(4, 8, 16)
    s"""WITH iv AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> floor(x * 1000000.0)) AS v
       |  FROM embeddings
       |), ivd AS (
       |  SELECT vec_id, v[dim] AS x, dim
       |  FROM iv, (SELECT unnest(generate_series(1, 64)) AS dim)
       |),
       |${ks.map(lloydElbowCtes).mkString(",\n")}
       |SELECT CAST(k_cells AS INTEGER) AS k_cells,
       |  CAST(n_cells AS BIGINT) AS n_cells,
       |  CAST(n_vecs AS BIGINT) AS n_vecs,
       |  CAST(sse AS BIGINT) AS sse
       |FROM (${ks.map(k => s"SELECT * FROM sse_$k").mkString(" UNION ALL ")})""".stripMargin
  }

  /** Training set = whole corpus (q77/q149/q152). The E/M CTEs (`s1`,
    * `a1`, `c1`) run over `tr` (the training slice); the ASSIGNMENT pass
    * `s2`/`a2` always scores EVERY vector against the trained centroids —
    * for the full-corpus gates the two coincide, for the upsert gate
    * (q153) they are exactly the frozen-quantizer semantics. */
  private val gridLloydSql: String = gridLloydSqlFor("TRUE")

  /** Shared replay for q77 (in-session index) and q152 (persisted index):
    * both rank the same grid-Lloyd cells, so one SQL gates both. */
  private def searchReplaySql(lloyd: String): String =
    s"""WITH $lloyd,
       |p AS (
       |  SELECT vec_id, cell FROM s2 WHERE vec_id < 10
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cell ASC) <= 3
       |), sc AS (
       |  SELECT DISTINCT p.vec_id AS query_id, b.vec_id AS cand_id,
       |    ${cosSql("ia.v", "ib.v")} AS cosine
       |  FROM p JOIN a2 b ON p.cell = b.cell AND p.vec_id <> b.vec_id
       |  JOIN iv ia ON ia.vec_id = p.vec_id
       |  JOIN iv ib ON ib.vec_id = b.vec_id
       |)
       |SELECT query_id, cand_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id ASC) AS INTEGER) AS rank
       |FROM sc
       |QUALIFY rank <= 10""".stripMargin

  private lazy val ivfTrainedSql: String = searchReplaySql(gridLloydSql)

  /** q153 replay: train on the base slice only; `s2`/`a2` still assign
    * EVERY vector to the frozen centroids — the appended delta rows must
    * land in exactly those cells or the hash breaks. */
  private lazy val ivfUpsertSql: String =
    searchReplaySql(gridLloydSqlFor("vec_id % 5 <> 0"))

  /** q323's oracle: the same greedy trajectory as chained CTEs — cₖ is
    * the (md DESC, vec_id ASC) head of the previous round's min-distance
    * frame, pₖ folds the new center in with least(). All distances are
    * integral doubles (exact — products < 2⁵³), cast to BIGINT at the
    * output edge only. */
  private def kcenterSql: String = {
    def dist(av: String, cv: String) =
      s"list_sum(list_transform(generate_series(1, 64), " +
        s"d -> ($av[d] - $cv[d]) * ($av[d] - $cv[d])))"
    val sb = new StringBuilder
    sb ++= s"""WITH iv AS (
              |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
              |    x -> floor(x * 1000000.0)) AS v
              |  FROM embeddings
              |), c1 AS (
              |  SELECT vec_id AS cid, v AS cv FROM iv ORDER BY vec_id LIMIT 1
              |), p1 AS (
              |  SELECT i.vec_id, i.v, ${dist("i.v", "c.cv")} AS md
              |  FROM iv i, c1 c
              |)""".stripMargin
    for (k <- 2 to 4) {
      sb ++= s""", c$k AS (
                |  SELECT vec_id AS cid, v AS cv FROM p${k - 1}
                |  ORDER BY md DESC, vec_id ASC LIMIT 1
                |), p$k AS (
                |  SELECT p.vec_id, p.v, least(p.md, ${dist("p.v", "c.cv")}) AS md
                |  FROM p${k - 1} p, c$k c
                |)""".stripMargin
    }
    sb ++= (1 to 4).map(k =>
      s"""SELECT CAST($k AS INTEGER) AS round,
         |  (SELECT cid FROM c$k) AS center_id,
         |  CAST(max(md) AS BIGINT) AS radius_sq FROM p$k""".stripMargin)
      .mkString("\n", "\nUNION ALL\n", "")
    sb.toString
  }

  /** q328's oracle: the bounded top-k aggregate's (score DESC, id ASC)
    * order replayed as row_number windows; same grid products, same
    * 10⁶ div (60+rank) floor RRF, same full-outer fusion. */
  private def rrfSql: String =
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(
       |      list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
       |      AS tok
       |    FROM documents)
       |), q AS (SELECT doc_id AS query_id, tok FROM toks WHERE doc_id < 5),
       |lex AS (
       |  SELECT q.query_id, t.doc_id, CAST(count(*) AS BIGINT) AS overlap
       |  FROM toks t JOIN q ON t.tok = q.tok AND t.doc_id <> q.query_id
       |  GROUP BY 1, 2
       |), lexr AS (
       |  SELECT query_id, doc_id, rank_lex FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY overlap DESC, doc_id ASC)
       |      AS BIGINT) AS rank_lex
       |    FROM lex) WHERE rank_lex <= 50
       |), grid AS (
       |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> floor(x * 1000000.0)) AS v
       |  FROM embeddings
       |), qv AS (SELECT vec_id AS query_id, v AS qv FROM grid WHERE vec_id < 5),
       |dot AS (
       |  SELECT q.query_id, g.vec_id AS doc_id,
       |    list_sum(list_transform(generate_series(1, 64),
       |      d -> g.v[d] * q.qv[d])) AS dot
       |  FROM grid g, qv q WHERE g.vec_id <> q.query_id
       |), vecr AS (
       |  SELECT query_id, doc_id, rank_vec FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY dot DESC, doc_id ASC)
       |      AS BIGINT) AS rank_vec
       |    FROM dot) WHERE rank_vec <= 50
       |), fused AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
       |    coalesce(l.doc_id, v.doc_id) AS doc_id,
       |    coalesce(rank_lex, CAST(0 AS BIGINT)) AS rank_lex,
       |    coalesce(rank_vec, CAST(0 AS BIGINT)) AS rank_vec,
       |    CAST(coalesce(1000000 // (60 + rank_lex), 0)
       |      + coalesce(1000000 // (60 + rank_vec), 0) AS BIGINT) AS rrf_fp
       |  FROM lexr l FULL JOIN vecr v
       |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
       |)
       |SELECT query_id, rk, doc_id, rank_lex, rank_vec, rrf_fp FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf_fp DESC, doc_id ASC)
       |    AS INTEGER) AS rk
       |  FROM fused) WHERE rk <= 10""".stripMargin

  val oracle: Map[String, String] = Map(
    // q354: identical grid cells and core rule; the oracle's component
    // labels come from a recursive min-reachable closure over the
    // bounded cell graph (its single-node privilege) — the engine's
    // alternating-star Connect must agree exactly.
    "q354_grid_density_clusters" ->
      """WITH RECURSIVE iv AS (
        |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> floor(x * 1000000.0)) AS v
        |  FROM embeddings
        |), pts AS (
        |  SELECT (CAST(v[1] AS BIGINT) + 2000000) // 250000 AS cx,
        |         (CAST(v[2] AS BIGINT) + 2000000) // 250000 AS cy
        |  FROM iv
        |), cells AS (
        |  SELECT cx, cy, CAST(count(*) AS BIGINT) AS npts
        |  FROM pts GROUP BY 1, 2
        |), core AS (
        |  SELECT cx, cy, npts, cx * 1000 + cy AS cid
        |  FROM cells WHERE npts >= 8
        |), e AS (
        |  SELECT a.cid AS u, b.cid AS w FROM core a JOIN core b
        |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        |    AND a.cid < b.cid
        |), sym AS (
        |  SELECT u, w FROM e UNION SELECT w, u FROM e
        |), reach(node, r) AS (
        |  SELECT u, u FROM sym
        |  UNION
        |  SELECT sym.u, reach.r FROM sym JOIN reach ON sym.w = reach.node
        |), comp AS (
        |  SELECT node, min(r) AS component FROM reach GROUP BY node
        |), lab AS (
        |  SELECT core.cid, core.npts,
        |    coalesce(comp.component, core.cid) AS cluster
        |  FROM core LEFT JOIN comp ON comp.node = core.cid
        |), pc AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(sum(npts) AS BIGINT) AS n_points
        |  FROM lab GROUP BY 1
        |), noise AS (
        |  SELECT CAST(coalesce(sum(npts), 0) AS BIGINT) AS n_noise_points
        |  FROM cells WHERE npts < 8
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(n_cells) AS BIGINT) AS n_core_cells,
        |  CAST(sum(n_points) AS BIGINT) AS n_clustered_points,
        |  CAST(max(n_points) AS BIGINT) AS largest_cluster_points,
        |  (SELECT n_noise_points FROM noise) AS n_noise_points
        |FROM pc""".stripMargin,
    "q328_rrf_hybrid" -> rrfSql,
    // q338: same floor(x·10⁶) grid, same positive-dividend offset floor
    // divs, global centroid folded from the per-source integer sums.
    "q338_centroid_drift" ->
      """WITH iv AS (
        |  SELECT e.vec_id, d.source,
        |    list_transform(CAST(e.embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS v
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |), dims AS (
        |  SELECT source, dd.d, v[dd.d] AS x
        |  FROM iv, (SELECT unnest(generate_series(1, 64)) AS d) dd
        |), psd AS (
        |  SELECT source, d, CAST(sum(x) AS BIGINT) AS s_sd,
        |    CAST(count(*) AS BIGINT) AS n_s
        |  FROM dims GROUP BY 1, 2
        |), gd AS (
        |  SELECT d, CAST(sum(s_sd) AS BIGINT) AS g_sum,
        |    CAST(sum(n_s) AS BIGINT) AS n_tot
        |  FROM psd GROUP BY d
        |), cg AS (
        |  SELECT source, n_s,
        |    (s_sd + 2000000 * n_s) // n_s - 2000000 AS c_sd,
        |    (g_sum + 2000000 * n_tot) // n_tot - 2000000 AS g_d
        |  FROM psd JOIN gd USING (d)
        |)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_vecs,
        |  CAST(sum((c_sd - g_d) * (c_sd - g_d)) AS BIGINT) AS drift_sq,
        |  CAST(max(abs(c_sd - g_d)) AS BIGINT) AS max_dim_dev
        |FROM cg GROUP BY source""".stripMargin,
    "q323_kcenter_coreset" -> kcenterSql,
    // q314: seed → cross-mult hotness → per-(cell,sub) lattice M-step →
    // E-step restricted to the parent's own children (cos DESC, lower
    // child) → occupancy + dim-1 floor-mean census.
    "q314_ivf_cell_split" -> {
      val fd = (s: String, n: String) => floorDivSql(s, n)
      s"""WITH iv AS (
         |  SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> floor(x * 1000000.0)) AS v,
         |    least(vec_id % 8, 3) AS cell
         |  FROM embeddings
         |), occ AS (SELECT cell, count(*) AS n FROM iv GROUP BY cell),
         |tot AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS ncells
         |  FROM occ
         |), hot AS (
         |  SELECT cell, (n * ncells > 2 * total) AS is_hot FROM occ, tot
         |), ivd AS (
         |  SELECT vec_id, cell, v[dim] AS x, dim
         |  FROM iv, (SELECT unnest(generate_series(1, 64)) AS dim)
         |), hr AS (
         |  SELECT ivd.*, ivd.cell * 2 + ivd.vec_id % 2 AS cell2
         |  FROM ivd JOIN hot USING (cell) WHERE is_hot
         |), c2 AS (
         |  SELECT cell2, dim,
         |    ${fd("sum(CAST(x AS BIGINT))", "count(*)")} AS cx
         |  FROM hr GROUP BY cell2, dim
         |), s AS (
         |  SELECT h.vec_id, c2.cell2,
         |    sum(h.x * c2.cx)
         |      / (sqrt(sum(h.x * h.x)) * sqrt(sum(c2.cx * c2.cx))) AS cos
         |  FROM hr h JOIN c2 ON h.dim = c2.dim AND c2.cell2 // 2 = h.cell
         |  GROUP BY h.vec_id, c2.cell2
         |), a AS (
         |  SELECT vec_id, cell2 FROM s
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cell2 ASC) = 1
         |), fin AS (
         |  SELECT CAST(iv.cell AS BIGINT) AS parent,
         |    CAST(coalesce(a.cell2 % 2, -1) AS BIGINT) AS sub,
         |    CAST(iv.v[1] AS BIGINT) AS x0
         |  FROM iv LEFT JOIN a USING (vec_id)
         |)
         |SELECT parent, sub, CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(${fd("sum(x0)", "count(*)")} AS BIGINT) AS c0
         |FROM fin GROUP BY parent, sub""".stripMargin
    },
    // q234: four per-subspace Lloyd replays + encoding + ADC vs the exact
    // full-vector L2² top-10 — every distance an exact BIGINT.
    "q234_pq_ann" -> pqAnnSql,
    // q177: the same 1e-3 grid snap (CAST float→DOUBLE is exact, one IEEE
    // multiply, floor), Σv² as BIGINT, integer drift predicate. The empty
    // vector is pinned on BOTH sides (ADVICE r9): Spark's aggregate over
    // an empty array yields its 0 init value, DuckDB's list_sum yields
    // NULL — coalesce normalizes the oracle to the engine's 0, so a
    // zero-length embedding lands at norm² = 0 and is REPORTED as a norm
    // outlier (|0 − 10⁶| > 2000) instead of silently breaking the hash.
    // q284: identical mult/floor residual op sequence per element.
    "q284_quant_residual_audit" ->
      """WITH xs AS (
        |  SELECT vec_id, label,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings
        |), e AS (
        |  SELECT vec_id, label,
        |    CAST(floor((x * 127.0 - floor(x * 127.0)) * 1000.0) AS BIGINT)
        |      AS e
        |  FROM xs
        |)
        |SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |  count(*) AS n_elems, CAST(sum(e) AS BIGINT) AS sum_e,
        |  CAST(sum(e * e) AS BIGINT) AS sum_e2,
        |  CAST(max(e) AS BIGINT) AS max_e
        |FROM e GROUP BY label""".stripMargin,
    "q177_embedding_norm_qa" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    CAST(coalesce(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000.0) AS BIGINT)
        |           * CAST(floor(x * 1000.0) AS BIGINT))), 0) AS BIGINT) AS norm2
        |  FROM embeddings
        |)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(min(norm2) AS BIGINT) AS min_norm2,
        |  CAST(max(norm2) AS BIGINT) AS max_norm2,
        |  CAST(sum(CASE WHEN abs(norm2 - 1000000) > 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM q GROUP BY label""".stripMargin,
    // q169: replay the ±1 hyperplane matrix from md5 (first hex digit of
    // md5('rp:j:i') < '8' → +1), project the 1e-3-grid vectors (every
    // coordinate an exact ±integer sum), then the WHOLE indexed shortlist
    // cascade (VERDICT r9 #2): grid-Lloyd training on the 32-dim RP
    // vectors (seed vec_id%8 → M → E → M — q77's replay shape on RP
    // coordinates), ×2 corpus multi-assignment, nprobe=3 query probing,
    // cell-restricted RP-space top-100 (6-decimal cosine, id tie-break),
    // and finally the exact full-precision re-rank of the shortlist to
    // the top-10. Every arithmetic step is exact-integer or a fixed IEEE
    // op sequence, so both engines agree bit-for-bit.
    "q169_random_projection_ann" ->
      s"""WITH e2 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> floor(x * 1000.0)) AS v
        |  FROM embeddings
        |), s AS (
        |  SELECT j, i,
        |    CASE WHEN substr(md5('rp:' || j || ':' || i), 1, 1) < '8'
        |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS sgn
        |  FROM (SELECT unnest(generate_series(1, 32)) AS j),
        |       (SELECT unnest(generate_series(1, 64)) AS i)
        |), r AS (
        |  SELECT e2.vec_id, s.j, sum(e2.v[s.i] * s.sgn) AS val
        |  FROM e2, s GROUP BY e2.vec_id, s.j
        |), ra AS (
        |  SELECT vec_id, list(val ORDER BY j) AS v FROM r
        |  GROUP BY vec_id HAVING max(abs(val)) > 0
        |), rv AS (
        |  SELECT vec_id, dim, v[dim] AS x
        |  FROM ra, (SELECT unnest(generate_series(1, 32)) AS dim)
        |), c0 AS (
        |  SELECT cell, dim, ${floorDivSql("sum(CAST(x AS BIGINT))", "count(*)")} AS cx
        |  FROM (SELECT vec_id % 8 AS cell, dim, x FROM rv) GROUP BY cell, dim
        |), s1 AS (
        |  SELECT i.vec_id, c.cell,
        |    sum(i.x * c.cx) / (sqrt(sum(i.x * i.x)) * sqrt(sum(c.cx * c.cx))) AS cos
        |  FROM rv i JOIN c0 c ON i.dim = c.dim GROUP BY i.vec_id, c.cell
        |), a1 AS (
        |  SELECT vec_id, cell FROM s1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, cell ASC) = 1
        |), c1 AS (
        |  SELECT cell, dim, ${floorDivSql("sum(CAST(x AS BIGINT))", "count(*)")} AS cx
        |  FROM (SELECT a1.cell, i.dim, i.x FROM rv i JOIN a1 USING (vec_id))
        |  GROUP BY cell, dim
        |), s2 AS (
        |  SELECT i.vec_id, c.cell,
        |    sum(i.x * c.cx) / (sqrt(sum(i.x * i.x)) * sqrt(sum(c.cx * c.cx))) AS cos
        |  FROM rv i JOIN c1 c ON i.dim = c.dim GROUP BY i.vec_id, c.cell
        |), a2 AS (
        |  SELECT vec_id, cell FROM s2
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, cell ASC) <= 2
        |), p AS (
        |  SELECT vec_id, cell FROM s2 WHERE vec_id < 10
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, cell ASC) <= 3
        |), sc AS (
        |  SELECT DISTINCT p.vec_id AS query_id, b.vec_id AS cand_id,
        |    round(list_dot_product(ia.v, ib.v) /
        |      (sqrt(list_dot_product(ia.v, ia.v)) * sqrt(list_dot_product(ib.v, ib.v))), 6) AS rp_cos
        |  FROM p JOIN a2 b ON p.cell = b.cell AND p.vec_id <> b.vec_id
        |  JOIN ra ia ON ia.vec_id = p.vec_id
        |  JOIN ra ib ON ib.vec_id = b.vec_id
        |), sl AS (
        |  SELECT query_id, cand_id FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY rp_cos DESC, cand_id ASC) <= 100
        |), ex AS (
        |  SELECT sl.query_id, sl.cand_id,
        |    ${cosSql("a.fv", "b.fv")} AS cosine
        |  FROM sl
        |  JOIN e2 a ON a.vec_id = sl.query_id
        |  JOIN e2 b ON b.vec_id = sl.cand_id
        |)
        |SELECT query_id, cand_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, cand_id ASC) AS INTEGER) AS rank
        |FROM ex QUALIFY rank <= 10""".stripMargin,
    // q165: q31's thresholded pairs (6-decimal-rounded cosine, same rule)
    // fed through the same min-reachable-id fixpoint as the text-side
    // cluster oracle (DedupQueries) — the component minimum keeps.
    "q165_semdedup" ->
      s"""WITH RECURSIVE emb2 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         |  FROM embeddings
         |), dup AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM emb2 a JOIN emb2 b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v")} >= CAST(0.35 AS DOUBLE)
         |), e AS (
         |  SELECT doc_a AS u, doc_b AS v FROM dup
         |  UNION
         |  SELECT doc_b, doc_a FROM dup
         |), walk(node, reach) AS (
         |  SELECT u, u FROM e
         |  UNION
         |  SELECT w.node, e2.v FROM walk w JOIN e e2 ON e2.u = w.reach
         |)
         |SELECT node AS vec_id, min(reach) AS component,
         |  node = min(reach) AS is_canonical,
         |  node <> min(reach) AS prune
         |FROM walk GROUP BY node""".stripMargin,
    "q163_hard_negatives" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, label AS qlab,
         |    CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 50
         |), c AS (
         |  SELECT vec_id AS cand_id, label AS clab,
         |    CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings
         |), s AS (
         |  SELECT query_id, cand_id, ${cosSql("qv", "cv")} AS cosine
         |  FROM c, q WHERE qlab <> clab
         |), r AS (
         |  SELECT query_id, cand_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, cand_id ASC) AS INTEGER) AS rank
         |  FROM s
         |)
         |SELECT query_id, cand_id, cosine, rank FROM r WHERE rank <= 10""".stripMargin,
    // q164: per-label lattice centroid (the gridLloyd M-step over labels
    // instead of seed cells), exact-integer cosine of each member against
    // its own centroid, bottom-5 per label — proto_cos ASC, id tie-break,
    // the exact total order Spark's negated bounded top-k encodes.
    "q164_prototype_outliers" ->
      s"""WITH iv AS (
         |  SELECT vec_id, label,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> floor(x * 1000000.0)) AS v
         |  FROM embeddings
         |), ivd AS (
         |  SELECT vec_id, label, v[dim] AS x, dim
         |  FROM iv, (SELECT unnest(generate_series(1, 64)) AS dim)
         |), cent AS (
         |  SELECT label, dim, ${floorDivSql("sum(CAST(x AS BIGINT))", "count(*)")} AS cx
         |  FROM ivd GROUP BY label, dim
         |), s AS (
         |  SELECT i.vec_id, i.label,
         |    round(sum(i.x * c.cx)
         |      / (sqrt(sum(i.x * i.x)) * sqrt(sum(c.cx * c.cx))), 6) AS proto_cos
         |  FROM ivd i JOIN cent c ON i.label = c.label AND i.dim = c.dim
         |  GROUP BY i.vec_id, i.label
         |)
         |SELECT label, vec_id, proto_cos,
         |  CAST(row_number() OVER (PARTITION BY label
         |    ORDER BY proto_cos ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM s
         |QUALIFY rank <= 5""".stripMargin,
    "q149_mutual_knn_ivf" ->
      s"""WITH $gridLloydSql,
         |p AS (
         |  SELECT vec_id, cell FROM s2
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cell ASC) <= 3
         |), sc AS (
         |  SELECT DISTINCT p.vec_id AS query_id, b.vec_id AS cand_id,
         |    ${cosSql("ia.v", "ib.v")} AS cosine
         |  FROM p JOIN a2 b ON p.cell = b.cell AND p.vec_id <> b.vec_id
         |  JOIN iv ia ON ia.vec_id = p.vec_id
         |  JOIN iv ib ON ib.vec_id = b.vec_id
         |), t AS (
         |  SELECT query_id, cand_id, cosine FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id ASC) <= 5
         |)
         |SELECT t1.query_id AS vec_a, t1.cand_id AS vec_b, t1.cosine
         |FROM t t1 JOIN t t2
         |  ON t2.query_id = t1.cand_id AND t2.cand_id = t1.query_id
         |WHERE t1.query_id < t1.cand_id""".stripMargin,
    "q77_ann_ivf_trained" -> ivfTrainedSql,
    "q190_ann_ivf_elbow" -> ivfElbowSql,
    // q193: sequential-fold dot products (both engines fold in index
    // order) and the q33 rolling-hash recurrence, on the stringified label.
    "q193_sql_extension_funcs" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    CAST(label AS VARCHAR) AS label
        |  FROM embeddings WHERE vec_id < 100
        |)
        |SELECT vec_id,
        |  round(list_dot_product(v, list_reverse(v)) /
        |    (sqrt(list_dot_product(v, v)) *
        |     sqrt(list_dot_product(list_reverse(v), list_reverse(v)))), 6)
        |    AS rev_cosine,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |                 list_transform(range(1, length(label) + 1),
        |                                i -> CAST(ascii(substr(label, i, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS label_hash
        |FROM e""".stripMargin,
    // q186: same Lloyd replay; per-nprobe probe ranks fan out over
    // generate_series(1,3), the IVF top-10 per (np, query) reconciles
    // against the exact grid-cosine top-10, all counts integer. `//` on
    // positive BIGINTs = Spark's DIV.
    // q359: q186's replay with the hot-cell query set — prim is the
    // rank-1 (cos desc, cell asc) assignment probeCells(nprobe=1)
    // computes, hot is its most-occupied cell (cell-asc tie-break), qs
    // its 10 lowest vec_ids; exact/probed top-10s and the bp division
    // are q186's verbatim.
    "q359_ivf_hotcell_recall" ->
      s"""WITH $gridLloydSql,
         |prim AS (
         |  SELECT vec_id, cell FROM s2
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cell ASC) = 1
         |), hot AS (
         |  SELECT cell AS hot_cell, CAST(count(*) AS BIGINT) AS n_hot
         |  FROM prim GROUP BY 1
         |  ORDER BY n_hot DESC, hot_cell ASC LIMIT 1
         |), qs AS (
         |  SELECT vec_id FROM prim JOIN hot ON prim.cell = hot.hot_cell
         |  ORDER BY vec_id LIMIT 10
         |), ex AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |    ${cosSql("a.v", "b.v")} AS cosine
         |  FROM iv a JOIN qs ON a.vec_id = qs.vec_id
         |  JOIN iv b ON a.vec_id <> b.vec_id
         |), ext AS (
         |  SELECT query_id, cand_id FROM ex
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id ASC) <= 10
         |), nex AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ext
         |), pr AS (
         |  SELECT n.np, s.vec_id, s.cell,
         |    row_number() OVER (PARTITION BY n.np, s.vec_id
         |      ORDER BY s.cos DESC, s.cell ASC) AS rn
         |  FROM (SELECT unnest(generate_series(1, 3)) AS np) n
         |  CROSS JOIN s2 s
         |  JOIN qs ON s.vec_id = qs.vec_id
         |), p AS (
         |  SELECT np, vec_id, cell FROM pr WHERE rn <= np
         |), sc AS (
         |  SELECT DISTINCT p.np, p.vec_id AS query_id, b.vec_id AS cand_id,
         |    ${cosSql("ia.v", "ib.v")} AS cosine
         |  FROM p JOIN a2 b ON p.cell = b.cell AND p.vec_id <> b.vec_id
         |  JOIN iv ia ON ia.vec_id = p.vec_id
         |  JOIN iv ib ON ib.vec_id = b.vec_id
         |), ret AS (
         |  SELECT np, query_id, cand_id FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY np, query_id
         |    ORDER BY cosine DESC, cand_id ASC) <= 10
         |), agg AS (
         |  SELECT np, count(*) AS n_retrieved,
         |    sum(CASE WHEN ext.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
         |  FROM ret LEFT JOIN ext
         |    ON ret.query_id = ext.query_id AND ret.cand_id = ext.cand_id
         |  GROUP BY np
         |)
         |SELECT CAST(np AS INTEGER) AS nprobe,
         |  CAST(hot.hot_cell AS INTEGER) AS hot_cell,
         |  hot.n_hot AS n_hot,
         |  CAST(n_retrieved AS BIGINT) AS n_retrieved,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  nex.n_exact AS n_exact,
         |  CAST(CASE WHEN nex.n_exact > 0 THEN (10000 * n_hits) // nex.n_exact
         |       ELSE 0 END AS BIGINT) AS recall_bp
         |FROM agg, nex, hot""".stripMargin,
    "q186_ann_ivf_recall" ->
      s"""WITH $gridLloydSql,
         |ex AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |    ${cosSql("a.v", "b.v")} AS cosine
         |  FROM iv a JOIN iv b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 10
         |), ext AS (
         |  SELECT query_id, cand_id FROM ex
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id ASC) <= 10
         |), nex AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ext
         |), pr AS (
         |  SELECT n.np, s.vec_id, s.cell,
         |    row_number() OVER (PARTITION BY n.np, s.vec_id
         |      ORDER BY s.cos DESC, s.cell ASC) AS rn
         |  FROM (SELECT unnest(generate_series(1, 3)) AS np) n, s2 s
         |  WHERE s.vec_id < 10
         |), p AS (
         |  SELECT np, vec_id, cell FROM pr WHERE rn <= np
         |), sc AS (
         |  SELECT DISTINCT p.np, p.vec_id AS query_id, b.vec_id AS cand_id,
         |    ${cosSql("ia.v", "ib.v")} AS cosine
         |  FROM p JOIN a2 b ON p.cell = b.cell AND p.vec_id <> b.vec_id
         |  JOIN iv ia ON ia.vec_id = p.vec_id
         |  JOIN iv ib ON ib.vec_id = b.vec_id
         |), ret AS (
         |  SELECT np, query_id, cand_id FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY np, query_id
         |    ORDER BY cosine DESC, cand_id ASC) <= 10
         |), agg AS (
         |  SELECT np, count(*) AS n_retrieved,
         |    sum(CASE WHEN ext.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
         |  FROM ret LEFT JOIN ext
         |    ON ret.query_id = ext.query_id AND ret.cand_id = ext.cand_id
         |  GROUP BY np
         |)
         |SELECT CAST(np AS INTEGER) AS nprobe,
         |  CAST(n_retrieved AS BIGINT) AS n_retrieved,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  nex.n_exact AS n_exact,
         |  CAST(CASE WHEN nex.n_exact > 0 THEN (10000 * n_hits) // nex.n_exact
         |       ELSE 0 END AS BIGINT) AS recall_bp
         |FROM agg, nex""".stripMargin,
    // q152 persists q77's exact index (saveIndex → searchIndex) — identical
    // semantics, so the identical replay: equality proves the parquet
    // round trip + partition-pruned search lose nothing.
    "q152_ann_ivf_persisted" -> ivfTrainedSql,
    // q153: base-trained centroids, frozen-quantizer assignment of the
    // delta — equality proves the incremental append carried exactly the
    // frozen assignment (a retrain, lost row, or double-append breaks it).
    "q153_ann_index_upsert" -> ivfUpsertSql,
    // q154 compacts q153's index — a pure physical rewrite, so the same
    // replay: equality proves the one-file-per-cell generation carries
    // exactly the upserted row set.
    "q154_ann_index_compact" -> ivfUpsertSql,
    // q157 runs q153's build + q154's compaction through the atomic
    // _CURRENT pointer and searches via the pointer — still a pure
    // physical lifecycle over the same row set, so the same replay:
    // equality proves the pointer committed a complete generation.
    "q157_ann_index_lifecycle" -> ivfUpsertSql,
    "q148_mutual_knn" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings
         |), c AS (
         |  SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings
         |), s AS (
         |  SELECT query_id, cand_id, ${cosSql("qv", "cv")} AS cosine
         |  FROM c, q WHERE query_id <> cand_id
         |), r AS (
         |  SELECT query_id, cand_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, cand_id ASC) AS rnk
         |  FROM s
         |), t AS (
         |  SELECT query_id, cand_id, cosine FROM r WHERE rnk <= 5
         |)
         |SELECT t1.query_id AS vec_a, t1.cand_id AS vec_b, t1.cosine
         |FROM t t1 JOIN t t2
         |  ON t2.query_id = t1.cand_id AND t2.cand_id = t1.query_id
         |WHERE t1.query_id < t1.cand_id""".stripMargin,
    "q142_knn_classify" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 50
         |), c AS (
         |  SELECT vec_id AS cand_id, label, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings
         |), s AS (
         |  SELECT query_id, cand_id, label, ${cosSql("qv", "cv")} AS cosine
         |  FROM c, q WHERE query_id <> cand_id
         |), r AS (
         |  SELECT query_id, label,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, cand_id ASC) AS rnk
         |  FROM s
         |), v AS (
         |  SELECT query_id, label, count(*) AS votes
         |  FROM r WHERE rnk <= 10 GROUP BY query_id, label
         |), w AS (
         |  SELECT query_id, label, votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, label ASC) AS rn
         |  FROM v
         |)
         |SELECT query_id, CAST(label AS INTEGER) AS predicted_label, votes
         |FROM w WHERE rn = 1""".stripMargin,
    "q108_quantized_ann" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
         |  FROM embeddings
         |), qn AS (
         |  SELECT vec_id, v,
         |    CAST(list_transform(v, x -> floor(x * (CAST(127.0 AS DOUBLE) / maxabs))) AS DOUBLE[]) AS qv
         |  FROM e WHERE maxabs > CAST(0.0 AS DOUBLE)
         |), q AS (
         |  SELECT vec_id AS query_id, qv AS qq FROM qn WHERE vec_id < 10
         |), c AS (
         |  SELECT vec_id AS cand_id, qv AS cq FROM qn
         |), s AS (
         |  SELECT query_id, cand_id, ${cosSql("qq", "cq")} AS q_cosine
         |  FROM c, q WHERE query_id <> cand_id
         |), r AS (
         |  SELECT query_id, cand_id, q_cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY q_cosine DESC, cand_id ASC) AS INTEGER) AS rank
         |  FROM s
         |), t AS (
         |  SELECT * FROM r WHERE rank <= 10
         |)
         |SELECT t.query_id, t.cand_id, t.q_cosine,
         |  ${cosSql("a.v", "b.v")} AS cosine,
         |  abs(t.q_cosine - ${cosSql("a.v", "b.v")}) AS quant_err,
         |  t.rank
         |FROM t
         |JOIN qn a ON t.query_id = a.vec_id
         |JOIN qn b ON t.cand_id = b.vec_id""".stripMargin,
    "q97_filtered_ann" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 10
         |), c AS (
         |  SELECT e.vec_id AS cand_id, CAST(e.embedding AS DOUBLE[]) AS cv
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
         |  WHERE d.lang = 'en'
         |), s AS (
         |  SELECT query_id, cand_id, ${cosSql("qv", "cv")} AS cosine
         |  FROM c, q WHERE query_id <> cand_id
         |), r AS (
         |  SELECT query_id, cand_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS INTEGER) AS rank
         |  FROM s
         |)
         |SELECT query_id, cand_id, cosine, rank FROM r WHERE rank <= 10""".stripMargin,
    "q29_ann_bruteforce" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 10
         |), c AS (
         |  SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
         |), s AS (
         |  SELECT query_id, cand_id, ${cosSql("qv", "cv")} AS cosine
         |  FROM c, q WHERE query_id <> cand_id
         |), r AS (
         |  SELECT query_id, cand_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS INTEGER) AS rank
         |  FROM s
         |)
         |SELECT query_id, cand_id, cosine, rank FROM r WHERE rank <= 10""".stripMargin,
    "q30_ann_ivf" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS cell
         |  FROM embeddings WHERE vec_id < 10
         |), c AS (
         |  SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv, label AS cell FROM embeddings
         |), s AS (
         |  SELECT query_id, cand_id, ${cosSql("qv", "cv")} AS cosine
         |  FROM c JOIN q USING (cell) WHERE query_id <> cand_id
         |), r AS (
         |  SELECT query_id, cand_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS INTEGER) AS rank
         |  FROM s
         |)
         |SELECT query_id, cand_id, cosine, rank FROM r WHERE rank <= 10""".stripMargin,
    "q31_embedding_near_dup" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
         |)
         |SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${cosSql("a.v", "b.v")} AS cosine
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.v", "b.v")} >= CAST(0.35 AS DOUBLE)""".stripMargin)
}
