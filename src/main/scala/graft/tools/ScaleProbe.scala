package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GateRunner, LocalSession, Tables}

/** Two-point SCALING probe (VERDICT r10 #1) — measured evidence behind
  * every "linear at 100 TB" design argument: the most expensive gates run
  * against the corpus at 1× and against a SALTED `factor`× union of it,
  * and the per-gate wall-clock ratio is written to a committed table
  * (`SCALING.md`). A hidden super-linear term — candidate-pair growth in
  * the LSH band sweep, narrowing-loop depth in the grouped percentile,
  * wedge growth in the triangle join, state growth in streaming — is
  * invisible at one size but shows up as ratio ≫ factor here; the probe
  * FAILS LOUDLY (nonzero exit after writing results) when any ratio
  * reaches [[FailRatio]] (15 at factor 10: headroom over shuffle/
  * log-factor growth, far under quadratic's 100).
  *
  * The scaled corpus is a SALTED union, not a blind `factor`-fold copy
  * ([[scaledCorpus]]): keys are offset per copy and document text /
  * embedding values are perturbed so cross-copy rows are genuinely
  * distinct — a verbatim copy would hand every LSH band bucket `factor`
  * identical members and every IVF cell `factor` duplicate vectors,
  * inflating candidate pairs quadratically for DATA reasons and flagging
  * algorithms that are perfectly linear. Copy 0 is byte-identical to the
  * original, so intra-copy structure (dup clusters, near-dup pairs,
  * session shapes) is preserved `factor` times over.
  *
  * Protocol per gate and size ([[graft.GateRunner.timed]]): one untimed
  * pass (pays memoized fixture builds — index training, graph
  * checkpoints, streaming drives — plus JIT, the Bench warm-up contract),
  * then one timed pass of the full plan through the noop sink. Ratios
  * therefore compare steady-state plan execution only.
  *
  * Usage: `runMain graft.tools.ScaleProbe [sfDir] [outMd] [factor]
  * [gate,gate,...]` — defaults: sf0.1, SCALING.md, 10, the ten most
  * expensive bench gates spanning the suspect mechanisms.
  */
object ScaleProbe {

  /** The probed gates: the bench's most expensive queries, chosen to span
    * every mechanism a super-linear term could hide in — exact-quantile
    * narrowing loops (q101/q195/q197), the multi-banding LSH sweep
    * (q188), prefix-filtered similarity join candidate growth (q112),
    * triangle wedge growth (q125), iterative graph frames (q130),
    * interval self-join (q132), IVF probe fan-out (q149), centroid-
    * bucketed SemDeDup (q165), streaming state growth under Update
    * re-emission (q194), the multi-p decile loop and its binning
    * consumer (q204/q210), and the SpaceSaving candidate set
    * (q208 — per-partition sketch size is constant, so candidate count
    * grows only with partition count, never with rows). Round 11 adds the
    * PQ search (q234 — the ADC join is codes×queries, the exact re-rank
    * 50/query; the baseline brute-force pass is the designed linear term)
    * and the Allen pair join (q235 — per-user quadratic, bounded by
    * per-user session counts, which the salted union holds constant).
    * The q301+ batch adds the iterated k-core peel (q301 — per-round
    * subgraph checkpoints; the risk is round-cost growth, not round
    * count) and the deletion-neighborhood linkage (q302 — candidate
    * pairs are the hidden-quadratic risk; per-copy distinct names keep
    * the 10× corpus entity-realistic).
    *
    * Round 12 (VERDICT r11 #4) adds the remaining heavy classes the probe
    * had skipped — exactly where q149's quadratic was found: the
    * checkpointed BFS (q219) and synchronous LPA (q224 — per-round
    * frontier/label cost growth), the two streaming outer joins
    * (q216/q227 — join-state growth under per-side watermarks), the
    * lakehouse branch merge (q231) and changelog compaction input (q244
    * frequent pairs — per-basket quadratic bounded by basket size, which
    * the salted union holds constant), and the 29-shuffle hierarchy
    * rollup (q249). The q321+ batch adds its own heavy mechanisms: the
    * contamination matrix (q322 — the shingle self-join's per-key fanout
    * is bounded by sources-per-shingle, the candidate-pair risk), the
    * replica reconciliation (q326 — the detail pass must grow with the
    * DRIFT, not the table), the hybrid-RRF legs (q328 — bounded top-k
    * heaps), plus the cheap ones (q321/q323/q327) for coverage.
    *
    * Round 13 (VERDICT r12 #4) adds the rewritten global-window family
    * (q271/q278/q282/q294 plus the q257 near-miss) — exactly the class
    * the wall-clock slope could never catch, now watched by the `spw`
    * single-partition-window row metric those fixes introduced. The
    * round-13 gate batch adds its heavy mechanisms: the 40-char window
    * census behind the duplicated-span report (q332 — window volume is
    * corpus chars / stride; the semi-join's fanout is bounded per doc),
    * the Mann–Whitney value-census sweep (q330 — a Sweep.countUpTo
    * consumer, so the spw column guards its offsets path too), the KMV
    * bounded-heap sketch (q331), and the per-vertex triangle credit
    * (q335 — the same O(m^1.5) wedge bound as q125, plus a 3-way
    * explode that must stay proportional to triangles). The second
    * round-13 batch adds the edge-credit variant (q341 — the identical
    * wedge engine, credited to edges) and the banded temporal-motif
    * join (q346 — fan-out bounded by per-user-per-hour activity, the
    * term a uniform 10× scales linearly but a skewed user would not).
    * The round's last batch adds its two data-scale rank consumers:
    * the CSR layout export (q357) and quantile normalization (q358) —
    * both ride Sweep's two-phase prefix sums, exactly the machinery the
    * spw column exists to guard.
    *
    * Round 14 (VERDICT r13 #3) adds the r13 heavies the probe had
    * skipped: the greedy set-cover rounds (q342 — O(k) driver rounds
    * over an anti-join that must shrink, not grow, per round), the
    * association-rule lattice (q344 — q244's pair frame + a 2× rule
    * explode), BM25 (q347 — the tf×query join's fanout is bounded by
    * query terms), the butterfly census (q351 — per-wedge fanout is
    * bounded by the type vocabulary), the audio energy windows (q352 —
    * mapPartitions codec, zero shuffle, the linearity baseline), and
    * grid-density clustering (q354 — points only ever hash-agg into a
    * resolution-bounded cell graph).
    *
    * Round 15 (VERDICT r14 #7) adds q92 (per-user
    * flatMapGroupsWithState sessionization — the per-key state class
    * the hot-user skew corpus stresses; q216/q227 already cover join
    * state) so the streaming skew probe has a 1× base row, and every
    * probed gate now publishes its peak stateful-operator row count
    * (`state` columns). */
  val DefaultGates: Seq[String] = Seq(
    "q92_streaming_sessions",
    "q359_ivf_hotcell_recall",
    "q342_set_cover",
    "q344_association_rules",
    "q347_bm25_retrieval",
    "q351_butterfly_census",
    "q352_audio_energy_windows",
    "q354_grid_density_clusters",
    "q301_kcore_peeling",
    "q302_symspell_linkage",
    "q216_streaming_outer_join",
    "q219_bfs_frontiers",
    "q224_label_propagation",
    "q227_streaming_full_outer",
    "q231_branch_merge",
    "q244_frequent_pairs",
    "q249_hierarchy_rollup",
    "q101_grouped_quantile_pruned",
    "q112_similarity_join_prefix",
    "q125_triangle_count",
    "q130_pagerank",
    "q132_session_overlap",
    "q149_mutual_knn_ivf",
    "q165_semdedup",
    "q188_lsh_band_sweep",
    "q195_mad_outliers",
    "q197_winsorized_mean",
    "q194_streaming_update_mode",
    "q204_decile_grid",
    "q208_vocab_heavy_hitters",
    "q210_decile_binning",
    "q234_pq_ann",
    "q235_allen_census",
    "q257_abc_classification",
    "q271_range_partition_planner",
    "q278_peak_concurrency",
    "q282_vocab_growth",
    "q294_rle_advisor",
    "q321_gopher_repetition",
    "q322_contamination_matrix",
    "q323_kcenter_coreset",
    "q326_merkle_reconcile",
    "q327_autocorrelation",
    "q328_rrf_hybrid",
    "q330_mann_whitney",
    "q331_kmv_distinct",
    "q332_dup_spans",
    "q335_local_clustering",
    "q341_edge_jaccard",
    "q346_temporal_motifs",
    "q357_csr_export",
    "q358_quantile_normalization")

  private val KeyOff = 10_000_000_000L // per-copy key offset (all keys int64)

  /** Build (once per JVM/dir/factor — marker-file memoized) the salted
    * `factor`× union of every corpus table under a scratch dir laid out
    * exactly like an sf dir, so every gate runs against it unchanged.
    * Dimension tables (region/nation) stay 1× — dims don't grow with fact
    * volume at scale, and scaling them would distort broadcast-side
    * costs. */
  def scaledCorpus(spark: SparkSession, sfDir: String, factor: Int): String = {
    require(factor >= 2 && factor <= 26, s"factor out of range: $factor")
    val out = graft.Scratch.named(
      s"scale${factor}x_${graft.Scratch.dirKey(sfDir)}")
    val marker = out.resolve("_BUILT")
    if (Files.exists(marker)) return out.toString
    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))

    def salted(table: String)(f: DataFrame => DataFrame): Unit = {
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      f(base.crossJoin(broadcast(copies)))
        .write.mode("overwrite").parquet(out.resolve(s"$table.parquet").toString)
    }
    def off(c: String) = (col(c) + col("copy").cast("long") * KeyOff).as(c)

    salted("lineitem")(_.select(off("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))
    salted("orders")(_.select(off("o_orderkey"), off("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    // customer: distinct KEYS and distinct NAMES per copy (a DOUBLED copy
    // letter prefixes c_name) — q302's deletion-neighborhood linkage must
    // see a 10× corpus of mostly-distinct entities (names identical across
    // copies would square its candidate pairs, which no real 10× corpus
    // does). The prefix must be TWO characters: a single-char prefix puts
    // copies of one base name at edit distance exactly 1 (one
    // substitution), which q302's d≤1 linkage matches — linking all
    // copies pairwise and inflating the probe's verify workload ~copy²
    // beyond any real 10× corpus (ADVICE r11). "aa…" vs "bb…" is distance
    // 2 and stays excluded.
    salted("customer")(df => df.select(off("c_custkey") +:
      concat(expr("char(97 + copy)"), expr("char(97 + copy)"),
        col("c_name")).as("c_name") +:
      df.columns.filter(c => c != "c_custkey" && c != "c_name" && c != "copy")
        .map(col): _*))
    salted("supplier")(df => df.select(off("s_suppkey") +:
      df.columns.filter(c => c != "s_suppkey" && c != "copy").map(col): _*))
    salted("part")(df => df.select(off("p_partkey") +:
      df.columns.filter(c => c != "p_partkey" && c != "copy").map(col): _*))
    // documents: every WORD carries a per-copy letter, so shingle sets of
    // different copies are disjoint — near-dup structure exists WITHIN a
    // copy (as in the original), never across copies
    salted("documents")(_.select(off("doc_id"),
      when(col("copy") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          w => concat(expr("char(97 + copy)"), w)), " ")).as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text"))))
    // embeddings: per-copy, per-dimension perturbation keeps copies
    // geometrically distinct without moving the overall distribution
    salted("embeddings")(_.select(off("vec_id"),
      when(col("copy") === 0, col("embedding")).otherwise(
        transform(col("embedding"), (x, j) =>
          x + (col("copy").cast("float") * lit(0.0013f) *
            ((j % 5).cast("float") - lit(2.0f))))).as("embedding"),
      col("label")))
    // events: distinct ids AND distinct users per copy (state growth must
    // scale with the corpus); timestamps unchanged — the same wall-clock
    // span carrying factor× the traffic, which is what 100 TB looks like.
    // Read through Tables.events (the ts bridge); the normalized
    // session-TZ TIMESTAMP round-trips as plain micros, so the scaled dir
    // reads back through the same bridge untouched.
    Tables.events(spark, sfDir).crossJoin(broadcast(copies))
      .select(off("event_id"), col("ts"),
        (col("user_id") + col("copy").cast("long") * 10_000_000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(out.resolve("events.parquet").toString)
    for (dim <- Seq("region", "nation"))
      spark.read.parquet(s"$sfDir/$dim.parquet")
        .write.mode("overwrite").parquet(out.resolve(s"$dim.parquet").toString)
    Files.createFile(marker)
    out.toString
  }

  /** SKEWED 10× corpus (VERDICT r12 #6) — the uniform salted union above
    * holds per-key fanout constant by CONSTRUCTION (per-copy word
    * prefixes make cross-copy shingles disjoint; drift stays spread over
    * all 64 buckets), so gates whose cost has a fanout term measure
    * clean on it even when a skewed real corpus would stress them. This
    * variant rebuilds ONLY the tables the skew gates read, with the
    * skew their fanout terms fear:
    *
    *  - `documents`: one source ("mega") carries HALF the corpus
    *    (copies 0..factor/2−1), the other copies get per-copy source
    *    labels — and 1-in-16 documents keep their ORIGINAL text in
    *    every copy (cross-source boilerplate), so those shingles appear
    *    in EVERY source and q322's per-shingle source fanout is maximal
    *    instead of the uniform corpus's ~1.
    *  - `orders`: keys are remapped (`8000·k + 7` on the drifted
    *    residue, `8000·k + 8 + (k mod 56)` otherwise — distinct, and
    *    mod-exact on both engines) so that EVERY drifted row lands in
    *    Merkle bucket 7 while clean rows spread over buckets 8..63:
    *    q326's detail pass faces one hot differing bucket holding 100%
    *    of a 10× drift, not 8 cool ones.
    *  - `lineitem` (r14, VERDICT r13 #3): ONE HUB PART lands in half
    *    the baskets — every even-keyed order gets an extra line with
    *    `l_partkey = 1` — so the co-purchase graph the wedge family
    *    (q125/q335/q341) reads carries a vertex whose degree ~ the part
    *    universe. Degree-ordered orientation is those gates' claimed
    *    O(m^1.5) hot-vertex defense (wedges enumerate only from the
    *    LOWER-degree endpoint, so the hub contributes edges, never
    *    wedge fanout); this measures it under exactly the skew it
    *    defends against.
    *  - `events` (r15, VERDICT r14 #7): ONE HOT USER owns the click
    *    side of half the corpus, so the streaming family's state — the
    *    one skew surface SCALING.md didn't measure — is stressed where
    *    it actually concentrates: q216/q227's join state buffers a
    *    corpus-scale click side under a single key in a single
    *    state-store partition, and q92's per-user session group carries
    *    half the stream. The error side stays sparse, so join OUTPUT
    *    stays linear — the probe measures state/task skew, not a
    *    data-quadratic match count.
    *
    * Skew-variant slopes are DIAGNOSTIC rows in SCALING.md (not fail-
    * enforced): a steeper q322 slope on boilerplate-heavy data is the
    * data genuinely containing more cross-source pairs to count — the
    * check is that the slope tracks the PAIR growth, not rows². */
  def skewedCorpus(spark: SparkSession, sfDir: String, factor: Int): String = {
    require(factor >= 2 && factor <= 26, s"factor out of range: $factor")
    val out = graft.Scratch.named(
      s"skew${factor}x_${graft.Scratch.dirKey(sfDir)}")
    val marker = out.resolve("_BUILT")
    if (Files.exists(marker)) return out.toString
    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))
    def off(c: String) = (col(c) + col("copy").cast("long") * KeyOff).as(c)

    spark.read.parquet(s"$sfDir/documents.parquet")
      .crossJoin(broadcast(copies))
      .select(off("doc_id"),
        when(col("copy") === 0 || pmod(col("doc_id"), lit(16L)) === 0,
          col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(expr("char(97 + copy)"), w)), " ")).as("text"),
        col("lang"),
        when(col("copy") < factor / 2, lit("mega"))
          .otherwise(concat(col("source"), lit("_"),
            col("copy").cast("string"))).as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite")
      .parquet(out.resolve("documents.parquet").toString)

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .crossJoin(broadcast(copies))
    val k = col("o_orderkey") + col("copy").cast("long") * KeyOff
    orders.select(
      (k * 8000L + when(pmod(k, lit(1000L)) === 7, lit(7L))
        .otherwise(lit(8L) + pmod(k, lit(56L)))).as("o_orderkey") +:
        orders.columns.filter(c => c != "o_orderkey" && c != "copy")
          .map(col): _*)
      .write.mode("overwrite")
      .parquet(out.resolve("orders.parquet").toString)

    // lineitem: salted union + the hub line (see the scaladoc). The hub
    // rides each even-keyed order's first line with l_linenumber 99, so
    // hub lines never collide with real linenumbers (1–7). NOTE (r14
    // ADVICE): (orderkey, linenumber) is NOT pairwise unique — the corpus
    // itself carries ~11k duplicate pairs at sf0.01 (CLAUDE.md), so a
    // duplicated (orderkey, 1) source row emits a duplicate (orderkey, 99)
    // hub line. Harmless here: the edge build's distinct() collapses them
    // to one (order, hub) membership per basket, which is all the skew
    // diagnostic needs.
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .crossJoin(broadcast(copies))
    val liSalted = li.select(off("l_orderkey") +:
      li.columns.filter(c => c != "l_orderkey" && c != "copy").map(col): _*)
    val hubLines = liSalted
      .filter(pmod(col("l_orderkey"), lit(2L)) === 0 &&
        col("l_linenumber") === 1)
      .withColumn("l_partkey", lit(1L))
      .withColumn("l_linenumber", lit(99))
    liSalted.unionByName(hubLines)
      .write.mode("overwrite")
      .parquet(out.resolve("lineitem.parquet").toString)

    // events (r15, VERDICT r14 #7): ONE HOT USER owns the CLICK side of
    // half the corpus — copies < factor/2 remap their click rows to
    // user_id 1, every other row keeps the uniform per-copy user offset.
    // The stream-stream joins (q216/q227) then buffer a corpus-scale
    // click side under ONE join key in ONE state-store partition (the
    // error side stays sparse, so the join OUTPUT stays linear — this
    // measures state pressure, not a data-quadratic match explosion),
    // and the per-user sessionizer (q92) gets one group carrying half
    // the click stream. Timestamps unchanged: the same wall-clock span,
    // all of one key's traffic.
    Tables.events(spark, sfDir).crossJoin(broadcast(copies))
      .select(off("event_id"), col("ts"),
        when(col("copy") < factor / 2 && col("event_type") === "click",
          lit(1L))
          .otherwise(col("user_id") + col("copy").cast("long") * 10_000_000L)
          .as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite")
      .parquet(out.resolve("events.parquet").toString)
    Files.createFile(marker)
    out.toString
  }

  /** The gates the skewed corpus exists for, probed whenever the main
    * run covers them. q188 (r14, VERDICT r13 #8): the LSH band sweep's
    * recall/precision trade-off is measured per run anyway — probing it
    * on the boilerplate-heavy skewed documents (1-in-16 docs byte-shared
    * across every source) measures the banding's candidate growth where
    * band buckets actually collide, the case the uniform salted corpus
    * constructs away. */
  val SkewGates: Seq[String] = Seq(
    "q322_contamination_matrix", "q326_merkle_reconcile",
    "q125_triangle_count", "q335_local_clustering", "q341_edge_jaccard",
    "q188_lsh_band_sweep",
    // r15 (VERDICT r14 #7): the streaming family under HOT-KEY skew —
    // one user owns the click side of half the corpus (see the events
    // build above). q216/q227 measure stream-stream join state piling
    // under one key; q92 measures a flatMapGroupsWithState group
    // carrying half the stream. The `state` columns publish the peak
    // state rows next to the wall-clock ratio.
    "q216_streaming_outer_join", "q227_streaming_full_outer",
    "q92_streaming_sessions")

  /** One gate at one corpus through [[GateRunner.timed]]: the warm pass
    * pays fixture builds and JIT and executes the plan's own RDD, so its
    * executed exchange metrics give the single-partition-window row count
    * (VERDICT r12 #4: the 10× wall-clock slope CANNOT see a
    * single-partition sort, which is "linear"... on one core); the timed
    * noop pass gives the seconds. A failed pass fails the probe. Returns
    * (seconds, spwRows, stateRows — the peak stateful-operator row count
    * any streaming drive held during the gate, 0 for batch gates; see
    * [[graft.streaming.Streaming.StateMeter]]). */
  private def timeGate(spark: SparkSession, gate: GateRunner.Gate, dir: String)
      : (Double, Long, Long) = {
    graft.streaming.Streaming.StateMeter.reset()
    val (warm, timed) = GateRunner.timed(spark, gate, dir)
    for (o <- Seq(warm, timed); e <- o.error) throw e
    val spw = PlanChecks.maxSinglePartitionWindowRows(
      warm.frame.get.queryExecution.executedPlan)
    (timed.secs, spw, graft.streaming.Streaming.StateMeter.maxRows)
  }

  case class Result(gate: String, t1: Double, tN: Double,
      spw1: Long, spwN: Long, state1: Long = 0L, stateN: Long = 0L) {
    def ratio: Double = tN / math.max(t1, 0.05) // floor: sub-50ms base noise
  }

  /** A gate fails the probe when its N×-to-1× wall-clock ratio reaches
    * this. */
  val FailRatio = 15.0

  /** A gate fails the probe when a single-partition window exchange
    * carried at least this many rows at N×. */
  val SpwCap = 50000L

  /** Build the scaled corpus, probe every gate at both sizes, write the
    * markdown table, and return the results — the testable core behind
    * [[main]] (no session stop, no process exit). */
  def run(spark: SparkSession, sfDir: String, outMd: String, factor: Int,
      gates: Seq[GateRunner.Gate]): Seq[Result] = {
    val scaled = scaledCorpus(spark, sfDir, factor)
    System.err.println(s"[scale] corpus ready: $scaled (${factor}x $sfDir)")

    val results = gates.map { g =>
      val (t1, spw1, st1) = timeGate(spark, g, sfDir)
      val (tN, spwN, stN) = timeGate(spark, g, scaled)
      val r = Result(g.name, t1, tN, spw1, spwN, st1, stN)
      System.err.println(f"[scale] ${g.name}%-34s 1x=${r.t1}%7.2fs " +
        f"${factor}x=${r.tN}%7.2fs ratio=${r.ratio}%6.2f " +
        f"spw=${r.spw1}%d/${r.spwN}%d state=${r.state1}%d/${r.stateN}%d")
      r
    }

    // skewed-variant diagnostics (see skewedCorpus): 1× side reuses the
    // main run's measurement; the N× side runs against the skewed build
    val skewResults: Seq[Result] = {
      val covered = gates.filter(g => SkewGates.contains(g.name))
      if (covered.isEmpty) Seq.empty
      else {
        val skewDir = skewedCorpus(spark, sfDir, factor)
        System.err.println(s"[scale] skewed corpus ready: $skewDir")
        covered.map { g =>
          val base = results.find(_.gate == g.name).get
          val (tS, spwS, stS) = timeGate(spark, g, skewDir)
          val r = Result(g.name, base.t1, tS, base.spw1, spwS, base.state1, stS)
          System.err.println(f"[scale] ${g.name}%-34s (skew) 1x=${r.t1}%7.2fs " +
            f"${factor}x=${r.tN}%7.2fs ratio=${r.ratio}%6.2f " +
            f"spw=${r.spw1}%d/${r.spwN}%d state=${r.state1}%d/${r.stateN}%d")
          r
        }
      }
    }

    def f2(v: Double) = f"$v%.2f"
    val md = new StringBuilder
    md ++= s"# Scaling probe — measured two-point slope\n\n"
    md ++= s"`graft.tools.ScaleProbe` on `$sfDir` vs a salted ${factor}× union\n"
    md ++= s"(distinct keys/text/vectors per copy — see the ScaleProbe scaladoc),\n"
    md ++= s"${spark.sparkContext.master}; per gate: one warm pass (fixtures + JIT), one timed\n"
    md ++= s"full-plan pass. Fail thresholds: ratio ≥ $FailRatio, or\n"
    md ++= s"1-part-window rows ≥ $SpwCap at ${factor}× (`spw` columns: the\n"
    md ++= s"largest EXECUTED row count any single-partition window exchange\n"
    md ++= s"carried — the wall-clock slope cannot see a single-partition\n"
    md ++= s"sort, which is \"linear\" on one core; bounded control frames\n"
    md ++= s"show O(partitions) rows here, a row-scale frame shows the data).\n\n"
    md ++= s"`state` columns (r15, VERDICT r14 #7): the peak row count the\n"
    md ++= s"stateful operators held during the gate's streaming drive (max\n"
    md ++= s"of sum(numRowsTotal) over the query's progress events; 0 = not\n"
    md ++= s"a streaming gate) — peak state must grow ~linearly with the\n"
    md ++= s"corpus, never faster.\n\n"
    md ++= s"| gate | 1× s | ${factor}× s | ratio | spw 1× | spw ${factor}× | state 1× | state ${factor}× | verdict |\n"
    md ++= s"|---|---:|---:|---:|---:|---:|---:|---:|---|\n"
    results.foreach { r =>
      val verdict =
        if (r.ratio >= FailRatio) "**SUPER-LINEAR — FAIL**"
        else if (r.spwN >= SpwCap) "**1-PART WINDOW — FAIL**"
        else if (r.ratio <= factor * 1.2) "linear or better"
        else "linear + overhead"
      md ++= s"| ${r.gate} | ${f2(r.t1)} | ${f2(r.tN)} | ${f2(r.ratio)} | ${r.spw1} | ${r.spwN} | ${r.state1} | ${r.stateN} | $verdict |\n"
    }
    md ++= s"\nA ratio near $factor is linear; well under $factor means fixed\n"
    md ++= s"per-run overhead still dominates at 1×; at or above $FailRatio the\n"
    md ++= s"gate has a term growing faster than the data and the probe exits\n"
    md ++= s"nonzero.\n"
    if (skewResults.nonEmpty) {
      md ++= s"\n## Skewed-variant probe (diagnostic — VERDICT r12 #6, r13 #3)\n\n"
      md ++= s"${factor}× rebuilt with the skew each gate's fanout term fears\n"
      md ++= s"(see `ScaleProbe.skewedCorpus`): q322 — one source = half the\n"
      md ++= s"corpus AND 1-in-16 docs are cross-source boilerplate (maximal\n"
      md ++= s"sources-per-shingle); q326 — 100% of a ${factor}× drift lands in ONE\n"
      md ++= s"Merkle bucket; q125/q335/q341 — one hub part in half the\n"
      md ++= s"baskets (degree ~ the part universe), the hot vertex the\n"
      md ++= s"degree-ordered wedge orientation claims to be immune to;\n"
      md ++= s"q188 — the band sweep on the boilerplate-heavy documents,\n"
      md ++= s"where band buckets genuinely collide across sources;\n"
      md ++= s"q216/q227/q92 — the streaming family under HOT-KEY skew (one\n"
      md ++= s"user owns the click side of half the corpus): join state piles\n"
      md ++= s"under one key / one state partition, and one session group\n"
      md ++= s"carries half the stream — read their `state` columns against\n"
      md ++= s"the uniform rows above.\n"
      md ++= s"Not fail-enforced: a steeper slope here can be\n"
      md ++= s"the data genuinely holding more pairs/drift to report.\n\n"
      md ++= s"| gate | 1× s | skewed ${factor}× s | ratio | spw 1× | spw ${factor}× | state 1× | state ${factor}× |\n"
      md ++= s"|---|---:|---:|---:|---:|---:|---:|---:|\n"
      skewResults.foreach { r =>
        // " (skew)" suffix keeps these DIAGNOSTIC rows out of
        // DocsConsistencySpec's gate-row parser (and its ≥15 fail rule)
        md ++= s"| ${r.gate} (skew) | ${f2(r.t1)} | ${f2(r.tN)} | ${f2(r.ratio)} | ${r.spw1} | ${r.spwN} | ${r.state1} | ${r.stateN} |\n"
      }
    }
    md ++= History
    Files.writeString(Paths.get(outMd), md.toString)
    val json = results.map(r =>
      s""""${r.gate}":{"t1":${f2(r.t1)},"tN":${f2(r.tN)},"ratio":${f2(r.ratio)},"spw1":${r.spw1},"spwN":${r.spwN},"state1":${r.state1},"stateN":${r.stateN}}""")
      .mkString("{\"factor\":" + factor + ",\"gates\":{", ",", "}}")
    println(json)
    results
  }

  /** What the probe has already caught — regenerating the table must not
    * erase the evidence that it bites. */
  private val History: String =
    """
      |## Findings log
      |
      |- **r11: q149_mutual_knn_ivf measured at ratio 25.1** (quadratic):
      |  the kNN-join probed a FIXED 8-cell index, so a 10× corpus made
      |  every cell 10× heavier and every query touch 10× the candidates.
      |  Fixed by occupancy-sized cells (`max(8, n/250)` —
      |  `AnnQueries.mutualKnnIndex`): constant per-query candidate budget,
      |  re-measured ratio **1.72**. At every shipped sf the formula lands
      |  on the shared 8-cell index, so gate results and oracles were
      |  bit-identical before/after.
      |- **r12: the probe corpus itself had a super-linear term** (ADVICE
      |  r11): single-letter per-copy name prefixes put copies of one
      |  base customer name at edit distance exactly 1, so q302's d≤1
      |  linkage linked all 10 copies pairwise (~45 phantom verified
      |  pairs per base name) — measuring corpus artifact, not algorithm.
      |  Fixed with doubled prefixes (cross-copy distance 2); q302's
      |  committed ratio is now measured on an entity-realistic 10×.
      |- **r12: q219_bfs_frontiers re-measured at ratio 1.28** after the
      |  per-hop frontier checkpoint fix (VERDICT r11 #3 — the unrolled
      |  plan re-derived every hop's lineage: 152 scans/79 shuffles at
      |  3 hops, exponential in depth; now 4 scans/4 shuffles, linear).
      |  q224 got the same per-round label checkpoint (ratio 1.24).
      |- **r13 (late): q112_similarity_join_prefix flaked at 16.20 and
      |  then 18.70 in two full-suite probe runs** (53.4 s / 57.5 s at 10×
      |  vs the 25.1 s the same gate measured in the early-r13 run) and was
      |  re-adjudicated by an isolated probe immediately after each:
      |  **ratio 4.59** (15.5 s at 10×) the first time, **ratio 2.40**
      |  (20.3 s) the second. The one-offs are run-context pressure (q112
      |  runs directly after the grouped-quantile narrowing loop in the
      |  suite order) on an oscillating host, not a plan change — the
      |  gate's code was untouched between the runs. r14 measured it
      |  three times in one day: 4.39 (full run, quiet morning), 10.22
      |  (full run, loud afternoon — the committed row), 7.07 isolated
      |  minutes later with the 1× base itself inflated 3.85 → 4.71 s.
      |  The gate is the suite's measurement-noise ceiling: its verify
      |  join spills under memory pressure, so its ratio tracks host
      |  load more than data shape. Every measure ever taken is under
      |  the 15× fail gate; the committed row carries the latest
      |  full-suite number with this note as provenance.
      |- **r15: the r12–r14 streaming probe rows were measuring EMPTY
      |  drives.** Found by the new state meter the instant it landed:
      |  q216's 4× peak state read 2 rows vs 4020 at 1×, and a row-count
      |  audit confirmed ZERO output rows for q92/q216/q227 on the
      |  scaled corpus. Root cause: the drive builders symlinked
      |  `events.parquet` into the drive dir, which is a single FILE in
      |  every shipped corpus (so Verify/Bench were always correct) but
      |  a Spark-written DIRECTORY in the probe's scratch builds — and
      |  FileStreamSource does not descend into a directory entry, so
      |  the N× drives processed only their flush files. Every committed
      |  streaming slope before this round therefore measured fixed
      |  overhead, not state growth. Fixed by `EventQueries.stageCorpus`
      |  (symlink a file; coalesce(1)-stage a directory — part-file
      |  symlinks would advance the watermark mid-corpus under
      |  maxFilesPerTrigger=1 and drop unordered parts as late), and
      |  guarded by the `state` columns themselves: an empty drive now
      |  shows state ≈ 0 next to a non-zero 1× row. Re-measured honestly
      |  at 4×/sf0.01: q216 0.95, q227 1.03, q92 0.84, state exactly 4×
      |  (4020→16080, 150→600); the 10× rows in this table are the first
      |  real ones.
      |- **r15: q112's noise ceiling fixed structurally** (VERDICT r14
      |  #4): the gate's reused frames were in-memory `.cache()`s, so
      |  under suite memory pressure the evicted docArr partitions were
      |  rebuilt (full shingle→df-order groupBy) per lost partition in
      |  the middle of the verify join — the 3–10× swings above. The
      |  df-ordered doc-array frame is now a file-backed Scratch parquet
      |  checkpoint (the coPurchaseEdges pattern): three consecutive
      |  isolated probe runs after the change measure steady-state
      |  4.69 / 5.38 / 4.95 s at 10× (1.15× spread, vs 4.39/10.22/7.07 =
      |  2.3× before), for ~+0.9 s of deterministic parquet I/O in the
      |  isolated base — stability bought at a visible, fixed price
      |  rather than an unbounded eviction lottery.
      |- **r14: the hub-skew wedge probe confirms the orientation bound**
      |  (VERDICT r13 #3): with one part in HALF the baskets (hub degree ~
      |  the whole part universe), q125/q335/q341 measure skew ratios
      |  within noise of their uniform 10× rows (0.95–1.10 across both
      |  r14 full runs) — degree-ordered orientation enumerates wedges
      |  only from the lower-degree endpoint, so the hub contributes
      |  edges but no wedge fanout. The same runs carry the first
      |  r13-heavy rows (q342/q344/q347/q351/q352/q354, all ≤3.0 —
      |  q344 measured AFTER its r14 localCheckpoint fix; the
      |  rule-direction unionAll used to re-execute the whole a-priori
      |  lattice twice), the new q359 hot-cell recall audit (1.05 — the
      |  probed search stays cell-pruned when the queries all come from
      |  the hottest cell), and the q188 band sweep on the
      |  boilerplate-heavy skewed documents (2.90, vs 3.19 uniform —
      |  1-in-16 cross-source boilerplate does not blow up the band
      |  buckets; VERDICT r13 #8's second audit ask).
      |  NOTE: this findings log lives in ScaleProbe.scala (the file is
      |  REGENERATED per run) — edit it there, not in SCALING.md, or the
      |  next probe run silently reverts the edit (bit us in r13→r14).
      |- **r13: the ratio alone had a blind spot the probe now closes**
      |  (VERDICT r12 #4): q271/q278/q282/q294 were hash-correct and
      |  wall-clock-"linear" while funneling their whole frame through a
      |  `Window.orderBy` with no partition key — a ONE-TASK sort scales
      |  linearly on one core until it falls over. All four (plus q257/
      |  q289/q309's frames that grow with key cardinality) were rewritten
      |  on `Sweep.prefixSum`'s two-phase distributed prefix sum, and the
      |  probe now publishes the executed single-partition-window row
      |  count per gate (`spw` columns, fail ≥50k). The rewrite also
      |  surfaced a latent tie bug: (l_orderkey, l_linenumber) is NOT
      |  unique in the corpus, and q294's old plan only matched DuckDB
      |  because both engines read ties in file order — the sort key now
      |  carries the counted columns as tie-breaks.
      |- **Driver-held BFS/LPA state: q219/q224 rows re-measured at local[4]**
      |  (the rest of this table is local[32]): the BFS frontier and LPA
      |  labels now pass between rounds as driver-held local relations, not
      |  parquet hops. Same probe, same host, parent commit vs this change:
      |  q219 1× 3.99 → 2.13 s, 10× 3.16 → 1.58 s (ratio 0.79 → 0.74, spw 1 →
      |  0: the census window is gone); q224 1× 5.72 → 5.23 s, 10× 5.69 →
      |  4.90 s (ratio 1.00 → 0.94). The driver holds O(|V|) ids, and the
      |  salted 10× corpus keeps |V| (part ids are not salted), so the 10× run
      |  grows edges, not driver state.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outMd = args.lift(1).getOrElse("SCALING.md")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val gates = GateRunner.select(
      args.lift(3).map(_.split(',').toSeq).getOrElse(DefaultGates))
    val spark = LocalSession.fromEnv()
    val results = run(spark, sfDir, outMd, factor, gates)
    spark.stop()
    val flagged = results.filter(_.ratio >= FailRatio)
    val funneled = results.filter(_.spwN >= SpwCap)
    if (flagged.nonEmpty || funneled.nonEmpty) {
      if (flagged.nonEmpty)
        System.err.println(s"[scale] SUPER-LINEAR gates: " +
          flagged.map(r => f"${r.gate} (${r.ratio}%.2f)").mkString(", "))
      if (funneled.nonEmpty)
        System.err.println(s"[scale] SINGLE-PARTITION-WINDOW gates: " +
          funneled.map(r => s"${r.gate} (${r.spwN} rows)").mkString(", "))
      sys.exit(1)
    }
  }
}
