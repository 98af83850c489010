package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Scratch

/** Distributed graph analytics over edge lists — the co-occurrence /
  * similarity-graph layer of a data-curation pipeline (near-dup clusters
  * already ride on [[Connect]]; this adds closed-triangle structure, the
  * classic clustering-coefficient / community-density signal).
  *
  * Everything is DataFrame joins on vertex keys: no vertex-program
  * framework, no driver-side adjacency — the shapes below are the
  * MapReduce-era algorithms re-expressed declaratively so Catalyst handles
  * partitioning and AQE handles skew.
  */
object Graph {

  /** Exact triangle count via DEGREE-ORDERED wedge counting (Cohen's
    * MapReduce algorithm / Schank-Wagner "forward"): orient every edge from
    * its lower-(degree, id) endpoint to the higher, enumerate wedges only
    * at each edge's SOURCE, and close them against the canonical edge set.
    *
    * Why orientation is the 100 TB move: a naive wedge enumeration emits
    * deg(v)² pairs at every vertex — a single celebrity vertex with 10M
    * neighbors emits 10¹⁴ wedges. Orienting by degree bounds every
    * out-degree by O(√(2m)) (a vertex only points at HIGHER-degree
    * neighbors, and there can be at most √(2m) vertices of degree ≥ √(2m)),
    * so the total wedge volume is Σ out-deg² ≤ O(m^1.5) with NO hot vertex:
    * the hub's pairs are enumerated by its (many, low-degree) spokes, one
    * wedge each. Every triangle {a≺b≺c} is counted exactly once — as the
    * wedge (a→b, a→c) closed by b→c.
    *
    * `edges` must be canonical undirected simple edges: columns `u`, `v`
    * with `u < v`, distinct. Returns one row:
    * (n_edges, n_wedges, n_triangles). Three keyed shuffles (degree agg,
    * orientation join, wedge self-join) + one closing equi-join — every key
    * is a vertex id, so input skew is handled by the orientation itself.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val wedges = wedgesOf(edges, degrees(edges))
    val closing = edges.select(col("u").as("d1"), col("v").as("d2"),
      lit(1).as("hit"))
    // SHUFFLE_HASH on the edge side: the probe stream is the wedge volume
    // (O(m^1.5)) — a sort-merge join would SORT it, and sorting the wedge
    // stream costs more than the rest of the query; hashing the m-sized
    // edge side per partition is the plan that scales (build side is
    // edges/shuffle-partitions per task, the knob that grows with the
    // cluster)
    wedges.join(closing.hint("shuffle_hash"), Seq("d1", "d2"), "left_outer")
      .agg(count(lit(1)).as("n_wedges"), count(col("hit")).as("n_triangles"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"))
  }

  /** Per-vertex triangle participation — the node-local companion of
    * [[triangleCount]], and the input to any clustering-coefficient
    * report: for every vertex, its degree and the number of triangles it
    * sits in (0 for triangle-free vertices — the degree census LEFT-joins
    * the triangle counts, so isolated-from-triangles vertices are present).
    *
    * Same degree-ordered orientation and O(m^1.5) wedge bound as
    * [[triangleCount]] (see its doc for why no hot vertex can blow up the
    * wedge volume); the closing join is a LEFT SEMI against the canonical
    * edge set (each wedge closes against at most one edge), and each
    * closed triangle {s, d1, d2} credits all three corners via one
    * single-pass corner explode + hash-agg (NOT a 3-way unionAll — union
    * branches are independent subtrees and would re-execute the wedge
    * join three times). `edges` must be canonical (`u < v`,
    * distinct). Returns (vtx, deg, n_tri). */
  def nodeTriangles(edges: DataFrame): DataFrame = {
    val deg = degreeFrame(edges)
    // one explode, not a 3-way unionAll of `tri`: union branches are
    // independent subtrees, so the 3-way form re-executed the wedge join +
    // semi-join THREE times (measured at sf0.1: 8.5 s → 3.6 s with the
    // single-pass corner explode; the row volume is identical)
    val perVtx = closedTriangles(edges, deg)
      .select(explode(array(col("s"), col("d1"), col("d2"))).as("vtx"))
      .groupBy(col("vtx")).agg(count(lit(1)).as("n_tri"))
    deg.join(perVtx, Seq("vtx"), "left_outer")
      .select(col("vtx"), col("deg"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** The symmetric (src, dst) adjacency of an undirected edge list: every
    * edge in both directions. */
  private[graft] def adjacency(edges: DataFrame): DataFrame =
    edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))

  /** Degree census (vtx, deg) of a canonical edge list. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("vtx"))
      .unionAll(edges.select(col("v").as("vtx")))
      .groupBy(col("vtx")).agg(count(lit(1)).as("deg"))

  /** [[degrees]], CHECKPOINTED: deg feeds many readers in every consumer
    * of [[closedTriangles]] (two orientation joins, final outer joins,
    * and — via orientation — everything downstream); localCheckpoint
    * materializes it once so the degree agg runs once, not per reader
    * (the q132 checkpoint rule). Measured at sf0.1 (nodeTriangles): 7.9 s
    * with deg re-derived per reader, 5.3 s checkpointed. */
  private def degreeFrame(edges: DataFrame): DataFrame =
    degrees(edges).localCheckpoint()

  /** Every wedge (s, d1, d2) with d1 < d2 under degree-ordered
    * orientation — the [[triangleCount]] O(m^1.5) bound: each edge points
    * from its lower-(degree, id) endpoint `s` to the higher, and wedges
    * pair two out-edges of the same source. d1/d2 are canonicalized by id
    * so they line up with the canonical (u < v) edge set regardless of the
    * closing edge's degree orientation. `oriented` stays LAZY — its two
    * wedge-side readers recompute two cheap broadcast joins off `deg`, and
    * materializing its |E| rows costs more than that recompute (measured
    * at sf0.1: 7.4 s vs 5.3 s lazy). */
  private def wedgesOf(edges: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = edges
      .join(deg.select(col("vtx").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("vtx").as("v"), col("deg").as("dv")), "v")
    val uFirst = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("d"))
    oriented.select(col("s"), col("d").as("x"))
      .join(oriented.select(col("s"), col("d").as("y")), "s")
      .filter(col("x") < col("y"))
      .select(col("s"), least(col("x"), col("y")).as("d1"),
        greatest(col("x"), col("y")).as("d2"))
  }

  /** Closed triangles (s, d1, d2) with s the wedge's source corner and
    * d1 < d2 — the shared core of [[nodeTriangles]] and
    * [[edgeCommonNeighbors]]: [[wedgesOf]] over the checkpointed deg,
    * LEFT SEMI close against the canonical edge set. */
  private def closedTriangles(edges: DataFrame, deg: DataFrame): DataFrame =
    wedgesOf(edges, deg).join(
      edges.select(col("u").as("d1"), col("v").as("d2")).hint("shuffle_hash"),
      Seq("d1", "d2"), "left_semi")

  /** Per-edge common-neighbor counts — the edge-local companion of
    * [[nodeTriangles]] and the numerator of every neighborhood-overlap
    * similarity (Jaccard link prediction, embeddedness, tie strength):
    * |N(u)∩N(v)| for an edge {u,v} equals the number of triangles THROUGH
    * that edge, so each closed triangle credits its three edges (each
    * canonicalized back to u < v — the wedge source `s` is degree-ordered,
    * not id-ordered). Same O(m^1.5) wedge bound as [[triangleCount]].
    *
    * Returns (u, v, du, dv, common) for TRIANGLE-PARTICIPATING edges only
    * (common ≥ 1). Triangle-free edges are NOT emitted (r16): they all
    * have common = 0 by definition, so any census over them needs only
    * their COUNT — m minus this frame's row count — and joining the full
    * m-row edge frame back against the credit counts just to carry zeros
    * paid an m-row (u, v)-keyed exchange + join per call (plus two m-row
    * degree joins that now run over the smaller triangle-edge frame). A
    * caller that needs per-edge zero rows can still LEFT-join edges
    * against this frame; the census consumers (q341) reconstruct the
    * zero bucket arithmetically instead. */
  def edgeCommonNeighbors(edges: DataFrame): DataFrame = {
    val deg = degreeFrame(edges)
    val perEdge = closedTriangles(edges, deg)
      .select(explode(array(
        struct(least(col("s"), col("d1")).as("u"),
          greatest(col("s"), col("d1")).as("v")),
        struct(least(col("s"), col("d2")).as("u"),
          greatest(col("s"), col("d2")).as("v")),
        struct(col("d1").as("u"), col("d2").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
    perEdge
      .join(deg.select(col("vtx").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("vtx").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("du"), col("dv"), col("common"))
  }

  /** Degree histogram of an undirected edge list: how many vertices have
    * each degree — the one-pass shape/health report of any large graph
    * (power-law check, hub detection). Two keyed aggs, both map-side
    * combinable. */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.select(col("u").as("vtx"))
      .unionAll(edges.select(col("v").as("vtx")))
      .groupBy(col("vtx")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))

  /** PageRank in EXACT INTEGER arithmetic (damping 0.85 = 17/20), `iters`
    * unrolled iterations over an undirected edge list. Scores start at
    * `scale` per vertex and every step is integer-only:
    * pr' = 3·scale/20 + (17 · Σ_incoming (pr div deg)) div 20 — BIGINT
    * division truncates identically on every engine, so the final scores
    * are bit-exact and ORACLE-CHECKABLE, which float PageRank never is
    * (per-vertex float sums are association-order-dependent). Ranking
    * behavior matches float PageRank to ~1/scale relative error.
    *
    * Dataflow per iteration: one equi-join (contributions flow src→dst)
    * and one hash-agg — both keyed on vertex id, partial-aggregated map
    * side. The driver only builds the (iters-deep) plan; no per-vertex
    * driver state. At web scale pick `scale` so |V|·scale·17 < 2⁶³ (the
    * sum bound) — or shard the rank column into hi/lo longs.
    *
    * The degree frame is CHECKPOINTED as a tiny parquet hop (r15
    * optimization, the [[bfsFrontiers]]/[[labelPropagation]] scratch
    * pattern): deg is read once per iteration plus once for the seed —
    * lazily it was an independent subtree each time, so the full 2-scan
    * degree agg re-executed iters+1 times (the q130 static plan carried
    * 14 scans; checkpointed it carries iters·2 = 6 over the edge list).
    * The file hop (not a `.persist`) keeps real size statistics so every
    * per-iteration deg join stays a broadcast. */
  def integerPageRank(edges: DataFrame, iters: Int = 3,
      scale: Long = 1000000000000L,
      scratchKey: Option[String] = None,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    require(scale % 20 == 0, "scale must be divisible by 20 for an exact base term")
    val run = Scratch.runDir("pagerank", scratchKey)
    // adjOpt (r16): a dst-bucketed symmetric adjacency makes each
    // iteration's contribution sum (groupBy dst) exchange-free; the
    // degree census groups by dst too — identical counts by symmetry.
    val adj = adjOpt.getOrElse(adjacency(edges))
    val deg = Scratch.hop(
      adj.groupBy(col("dst").as("vtx")).agg(count(lit(1)).as("deg")), run, "deg")
    val base = lit(scale / 20 * 3)
    var pr = deg.select(col("vtx"), lit(scale).as("pr"), col("deg"))
    (1 to iters).foreach { _ =>
      val contrib = adj.join(pr, adj("src") === pr("vtx"))
        .select(col("dst"), expr("pr div deg").as("c"))
      pr = contrib.groupBy(col("dst").as("vtx")).agg(sum(col("c")).as("s"))
        .select(col("vtx"), (base + expr("(17 * s) div 20")).as("pr"))
        .join(deg, "vtx")
    }
    pr.select(col("vtx"), col("pr"))
  }

  /** k-hop BFS frontier census from a DETERMINISTIC seed — the minimum-
    * degree vertex, ties to the smallest id (the hardest seed on a
    * near-clique co-purchase graph: a hub would reach everything in one
    * hop). Level k is one adjacency equi-join on the previous frontier +
    * distinct + anti-join against the reached set — the Pregel superstep
    * as relational algebra, shuffle-bounded by frontier × degree, never
    * all-pairs. Output is one row per hop (frontier size, cumulative
    * reached); the running sum is a window over those k+1 rows — a
    * single implicit partition, fine because the frame is the hop
    * census, not data.
    *
    * Every hop's `next` frontier (and the seed) is CHECKPOINTED as a
    * tiny parquet hop, exactly like [[kCorePeelCensus]]: without it the
    * lazy `frontier`/`reached` lineages compound — hop k's join,
    * anti-join, AND census count each re-derive every earlier hop (the
    * unrolled plan had 152 scans / 79 shuffles at hops=3, and grows
    * exponentially in `hops`). With the checkpoint each hop is a
    * constant-size plan over two parquet frames; the cumulative reached
    * set is the union of the (disjoint) frontier files.
    *
    * `scratchKey` (r12 ADVICE): repeated invocations with the same key
    * (bench warm-up + N timed trials of one gate) reuse ONE per-JVM
    * scratch dir, overwriting the same hop files instead of accumulating
    * a fresh tmpfs dir per run — all hop files of one invocation stay
    * live until its result frame is consumed (the census reads every
    * hop lazily), so within-run deletion is NOT safe here; reuse is. */
  def bfsFrontiers(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame, hops: Int = 3,
      scratchKey: Option[String] = None,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val run = Scratch.runDir("bfs", scratchKey)
    // adjOpt (r16): a dst-bucketed symmetric adjacency makes each hop's
    // frontier `distinct` (keyed on the matched dst) and the seed's
    // degree census (groupBy dst ≡ groupBy src by symmetry) exchange-free.
    val adj = adjOpt.getOrElse(adjacency(edges))
    val deg = adj.groupBy(col("dst").as("vtx")).agg(count(lit(1)).as("deg"))
    val seed = Scratch.hop(deg.orderBy(col("deg").asc, col("vtx").asc)
      .limit(1).select(col("vtx")), run, "seed")
    var frontier = seed
    var reached = seed // union of disjoint per-hop frontier files
    var counts = seed.agg(count(lit(1)).as("n_frontier"))
      .select(lit(0).as("hop"), col("n_frontier"))
    (1 to hops).foreach { k =>
      val next = Scratch.hop(
        adj.join(frontier, adj("src") === frontier("vtx"))
          .select(col("dst").as("vtx")).distinct()
          .join(reached, Seq("vtx"), "left_anti"), run, s"f$k")
      counts = counts.unionAll(next.agg(count(lit(1)).as("n_frontier"))
        .select(lit(k).as("hop"), col("n_frontier")))
      reached = reached.unionAll(next) // disjoint by the anti-join
      frontier = next
    }
    val w = Window.orderBy(col("hop"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.withColumn("n_reached", sum(col("n_frontier")).over(w))
  }

  /** LABEL PROPAGATION community detection (Raghavan's LPA), made
    * DETERMINISTIC: k SYNCHRONOUS iterations (every vertex updates from
    * the previous generation's labels — asynchronous LPA is
    * order-dependent and can never be oracle-checked), each adopting the
    * MOST FREQUENT label among neighbors with ties broken to the SMALLEST
    * label. Distinct from connected components / [[bfsFrontiers]]:
    * hash-min propagation finds reachability; frequency propagation finds
    * DENSITY — a vertex between two communities goes where more of its
    * neighbors are. Each iteration is one adjacency join + a (vtx, label)
    * count + a per-vertex arg-max (state per vertex = its degree, never
    * the graph); labels are integers throughout, so both engines replay
    * the same fixed-iteration trajectory exactly. Returns the community
    * census after `iters` rounds.
    *
    * The arg-max is a lexicographic struct MAX — max(c, −lbl) picks the
    * most frequent label, ties to the SMALLEST label — not a row_number
    * window (r15 optimization): the window formulation paid a second
    * full exchange plus a sort of the (vtx, lbl, c) frame per round,
    * while the struct max is one more hash-agg with map-side partial
    * aggregation (the shuffled rows collapse to one per vertex before
    * they move). Identical trajectory: both formulations realize the
    * same (count DESC, label ASC) arg-max.
    *
    * Each round's label frame is CHECKPOINTED as a parquet hop (same
    * rationale as [[bfsFrontiers]]/[[kCorePeelCensus]]): round r's join
    * would otherwise re-derive rounds 1..r−1's join+window lineage, so
    * plan size grows with iters² while the checkpointed plan stays one
    * join + one window per round. */
  def labelPropagation(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame, iters: Int = 3,
      scratchKey: Option[String] = None,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    val run = Scratch.runDir("lpa", scratchKey)
    // adjOpt (r16): callers that keep the symmetric adjacency as a
    // dst-bucketed table pass it in — HashPartitioning(dst) satisfies
    // both per-round aggregations' clustering AND the seed distinct (by
    // symmetry, distinct dst ≡ distinct src), so every round runs with
    // zero exchanges. Any (src, dst) symmetric closure is accepted;
    // results are identical either way.
    val adj = adjOpt.getOrElse(adjacency(edges))
    var labels = adj.select(col("dst").as("vtx")).distinct()
      .select(col("vtx"), col("vtx").as("lbl"))
    (1 to iters).foreach { i =>
      labels = Scratch.hop(
        adj.join(labels, adj("src") === labels("vtx"))
          .groupBy(col("dst").as("vtx"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("vtx"))
          .agg(max(struct(col("c").as("c"), negate(col("lbl")).as("neg"),
            col("lbl").as("lbl"))).as("m"))
          .select(col("vtx"), col("m").getField("lbl").as("lbl")), run, s"l$i")
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
  }

  /** Mean-core peeling census: `rounds` synchronous rounds of k-core
    * peeling with k fixed to the ORIGINAL graph's floor-mean degree
    * (`sum(deg) div n_vertices` — data-dependent but integer-exact, so
    * both engines derive the identical k; a literal k would be degenerate
    * across scale factors because co-occurrence degree grows with SF).
    *
    * Round r drops every vertex whose degree in the round-(r−1) graph is
    * below k, then keeps only edges with both endpoints surviving — the
    * standard iterated subgraph of the k-core computation, stopped after
    * a FIXED round count (like [[labelPropagation]]'s fixed trajectory)
    * so the whole path is oracle-replayable as chained CTEs. Returns one
    * row per round: (round, n_removed, n_kept, n_edges).
    *
    * Scale shape: each round is one degree hash-agg + two vertex-keyed
    * semi-joins; the surviving edge set is CHECKPOINTED per round (tiny
    * parquet hop, same rationale as the q125 edge checkpoint — the census
    * row AND the next round both re-read it, and the census frame is
    * consumed lazily long after this method returns). Driver state is
    * nil: k travels as a broadcast 1-row cross join, never a collect. */
  def kCorePeelCensus(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame, rounds: Int = 3,
      scratchKey: Option[String] = None): DataFrame = {
    // one dir per INVOCATION (was: one per ckpt call — r12 ADVICE's tmpfs
    // accumulation), and one per JVM when the caller passes a reuse key
    val run = Scratch.runDir("kcore", scratchKey)
    var cur = edges.select(col("u"), col("v"))
    // The per-round degree frame is CHECKPOINTED (r15 optimization):
    // lazily it was an independent subtree under each of its readers —
    // the keep filter AND the census' n_before count each re-ran the
    // 2-scan degree agg (2× per round), and k0 re-derived round 1's
    // degrees a third time. One tiny (≤|V| rows) parquet hop per round
    // serves all of them; k0 is a 1-row agg over the round-1 hop.
    var deg = Scratch.hop(degrees(cur), run, "deg1")
    val k0 = deg.agg(expr("sum(deg) div count(*)").as("k"))
    val census = (1 to rounds).map { r =>
      val degR = deg
      // keep is NOT checkpointed (r16): it is a row-bounded FILTER of the
      // already-checkpointed deg parquet, so each of its three readers
      // (two semi-join sides, the n_kept census) re-derives it with one
      // cheap |V|-row columnar scan + broadcast-k0 filter — materializing
      // it paid a parquet write job per round to save re-scans that cost
      // less than the write. deg itself stays a parquet hop: ITS lineage
      // is the 2|E|-row degree agg.
      val keep = degR.crossJoin(broadcast(k0))
        .filter(col("deg") >= col("k")).select(col("vtx"))
      val next = Scratch.hop(
        cur.join(keep.select(col("vtx").as("u")), Seq("u"))
          .join(keep.select(col("vtx").as("v")), Seq("v"))
          .select(col("u"), col("v")), run, s"e$r")
      val row = degR.agg(count(lit(1)).as("n_before"))
        .crossJoin(keep.agg(count(lit(1)).as("n_kept")))
        .crossJoin(next.agg(count(lit(1)).as("n_edges")))
        .select(lit(r).as("round"),
          (col("n_before") - col("n_kept")).as("n_removed"),
          col("n_kept"), col("n_edges"))
      cur = next
      if (r < rounds) deg = Scratch.hop(degrees(cur), run, s"deg${r + 1}")
      row
    }
    census.reduce(_ unionAll _)
  }
}
