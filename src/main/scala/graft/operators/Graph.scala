package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Derived, Scratch}

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
    * The degree frame is CHECKPOINTED as a tiny parquet hop
    * ([[graft.Scratch.hop]], r15 optimization): deg is read once per
    * iteration plus once for the seed — lazily it was an independent
    * subtree each time, so the full 2-scan degree agg re-executed iters+1
    * times (the q130 static plan carried 14 scans; checkpointed it carries
    * iters·2 = 6 over the edge list). The file hop (not a `.persist`)
    * keeps real size statistics so every per-iteration deg join stays a
    * broadcast. It stays a file, not the driver-held local relation
    * [[bfsFrontiers]] and [[labelPropagation]] use: collecting the
    * degrees and shipping them back measured neutral for q130 on a
    * 4-core host (0.87 → 0.81 s), so the lazily-consumed file hop was
    * kept.
    *
    * `edges` is by-name and read only when `adjOpt` is absent, as in
    * [[bfsFrontiers]]: a caller that passes its adjacency table pays no
    * edge-file read (each parquet read runs a schema job). */
  def integerPageRank(edges: => DataFrame, iters: Int = 3,
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
    * hop). Output is one row per hop (hop, n_frontier, n_reached), hops
    * 0..`hops`; an edgeless graph has no seed and gives all-zero rows.
    *
    * A superstep loop the DRIVER coordinates (the Pregel superstep with
    * the frontier as driver state): one top-1 job picks the seed; each hop
    * is ONE distributed step — the adjacency semi-joined to the frontier,
    * shipped as a local relation (a broadcast), and its distinct `dst` ids
    * collected — and the driver subtracts the reached set and keeps the
    * census. Driver state is O(|V|) vertex ids (the reached set and the
    * frontier), like q323's O(k) centers: 2,000 ids at sf0.01, 20,000 at
    * sf0.1. The census is returned as a local relation, so the work runs
    * eagerly, inside this call.
    *
    * The parquet hop this replaced (`Scratch.hop` per frontier) wrote and
    * re-read every hop — 19 Spark jobs per q219 execution at sf0.01 on 4
    * cores, against 8 here — to cut a lineage that a local relation never
    * grows: each hop's plan is one bucketed scan, one broadcast semi-join
    * and one exchange-free distinct whatever the depth.
    *
    * `edges` is by-name and read only when `adjOpt` is absent: a caller
    * that passes its adjacency table pays no edge-file read (each parquet
    * read runs a schema job). */
  def bfsFrontiers(spark: org.apache.spark.sql.SparkSession,
      edges: => DataFrame, hops: Int = 3,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // adjOpt (r16): a dst-bucketed symmetric adjacency makes each hop's
    // `distinct dst` and the seed's degree census (groupBy dst ≡ groupBy
    // src by symmetry) exchange-free.
    val adj = adjOpt.getOrElse(adjacency(edges))
    val vtxSchema = StructType(Seq(StructField("vtx", adj.schema("dst").dataType)))
    // a top-1 over the degree census: one job on the dst-bucketed adjacency
    var frontier = adj.groupBy(col("dst").as("vtx")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg"), col("vtx")).limit(1).select(col("vtx")).collect()
    val reached = scala.collection.mutable.HashSet.empty[Any] ++= frontier.map(_.get(0))
    val census = (0 to hops).map { k =>
      if (k > 0 && frontier.nonEmpty) {
        val f = Derived.Rows(frontier, vtxSchema).toDF(spark)
        frontier = adj.join(broadcast(f), adj("src") === f("vtx"), "left_semi")
          .select(col("dst")).distinct().collect()
          .filter(r => reached.add(r.get(0)))
      }
      Row(k, frontier.length.toLong, reached.size.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(census: _*), StructType(Seq(
      StructField("hop", IntegerType, nullable = false),
      StructField("n_frontier", LongType, nullable = false),
      StructField("n_reached", LongType, nullable = false))))
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
    * Each round's label frame is collected to the driver and shipped to
    * the next round as a local relation ([[graft.Derived.Rows]]): round
    * r's join would otherwise re-derive rounds 1..r−1's lineage, so plan
    * size would grow with iters², while a local relation keeps every
    * round one join + two aggregations. Driver state is one label per
    * vertex, O(|V|) — the [[bfsFrontiers]] bound — and the returned
    * census aggregates the last round's local relation. */
  def labelPropagation(spark: org.apache.spark.sql.SparkSession,
      edges: => DataFrame, iters: Int = 3,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    // adjOpt (r16): callers that keep the symmetric adjacency as a
    // dst-bucketed table pass it in — HashPartitioning(dst) satisfies
    // both per-round aggregations' clustering AND the seed distinct (by
    // symmetry, distinct dst ≡ distinct src), so every round runs with
    // zero exchanges. Any (src, dst) symmetric closure is accepted;
    // results are identical either way. `edges` (by-name) is read only
    // without one, as in bfsFrontiers.
    val adj = adjOpt.getOrElse(adjacency(edges))
    var labels = adj.select(col("dst").as("vtx")).distinct()
      .select(col("vtx"), col("vtx").as("lbl"))
    (1 to iters).foreach { _ =>
      labels = Derived.rows(
        adj.join(labels, adj("src") === labels("vtx"))
          .groupBy(col("dst").as("vtx"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("vtx"))
          .agg(max(struct(col("c").as("c"), negate(col("lbl")).as("neg"),
            col("lbl").as("lbl"))).as("m"))
          .select(col("vtx"), col("m").getField("lbl").as("lbl"))).toDF(spark)
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
    * nil: k travels as a broadcast 1-row cross join, never a collect.
    * The hops stay parquet files rather than driver-held local relations
    * (the [[bfsFrontiers]] form): the surviving EDGE set is not bounded
    * by |V|, and collecting the per-round degree frames instead measured
    * slower for q301 on a 4-core host (2.2 → 2.4–2.6 s). */
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
