package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph-analytics gate queries over the part co-occurrence graph: two
  * parts are connected iff some order contains both (the classic
  * market-basket projection). Edge building is itself a scale exercise —
  * the per-order pair explosion is bounded by orders' line counts (TPC-H
  * ≤ 7 lines/order ⇒ ≤ 21 pairs), never by part popularity.
  */
object GraphQueries {

  /** Canonical co-occurrence edges (u < v, distinct) from lineitem,
    * CHECKPOINTED through a parquet round trip before use. Every graph
    * gate consumes the edge list many times (degrees + orientation + both
    * wedge-join sides + closing join, or one join per PageRank iteration);
    * without materialization the per-order pair explosion re-runs for
    * EVERY consumer (the q125 static plan showed 24 lineitem scans / 49
    * shuffles). A `.persist()` fixes the recompute but hides size stats
    * and pins partitioning (measured 5× WORSE at sf0.1 — AQE could no
    * longer broadcast the degree join or split the skewed wedge join);
    * the parquet hop gives real file statistics, vectorized scans, and
    * full AQE — exactly how a production pipeline checkpoints a derived
    * edge table before iterating on it.
    *
    * The checkpoint is a [[graft.Derived]] input per `dir` (VERDICT r4 #3): q125,
    * q126, and q130 all derive from the same graph, so the explode +
    * distinct + write runs once per run and every later consumer scans
    * the shared parquet — exactly a production derived-table build,
    * charged to its first consumer. The directory comes from
    * [[graft.Scratch]], so it is deleted at JVM exit. */
  private def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(edgesPath(spark, dir))

  private def edgesPath(spark: SparkSession, dir: String): String =
    graft.Derived("graph.edges", dir) {
      import spark.implicits._
      val items = Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      val edges = items.select($"o", $"p".as("u"))
        .join(items.select($"o", $"p".as("v")), "o")
        .filter($"u" < $"v")
        .select($"u", $"v").distinct()
      val out = graft.Scratch.fresh("graft_edges_").resolve("edges").toString
      edges.write.mode("overwrite").parquet(out)
      out
    }

  /** Symmetric adjacency (src, dst) of the co-purchase graph, persisted
    * once per (JVM, sf-dir) as a dst-BUCKETED table (r16, guide §2.4
    * "bucketed tables persist a partitioning across jobs"): every
    * iterative consumer's per-round regroup is keyed by the DESTINATION
    * vertex — LPA's (dst, label) count + per-dst arg-max, PageRank's
    * contribution sum, BFS's frontier distinct — and because the
    * adjacency is symmetric, even the degree census can group by dst.
    * Hash-bucketing by dst therefore satisfies EVERY per-round clustering
    * requirement (HashPartitioning(dst) satisfies
    * ClusteredDistribution(dst, …)), so the rounds run with ZERO
    * exchanges: bucketed scan → broadcast state join → local aggs →
    * state hop. The bucket count derives from the edge bytes
    * ([[graft.Tables.partitionsFor]]: the adjacency is 2× the edge bytes,
    * one bucket per 32 MiB, floor 8 — never a constant tuned to the local
    * core count); buckets are written UNSORTED — the consumers are hash
    * aggregations, not sort-merge joins. */
  private def coPurchaseAdj(spark: SparkSession, dir: String): DataFrame =
    spark.table(graft.Derived("graph.adjacency", dir) {
      val adj = graft.operators.Graph.adjacency(coPurchaseEdges(spark, dir))
      val buckets = Tables.partitionsFor(edgesPath(spark, dir), floor = 8, scale = 2)
      val name = s"graft_adj_${graft.Scratch.dirKey(dir)}"
      val path = graft.Scratch.named(s"adjbkt_${graft.Scratch.dirKey(dir)}")
        .resolve("t").toString
      graft.operators.Bucketing.writeBucketed(adj, name, "dst", buckets,
        Some(path), sorted = false)
      name
    })

  /** Bench fixture hook ([[graft.Fixtures]], VERDICT r8 #2): the shared
    * co-purchase edge checkpoint + the dst-bucketed adjacency table. */
  private[graft] def prebuildFixtures(spark: SparkSession, dir: String): Unit = {
    coPurchaseEdges(spark, dir): Unit
    coPurchaseAdj(spark, dir): Unit
  }

  /** Exact triangle census of the co-purchase graph
    * ([[graft.operators.Graph.triangleCount]] — degree-ordered wedge
    * enumeration; see its doc for the O(m^1.5), hot-vertex-proof bound).
    * The oracle replays the identical orientation in SQL, so n_wedges (an
    * orientation-dependent intermediate) is checked too, not just the
    * orientation-invariant triangle count. */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCount(coPurchaseEdges(spark, dir))

  /** Degree histogram of the same graph — the power-law / hub-shape report
    * (and the statistic that justifies q125's orientation bound). */
  def degreeHist(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.degreeHistogram(coPurchaseEdges(spark, dir))

  /** Integer-exact PageRank, 3 iterations
    * ([[graft.operators.Graph.integerPageRank]] — see its doc for why
    * integer damping is the only oracle-checkable formulation). The oracle
    * unrolls the same three iterations as chained CTEs with `//` floor
    * division; DuckDB's HUGEINT window sums are pinned back to BIGINT. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.integerPageRank(coPurchaseEdges(spark, dir),
      scratchKey = Some(graft.Scratch.dirKey(dir)),
      adjOpt = Some(coPurchaseAdj(spark, dir)))

  /** 3-hop BFS reachability census
    * ([[graft.operators.Graph.bfsFrontiers]] — driver-coordinated
    * Pregel supersteps from the min-degree seed). The oracle replays the same level
    * structure as chained CTEs (fᵢ = neighbors of fᵢ₋₁ minus everything
    * reached), so every per-hop frontier size is checked, not just the
    * final reachable count. At sf0.01 the census is 1 / 42 / 1814 / 143 —
    * the periphery-seeded traversal genuinely needs all three hops. */
  def bfsCensus(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.bfsFrontiers(spark, coPurchaseEdges(spark, dir),
      adjOpt = Some(coPurchaseAdj(spark, dir)))

  /** Deterministic label-propagation communities
    * ([[graft.operators.Graph.labelPropagation]] — 3 synchronous
    * frequency-adoption rounds, ties to the smallest label). The oracle
    * unrolls the same three rounds as chained CTEs with the identical
    * (count DESC, label ASC) arg-max, so the whole trajectory is checked,
    * not just the final census. */
  def lpaCensus(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagation(spark, coPurchaseEdges(spark, dir),
      adjOpt = Some(coPurchaseAdj(spark, dir)))

  /** Mean-core peeling trajectory
    * ([[graft.operators.Graph.kCorePeelCensus]] — 3 synchronous rounds at
    * k = the original graph's floor-mean degree). The oracle derives the
    * identical integer k and unrolls the same three
    * degree→filter→subgraph rounds as chained CTEs, so every per-round
    * removal count is checked, not just the final core size. */
  def kcoreCensus(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCorePeelCensus(spark, coPurchaseEdges(spark, dir),
      scratchKey = Some(graft.Scratch.dirKey(dir)))

  /** DEGREE ASSORTATIVITY (q317) — do hubs connect to hubs (r > 0) or to
    * spokes (r < 0)? Pearson correlation of endpoint degrees over every
    * directed edge (each undirected edge contributes both orientations,
    * the standard Newman definition). Exactness is the q143 bridge:
    * BIGINT moments (degrees are integers; every Σ stays < 2⁵³, so each
    * CAST to DOUBLE is exact) combined by ONE fixed IEEE op sequence —
    * each n·Σ product is a single correctly-rounded multiply of exactly
    * representable doubles, so both engines produce the identical bits.
    * Degenerate (regular) graphs pin r to NULL via the exact integer
    * zero-variance test. One degree agg + two broadcast-degree joins +
    * one global moment agg. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // bucketed adjacency (r16): one bucketed scan instead of two edge
    // scans + union, and the degree census (groupBy dst ≡ groupBy src by
    // symmetry) aggregates without an exchange
    val adj = coPurchaseAdj(spark, dir)
    val deg = adj.groupBy($"dst".as("vtx")).agg(count(lit(1)).as("deg"))
    val pairs = adj
      .join(broadcast(deg.select($"vtx".as("src"), $"deg".as("x"))), "src")
      .join(broadcast(deg.select($"vtx".as("dst"), $"deg".as("y"))), "dst")
      .select($"x", $"y")
    val m = pairs.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
      sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
      sum($"y" * $"y").as("syy"), sum($"x" * $"y").as("sxy"),
      min($"x").as("min_degree"), max($"x").as("max_degree"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val num = d($"n") * d($"sxy") - d($"sx") * d($"sy")
    val dx = d($"n") * d($"sxx") - d($"sx") * d($"sx")
    val dy = d($"n") * d($"syy") - d($"sy") * d($"sy")
    // zero variance ⇔ the graph is regular — tested on min/max degree,
    // never on n·Σx² − (Σx)² in LONG (that product overflows 2⁶³ on a
    // few-million-edge graph and ANSI mode would throw)
    m.select($"n".as("n_endpoints"), expr("n div 2").as("n_edges"),
      $"max_degree",
      when($"min_degree" === $"max_degree", lit(null).cast("double"))
        .otherwise(num / sqrt(dx * dy)).as("assortativity"))
  }

  /** LOCAL CLUSTERING BY DEGREE BUCKET (q335) — the degree-resolved
    * clustering-coefficient profile C(k), the standard "is this graph
    * hierarchical?" diagnostic (C(k) ~ k⁻¹ for hierarchical networks,
    * flat for random ones): per-vertex triangle counts
    * ([[graft.operators.Graph.nodeTriangles]] — the q125 degree-ordered
    * orientation, so no hot vertex can inflate the wedge volume) census
    * into integer-log2 degree buckets (`length(bin(deg))−1`, the repo's
    * transcendental-free log2). Each bucket reports exact BIGINTs —
    * vertex count, Σdeg, Σtriangles, Σ possible closed wedges deg(deg−1)
    * — and the bucket's weighted-mean coefficient 2·Σtri/Σdeg(deg−1) in
    * floor basis points (zero-guarded: the deg=1 bucket has no wedges).
    * The oracle replays the identical orientation, 3-corner credit, and
    * bucket algebra. */
  def localClustering(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Graph.nodeTriangles(coPurchaseEdges(spark, dir))
      .withColumn("degree_bucket", (length(bin($"deg")) - 1).cast("int"))
      .groupBy($"degree_bucket")
      .agg(count(lit(1)).as("n_vertices"),
        sum($"deg").as("sum_deg"),
        sum($"n_tri").as("sum_tri"),
        sum($"deg" * ($"deg" - 1L)).as("sum_possible"))
      .withColumn("mean_cc_bp",
        when($"sum_possible" > 0L,
          expr("2L * sum_tri * 10000L div sum_possible")).otherwise(0L))
  }

  /** EDGE-NEIGHBORHOOD JACCARD CENSUS (q341) — the link-strength /
    * embeddedness profile: for every edge {u,v}, the Jaccard overlap of
    * the endpoints' neighborhoods (excluding each other) in floor basis
    * points — J = |N(u)∩N(v)| / (deg(u)+deg(v)−2−|N(u)∩N(v)|) — bucketed
    * into deciles. The intersection is exactly the edge's triangle count
    * ([[graft.operators.Graph.edgeCommonNeighbors]] — the q125
    * degree-ordered orientation, so the wedge volume stays O(m^1.5));
    * isolated edges (denominator 0: both endpoints degree 1) report 0 bp
    * by convention. A strong-tie census like this is the standard
    * pre-filter for community-preserving graph sparsification. */
  def edgeJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = coPurchaseEdges(spark, dir)
    // Census over TRIANGLE edges only (edgeCommonNeighbors emits common ≥ 1
    // rows, r16): every triangle-FREE edge has common = 0 ⇒ jaccard_bp = 0
    // ⇒ bucket 0 with zero sum_common and zero max contribution, so the
    // zero rows are reconstructed ARITHMETICALLY — one bucket-0 remainder
    // row carrying (m − Σ n_edges) — instead of LEFT-joining the full
    // m-row edge frame against the credit counts (that join exchanged all
    // m edges on (u, v) and ran both degree joins over m rows, purely to
    // carry zeros into a ≤ 11-row census).
    val cens = graft.operators.Graph.edgeCommonNeighbors(edges)
      .withColumn("den", $"du" + $"dv" - 2L - $"common")
      .withColumn("jaccard_bp",
        when($"den" > 0L, expr("(10000 * common) div den")).otherwise(0L))
      .groupBy(expr("jaccard_bp div 1000").cast("int").as("jaccard_bucket"))
      .agg(count(lit(1)).as("n_edges"),
        sum($"common").as("sum_common"),
        max($"jaccard_bp").as("max_jaccard_bp"))
      .localCheckpoint() // ≤ 11 rows; read twice (remainder agg + union leg)
    val remainder = cens
      .agg(coalesce(sum($"n_edges"), lit(0L)).as("n_tri_edges"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("m"))))
      .select(lit(0).cast("int").as("jaccard_bucket"),
        ($"m" - $"n_tri_edges").as("n_edges"),
        lit(0L).as("sum_common"), lit(0L).as("max_jaccard_bp"))
      .filter($"n_edges" > 0L) // all-edges-in-triangles ⇒ no synthetic row
    cens.unionByName(remainder)
      .groupBy($"jaccard_bucket")
      .agg(sum($"n_edges").as("n_edges"),
        sum($"sum_common").as("sum_common"),
        max($"max_jaccard_bp").as("max_jaccard_bp"))
  }

  /** CSR LAYOUT EXPORT (q357) — the compressed-sparse-row handoff a GNN
    * or HPC training job consumes: vertices in id order, each with its
    * EXCLUSIVE prefix-sum offset into the concatenated adjacency array
    * (offset = cum − deg), partitioned into 4 contiguous rank-quartile
    * shards (`((r−1)·4) div n` — contiguity is what makes a shard a
    * valid CSR slice). Both the offsets and the ranks come from ONE
    * [[graft.operators.Sweep.prefixSums]] pass (two summed columns,
    * one shared range exchange — never a single-partition window), so
    * the layout is distributed-exact at any scale. The gate emits the
    * per-shard layout audit — vertex/edge counts, offset range, and the
    * Σ-offsets checksum that pins every individual offset. */
  def csrExport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // bucketed adjacency (r16): same rationale as assortativity — the
    // degree census feeding the prefix-sum pass aggregates exchange-free
    val adj = coPurchaseAdj(spark, dir)
    val deg = adj.groupBy($"dst".as("vtx")).agg(count(lit(1)).as("deg"))
      .withColumn("one", lit(1L))
    // localCheckpoint: the vertex-count broadcast `nn` derives FROM the
    // ranked frame, so uncheckpointed the edge-union + degree agg +
    // prefix-sum range exchange executed twice — once under nn's max,
    // once under the main shard leg (r15, the q132/q345 repeated-subtree
    // rule; |V|-sized hop)
    val ranked = graft.operators.Sweep.prefixSums(deg, Seq($"vtx".asc),
      Seq("deg" -> "cum", "one" -> "r"))
      .localCheckpoint()
    val nn = ranked.agg(max($"r").as("n"))
    ranked.crossJoin(broadcast(nn))
      .select($"deg", ($"cum" - $"deg").as("off"), $"cum",
        expr("((r - 1) * 4) div n").as("shard"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_vertices"), sum($"deg").as("n_edges"),
        min($"off").as("min_offset"), max($"cum").as("end_offset"),
        sum($"off").as("sum_offsets"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q357_csr_export" -> (csrExport _),
    "q341_edge_jaccard" -> (edgeJaccard _),
    "q335_local_clustering" -> (localClustering _),
    "q317_assortativity" -> (assortativity _),
    "q125_triangle_count" -> (triangles _),
    "q126_degree_histogram" -> (degreeHist _),
    "q130_pagerank" -> (pagerank _),
    "q219_bfs_frontiers" -> (bfsCensus _),
    "q224_label_propagation" -> (lpaCensus _),
    "q301_kcore_peeling" -> (kcoreCensus _))

  private val edgesSql =
    """i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    // q357: the oracle's cumulative window is its single-node privilege;
    // identical exclusive offsets (cum − deg) and rank-quartile shards.
    "q357_csr_export" ->
      s"""WITH $edgesSql,
         |adj AS (
         |  SELECT u AS src, v AS dst FROM e
         |  UNION ALL SELECT v AS src, u AS dst FROM e
         |),
         |d AS (
         |  SELECT src AS vtx, CAST(count(*) AS BIGINT) AS deg
         |  FROM adj GROUP BY 1
         |),
         |r AS (
         |  SELECT vtx, deg,
         |    sum(deg) OVER (ORDER BY vtx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    row_number() OVER (ORDER BY vtx) AS rn
         |  FROM d
         |),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
         |SELECT CAST(((rn - 1) * 4) // (SELECT n FROM nn) AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_vertices,
         |  CAST(sum(deg) AS BIGINT) AS n_edges,
         |  CAST(min(cum - deg) AS BIGINT) AS min_offset,
         |  CAST(max(cum) AS BIGINT) AS end_offset,
         |  CAST(sum(cum - deg) AS BIGINT) AS sum_offsets
         |FROM r GROUP BY 1""".stripMargin,
    // q341: q335's triangle CTEs, credited to the three EDGES of each
    // triangle (canonicalized u<v), LEFT-joined back so triangle-free
    // edges keep common=0; identical guarded bp + decile bucket algebra.
    "q341_edge_jaccard" ->
      s"""WITH $edgesSql,
         |d AS (
         |  SELECT vtx, count(*) AS deg
         |  FROM (SELECT u AS vtx FROM e UNION ALL SELECT v AS vtx FROM e)
         |  GROUP BY vtx
         |), o AS (
         |  SELECT
         |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |         THEN e.u ELSE e.v END AS s,
         |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |         THEN e.v ELSE e.u END AS d
         |  FROM e JOIN d du ON du.vtx = e.u JOIN d dv ON dv.vtx = e.v
         |), w AS (
         |  SELECT a.s AS s, least(a.d, b.d) AS d1, greatest(a.d, b.d) AS d2
         |  FROM o a JOIN o b ON a.s = b.s AND a.d < b.d
         |), tri AS (
         |  SELECT w.s, w.d1, w.d2 FROM w JOIN e ON e.u = w.d1 AND e.v = w.d2
         |), cr AS (
         |  SELECT least(s, d1) AS u, greatest(s, d1) AS v FROM tri
         |  UNION ALL SELECT least(s, d2), greatest(s, d2) FROM tri
         |  UNION ALL SELECT d1, d2 FROM tri
         |), cc AS (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS common
         |  FROM cr GROUP BY u, v
         |), f AS (
         |  SELECT e.u, e.v, coalesce(cc.common, 0) AS common,
         |    CAST(du.deg AS BIGINT) AS du, CAST(dv.deg AS BIGINT) AS dv
         |  FROM e LEFT JOIN cc ON cc.u = e.u AND cc.v = e.v
         |  JOIN d du ON du.vtx = e.u JOIN d dv ON dv.vtx = e.v
         |), j AS (
         |  SELECT common,
         |    CASE WHEN du + dv - 2 - common > 0
         |      THEN (10000 * common) // (du + dv - 2 - common)
         |      ELSE 0 END AS jaccard_bp
         |  FROM f
         |)
         |SELECT CAST(jaccard_bp // 1000 AS INTEGER) AS jaccard_bucket,
         |  CAST(count(*) AS BIGINT) AS n_edges,
         |  CAST(sum(common) AS BIGINT) AS sum_common,
         |  CAST(max(jaccard_bp) AS BIGINT) AS max_jaccard_bp
         |FROM j GROUP BY 1""".stripMargin,
    // q335: q125's orientation CTEs extended — wedges keep their source
    // corner, each closed triangle credits s/d1/d2, LEFT JOIN keeps
    // triangle-free vertices, identical log2 bucket + bp algebra.
    "q335_local_clustering" ->
      s"""WITH $edgesSql,
         |d AS (
         |  SELECT vtx, count(*) AS deg
         |  FROM (SELECT u AS vtx FROM e UNION ALL SELECT v AS vtx FROM e)
         |  GROUP BY vtx
         |), o AS (
         |  SELECT
         |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |         THEN e.u ELSE e.v END AS s,
         |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |         THEN e.v ELSE e.u END AS d
         |  FROM e JOIN d du ON du.vtx = e.u JOIN d dv ON dv.vtx = e.v
         |), w AS (
         |  SELECT a.s AS s, least(a.d, b.d) AS d1, greatest(a.d, b.d) AS d2
         |  FROM o a JOIN o b ON a.s = b.s AND a.d < b.d
         |), tri AS (
         |  SELECT w.s, w.d1, w.d2 FROM w JOIN e ON e.u = w.d1 AND e.v = w.d2
         |), tn AS (
         |  SELECT vtx, CAST(count(*) AS BIGINT) AS n_tri
         |  FROM (SELECT s AS vtx FROM tri
         |        UNION ALL SELECT d1 FROM tri
         |        UNION ALL SELECT d2 FROM tri)
         |  GROUP BY vtx
         |), f AS (
         |  SELECT d.vtx, CAST(d.deg AS BIGINT) AS deg,
         |    coalesce(tn.n_tri, 0) AS n_tri
         |  FROM d LEFT JOIN tn USING (vtx)
         |), b AS (
         |  SELECT CAST(length(bin(deg)) - 1 AS INTEGER) AS degree_bucket,
         |    CAST(count(*) AS BIGINT) AS n_vertices,
         |    CAST(sum(deg) AS BIGINT) AS sum_deg,
         |    CAST(sum(n_tri) AS BIGINT) AS sum_tri,
         |    CAST(sum(deg * (deg - 1)) AS BIGINT) AS sum_possible
         |  FROM f GROUP BY 1
         |)
         |SELECT degree_bucket, n_vertices, sum_deg, sum_tri, sum_possible,
         |  CAST(CASE WHEN sum_possible > 0
         |    THEN 2 * sum_tri * 10000 // sum_possible
         |    ELSE 0 END AS BIGINT) AS mean_cc_bp
         |FROM b""".stripMargin,
    "q125_triangle_count" ->
      s"""WITH $edgesSql,
         |d AS (
         |  SELECT vtx, count(*) AS deg
         |  FROM (SELECT u AS vtx FROM e UNION ALL SELECT v AS vtx FROM e)
         |  GROUP BY vtx
         |), o AS (
         |  SELECT
         |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |         THEN e.u ELSE e.v END AS s,
         |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |         THEN e.v ELSE e.u END AS d
         |  FROM e JOIN d du ON du.vtx = e.u JOIN d dv ON dv.vtx = e.v
         |), w AS (
         |  SELECT least(a.d, b.d) AS d1, greatest(a.d, b.d) AS d2
         |  FROM o a JOIN o b ON a.s = b.s AND a.d < b.d
         |)
         |SELECT (SELECT count(*) FROM e) AS n_edges,
         |       (SELECT count(*) FROM w) AS n_wedges,
         |       (SELECT count(*) FROM w JOIN e ON e.u = w.d1 AND e.v = w.d2)
         |         AS n_triangles""".stripMargin,
    "q126_degree_histogram" ->
      s"""WITH $edgesSql,
         |d AS (
         |  SELECT vtx, count(*) AS deg
         |  FROM (SELECT u AS vtx FROM e UNION ALL SELECT v AS vtx FROM e)
         |  GROUP BY vtx
         |)
         |SELECT deg, count(*) AS n_vertices FROM d GROUP BY deg""".stripMargin,
    "q130_pagerank" ->
      s"""WITH $edgesSql,
         |adj AS (
         |  SELECT u AS src, v AS dst FROM e
         |  UNION ALL SELECT v AS src, u AS dst FROM e
         |),
         |d AS (SELECT src AS vtx, count(*) AS deg FROM adj GROUP BY src),
         |p0 AS (SELECT vtx, CAST(1000000000000 AS BIGINT) AS pr, deg FROM d),
         |s1 AS (
         |  SELECT a.dst AS vtx, CAST(sum(p.pr // p.deg) AS BIGINT) AS s
         |  FROM adj a JOIN p0 p ON p.vtx = a.src GROUP BY a.dst
         |),
         |p1 AS (
         |  SELECT s1.vtx, CAST(150000000000 + (17 * s1.s) // 20 AS BIGINT) AS pr, d.deg
         |  FROM s1 JOIN d ON d.vtx = s1.vtx
         |),
         |s2 AS (
         |  SELECT a.dst AS vtx, CAST(sum(p.pr // p.deg) AS BIGINT) AS s
         |  FROM adj a JOIN p1 p ON p.vtx = a.src GROUP BY a.dst
         |),
         |p2 AS (
         |  SELECT s2.vtx, CAST(150000000000 + (17 * s2.s) // 20 AS BIGINT) AS pr, d.deg
         |  FROM s2 JOIN d ON d.vtx = s2.vtx
         |),
         |s3 AS (
         |  SELECT a.dst AS vtx, CAST(sum(p.pr // p.deg) AS BIGINT) AS s
         |  FROM adj a JOIN p2 p ON p.vtx = a.src GROUP BY a.dst
         |)
         |SELECT s3.vtx, CAST(150000000000 + (17 * s3.s) // 20 AS BIGINT) AS pr
         |FROM s3""".stripMargin,
    // q219: the identical level structure as chained CTEs — min-degree
    // seed (ties to smallest id), each frontier = distinct neighbors of
    // the previous minus everything already reached.
    "q219_bfs_frontiers" ->
      s"""WITH $edgesSql,
         |adj AS (
         |  SELECT u AS src, v AS dst FROM e
         |  UNION ALL SELECT v AS src, u AS dst FROM e
         |),
         |d AS (SELECT src AS vtx, count(*) AS deg FROM adj GROUP BY src),
         |seed AS (SELECT vtx FROM d ORDER BY deg ASC, vtx ASC LIMIT 1),
         |f1 AS (
         |  SELECT DISTINCT dst AS vtx FROM adj JOIN seed ON adj.src = seed.vtx
         |  WHERE dst NOT IN (SELECT vtx FROM seed)
         |),
         |r1 AS (SELECT vtx FROM seed UNION SELECT vtx FROM f1),
         |f2 AS (
         |  SELECT DISTINCT dst AS vtx FROM adj JOIN f1 ON adj.src = f1.vtx
         |  WHERE dst NOT IN (SELECT vtx FROM r1)
         |),
         |r2 AS (SELECT vtx FROM r1 UNION SELECT vtx FROM f2),
         |f3 AS (
         |  SELECT DISTINCT dst AS vtx FROM adj JOIN f2 ON adj.src = f2.vtx
         |  WHERE dst NOT IN (SELECT vtx FROM r2)
         |),
         |cnt AS (
         |  SELECT (SELECT count(*) FROM f1) AS n1,
         |         (SELECT count(*) FROM f2) AS n2,
         |         (SELECT count(*) FROM f3) AS n3
         |)
         |SELECT 0 AS hop, CAST(1 AS BIGINT) AS n_frontier,
         |       CAST(1 AS BIGINT) AS n_reached FROM cnt
         |UNION ALL SELECT 1, n1, 1 + n1 FROM cnt
         |UNION ALL SELECT 2, n2, 1 + n1 + n2 FROM cnt
         |UNION ALL SELECT 3, n3, 1 + n1 + n2 + n3 FROM cnt""".stripMargin,
    // q224: the same three synchronous LPA rounds, identical arg-max
    // (count DESC, label ASC) at every step.
    "q224_label_propagation" ->
      s"""WITH $edgesSql,
         |adj AS (
         |  SELECT u AS src, v AS dst FROM e
         |  UNION ALL SELECT v AS src, u AS dst FROM e
         |),
         |l0 AS (SELECT DISTINCT src AS vtx, src AS lbl FROM adj),
         |c1 AS (
         |  SELECT a.dst AS vtx, l.lbl, count(*) AS c
         |  FROM adj a JOIN l0 l ON l.vtx = a.src GROUP BY 1, 2
         |),
         |l1 AS (
         |  SELECT vtx, lbl FROM (
         |    SELECT vtx, lbl,
         |      row_number() OVER (PARTITION BY vtx ORDER BY c DESC, lbl ASC) AS rn
         |    FROM c1) WHERE rn = 1
         |),
         |c2 AS (
         |  SELECT a.dst AS vtx, l.lbl, count(*) AS c
         |  FROM adj a JOIN l1 l ON l.vtx = a.src GROUP BY 1, 2
         |),
         |l2 AS (
         |  SELECT vtx, lbl FROM (
         |    SELECT vtx, lbl,
         |      row_number() OVER (PARTITION BY vtx ORDER BY c DESC, lbl ASC) AS rn
         |    FROM c2) WHERE rn = 1
         |),
         |c3 AS (
         |  SELECT a.dst AS vtx, l.lbl, count(*) AS c
         |  FROM adj a JOIN l2 l ON l.vtx = a.src GROUP BY 1, 2
         |),
         |l3 AS (
         |  SELECT vtx, lbl FROM (
         |    SELECT vtx, lbl,
         |      row_number() OVER (PARTITION BY vtx ORDER BY c DESC, lbl ASC) AS rn
         |    FROM c3) WHERE rn = 1
         |)
         |SELECT lbl AS community, count(*) AS n_members
         |FROM l3 GROUP BY 1""".stripMargin,
    // q317: identical BIGINT moments, identical CAST-then-multiply double
    // tree (every moment < 2⁵³ so the casts are exact), min==max
    // zero-variance pin.
    "q317_assortativity" ->
      s"""WITH $edgesSql,
         |adj AS (
         |  SELECT u AS src, v AS dst FROM e
         |  UNION ALL SELECT v AS src, u AS dst FROM e
         |),
         |d AS (SELECT src AS vtx, count(*) AS deg FROM adj GROUP BY src),
         |p AS (
         |  SELECT dx.deg AS x, dy.deg AS y
         |  FROM adj JOIN d dx ON dx.vtx = adj.src JOIN d dy ON dy.vtx = adj.dst
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(min(x) AS BIGINT) AS min_degree,
         |    CAST(max(x) AS BIGINT) AS max_degree
         |  FROM p
         |)
         |SELECT n AS n_endpoints, CAST(n // 2 AS BIGINT) AS n_edges,
         |  max_degree,
         |  CASE WHEN min_degree = max_degree THEN NULL
         |       ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |  END AS assortativity
         |FROM m""".stripMargin,
    // q301: identical integer k (floor-mean degree of the ORIGINAL graph)
    // and the same three degree→filter→subgraph rounds, unrolled.
    "q301_kcore_peeling" ->
      s"""WITH $edgesSql,
         |d0 AS (
         |  SELECT vtx, count(*) AS deg
         |  FROM (SELECT u AS vtx FROM e UNION ALL SELECT v AS vtx FROM e)
         |  GROUP BY vtx
         |),
         |kk AS (SELECT CAST(sum(deg) // count(*) AS BIGINT) AS k FROM d0),
         |k1 AS (SELECT vtx FROM d0, kk WHERE deg >= k),
         |e1 AS (SELECT u, v FROM e
         |       JOIN k1 a ON a.vtx = e.u JOIN k1 b ON b.vtx = e.v),
         |d1 AS (
         |  SELECT vtx, count(*) AS deg
         |  FROM (SELECT u AS vtx FROM e1 UNION ALL SELECT v AS vtx FROM e1)
         |  GROUP BY vtx
         |),
         |k2 AS (SELECT vtx FROM d1, kk WHERE deg >= k),
         |e2 AS (SELECT e1.u, e1.v FROM e1
         |       JOIN k2 a ON a.vtx = e1.u JOIN k2 b ON b.vtx = e1.v),
         |d2 AS (
         |  SELECT vtx, count(*) AS deg
         |  FROM (SELECT u AS vtx FROM e2 UNION ALL SELECT v AS vtx FROM e2)
         |  GROUP BY vtx
         |),
         |k3 AS (SELECT vtx FROM d2, kk WHERE deg >= k),
         |e3 AS (SELECT e2.u, e2.v FROM e2
         |       JOIN k3 a ON a.vtx = e2.u JOIN k3 b ON b.vtx = e2.v)
         |SELECT CAST(1 AS INTEGER) AS round,
         |  CAST((SELECT count(*) FROM d0) - (SELECT count(*) FROM k1) AS BIGINT) AS n_removed,
         |  CAST((SELECT count(*) FROM k1) AS BIGINT) AS n_kept,
         |  CAST((SELECT count(*) FROM e1) AS BIGINT) AS n_edges
         |UNION ALL SELECT CAST(2 AS INTEGER),
         |  CAST((SELECT count(*) FROM d1) - (SELECT count(*) FROM k2) AS BIGINT),
         |  CAST((SELECT count(*) FROM k2) AS BIGINT),
         |  CAST((SELECT count(*) FROM e2) AS BIGINT)
         |UNION ALL SELECT CAST(3 AS INTEGER),
         |  CAST((SELECT count(*) FROM d2) - (SELECT count(*) FROM k3) AS BIGINT),
         |  CAST((SELECT count(*) FROM k3) AS BIGINT),
         |  CAST((SELECT count(*) FROM e3) AS BIGINT)""".stripMargin)
}
