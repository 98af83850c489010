package graft.operators

import graft.{Scratch, SparkSpec}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) =
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("u", "v")

  test("triangle count: K4 has 4 triangles, 6 edges") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val row = Graph.triangleCount(k4).head()
    assert(row.getAs[Long]("n_edges") == 6L)
    assert(row.getAs[Long]("n_triangles") == 4L)
  }

  test("triangle count: square (C4) has 0 triangles; adding one diagonal makes 2") {
    val c4 = edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(Graph.triangleCount(c4).head().getAs[Long]("n_triangles") == 0L)
    val withDiag = edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
    assert(Graph.triangleCount(withDiag).head().getAs[Long]("n_triangles") == 2L)
  }

  test("triangle count: hub star graph has no triangles and bounded wedges") {
    // star = the adversarial hub case the degree orientation exists for:
    // all edges point AT the hub, so no wedge is ever enumerated there
    val star = edges((1 to 20).map(i => (100L, i.toLong)): _*)
    val row = Graph.triangleCount(star).head()
    assert(row.getAs[Long]("n_triangles") == 0L)
    assert(row.getAs[Long]("n_wedges") == 0L)
  }

  test("triangle count matches brute force on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val pairs = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq
    val e = edges(pairs: _*)
    val adj = pairs.toSet
    def has(a: Long, b: Long) = adj.contains((math.min(a, b), math.max(a, b)))
    val brute = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L; c <- (b + 1) to 30L
      if has(a, b) && has(a, c) && has(b, c)
    } yield 1).size
    assert(Graph.triangleCount(e).head().getAs[Long]("n_triangles") == brute.toLong)
  }

  test("integer PageRank matches hand-computed ranks on the path graph 1-2-3") {
    // deg(1)=deg(3)=1, deg(2)=2; S=1e12, base=0.15e12, damping 17/20.
    // iter1: pr(1)=pr(3)=0.15e12+17*(S div 2) div 20 = 575e9; pr(2)=1850e9
    // iter2: pr(1)=pr(3)=936.25e9; pr(2)=1127.5e9
    // iter3: pr(2)=150e9+17*(2*936250000000 div 2) div 20 = 1741625000000
    //        pr(1)=pr(3)=150e9+17*(1127500000000 div 2) div 20 = 629187500000
    val path = edges((1L, 2L), (2L, 3L))
    val pr = Graph.integerPageRank(path, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(pr(2L) == 1741625000000L)
    assert(pr(1L) == 629187500000L)
    assert(pr(3L) == 629187500000L)
  }

  test("degree histogram: K4 is 4 vertices of degree 3") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val hist = Graph.degreeHistogram(k4).as[(Long, Long)].collect().toMap
    assert(hist == Map(3L -> 4L))
  }

  test("BFS frontiers: path graph seeds at an endpoint and walks it") {
    // path 1-2-3-4-5: min degree 1 is shared by vertices 1 and 5; the id
    // tie-break picks 1, so hops are 1 -> {2} -> {3} -> {4}
    val path = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val rows = Graph.bfsFrontiers(spark, path, hops = 3)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((0, 1L, 1L), (1, 1L, 2L), (2, 1L, 3L), (3, 1L, 4L)))
  }

  test("BFS frontiers: star seeds at a leaf, hop 2 floods the other leaves") {
    val star = edges((1 to 10).map(i => (100L, i.toLong)): _*)
    val rows = Graph.bfsFrontiers(spark, star, hops = 3)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    // seed = leaf 1; hop1 = hub; hop2 = the 9 other leaves; hop3 empty
    assert(rows.toSeq == Seq((0, 1L, 1L), (1, 1L, 2L), (2, 9L, 11L), (3, 0L, 11L)))
  }

  test("label propagation separates the two triangles of a barbell graph") {
    // triangles {1,2,3} and {10,11,12} joined by the bridge 3-10; the
    // 3-round synchronous trajectory was traced by hand: round 3 settles
    // on community 1 = {1,2,3} and community 3 = {10,11,12} — the bridge
    // does NOT merge them, because frequency beats reachability
    val barbell = edges((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val census = Graph.labelPropagation(spark, barbell, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(census == Map(1L -> 3L, 3L -> 3L), s"census drifted: $census")
  }

  test("label propagation on a clique converges to the min label") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val census = Graph.labelPropagation(spark, k4, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(census == Map(1L -> 4L), s"census drifted: $census")
  }

  test("BFS frontiers: disconnected component is never reached") {
    val g = edges((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L))
    // min-degree tie at deg 1 between 1 and 3 -> seed 1; the 10-11-12
    // triangle stays unreached at every hop
    val rows = Graph.bfsFrontiers(spark, g, hops = 3)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((0, 1L, 1L), (1, 1L, 2L), (2, 1L, 3L), (3, 0L, 3L)))
  }

  test("BFS/LPA plans stay flat in depth (per-round checkpoints hold)") {
    // VERDICT r11 #3 regression guard: unrolled, the q219 plan compounded
    // every hop's lineage (152 scans / 79 shuffles at 3 hops, exponential
    // in depth). With per-hop parquet checkpoints the returned census
    // frame reads ONLY the tiny frontier files — its plan must stay O(hops)
    // regardless of graph size, and so must labelPropagation's census.
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L), (2L, 5L))
    def scans(df: org.apache.spark.sql.DataFrame): Int =
      "FileScan|BatchScan".r.findAllIn(
        df.queryExecution.executedPlan.toString).size
    val bfs = Graph.bfsFrontiers(spark, g, hops = 3)
    assert(bfs.collect().nonEmpty)
    val nBfs = scans(bfs)
    assert(nBfs <= 8, s"BFS census plan re-derives hop lineage: $nBfs scans")
    val lpa = Graph.labelPropagation(spark, g, iters = 3)
    assert(lpa.collect().nonEmpty)
    val nLpa = scans(lpa)
    assert(nLpa <= 3, s"LPA census plan re-derives round lineage: $nLpa scans")
  }

  test("BFS frontiers: one seed aggregate and one step per hop bound the job count") {
    // path 1-2-...-8 keeps a non-empty frontier at every hop, so every
    // hop runs its distributed step. Per-hop parquet hops (a write per
    // frontier, then a count per hop in the census) ran 23 jobs here on
    // 4 cores; the driver-held frontier runs 12.
    val path = edges((1L to 7L).map(i => (i, i + 1)): _*)
    var rows = Seq.empty[(Int, Long, Long)]
    val jobs = jobsOf {
      rows = Graph.bfsFrontiers(spark, path, hops = 3)
        .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    }
    assert(rows == Seq((0, 1L, 1L), (1, 1L, 2L), (2, 1L, 3L), (3, 1L, 4L)))
    assert(jobs <= 16, s"bfsFrontiers ran $jobs Spark jobs")
  }

  test("BFS frontiers: an edgeless graph has no seed and all-zero hop rows") {
    val none = Seq.empty[(Long, Long)].toDF("u", "v")
    val rows = Graph.bfsFrontiers(spark, none, hops = 3)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((0, 0L, 0L), (1, 0L, 0L), (2, 0L, 0L), (3, 0L, 0L)))
  }

  test("BFS and LPA write no scratch files") {
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L), (2L, 5L))
    val before = Scratch.totalBytes
    assert(Graph.bfsFrontiers(spark, g, hops = 3).collect().length == 4)
    assert(Graph.labelPropagation(spark, g, iters = 3).collect().nonEmpty)
    assert(Scratch.totalBytes == before, "BFS/LPA wrote scratch files")
  }
}
