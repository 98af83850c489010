package graft.tools

import org.apache.spark.sql.SparkSession

/** Second-scale self-certification for q301_kcore_peeling (VERDICT r14
  * #2): the one sweep gate whose DuckDB oracle is INFEASIBLE at sf0.1 —
  * the one-shot CTE replay of the iterative peel spilled >55 GB
  * (VERIFY_SF01.md) — so until now its only sf0.1 evidence was a
  * wall-clock slope. The oracle's limitation doesn't need DuckDB to
  * close: this tool recomputes the ENTIRE peel census with an
  * independent reference implementation — pure driver-side Scala
  * collections over the raw distinct (order, part) pairs, sharing NO
  * code or plan shape with the engine's join-based edge build and
  * checkpointed peel rounds — and compares the two trajectories row by
  * row, exactly.
  *
  * Reference path (all in driver memory — ~1.2M edges at sf0.1, ~19 MB):
  *  1. collect distinct (l_orderkey, l_partkey);
  *  2. expand each order's part list to u<v pairs, dedup in a HashSet
  *     (the engine does this as a self-join + distinct + parquet
  *     checkpoint);
  *  3. k = floor-mean degree of the original graph (integer division,
  *     same derivation both sides — data-dependent but integer-exact);
  *  4. three synchronous peel rounds: drop vertices with degree < k,
  *     keep edges with both endpoints surviving, record
  *     (round, n_removed, n_kept, n_edges).
  *
  * The comparison is count-exact, and k-core carries no float or
  * tie-break sensitivity (the classes the sf0.1 sweep exists to catch),
  * so census equality against an independent implementation is the same
  * evidence class the DuckDB gate provides at sf0.01. Non-vacuity of the
  * comparator is spec-pinned (KCoreCertifySpec tampers a census row and
  * asserts detection).
  *
  * Run via `tools/sweep_sf01.sh` (which records the result in
  * VERIFY_SF01.md) or directly:
  * {{{ sbt "runMain graft.tools.KCoreCertify /root/testdata/sf0.1" }}}
  */
object KCoreCertify {

  final case class CensusRow(round: Int, nRemoved: Long, nKept: Long,
      nEdges: Long)

  /** Pure reference peel: edges → (k, 3-round census). Independent of the
    * engine path end to end (no DataFrames past the input scan). */
  def referenceCensus(edges: Iterable[(Long, Long)], rounds: Int = 3)
      : (Long, Seq[CensusRow]) = {
    def degrees(es: Iterable[(Long, Long)]): Map[Long, Long] = {
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (u, v) =>
        m.update(u, m.getOrElse(u, 0L) + 1L)
        m.update(v, m.getOrElse(v, 0L) + 1L)
      }
      m.toMap
    }
    val deg0 = degrees(edges)
    require(deg0.nonEmpty, "empty co-purchase graph")
    val k = deg0.valuesIterator.sum / deg0.size // floor-mean degree
    var cur = edges
    val census = (1 to rounds).map { r =>
      val deg = degrees(cur)
      val keep = deg.collect { case (vtx, d) if d >= k => vtx }.toSet
      val next = cur.filter { case (u, v) => keep(u) && keep(v) }
      val row = CensusRow(r, deg.size - keep.size, keep.size,
        next.size.toLong)
      cur = next
      row
    }
    (k, census)
  }

  /** Driver-side co-purchase edge build from the raw table: per-order
    * nested pair expansion + HashSet dedup (the engine's is a self-join
    * + distinct + parquet checkpoint — different algorithm, same set). */
  def referenceEdges(spark: SparkSession, dir: String): Set[(Long, Long)] = {
    import spark.implicits._
    val items = graft.Tables.lineitem(spark, dir)
      .select($"l_orderkey".cast("long"), $"l_partkey".cast("long"))
      .distinct().as[(Long, Long)].collect()
    val byOrder = items.groupBy(_._1)
    val edges = scala.collection.mutable.HashSet.empty[(Long, Long)]
    byOrder.valuesIterator.foreach { lines =>
      val parts = lines.map(_._2).distinct.sorted
      var i = 0
      while (i < parts.length) {
        var j = i + 1
        while (j < parts.length) {
          edges += ((parts(i), parts(j)))
          j += 1
        }
        i += 1
      }
    }
    edges.toSet
  }

  /** Engine census rows, collected and normalized. */
  def engineCensus(spark: SparkSession, dir: String): Seq[CensusRow] =
    graft.ops.GraphQueries.kcoreCensus(spark, dir)
      .collect().map(r => CensusRow(r.getAs[Any]("round").toString.toInt,
        r.getAs[Long]("n_removed"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_edges")))
      .sortBy(_.round).toSeq

  /** Pure comparator (spec-pinned for non-vacuity): None = certified. */
  def mismatch(engine: Seq[CensusRow], reference: Seq[CensusRow])
      : Option[String] =
    if (engine.sortBy(_.round) == reference.sortBy(_.round)) None
    else Some(s"engine census ${engine.sortBy(_.round)} != reference " +
      s"census ${reference.sortBy(_.round)}")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSession.fromEnv()
    val engine = engineCensus(spark, dir)
    val edges = referenceEdges(spark, dir)
    val (k, reference) = referenceCensus(edges)
    val verdict = mismatch(engine, reference)
    def rows(cs: Seq[CensusRow]): String = cs.map(c =>
      s"""{"round":${c.round},"n_removed":${c.nRemoved},"n_kept":${c.nKept},"n_edges":${c.nEdges}}""")
      .mkString("[", ",", "]")
    println(s"""{"gate":"q301_kcore_peeling","sf":"$dir","n_edges_input":${edges.size},"k":$k,"engine":${rows(engine)},"reference":${rows(reference)},"certified":${verdict.isEmpty}}""")
    verdict.foreach { why =>
      System.err.println(s"[kcore-certify] MISMATCH: $why")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
