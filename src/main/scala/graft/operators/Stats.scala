package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed EXACT order statistics via iterative histogram pruning — the
  * scale path for "exact quantiles at 100 TB", where a single
  * percentile/median aggregate is untenable (its state buffers the value
  * distribution: ~n distinct doubles per partition for continuous data).
  *
  * ONE narrowing loop ([[narrowing]]) serves every entry point: the grouped
  * calls key it by a group column, and [[exactPercentiles]] (with
  * [[exactPercentile]] / [[exactMedian]]) is its one-group case, run over
  * a constant group. Each level histograms every open candidate range in
  * one `buckets`-row-per-range shuffle and narrows to the bucket(s)
  * covering the target ranks; a range resolves once its covering bucket
  * holds ≤ `maxCollect` rows or one value, or once its ranks straddle two
  * buckets. Otherwise it recurses into the covering bucket's own
  * [min, max] — at most 1/`buckets` of the parent range — so even a fully
  * degenerate distribution converges: the range shrinks geometrically
  * until double resolution separates the values. Driver state is
  * O(groups × buckets) longs per level; nothing data-sized ever reaches
  * the driver.
  *
  * Low-cardinality route, per group: the head aggregate carries an HLL
  * estimate of each group's distinct values, and a group estimated at
  * ≤ `maxCollect / 2` resolves at level 0 through the loop's
  * value-distribution resolve — one (group, value) count pass instead of
  * a histogram descent, the right algorithm when a column holds few
  * distinct values (integral quantities, categories). The estimate only
  * picks the route; both routes are exact.
  *
  * Interpolation reproduces the rule shared by Spark's
  * `percentile`/`median` and DuckDB's `quantile_cont`: rank = 1 + p·(n−1),
  * linear interpolation a + (b − a)·frac between the two covering values.
  * For integral-valued columns and dyadic p the result is a single exact
  * double on any engine (the q54 rationale).
  *
  * Null, NaN, and ±Infinity rows are EXCLUDED (nulls per SQL; the
  * non-finite values would poison the histogram arithmetic — min/NaN
  * makes the range NaN, ±Inf makes bucket widths infinite — and send
  * data-sized state to the driver. Callers that assign meaning to
  * non-finite values should clamp them to finite sentinels first).
  */
object Stats {

  /** The global entry points' default bound on rows one resolve may
    * gather per range. */
  private val MaxCollect = 1 << 16

  /** Narrowing levels between cuts of the loop's (rid, v) lineage: each
    * level adds a broadcast join to it, so uncut, level k re-runs all k
    * joins. Deeper than any shipped quantile gate narrows at sf0.01. */
  private[operators] val LevelsPerCut = 8

  def exactMedian(df: DataFrame, valueCol: String, buckets: Int = 2048): Double =
    exactPercentile(df, valueCol, 0.5, buckets)

  /** Exact p-quantile (0 ≤ p ≤ 1) with linear interpolation. `maxCollect`
    * is exposed for tests to force the recursive narrowing on small data. */
  def exactPercentile(df: DataFrame, valueCol: String, p: Double,
      buckets: Int = 2048, maxCollect: Int = MaxCollect): Double =
    exactPercentiles(df, valueCol, Seq(p), buckets, maxCollect).head

  /** Exact quantiles of the whole column for several p values — the
    * one-group case of the narrowing loop, so every p shares the head
    * statistics, the cardinality estimate and each level's histogram.
    * NaN for every p when no finite value exists. */
  def exactPercentiles(df: DataFrame, valueCol: String, ps: Seq[Double],
      buckets: Int = 2048, maxCollect: Int = MaxCollect): Seq[Double] = {
    val got = percentiles(df, lit(0), valueCol, ps, buckets, maxCollect)
    ps.indices.map(pi => got.getOrElse((0, pi), Double.NaN))
  }

  /** Finite-value predicate: not null, not NaN, not ±Infinity. */
  private def finite(c: Column): Column =
    c.isNotNull && !isnan(c) &&
      c =!= lit(Double.PositiveInfinity) && c =!= lit(Double.NegativeInfinity)

  /** Exact per-group p-quantile for a SMALL number of HUGE groups — the
    * regime where both standard formulations break down: a per-group
    * `percentile`/`median` aggregate buffers each group's value
    * distribution in executor state, and a row_number window sorts every
    * group's full data. Here each level runs ONE histogram pass over all
    * active groups at once (per-group ranges ride in on a broadcast join),
    * the driver holds O(groups × buckets) longs, and groups narrow
    * independently — a group resolves as soon as its covering range holds
    * ≤ `maxCollect` rows.
    *
    * For many small groups use an ordinary window/aggregate (q98); this
    * path is for the "20 sources, billions of rows each" shape.
    * Interpolation matches `percentile`/`quantile_cont` exactly. */
  def groupedPercentile(df: DataFrame, groupCol: String, valueCol: String,
      p: Double, buckets: Int = 1024, maxCollect: Int = 4096): Map[Any, Double] = {
    groupedPercentiles(df, groupCol, valueCol, Seq(p), buckets, maxCollect)
      .map { case ((g, _), v) => g -> v }
  }

  /** Exact per-group quantiles for SEVERAL p values in ONE narrowing loop
    * (VERDICT r10 #5) — the multi-p twin of [[groupedPercentile]], keyed
    * by (group, p). One persisted (g, v) projection, one head-stats pass,
    * and one histogram job per LEVEL serve every p: distributed work is
    * keyed by RANGE, not by (group, p) — all ps of a group start on the
    * same [mn, mx] range, so the full-data level-1 histogram runs ONCE no
    * matter how many ps ride it, and ranges only fork (into bucket-sized
    * subsets) when ps genuinely diverge. For q197's {p05, p95} that
    * replaces two independent loops (two source scans, two cache builds,
    * two level-1 histograms) with one of each plus two tiny tails. */
  def groupedPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], buckets: Int = 1024,
      maxCollect: Int = 4096): Map[(Any, Double), Double] = {
    require(ps.nonEmpty, "ps must be non-empty")
    percentiles(df, col(groupCol), valueCol, ps, buckets, maxCollect)
      .map { case ((g, pi), v) => (g, ps(pi)) -> v }
  }

  def groupedMedian(df: DataFrame, groupCol: String, valueCol: String): Map[Any, Double] =
    groupedPercentile(df, groupCol, valueCol, 0.5)

  /** [[narrowing]] over the finite values of `valueCol`, grouped by `group`,
    * keyed by (group, index into `ps`); a group with no finite value has
    * no key. The (g, v) projection is persisted for the loop's lifetime:
    * every level joins it against the broadcast ranges up to three times
    * (distribution resolve, histogram, bucket resolve/narrow) — without
    * the cache each pass would re-scan the source (q64 r3 regression).
    * MEMORY_AND_DISK: a too-big cache spills rather than recomputing. */
  private def percentiles(df: DataFrame, group: Column, valueCol: String,
      ps: Seq[Double], buckets: Int, maxCollect: Int): Map[(Any, Int), Double] = {
    require(ps.forall(p => p >= 0.0 && p <= 1.0), s"p must be in [0,1]: $ps")
    val vals = df.select(group.as("g"), col(valueCol).cast("double").as("v"))
      .filter(finite(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try narrowing(vals, ps, buckets, maxCollect)
    finally vals.unpersist(blocking = false)
  }

  /** The (g, p)-keyed narrowing loop — the one exact-quantile algorithm.
    *
    * Distributed frames carry a RANGE id (`rid`), not (g, p): a range is a
    * chain of bucket filters rooted at a group's full [mn, mx], and every
    * p currently inside the same chain shares its rows, its histogram, and
    * its resolves — so the number of distributed jobs per level is bounded
    * by the number of DISTINCT ranges, not the number of quantiles.
    * Level-to-level membership is decided ONLY by the chained clamped
    * bucket expression that counted the row, never by re-deriving a
    * value-range predicate — an FP division at a bucket boundary may
    * disagree with the real-arithmetic range, and a row that was counted
    * must stay in scope or ranks drift. So a child range's rows are exactly
    * the parent's rows that counted into the chosen bucket, and two ps
    * sharing a rid share an identical row set by construction. */
  private def narrowing(vals: DataFrame, ps: Seq[Double],
      buckets: Int, maxCollect: Int): Map[(Any, Int), Double] = {
    val spark = vals.sparkSession
    val gType = vals.schema("g").dataType
    // rid: the range this (g, p) currently narrows inside; r1/r2 are
    // 1-based ranks RELATIVE to that range's row set
    final class St(var rid: Int, var r1: Long, var r2: Long, val frac: Double)
    val state = scala.collection.mutable.LinkedHashMap.empty[(Any, Int), St]
    val ranges = scala.collection.mutable.LinkedHashMap.empty[Int, (Double, Double)]
    val result = scala.collection.mutable.Map.empty[(Any, Int), Double]
    var nextRid = 0
    var levels = 0

    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    val gRid = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    // root ranges of the groups whose HLL estimate is ≤ maxCollect / 2:
    // they take the distribution resolve at level 0
    val lowCard = scala.collection.mutable.Set.empty[Int]
    vals.groupBy(col("g"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"), count(lit(1)).as("n"),
        approx_count_distinct(col("v")).as("nd"))
      .collect().foreach { r =>
        val (g, mn, mx, n) = (r.get(0), r.getDouble(1), r.getDouble(2), r.getLong(3))
        var anyOpen = false
        ps.zipWithIndex.foreach { case (p, pi) =>
          // 0-based fractional position, EXACTLY as Spark's percentile and
          // DuckDB's quantile_cont compute it — adding 1.0 before taking
          // the fraction can shift it by an ulp for non-dyadic p
          val pos = p * (n - 1)
          val lower = math.floor(pos)
          val r1 = lower.toLong + 1
          if (mn == mx) result((g, pi)) = mn
          else {
            state((g, pi)) = new St(nextRid, r1, math.min(n, r1 + 1), pos - lower)
            anyOpen = true
          }
        }
        if (anyOpen) {
          ranges(nextRid) = (mn, mx); gRid(g) = nextRid
          if (r.getLong(4) <= maxCollect / 2) lowCard += nextRid
          nextRid += 1
        }
      }
    if (state.isEmpty) return result.toMap

    // project (g, v) → (rid, v) once; every subsequent level re-keys by
    // child rid through the chained bucket filter
    var cur: DataFrame = {
      val m = spark.createDataFrame(
        java.util.Arrays.asList(gRid.toSeq.map { case (g, rid) => Row(g, rid) }: _*),
        StructType(Seq(StructField("g", gType), StructField("rid", IntegerType))))
      vals.join(broadcast(m), "g").select(col("rid"), col("v"))
    }
    // the clamped bucket of v within the joined range's [lo, hi)
    def bucketCol: Column = least(lit(buckets - 1), greatest(lit(0),
      floor((col("v") - col("lo")) / ((col("hi") - col("lo")) / buckets)))).cast("int")
    // (g, p) is answered by the r1-th and r2-th values a and b of its range
    def settle(k: (Any, Int), a: Double, b: Double): Unit = {
      val frac = state.remove(k).get.frac
      result(k) = if (frac == 0.0) a else a + (b - a) * frac
    }
    def ridFrame(rids: Seq[Int]): DataFrame = {
      val rows = rids.map { rid =>
        val (lo, hi) = ranges(rid); Row(Int.box(rid), lo, hi) }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("rid", IntegerType), StructField("lo", DoubleType),
          StructField("hi", DoubleType))))
    }

    while (state.nonEmpty) {
      val activeRids = state.valuesIterator.map(_.rid).toSet
      // low-cardinality roots, and ranges below double resolution (only a
      // handful of representable values remain, however many ROWS carry
      // them): resolve through the small per-range value distribution.
      // A collapsed range (lo == hi) lands here too — returning `lo` would
      // hand back a bucket BOUNDARY, and boundary-rounded rows clamped into
      // the range may carry a neighboring representable double instead.
      val tinyRids = activeRids.filter { rid =>
        val (lo, hi) = ranges(rid); val w = (hi - lo) / buckets
        lowCard(rid) || w == 0.0 || w.isNaN }
      if (tinyRids.nonEmpty) {
        val dist = cur.filter(col("rid").isin(tinyRids.toSeq.map(Int.box): _*))
          .groupBy(col("rid"), col("v")).agg(count(lit(1)).as("cnt"))
          .collect().groupBy(_.getInt(0))
        state.filter { case (_, s) => tinyRids(s.rid) }.foreach { case (k, s) =>
          val d = dist.getOrElse(s.rid, Array.empty[Row])
            .map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
          var cum = 0L; var a = Double.NaN; var b = Double.NaN
          for ((v, c) <- d) {
            if (a.isNaN && cum + c >= s.r1) a = v
            if (b.isNaN && cum + c >= s.r2) b = v
            cum += c
          }
          settle(k, a, b)
        }
      }
      if (state.nonEmpty) {
        val histRids = state.valuesIterator.map(_.rid).toSet.toSeq.sorted
        val hist = cur.join(broadcast(ridFrame(histRids)), "rid")
          .groupBy(col("rid"), bucketCol.as("b"))
          .agg(count(lit(1)).as("cnt"), min(col("v")).as("mn"), max(col("v")).as("mx"))
          .collect().groupBy(_.getInt(0))
        // Per (g, p), three outcomes from its covering buckets:
        //  - (r1, r2) in DIFFERENT buckets: r1 is the last row of bucket
        //    bLo and r2 the first of bucket bHi, so the histogram's own
        //    max(bLo) / min(bHi) answer both exactly (narrowing would be a
        //    non-terminating trap when [bLo..bHi] spans the whole range,
        //    e.g. a balanced two-valued group); likewise one bucket whose
        //    rows all carry ONE value answers both ranks with it;
        //  - one SMALL bucket: bounded per-bucket collect;
        //  - one LARGE bucket: narrow to it (the range shrinks at least by
        //    the bucket count each level — guaranteed progress).
        // Work batches by DISTINCT (rid, bucket) — ps sharing a target
        // bucket share the job and, for narrow, the child range.
        val resolve = scala.collection.mutable.LinkedHashMap.empty[(Any, Int), (Int, Long)]
        val narrow = scala.collection.mutable.LinkedHashMap.empty[(Any, Int), (Row, Long)]
        val answered = scala.collection.mutable.LinkedHashMap.empty[(Any, Int), (Double, Double)]
        state.foreach { case (k, s) =>
          val h = hist.getOrElse(s.rid, Array.empty[Row]).sortBy(_.getInt(1))
          var cum = 0L; var before = 0L; var bLo: Row = null; var bHi: Row = null
          for (r <- h) {
            val c = r.getLong(2)
            if (bLo == null && cum + c >= s.r1) { bLo = r; before = cum }
            if (bHi == null && cum + c >= s.r2) bHi = r
            cum += c
          }
          if ((bLo ne bHi) || bLo.getDouble(3) == bLo.getDouble(4))
            answered(k) = (bLo.getDouble(4), bHi.getDouble(3))
          else if (bLo.getLong(2) <= maxCollect) resolve(k) = (bLo.getInt(1), before)
          else narrow(k) = (bLo, before)
        }
        answered.foreach { case (k, (a, b)) => settle(k, a, b) }
        if (resolve.nonEmpty) {
          // rows collected are bounded by the covering-bucket size
          // (≤ maxCollect per distinct bucket), keeping the driver contract
          // .iterator: a Map.map to (rid, bLo) pairs would collapse two
          // different resolve buckets of one rid into the last one
          val pairs = resolve.iterator.map { case (k, (bLo, _)) =>
            (state(k).rid, bLo) }.toSeq.distinct
          val rows = pairs.map { case (rid, bLo) =>
            val (lo, hi) = ranges(rid); Row(Int.box(rid), lo, hi, Int.box(bLo)) }
          val f = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
            StructType(Seq(StructField("rid", IntegerType), StructField("lo", DoubleType),
              StructField("hi", DoubleType), StructField("bLo", IntegerType))))
          val got = cur.join(broadcast(f), "rid")
            .filter(bucketCol === col("bLo"))
            .select(col("rid"), col("bLo"), col("v"))
            .collect().groupBy(r => (r.getInt(0), r.getInt(1)))
          resolve.foreach { case (k, (bLo, before)) =>
            val s = state(k)
            val sorted = got.getOrElse((s.rid, bLo), Array.empty[Row])
              .map(_.getDouble(2)).sorted
            settle(k, sorted((s.r1 - before).toInt - 1), sorted((s.r2 - before).toInt - 1))
          }
        }
        if (narrow.nonEmpty) {
          // each DISTINCT covering bucket (a histogram row: rid, b, cnt,
          // mn, mx) becomes ONE child range; every p that chose it re-keys
          // onto the child and keeps sharing rows
          val picked = narrow.valuesIterator.map(_._1).toSeq.distinct
          val childOf = picked.map { h =>
            (h.getInt(0), h.getInt(1)) -> { val c = nextRid; nextRid += 1; c } }.toMap
          val rows = picked.map { h =>
            val (rid, bLo) = (h.getInt(0), h.getInt(1))
            val (lo, hi) = ranges(rid)
            Row(Int.box(rid), lo, hi, Int.box(bLo), Int.box(childOf((rid, bLo)))) }
          val f = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
            StructType(Seq(StructField("rid", IntegerType), StructField("lo", DoubleType),
              StructField("hi", DoubleType), StructField("bLo", IntegerType),
              StructField("child", IntegerType))))
          cur = cur.join(broadcast(f), "rid")
            .filter(bucketCol === col("bLo"))
            .select(col("child").as("rid"), col("v"))
          levels += 1
          if (levels % LevelsPerCut == 0) cur = cur.localCheckpoint()
          // the child spans its rows' own [min, max], not the bucket's
          // nominal bounds: two values packed far below the bucket width
          // (0 and 1e-300) separate at the next level instead of after one
          // level per factor of `buckets` in between
          picked.foreach { h =>
            ranges(childOf((h.getInt(0), h.getInt(1)))) = (h.getDouble(3), h.getDouble(4)) }
          narrow.foreach { case (k, (h, before)) =>
            val s = state(k)
            s.rid = childOf((h.getInt(0), h.getInt(1)))
            s.r1 -= before
            s.r2 -= before
          }
        }
        // narrow empty ⇒ every (g, p) resolved ⇒ state empty ⇒ loop exits
      }
    }
    result.toMap
  }
}
