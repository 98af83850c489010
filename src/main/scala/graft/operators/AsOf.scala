package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy}

/** As-of (point-in-time) join: for every left row, attach the most recent
  * right row with `rightTs <= leftTs` within the same key — the standard
  * market-data/feature-store lookup that Spark has no built-in operator for.
  *
  * One implementation: the custom plan stack ([[graft.plans.AsOfJoinPlan]]
  * → AsOfJoinStrategy → single-pass merge AsOfJoinExec). Both sides
  * hash-cluster on the key and sort by (key, ts[, tie]) — exactly the
  * shuffle profile of a sort-merge join — and one merge pass per partition
  * keeps O(1) state: no window buffer, no unioned wide schema.
  *
  * Left rows with no preceding right row (or a NULL ts) keep NULLs
  * (left-asof semantics, mirroring DuckDB's `ASOF LEFT JOIN`). The output
  * is every left column in the left input's order, then `asof_<name>` per
  * carried value.
  */
object AsOf {

  /** The merge reads timestamps as longs: microsecond timestamps or plain
    * longs (q141's negated time). */
  private val TsTypes = Set[DataType](TimestampType, TimestampNTZType, LongType)

  /** @param left       probe side (each row gets matched)
    * @param right      reference side (source of carried values)
    * @param keys       equi-join key columns (both sides, one type each)
    * @param tsCol      event-time column name (both sides): TIMESTAMP,
    *                   TIMESTAMP_NTZ or BIGINT, the same type on both
    * @param valueCols  right-side columns to carry (emitted as `asof_<name>`)
    * @param tieBreak   right-side-ONLY column ordering right rows that tie at
    *                   equal ts (latest wins); the left input need not have it
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, valueCols: Seq[String], tieBreak: String): DataFrame = {
    val spark = left.sparkSession
    bridge.registerStrategy(spark, AsOfJoinStrategy)
    val lPlan = left.queryExecution.analyzed
    val rBase = right.queryExecution.analyzed
    // re-alias the right side so self-joins (both inputs derived from one
    // scan) keep distinct attribute ids
    val rPlan = Project(rBase.output.map(a => Alias(a, a.name)()), rBase)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val (lTs, rTs) = (attr(lPlan, tsCol), attr(rPlan, tsCol))
    require(TsTypes.contains(lTs.dataType) && rTs.dataType == lTs.dataType,
      s"as-of timestamp column $tsCol must be timestamp, timestamp_ntz or " +
        s"bigint, the same on both sides; it is ${lTs.dataType.simpleString} " +
        s"(left) and ${rTs.dataType.simpleString} (right)")
    val (lKeys, rKeys) = (keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)))
    // the exec hashes and compares keys without casts: an int key on one
    // side and a bigint on the other would land in different partitions
    lKeys.zip(rKeys).foreach { case (l, r) =>
      require(l.dataType == r.dataType, s"as-of key column ${l.name} must " +
        s"have one type on both sides; it is ${l.dataType.simpleString} " +
        s"(left) and ${r.dataType.simpleString} (right)")
    }
    bridge.ofRows(spark, AsOfJoinPlan.create(
      lPlan, rPlan, lKeys, rKeys, lTs, rTs,
      valueCols.map(c => c -> (attr(rPlan, c): Expression)),
      attr(rPlan, tieBreak)))
  }

  /** Tolerance variant: matches older than `toleranceUs` microseconds are
    * nulled out (feature-freshness guard). `tsCol` must be a timestamp. */
  def asofJoinWithTolerance(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, valueCols: Seq[String], tieBreak: String,
      toleranceUs: Long): DataFrame = {
    val withTs = asofJoin(left, right.withColumn("__rts", col(tsCol)),
      keys, tsCol, valueCols :+ "__rts", tieBreak)
    val fresh: Column =
      unix_micros(col(tsCol)) - unix_micros(col("asof___rts")) <= toleranceUs
    valueCols.foldLeft(withTs) { (df, c) =>
      df.withColumn(s"asof_$c", when(fresh, col(s"asof_$c")))
    }.drop("asof___rts")
  }
}
