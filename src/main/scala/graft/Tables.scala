package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the test corpus (one parquet file per table, see TESTDATA.md).
  *
  * Parquet carries its own schema in the footer, so no `inferSchema` pass is
  * needed (the reference's CSV double-scan — `code/experiment.py:283,325` — is
  * structurally impossible here). Column pruning + predicate pushdown reach
  * the scan automatically because every loader returns the raw scan and all
  * projection/filtering stays declarative on top of it.
  */
object Tables {
  /** Parquet scan with an adaptive parallelism floor for the COMPUTE-HEAVY
    * corpora only. The test corpus ships ONE row group per file, and parquet
    * row groups are the unit of split — no file-split config can spread one
    * row group over more than one task. For `documents`/`embeddings` that
    * matters: their operators do real per-row CPU BEFORE the first shuffle
    * (shingling, minhash banding, tokenization, vector arithmetic), so a
    * 1-partition scan would run that work single-threaded; one hash exchange
    * on the unique id (a few MB here) fans it out. When the scan already
    * yields enough partitions the condition is false and no exchange is
    * added — at production scale (many files / many row groups) this branch
    * never fires. Catalyst still pushes filters and projections below the
    * repartition either way.
    *
    * The TPC-H facts (`lineitem`, `orders`) and `events` are deliberately
    * NOT spread: every gate query over them reaches a shuffle of its own
    * (groupBy / join / window partitionBy) within a few cheap narrow ops of
    * the scan, so parallelism recovers at that exchange and AQE right-sizes
    * it; a load-time exchange would be a second full-data shuffle per query.
    * Measured at sf0.1/local[32] (r6 micro-bench): spread cost ~+0.22 s per
    * lineitem query, benefit nil for agg/join/window shapes. Dimension
    * tables are never respread: they end up broadcast, and an exchange
    * before a BroadcastExchange is pure overhead. */
  private val spreadKeys = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** `df.rdd.getNumPartitions` plans the scan (driver-side work per call);
    * the answer is a pure function of the files on disk, so memoize it —
    * the 100+-query bench suite × several tables each would otherwise
    * re-plan the same scans hundreds of times. */
  private val scanPartsCache = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Parquet schema inference is a Spark job (a one-task footer read) per
    * `spark.read.parquet`, and every gate reads its corpus tables afresh.
    * The schema is a pure function of the files and the session's parquet
    * confs, so it is memoized under exactly those: the path, the name,
    * length and mtime of every entry at its top level, and every explicitly
    * set conf with `.parquet.` in its key. A path that is not a local file
    * or directory is read uncached. */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[(String, Long, Long)], Seq[(String, String)]), StructType]

  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    val entries = (if (f.isDirectory) f.listFiles.toSeq else Seq(f)).filter(_.exists)
      .map(e => (e.getName, e.length, e.lastModified)).sortBy(_._1)
    if (entries.isEmpty) spark.read.parquet(path)
    else {
      val key = (path, entries, spark.conf.getAll.toSeq.filter(_._1.contains(".parquet.")).sorted)
      schemaCache.get(key) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          schemaCache.putIfAbsent(key, df.schema)
          df
      }
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    spreadKeys.get(name) match {
      case Some(key) =>
        val scanParts =
          scanPartsCache.getOrElseUpdate(s"$dir/$name", df.rdd.getNumPartitions)
        val target = spark.sparkContext.defaultParallelism
        if (scanParts * 2 < target)
          df.repartition(target, org.apache.spark.sql.functions.col(key))
        else df
      case None => df
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** `events.parquet`'s `ts` encoding has varied across corpus generations:
    * parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * readable only as a raw long under the legacy conf) and
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false (read as TIMESTAMP_NTZ).
    * [[enableNanosRead]] + the type-dispatching [[rebuildNanosTs]] accept
    * either and normalize to session-TZ TIMESTAMP, so every downstream
    * query and oracle sees one schema regardless of the corpus vintage. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    enableNanosRead(spark)
    rebuildNanosTs(load(spark, dir, "events"))
  }

  /** Lets a parquet read survive a TIMESTAMP(NANOS) column by surfacing it
    * as a raw nanos LONG (`spark.sql.legacy.parquet.nanosAsLong`). The conf
    * only affects NANOS-typed columns — micros corpora read identically with
    * or without it — so setting it unconditionally before any events read
    * (batch or readStream schema derivation) is a no-op unless it is exactly
    * what makes the read possible. */
  def enableNanosRead(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The ONE events-`ts` normalization bridge — also applied by the
    * streaming gate drives (q81/q90/q92/q103/q122/q140), which must read the
    * on-disk schema themselves because `readStream` needs it. Dispatches on
    * the column's actual type so either corpus encoding lands on the SAME
    * output type (session-TZ TIMESTAMP, the type all 156 oracles were
    * proven against):
    *  - LONG (nanos under [[enableNanosRead]]) → `timestamp_micros(ts div
    *    1000)`. Integral `div`, not `/`: float division of ~1.7e18 ns
    *    exceeds double's 2^53 integer range and would corrupt low-order
    *    digits; floor matches DuckDB's ns→us truncation.
    *  - TIMESTAMP_NTZ (micros, isAdjustedToUTC=false) → `cast("timestamp")`.
    *    The session TZ is pinned to UTC (LocalSession), so the wall-clock
    *    micros are preserved exactly.
    *  - TIMESTAMP → already the target type; pass through.
    * Any change to the bridge must stay here or the streaming twins silently
    * diverge from the batch oracles they share. */
  def rebuildNanosTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported on-disk type $other (expected LONG nanos, " +
          "TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Partition count derived from input size, never a constant tuned to
    * one host (guide §2): one partition per started 32 MiB of `scale` ×
    * the bytes under `path` (a file, or a directory walked with symlinks
    * followed; a missing path holds 0 bytes), at least `floor`. Sizes the
    * streaming state stores and the graph adjacency's bucket count. */
  def partitionsFor(path: String, floor: Int, scale: Int = 1): Int = {
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    val b = scale * bytes(new java.io.File(path))
    math.max(floor.toLong, (b + (32L << 20) - 1) / (32L << 20)).toInt
  }
}
