package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

import graft.{Derived, Scratch, Tables}

/** Event-stream analytics over the `events` table — the batch twins of the
  * Structured Streaming surface (graft.streaming). The reference is pure
  * batch (SURVEY §2.11: `GameTime` exists but is never read); these extend
  * the engine to the event-time operations a log/stream workload needs,
  * expressed so the identical plan runs under `readStream`.
  *
  * Timestamps are compared in integer microseconds (`unix_micros` /
  * `epoch_us`) on both engines — no float truncation drift.
  */
object EventQueries {

  /** Sessionization: split each user's event stream into sessions separated
    * by >30 min of inactivity, then aggregate per session. The gap-flag +
    * running-sum pattern is the batch equivalent of
    * `flatMapGroupsWithState` session state. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(byUser)
    val isNew = when(gapUs.isNull || gapUs > lit(1800000000L), 1L).otherwise(0L)
    Tables.events(spark, dir)
      .withColumn("is_new", isNew)
      .withColumn("session_id",
        sum($"is_new").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        // exact decimal sum → double: bit-identical across engines (value has
        // 2 decimals; double sums are association-order-dependent)
        sum($"value".cast("decimal(14,2)")).cast("double").as("total_value"))
  }

  /** Tumbling event-time window aggregation (`window(ts, "1 hour")`) — the
    * batch form of the streaming windowed agg (graft.streaming uses the same
    * expression under readStream + watermark). Spark's 1h windows align to
    * epoch ⇒ equal to date_trunc('hour'). */
  def tumblingHourly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(14,2)")).cast("double").as("total_value"))
      .select($"window.start".as("hour_start"), $"event_type", $"n_events", $"total_value")
  }

  /** Semi-structured extraction: pull a typed field out of a JSON string
    * column and aggregate it (props payload mining). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(avg($"k"), 4).as("avg_k"),
        max($"k").as("max_k"))
  }

  /** Lag/lead + event-time delta: time since user's previous event of any
    * type, and whether the event type changed (churn-style feature). */
  def interEventGaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir).select(
      $"event_id", $"user_id",
      (unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(byUser)).as("gap_us"),
      (lag($"event_type", 1).over(byUser) === $"event_type").as("same_as_prev"))
  }

  /** As-of join (graft.operators.AsOf): each click event picks up the most
    * recent error event of the same user (point-in-time lookup). Oracle is
    * DuckDB's native ASOF LEFT JOIN. */
  def asofLastError(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id")
    val errors = ev.filter($"event_type" === "error")
      .withColumn("err_ts", $"ts")
      .select($"user_id", $"ts", $"event_id", $"err_ts", $"value")
    graft.operators.AsOf.asofJoin(clicks, errors,
      keys = Seq("user_id"), tsCol = "ts",
      valueCols = Seq("err_ts", "value"), tieBreak = "event_id")
      .select($"event_id", $"user_id", $"ts".as("click_ts"),
        $"asof_err_ts".as("last_error_ts"),
        $"asof_value".as("last_error_value"))
  }

  /** Range join: clicks occurring within 60 minutes after an error, per
    * user, written as the plain bounded-window join
    * (`click_ts BETWEEN error_ts AND error_ts + INTERVAL`);
    * [[graft.plans.RangeJoinRule]] adds the time-bucket equi key. Oracle is
    * DuckDB's inequality join (IEJoin). */
  def errorFollowedByClick(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts".as("error_ts"), $"event_id".as("error_id"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("click_ts"),
        $"event_id".as("click_id"))
    errors.join(clicks,
      $"user_id" === $"c_user" && $"click_ts" >= $"error_ts" &&
        $"click_ts" <= expr("error_ts + INTERVAL 60 MINUTE"))
      .select($"error_id", $"click_id", $"user_id", $"error_ts", $"click_ts")
  }

  /** Streaming DEDUP-within-watermark as a gate query — the fourth
    * stateful streaming operator class at the gate (dedup state, vs q81's
    * window, q90's join, and q92's custom session state). The
    * first-arrival WINNER of a duplicate group is scheduling-dependent, so
    * the gate output projects ONLY columns that are pure functions of the
    * dedup key — every possible winner yields byte-identical rows, which
    * unblocks the oracle (DuckDB DISTINCT) without a fake determinism
    * rule. A one-shot drive keeps all rows in one micro-batch, where
    * dropDuplicatesWithinWatermark dedups unconditionally; the
    * cross-batch re-emit-after-eviction semantics are exercised in
    * StreamingSpec, not here, because they are BY DESIGN time-dependent. */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    // dedup state store partitions derived from source bytes by runOnce
    graft.streaming.Streaming.runOnce(spark, s"$dir/events.parquet",
      ev => graft.streaming.Streaming.dedupStream(
          Tables.rebuildNanosTs(ev)
            .withColumn("content", concat_ws(":", $"user_id", $"event_type")),
          "content", "ts")
        .select($"user_id", $"event_type"),
      name = "q103_streaming_dedup_sink",
      mode = org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** q19's STREAMING twin as a gate query (VERDICT r2 #9): the same
    * windowed-aggregate expression as [[tumblingHourly]], executed by the
    * Structured Streaming engine (file source → watermarked tumbling
    * window → memory sink, driven to completion by
    * [[graft.streaming.Streaming.runOnce]]). Shares q19's oracle SQL —
    * hash-exact parity here proves the batch and streaming plans compute
    * the identical result from the identical declarative query. The ts
    * rebuild mirrors Tables.events (encoding-dispatching bridge). */
  def streamingHourly(spark: SparkSession, dir: String): DataFrame = {
    Tables.enableNanosRead(spark)
    graft.streaming.Streaming.runOnce(spark, s"$dir/events.parquet",
      ev => graft.streaming.Streaming.hourlyCounts(Tables.rebuildNanosTs(ev)),
      name = "q81_streaming_hourly_sink")
  }

  /** STREAM-STREAM inner join as a gate query: each click joins the same
    * user's errors within the preceding hour, executed by the streaming
    * engine with watermarks and time-bounded join state
    * ([[graft.streaming.Streaming.clickErrorJoin]] — both sides buffered,
    * evicted by the other side's watermark). A one-shot drive puts all
    * data in one micro-batch, and inner stream-stream joins emit matches
    * within the batch — so the result equals the batch join and the
    * DuckDB oracle checks it hash-exact. Proves the second stateful
    * streaming operator class (join state, vs q81's window state). */
  def streamingClickErrorJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    // A stream-stream join materializes FOUR state stores per shuffle
    // partition; runOnce derives state partitions from the drive's bytes.
    graft.streaming.Streaming.runOnce(spark, s"$dir/events.parquet",
      ev => {
        val fixed = Tables.rebuildNanosTs(ev)
        graft.streaming.Streaming.clickErrorJoin(
          fixed.filter($"event_type" === "click"),
          fixed.filter($"event_type" === "error"))
      },
      name = "q90_streaming_join_sink",
      mode = org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Stage the events corpus into a drive dir as ONE parquet file: a
    * symlink when `src` is already a single file (every shipped corpus),
    * a coalesce(1) rewrite when it is a Spark-written DIRECTORY
    * (ScaleProbe's scratch builds). The file-stream source does NOT
    * descend into a directory entry, so a symlinked directory silently
    * contributed ZERO corpus rows to the drive — the r12–r14 SCALING.md
    * streaming rows (q194/q216/q227) measured exactly that: a drive
    * processing only its flush file (found r15 when the new
    * StateMeter showed q216's 4× peak state at 2 rows vs 4020 at 1×,
    * and a row-count audit confirmed 0 output rows on the scaled corpus).
    * Part-file symlinks would be wrong differently: maxFilesPerTrigger=1
    * would split the corpus across batches, advancing the watermark
    * mid-corpus and dropping unordered parts as late. One file keeps
    * every drive's designed two-batch contract at every corpus size.
    * The staged file's mtime is set 1h in the past so FileStreamSource's
    * oldest-first order still processes corpus before flush/sentinel
    * files (which the builders stamp with `now`), and after any
    * epoch-stamped advancer files. */
  private def stageCorpus(spark: SparkSession, drive: java.nio.file.Path,
      name: String, src: String): Unit = {
    val p = java.nio.file.Paths.get(src)
    if (java.nio.file.Files.isRegularFile(p))
      java.nio.file.Files.createSymbolicLink(drive.resolve(name), p): Unit
    else writeDriveFile(spark.read.parquet(src), drive, name,
      System.currentTimeMillis() - 3600_000L)
  }

  /** Write `df` as ONE parquet file at `drive/name` with mtime `mtimeMs`
    * (FileStreamSource lists oldest-first, so mtimes order a drive's
    * batches): a coalesce(1) write to fresh staging, its part file moved
    * into place. */
  private def writeDriveFile(df: DataFrame, drive: java.nio.file.Path,
      name: String, mtimeMs: Long = System.currentTimeMillis()): Unit = {
    val staging = Scratch.fresh("drive_staging_")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = staging.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = drive.resolve(name)
    java.nio.file.Files.move(part.toPath, dst)
    dst.toFile.setLastModified(mtimeMs): Unit
  }

  /** Max event time in µs of a RAW on-disk-schema events read (not
    * Tables.events): a drive's synthetic rows must carry the SOURCE schema
    * so the stream can union them, so their ts arithmetic dispatches on the
    * corpus' actual encoding (long nanos vs timestamp micros); the plans
    * normalize ts through Tables.rebuildNanosTs, as q81/q90. */
  private def corpusMaxUs(raw: DataFrame): Long = raw.schema("ts").dataType match {
    case LongType => raw.agg(max(col("ts"))).head().getLong(0) / 1000
    case _ => Tables.rebuildNanosTs(raw).agg(max(unix_micros(col("ts")))).head().getLong(0)
  }

  /** `us` as a ts literal in the corpus' on-disk encoding `tsType`. */
  private def encTs(tsType: DataType, us: Long): Column = tsType match {
    case LongType => lit(us * 1000L)
    case t => timestamp_micros(lit(us)).cast(t)
  }

  /** Synthetic drive rows in the events schema: `base` carries the columns
    * that vary per row, `fixed` sets the others; value 0.0, props null. */
  private def eventRows(base: DataFrame, fixed: (String, Column)*): DataFrame =
    (fixed ++ Seq("value" -> lit(0.0), "props" -> lit(null).cast("string")))
      .foldLeft(base) { case (df, (c, v)) => df.withColumn(c, v) }
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Sentinel/flush offset: +100 days past the corpus' last event. */
  private val FarFutureUs = 100L * 24 * 3600 * 1000000L

  /** Two-batch drive for the q216 LEFT-OUTER stream-stream join, memoized
    * per (JVM, dir): the corpus symlink, then a flush file holding one
    * far-future advancer per SIDE (event_type click and error, user −1) —
    * a stream-stream join's watermark is the min across both inputs, so
    * BOTH sides must advance before buffered never-matched clicks can
    * emit their null rows and leave the state store. Encoding-dispatched
    * ts synthesis, the q92/q166 contract. */
  private def q216DriveFor(spark: SparkSession, dir: String): String =
    Derived("event.q216Drive", dir) {
      import spark.implicits._
      val src = s"$dir/events.parquet"
      val raw = spark.read.parquet(src)
      val maxUs = corpusMaxUs(raw)
      val drive = Scratch.named(s"q216_drive_${Scratch.dirKey(dir)}")
      stageCorpus(spark, drive, "aa_events.parquet", src)
      writeDriveFile(eventRows(
        Seq(("click", -2L), ("error", -3L)).toDF("event_type", "event_id"),
        "ts" -> encTs(raw.schema("ts").dataType, maxUs + FarFutureUs),
        "user_id" -> lit(-1L)), drive, "zz_flush.parquet")
      drive.toString
    }

  /** LEFT-OUTER stream-stream join as a gate query (q216) — the outer
    * half of q90's join-state class, and the part with genuinely
    * different mechanics: a click with no error in its preceding hour
    * emits NOTHING until the error-side watermark proves no match can
    * still arrive, then emits exactly one null-extended row and frees its
    * state. The two-batch drive (corpus, then per-side far-future
    * advancers) forces that flush across a real batch boundary; advancer
    * rows filter out by user sign. The oracle is the batch LEFT JOIN with
    * the identical time-range predicate — a dropped unmatched click, a
    * double emission (null row AND match), or an eviction-before-match
    * all break the hash. */
  def streamingOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    val out = graft.streaming.Streaming.runOnce(spark, q216DriveFor(spark, dir),
      ev => {
        val fixed = Tables.rebuildNanosTs(ev)
        graft.streaming.Streaming.clickErrorJoin(
          fixed.filter($"event_type" === "click"),
          fixed.filter($"event_type" === "error"),
          joinType = "left_outer")
      },
      name = "q216_streaming_outer_join_sink",
      mode = org.apache.spark.sql.streaming.OutputMode.Append(),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    out.filter($"user_id" >= 0)
  }

  /** FULL-OUTER stream-stream join (q227) — the last join mode of the
    * class (inner q90, left q216): unmatched rows on EITHER side must
    * null-extend exactly once when the opposite side's watermark proves
    * no match can still arrive — clicks with no preceding error AND
    * errors with no following click (the genuinely new half: error-side
    * state flushes against the CLICK watermark, so the join key must come
    * from whichever side exists). Shares q216's two-batch drive — the
    * same per-side advancers move both watermarks, and the advancer pair
    * matching itself is filtered by user sign. Oracle = the batch FULL
    * JOIN with the identical time-range predicate. */
  def streamingFullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    val out = graft.streaming.Streaming.runOnce(spark, q216DriveFor(spark, dir),
      ev => {
        val fixed = Tables.rebuildNanosTs(ev)
        graft.streaming.Streaming.clickErrorJoin(
          fixed.filter($"event_type" === "click"),
          fixed.filter($"event_type" === "error"),
          joinType = "full_outer")
      },
      name = "q227_streaming_full_outer_sink",
      mode = org.apache.spark.sql.streaming.OutputMode.Append(),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    out.filter($"user_id" >= 0)
  }

  /** q18's STREAMING twin via `flatMapGroupsWithState` — the third stateful
    * streaming operator class at the gate (custom per-key state, vs q81's
    * window state and q90's join state). Deterministic MULTI-batch drive
    * (VERDICT r3 #8): `maxFilesPerTrigger=1` forces the real events
    * (batch 1) and the per-user far-future sentinels (batch 2, a newer
    * file, so FileStreamSource's oldest-first ordering is stable) into
    * separate micro-batches — open sessions must survive in the state
    * store across a genuine batch boundary and watermark advance before
    * each group's sentinel closes them. Every user has a sentinel, so no
    * group ever depends on racing a watermark-timeout no-data batch (and
    * the sentinel's open "session" can never time out: the watermark trails
    * the sentinel's own event time). The event-time timeout path stays live
    * for production and is exercised by StreamingSpec. Output equals the
    * batch sessionizer modulo session_id (the oracle groups by it but does
    * not emit it). */
  /** Memoized q92 drive source per (JVM, sf-dir): (drive dir, sentinel µs).
    * The symlink + sentinel parquet are a pure function of the corpus, so
    * they build ONCE — the gate times the multi-batch streaming execution,
    * not per-pass sentinel-file construction (the fixture convention;
    * [[graft.Scratch.named]] dirs are deleted at JVM exit, never mid-run,
    * so every later pass re-lists the same complete drive). */
  private def q92DriveFor(spark: SparkSession, dir: String): (String, Long) = {
    Tables.enableNanosRead(spark)
    Derived("event.q92Drive", dir) {
      val src = s"$dir/events.parquet"
      val raw = spark.read.parquet(src)
      val sentinelUs = corpusMaxUs(raw) + FarFutureUs
      val drive = Scratch.named(s"q92_drive_${Scratch.dirKey(dir)}")
      writeDriveFile(eventRows(raw.select(col("user_id")).distinct(),
        "event_id" -> lit(-1L),
        "ts" -> encTs(raw.schema("ts").dataType, sentinelUs),
        "event_type" -> lit("sentinel")), drive, "zz_sentinel.parquet")
      stageCorpus(spark, drive, "aa_events.parquet", src)
      (drive.toString, sentinelUs)
    }
  }

  def streamingSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (drivePath, sentinelUs) = q92DriveFor(spark, dir)
    // per-key state store partitions derived from source bytes by runOnce
    graft.streaming.Streaming.runOnce(spark, drivePath,
      ev => {
        val typed = Tables.rebuildNanosTs(ev)
          .withWatermark("ts", "1 minute")
          .select($"event_id", $"ts", $"user_id",
            // null-safe: CentsEvent.cents is a primitive Long, and a null
            // value must contribute 0 while the event still counts —
            // exactly SQL sum's skip-nulls semantics, so the batch twin
            // and oracle need no mirror change (ADVICE r3)
            coalesce(($"value".cast("decimal(14,2)") * lit(100)).cast("long"),
              lit(0L)).as("cents"))
          .as[graft.streaming.Streaming.CentsEvent]
        graft.streaming.Streaming.sessionizeEventTime(typed).toDF()
      },
      name = "q92_streaming_sessions_sink",
      mode = org.apache.spark.sql.streaming.OutputMode.Append(),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      .filter($"session_start" < timestamp_micros(lit(sentinelUs)))
      .select($"user_id", $"n_events", $"session_start", $"session_end",
        ($"total_cents".cast("double") / lit(100.0)).as("total_value"))
  }

  /** The state-store provider `transformWithState` requires (q182, q184),
    * as a session conf for [[graft.LocalSession.withConfs]]. */
  private val RocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Spark 4 `transformWithState` as a gate query (q182) — the SIXTH
    * stateful streaming class: typed named-state processors (the
    * arbitrary-state API that succeeds q92's flatMapGroupsWithState).
    * [[graft.streaming.Streaming.CountSumProcessor]] accumulates per-user
    * (count, integer cents) in a ValueState across micro-batches and emits
    * one final row per user when its flush sentinel arrives in a LATER
    * batch (the q92 drive, reused verbatim — corpus batch 1, sentinels
    * batch 2 under maxFilesPerTrigger=1), so the gate proves state
    * actually crossed a batch boundary through the new API's RocksDB
    * store. Counts and integer cent sums are order-independent, so the
    * batch oracle is a plain GROUP BY. The RocksDB provider conf (the
    * API's contract) is scoped to the drive and restored. */
  def streamingTwsAggregate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    val (drivePath, _) = q92DriveFor(spark, dir)
    graft.LocalSession.withConfs(spark, RocksDbProvider) {
      graft.streaming.Streaming.runOnce(spark, drivePath,
        ev => {
          val typed = Tables.rebuildNanosTs(ev)
            .select($"user_id".as("userId"),
              ($"event_type" === "sentinel").as("isSentinel"),
              // q92's cents rule: null value counts the event, adds 0
              coalesce(($"value".cast("decimal(14,2)") * lit(100)).cast("long"),
                lit(0L)).as("cents"))
            .as[graft.streaming.Streaming.TwsEvent]
          graft.streaming.Streaming.twsCountSum(typed).toDF()
        },
        name = "q182_streaming_tws_sink",
        mode = org.apache.spark.sql.streaming.OutputMode.Append(),
        sourceOptions = Map("maxFilesPerTrigger" -> "1"))
        .select($"user_id", $"n_events",
          ($"total_cents".cast("double") / lit(100.0)).as("total_value"))
    }
  }

  /** TIME-GRID RESAMPLE + FORWARD FILL (q198) — the irregular-to-regular
    * feature-engineering op (telemetry, pricing, sensor streams): each
    * user's event series resamples onto an hourly grid spanning their own
    * [first, last] activity, grid hours with no events carry the LAST
    * prior hour's closing value forward (`last(..., ignoreNulls)` over
    * the user-ordered window — the first grid hour always has an event,
    * so no leading null exists), and the per-user report counts grid/
    * event/gap hours plus the integer-cent sum the fill synthesized.
    * In-hour "closing" value = the row with max (ts, event_id) — a total
    * order, so both engines pick the same row. Scale shape: the grid is
    * |users| × per-user span (each user's own bounds, never the global
    * range), one shuffle keys everything by user, the fill is one
    * windowed pass; `sequence()` rows are generated, not stored. */
  def gapFillForwardFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"user_id",
      date_trunc("hour", $"ts").as("h"), $"ts", $"event_id",
      coalesce(($"value".cast("decimal(14,2)") * 100).cast("long"), lit(0L))
        .as("cents"))
    val hourly = ev.groupBy($"user_id", $"h")
      .agg(count(lit(1)).as("n_ev"),
        max_by($"cents", struct($"ts", $"event_id")).as("close_cents"))
    val grid = hourly.groupBy($"user_id")
      .agg(min($"h").as("mn"), max($"h").as("mx"))
      .select($"user_id",
        explode(sequence($"mn", $"mx", expr("interval 1 hour"))).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"h")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .withColumn("filled_cents", last($"close_cents", ignoreNulls = true).over(w))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_grid_hours"),
        sum(when($"n_ev".isNotNull, 1L).otherwise(0L)).as("n_event_hours"),
        sum(when($"n_ev".isNull, 1L).otherwise(0L)).as("n_gap_hours"),
        coalesce(sum(when($"n_ev".isNull, $"filled_cents")), lit(0L))
          .as("gap_fill_cents"))
  }

  /** STREAM-STATIC broadcast enrichment as a gate query (q196) — the
    * everyday production join shape none of the stateful gates cover: a
    * stream joined to a BATCH dimension (here an event-type → tier/weight
    * table) needs NO watermark and NO join state — the dim broadcasts to
    * every micro-batch and rows enrich in flight; only the downstream
    * aggregate is stateful. At 100 TB this is the slowly-changing-
    * dimension enrichment every event pipeline runs (re-broadcast per
    * batch picks up dim updates). Weighted integer-cent sums keep every
    * column exact; the oracle is the batch join against the same literal
    * dim. */
  def streamingStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    val dim = Seq(
      ("click", "engagement", 1L), ("view", "engagement", 2L),
      ("signup", "engagement", 3L), ("purchase", "commerce", 5L),
      ("error", "ops", 4L)).toDF("event_type", "tier", "weight")
    graft.streaming.Streaming.runOnce(spark, s"$dir/events.parquet",
      ev => Tables.rebuildNanosTs(ev)
        .join(broadcast(dim), "event_type")
        .groupBy($"tier")
        .agg(count(lit(1)).as("n_events"),
          sum($"weight").as("weight_sum"),
          sum(coalesce(($"value".cast("decimal(14,2)") * 100).cast("long"),
            lit(0L)) * $"weight").as("weighted_cents")),
      name = "q196_stream_static_sink")
  }

  /** Time-split two-file drive for the q194 Update-mode gate, built once
    * per (JVM, sf-dir): the corpus splits at the midpoint of its (already
    * ts-normalized) time range, so batch 2 carries strictly newer rows
    * than batch 1 and the 2-hour watermark can never late-drop anything —
    * the oracle is split-independent (the final per-key emission must
    * equal the global aggregate), the split only forces REAL mid-window
    * re-emissions. */
  private def q194DriveFor(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    Derived("event.q194Drive", dir) {
      val fixed = Tables.events(spark, dir)
      val (mn, mx) = fixed.agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
        .as[(Long, Long)].head()
      val mid = mn + (mx - mn) / 2
      val drive = Scratch.named(s"q194_drive_${Scratch.dirKey(dir)}")
      writeDriveFile(fixed.filter(unix_micros($"ts") <= mid), drive, "aa_early.parquet")
      writeDriveFile(fixed.filter(unix_micros($"ts") > mid), drive, "bb_late.parquet")
      drive.toString
    }
  }

  /** STREAMING MERGE SINK (q252) — the streaming and lakehouse halves of
    * the engine composed: the q194 time-split drive feeds
    * [[graft.streaming.Streaming.runMergeSink]], which MERGEs each
    * micro-batch's per-user deltas into a generation-pointer snapshot
    * table (full-outer sum, write-new, flip-last) — the Delta-style
    * "MERGE INTO profiles" sink, where downstream always reads ONE
    * complete keyed table instead of replaying an append log. The
    * `require` pins that the table really was built incrementally (≥ 2
    * published generations — one per micro-batch); the final snapshot
    * must equal the plain batch aggregate of all events, so a lost
    * batch, a double merge, or a torn snapshot breaks the oracle. */
  def streamingMergeSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    val drivePath = q194DriveFor(spark, dir)
    val root = graft.Scratch.fresh("q252_root_").toString
    val delta: DataFrame => DataFrame = b =>
      Tables.rebuildNanosTs(b)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_delta"),
          sum(coalesce(($"value".cast("decimal(14,2)") * 100).cast("long"),
            lit(0L))).as("cents_delta"))
        .select($"user_id".as("key"), $"n_delta", $"cents_delta")
    graft.streaming.Streaming.runMergeSink(spark, drivePath, root, delta,
      "q252_merge_sink", sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val gens = new java.io.File(root).listFiles()
      .count(_.getName.startsWith("gen-"))
    require(gens >= 2,
      s"merge sink published $gens generations — the drive must merge " +
        "at least two micro-batches incrementally")
    spark.read.parquet(
      graft.operators.Ann.currentGenerationPath(spark, root))
      .select($"key".as("user_id"), $"n".as("n_events"),
        $"cents".as("total_cents"))
  }

  /** UPDATE output mode as a gate query (q194) — the third and last
    * streaming output mode at the gate (q81 Complete, q90/q92/… Append):
    * the hourly windowed aggregate re-EMITS a changed window every
    * micro-batch, and downstream must treat emissions as upserts. The
    * time-split drive guarantees mid-window keys really do emit twice
    * (a partial count after batch 1, the full count after batch 2); the
    * read-back keeps each key's LAST emission (`max_by` over the batch
    * ordinal — exactly what a KV sink does with upserts) and must equal
    * the plain batch aggregate, q81's oracle. A key whose last emission
    * were a partial — or a replayed stale emission out of order — breaks
    * the hash. foreachBatch sink; per-invocation output dir so repeat
    * runs never mix batch files. */
  def streamingUpdateMode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    val drivePath = q194DriveFor(spark, dir)
    val out = graft.Scratch.fresh("q194_out_").resolve("batches").toString
    graft.streaming.Streaming.runForeachBatch(spark, drivePath, out,
      ev => graft.streaming.Streaming.hourlyCounts(Tables.rebuildNanosTs(ev)),
      name = "q194_streaming_update_sink",
      sourceOptions = Map("maxFilesPerTrigger" -> "1"),
      outputMode = "update")
    spark.read
      .schema("hour_start TIMESTAMP, event_type STRING, n_events BIGINT, total_value DOUBLE")
      .parquet(out)
      .groupBy($"hour_start", $"event_type")
      .agg(max_by(struct($"n_events", $"total_value"), $"batch_id").as("last"))
      .select($"hour_start", $"event_type",
        $"last.n_events".as("n_events"), $"last.total_value".as("total_value"))
  }

  /** CHECKPOINT RECOVERY as a gate query (q184, VERDICT r9 #4) — the
    * production failure mode state stores exist for, executed end to end:
    * the corpus streams through [[graft.streaming.Streaming.twsCountSum]]
    * (RocksDB ValueState per user) and the query is STOPPED at the batch
    * boundary after the corpus file commits; the per-user flush sentinels
    * (q92's file, reused) then land in the source directory and a SECOND
    * query starts from the SAME checkpoint — it must replay committed
    * offsets (never re-reading the corpus file), reload every user's
    * (count, cents) state from the store, and emit one final row per user
    * when the sentinel batch flushes. Output equals the batch aggregate
    * (q182's oracle) ONLY if recovery carried the full state across the
    * restart: lost state undercounts every user, a re-read corpus file
    * double-counts, a re-emitted key duplicates a row and breaks the
    * count. foreachBatch is the sink (the memory sink refuses checkpoint
    * recovery by design); per-batch parquet lands under batch_id=N and is
    * read back with an explicit schema (phase-1 batches emit nothing —
    * their dirs hold no files). The two-phase drive dir is per-invocation
    * scratch (two symlinks — the corpus and the memoized sentinel file),
    * so repeat runs in one JVM never see a pre-populated source; the gate
    * times stop + recover + resume, its actual claim. StreamingSpec pins
    * the sharper state contract on a toy corpus (phase-2 totals include
    * phase-1 rows exactly once; zero re-emitted keys). */
  def streamingCheckpointRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    Tables.enableNanosRead(spark)
    val (q92drive, _) = q92DriveFor(spark, dir) // builds zz_sentinel.parquet
    val drive = graft.Scratch.fresh("q184_drive_")
    stageCorpus(spark, drive, "aa_events.parquet", s"$dir/events.parquet")
    val out = graft.Scratch.fresh("q184_out_").resolve("batches").toString
    val ckpt = graft.Scratch.fresh("ckpt_q184_").resolve("ckpt").toString
    val plan: DataFrame => DataFrame = ev =>
      graft.streaming.Streaming.twsCountSum(
        Tables.rebuildNanosTs(ev)
          .select($"user_id".as("userId"),
            ($"event_type" === "sentinel").as("isSentinel"),
            coalesce(($"value".cast("decimal(14,2)") * lit(100)).cast("long"),
              lit(0L)).as("cents"))
          .as[graft.streaming.Streaming.TwsEvent]).toDF()
    graft.LocalSession.withConfs(spark, RocksDbProvider) {
      // phase 1: corpus only — state accumulates, nothing emits, the
      // query stops gracefully at the committed batch boundary
      graft.streaming.Streaming.runForeachBatch(spark, drive.toString, out,
        plan, "q184_phase1", checkpointDir = Some(ckpt))
      // the sentinel file arrives AFTER the stop…
      Files.createSymbolicLink(drive.resolve("zz_sentinel.parquet"),
        Paths.get(s"$q92drive/zz_sentinel.parquet"))
      // …and phase 2 restarts from the same checkpoint
      graft.streaming.Streaming.runForeachBatch(spark, drive.toString, out,
        plan, "q184_phase2", checkpointDir = Some(ckpt))
    }
    spark.read.schema("user_id LONG, n_events LONG, total_cents LONG")
      .parquet(out)
      .select($"user_id", $"n_events",
        ($"total_cents".cast("double") / lit(100.0)).as("total_value"))
  }

  /** SINK IDEMPOTENCE UNDER BATCH REPLAY as a gate query (q201, VERDICT
    * r10 #2) — the OTHER half of exactly-once that q184 doesn't touch:
    * q184 stops at a COMMITTED boundary and proves state recovery; here
    * the crash lands in the window where the sink already wrote batch N
    * but the checkpoint's `commits/N` record is missing — the classic
    * duplicate-output bug, because on restart Spark re-runs batch N from
    * its logged offsets and a non-idempotent sink (append mode, or
    * unique-per-invocation filenames) ships every row of batch N twice.
    * The drive is q194's time-split pair (`maxFilesPerTrigger=1` → one
    * batch per file, Update-mode hourly aggregate so EVERY batch emits
    * rows); after phase 1 the gate deletes the newest `commits/N` file and
    * restarts from the same checkpoint, forcing a real replay of batch N
    * (a `require` checks the restart re-committed it). The read-back is
    * deliberately NOT q194's last-by-batch_id dedup — that would mask the
    * bug: it counts every emitted row per key, and the oracle replays the
    * exact expectation `n_emissions = [∃ row ≤ mid] + [∃ row > mid]` from
    * the drive's split rule, so one extra file from the replayed batch
    * breaks the hash. The per-`batch_id=N`-directory overwrite in
    * [[graft.streaming.Streaming.runForeachBatch]] is what makes the
    * replay invisible — the contract every production foreachBatch sink
    * (JDBC upsert, MERGE, partition overwrite) must honor. */
  def streamingReplayIdempotence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    Tables.enableNanosRead(spark)
    val drivePath = q194DriveFor(spark, dir)
    val out = graft.Scratch.fresh("q201_out_").resolve("batches").toString
    val ckpt = graft.Scratch.fresh("ckpt_q201_").resolve("ckpt").toString
    val plan: DataFrame => DataFrame = ev =>
      graft.streaming.Streaming.hourlyCounts(Tables.rebuildNanosTs(ev))
    def run(phase: String): Unit =
      graft.streaming.Streaming.runForeachBatch(spark, drivePath, out, plan,
        s"q201_$phase", sourceOptions = Map("maxFilesPerTrigger" -> "1"),
        checkpointDir = Some(ckpt), outputMode = "update")
    run("phase1")
    // crash model: batch N's sink output landed, its commit record didn't
    val commits = Paths.get(ckpt, "commits")
    val newest = {
      import scala.jdk.CollectionConverters._
      Files.list(commits).iterator().asScala
        .filter(p => p.getFileName.toString.forall(_.isDigit))
        .maxBy(p => p.getFileName.toString.toLong)
    }
    Files.delete(newest)
    // the checkpoint manager rides Hadoop's checksummed local FS: the
    // shadow .N.crc must go too, or the replay's commit rename finds a
    // stale checksum and aborts as a concurrent-writer conflict
    Files.deleteIfExists(
      commits.resolve(s".${newest.getFileName.toString}.crc"))
    run("phase2") // restart replays batch N from its logged offsets
    require(Files.exists(newest),
      "restart did not replay and re-commit the deleted batch")
    spark.read
      .schema("hour_start TIMESTAMP, event_type STRING, n_events BIGINT, total_value DOUBLE")
      .parquet(out)
      .groupBy($"hour_start", $"event_type")
      .agg(max_by(struct($"n_events", $"total_value"), $"batch_id").as("last"),
        count(lit(1)).as("n_emissions"))
      .select($"hour_start", $"event_type",
        $"last.n_events".as("n_events"), $"last.total_value".as("total_value"),
        $"n_emissions")
  }

  /** WATERMARK LATE-DATA ACCOUNTING as a gate query (q166, VERDICT r8 #3) —
    * the fifth stateful streaming class at the gate: what the watermark
    * DROPS. The drive feeds the corpus ACROSS an already-advanced
    * watermark and reconciles, per event_type, the rows that survived the
    * engine's late-row filter against the batch total — the per-key
    * on-time/dropped report a production watermark needs.
    *
    * Deterministic 4-batch drive (`maxFilesPerTrigger=1`, mtime-ordered):
    *   1. an ADVANCER row at the corpus' exact max event time — after this
    *      batch the watermark is `floor(max_us/1000) − 24h` (ms);
    *   2. a GAP batch (same advancer row): since Spark 3.4 the late-row
    *      filter for batch N uses the watermark as of batch N's START
    *      (eventTimeWatermarkForLateEvents = the previous batch's committed
    *      value), so the advance needs one full committed batch between it
    *      and the rows it must drop (StreamingSpec pins this);
    *   3. the CORPUS itself — rows with `epoch_us(ts) <= wm_ms·1000` are
    *      dropped by the engine before the stateful operator (boundary
    *      microsecond-pinned in StreamingSpec), the rest are counted per
    *      key by [[graft.streaming.Streaming.onTimeCounts]];
    *   4. per-key far-future FLUSH sentinels (q92's pattern) emit each
    *      key's surviving count across a real batch boundary.
    * The advancer key never reaches the output: the final frame left-joins
    * the batch per-type totals (so `n_late = n_total − n_on_time` needs no
    * second streaming pass), and 'advancer' is not a corpus type. The
    * oracle replays the watermark arithmetic and the pinned `>` boundary
    * in SQL. */
  /** Memoized q166 drive source per (JVM, sf-dir) — same fixture
    * convention as [[q92DriveFor]]: the advance/gap/flush files and the
    * corpus symlink are a pure function of the corpus, built once. */
  private def lateDriveFor(spark: SparkSession, dir: String): String = {
    Tables.enableNanosRead(spark)
    Derived("event.q166Drive", dir) {
      val src = s"$dir/events.parquet"
      val raw = spark.read.parquet(src)
      val maxUs = corpusMaxUs(raw)
      val drive = Scratch.named(s"q166_drive_${Scratch.dirKey(dir)}")
      def synth(eventId: Long, tsUs: Long, types: DataFrame): DataFrame =
        eventRows(types, "event_id" -> lit(eventId),
          "ts" -> encTs(raw.schema("ts").dataType, tsUs), "user_id" -> lit(-1L))
      val advancerType = spark.range(1).select(lit("advancer").as("event_type"))
      // mtimes pin FileStreamSource's oldest-first order: epoch-adjacent
      // for the constructed advance/gap files (older than any corpus
      // file), the corpus symlink keeps its target's mtime, flush is now
      writeDriveFile(synth(-2L, maxUs, advancerType), drive, "a_advance.parquet", 1000L)
      writeDriveFile(synth(-3L, maxUs, advancerType), drive, "b_gap.parquet", 2000L)
      stageCorpus(spark, drive, "c_events.parquet", src)
      val flushTypes = raw.select(col("event_type")).distinct()
        .unionByName(advancerType)
      writeDriveFile(synth(-1L, maxUs + FarFutureUs, flushTypes), drive,
        "d_flush.parquet")
      drive.toString
    }
  }

  /** Bench fixture hook ([[graft.Fixtures]]): the memoized streaming drive
    * sources (q92 sentinels, q166 advance/gap/flush files, q194's time
    * split, q216's per-side flush, q308's three-batch drive). */
  private[graft] def prebuildFixtures(spark: SparkSession, dir: String): Unit = {
    q92DriveFor(spark, dir): Unit
    lateDriveFor(spark, dir): Unit
    q194DriveFor(spark, dir): Unit
    q216DriveFor(spark, dir): Unit
    q308DriveFor(spark, dir): Unit
  }

  def streamingLateData(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val drivePath = lateDriveFor(spark, dir)
    val onTime = graft.streaming.Streaming.runOnce(spark, drivePath,
      ev => graft.streaming.Streaming.onTimeCounts(
        Tables.rebuildNanosTs(ev)
          .withWatermark("ts", "24 hours")
          .select($"event_id", $"ts", $"event_type")
          .as[graft.streaming.Streaming.KeyedEvent]).toDF(),
      name = "q166_streaming_late_sink",
      mode = org.apache.spark.sql.streaming.OutputMode.Append(),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    Tables.events(spark, dir).groupBy($"event_type")
      .agg(count(lit(1)).as("n_total"))
      .join(onTime, Seq("event_type"), "left_outer")
      .select($"event_type", $"n_total",
        coalesce($"n_on_time", lit(0L)).as("n_on_time"),
        ($"n_total" - coalesce($"n_on_time", lit(0L))).as("n_late"))
  }

  /** Ordered conversion funnel (view → click → purchase): per user, the
    * first view, the first click strictly after it, and the first purchase
    * strictly after that, plus the funnel stage reached. Each step is a
    * filtered hash-agg joined on user_id — three shuffles on the SAME key,
    * so at cluster scale AQE/exchange reuse co-locates them (and each step's
    * agg shrinks the frame to one row per surviving user, so steps 2 and 3
    * join a contracting per-user frame against a type-filtered scan, never
    * event×event). Step ordering compares event-time directly; strict `>`
    * makes a same-timestamp view+click NOT a conversion — pinned semantics,
    * mirrored in the oracle. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("view_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .join(views, "user_id").filter($"ts" > $"view_ts")
      .groupBy($"user_id").agg(min($"ts").as("click_ts"))
    val purchases = ev.filter($"event_type" === "purchase")
      .join(clicks, "user_id").filter($"ts" > $"click_ts")
      .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
    views.join(clicks, Seq("user_id"), "left_outer")
      .join(purchases, Seq("user_id"), "left_outer")
      .select($"user_id", $"view_ts", $"click_ts", $"purchase_ts",
        (lit(1) + when($"click_ts".isNotNull, 1).otherwise(0)
          + when($"purchase_ts".isNotNull, 1).otherwise(0))
          .cast("int").as("stage"))
  }

  /** Cohort retention: users are cohorted by the ISO week of their first
    * event, and each (cohort, week-offset) cell counts the distinct users
    * still active that many weeks later — the standard retention triangle.
    * Two keyed shuffles (user_id for the cohort agg + distinct, then the
    * cohort/offset rollup); the offset is integer microsecond arithmetic on
    * Monday-aligned `date_trunc('week')` values (both engines truncate to
    * Monday 00:00, and week starts differ by exact 604800-second multiples
    * in UTC), so no float date math anywhere. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weeks = Tables.events(spark, dir)
      .select($"user_id", date_trunc("week", $"ts").as("wk"))
    val cohorts = weeks.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
    weeks.distinct()
      .join(cohorts, "user_id")
      .select($"user_id", $"cohort_week",
        ((unix_micros($"wk") - unix_micros($"cohort_week")) / lit(604800000000L))
          .cast("int").as("week_offset"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_users"))
  }

  /** Time-series GAP FILL (resample-to-dense): the hourly × event-type count
    * grid with MISSING cells materialized as explicit zeros — what every
    * downstream charting/anomaly job needs, and what a plain groupBy can
    * never produce (it cannot emit groups it never saw). The dense spine is
    * `sequence(min_hour, max_hour)` exploded from a 1-row bounds aggregate
    * cross-joined with the distinct types — grid-sized (hours × types),
    * data-INDEPENDENT, and broadcast onto the hourly aggregate; the events
    * themselves are touched exactly twice (bounds + counts), both one-pass
    * aggregates. At 100 TB the grid for a decade of hours × 1000 types is
    * still only ~90M rows — the spine never becomes the bottleneck. */
  def gapFillHourly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val hourly = ev
      .groupBy(date_trunc("hour", $"ts").as("hour_start"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
    val hours = ev
      .agg(date_trunc("hour", min($"ts")).as("lo"),
        date_trunc("hour", max($"ts")).as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("interval 1 hour")))
        .as("hour_start"))
    hours.crossJoin(ev.select($"event_type").distinct())
      .join(hourly, Seq("hour_start", "event_type"), "left_outer")
      .select($"hour_start", $"event_type",
        coalesce($"n_events", lit(0L)).as("n_events"))
  }

  /** Exponentially-weighted moving average over each user's last 6 event
    * values — the time-series smoothing feature of an anomaly/trend
    * pipeline, formulated for EXACT cross-engine equality: the decay is
    * dyadic (weights 32,16,8,4,2,1 = 2^(5-k) for lag k), values ride as
    * integer cents, so numerator and denominator are exact BIGINT sums and
    * the only float op is ONE correctly-rounded final division. A float
    * `pow(alpha,k)` recursion would drift in the last ulp across engines;
    * integer dyadic weights cannot. One window pass over one (user, time)
    * sort — at 100 TB this is a single exchange, same spec as every other
    * per-user feature (the W1/W2 shared-window lesson). */
  def dyadicEwma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = Tables.events(spark, dir).withColumn("cents",
      coalesce(($"value".cast("decimal(14,2)") * lit(100)).cast("long"), lit(0L)))
    val terms = (0 to 5).map { k =>
      val w = 1L << (5 - k)
      val v = if (k == 0) $"cents" else lag($"cents", k).over(byUser)
      (when(v.isNotNull, v * lit(w)).otherwise(lit(0L)),
        when(v.isNotNull, lit(w)).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    ev.select($"event_id", $"user_id",
      (num.cast("double") / den.cast("double")).as("ewma"))
  }

  /** Last-touch attribution: each purchase is credited to the user's most
    * recent PRECEDING non-purchase event (type + time). The ignore-nulls
    * `last` over an unbounded-preceding frame is the classic attribution
    * scan — one pass over the same (user, time) window spec as the other
    * per-user features, so at scale it shares their single exchange+sort.
    * No self-join, no per-purchase lookback query. */
  def lastTouch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("touch_type",
        last(when($"event_type" =!= "purchase", $"event_type"), ignoreNulls = true).over(w))
      .withColumn("touch_ts",
        last(when($"event_type" =!= "purchase", $"ts"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts".as("purchase_ts"),
        $"touch_type", $"touch_ts")
  }

  /** ALLEN INTERVAL-RELATION CENSUS (q235) — the full temporal-relation
    * vocabulary between a user's activity streams: sessionize per
    * (user, event_type) (q18's gap rule partitioned one level finer and
    * deliberately coarser — a 24h gap, so a type's activity episodes are
    * long enough to genuinely nest and overlap), pair same-user sessions
    * of DIFFERENT types whose starts lie within 24h, and classify each
    * pair into its Allen relation — all THIRTEEN
    * (precedes/meets/overlaps/starts/during/finishes, their inverses,
    * equals) as one mutually-exclusive integer-microsecond CASE ladder —
    * then census by relation. This is the algebra behind "did the error
    * burst HAPPEN DURING the checkout session or just after it", asked
    * symmetrically for every type pair at once. Scale shape: the pair
    * join is an equi-join on user_id with the 24h start band; per-user
    * cost is bounded by that user's session count per type (the same
    * per-key bound as q132's overlap sweep), never a global cartesian.
    * Zero-length sessions (one event) are legal intervals here; the
    * ladder is total, so both engines classify them identically. */
  /** Per-(user, event_type) activity episodes under a deliberately coarse
    * 24h gap (q18's rule one level finer) — the interval frame shared by
    * the Allen census (q235) and the stabbing index (q243): (user_id,
    * event_type, st, en) in exact microseconds. */
  private def typeSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUT = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    val gapUs = unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(byUT)
    val isNew = when(gapUs.isNull || gapUs > lit(86400000000L), 1L).otherwise(0L)
    Tables.events(spark, dir)
      .withColumn("is_new", isNew)
      .withColumn("sid",
        sum($"is_new").over(byUT.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"event_type", $"sid")
      .agg(min(unix_micros($"ts")).as("st"), max(unix_micros($"ts")).as("en"))
  }

  def allenCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = typeSessions(spark, dir)
    val a = s.select($"user_id", $"event_type".as("type_a"),
      $"st".as("sa"), $"en".as("ea"))
    val b = s.select($"user_id", $"event_type".as("type_b"),
      $"st".as("sb"), $"en".as("eb"))
    val pairs = a.join(b, Seq("user_id"))
      .filter($"type_a" < $"type_b" &&
        abs($"sa" - $"sb") <= lit(86400000000L))
    val rel = when($"ea" < $"sb", "precedes")
      .when($"eb" < $"sa", "preceded_by")
      .when($"ea" === $"sb", "meets")
      .when($"eb" === $"sa", "met_by")
      .when($"sa" === $"sb" && $"ea" === $"eb", "equals")
      .when($"sa" === $"sb" && $"ea" < $"eb", "starts")
      .when($"sa" === $"sb", "started_by")
      .when($"ea" === $"eb" && $"sa" > $"sb", "finishes")
      .when($"ea" === $"eb", "finished_by")
      .when($"sa" > $"sb" && $"ea" < $"eb", "during")
      .when($"sa" < $"sb" && $"ea" > $"eb", "contains")
      .when($"sa" < $"sb", "overlaps")
      .otherwise("overlapped_by")
    pairs.select(rel.as("relation"))
      .groupBy($"relation").agg(count(lit(1)).as("n_pairs"))
  }

  /** INTERVAL-BUCKETED STABBING INDEX (q243) — "how many episodes cover
    * timestamp T", answered WITHOUT an interval×probe range join: each
    * [[typeSessions]] interval is assigned to every UTC-day bucket it
    * spans (one `sequence()` explode — fan-out bounded by interval
    * length, which the 24h session gap bounds), a probe carries exactly
    * its own day bucket, and the lookup becomes a plain EQUI-join on the
    * day plus a residual containment filter. A covering interval always
    * spans the probe's day, and within one probe's day each interval
    * appears once, so the join is exact with no dedup — the interval-
    * partitioning trick behind every time-range index at scale, where a
    * banded range join would still stream all intervals near T. The five
    * probes derive from the corpus' own span (min + k·span/6, integer
    * floor-div — never wall clock); the oracle answers them with the
    * naive full range join, so the bucketed path must find EXACTLY the
    * covering set, including the zero-coverage probes the left join
    * keeps. */
  def intervalStabbing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val DayUs = 86400000000L
    val s = typeSessions(spark, dir)
    val sDays = s.select($"st", $"en",
      explode(expr(s"sequence(st div $DayUs, en div $DayUs)")).as("day"))
    val bounds = Tables.events(spark, dir)
      .agg(min(unix_micros($"ts")).as("mn"), max(unix_micros($"ts")).as("mx"))
    val probes = spark.range(1, 6).select($"id".as("probe_id"))
      .crossJoin(broadcast(bounds))
      .select($"probe_id",
        ($"mn" + expr("(mx - mn) div 6") * $"probe_id").as("t"))
      .withColumn("day", expr(s"t div $DayUs"))
    val hits = sDays.join(broadcast(probes), Seq("day"))
      .filter($"st" <= $"t" && $"en" >= $"t")
      .groupBy($"probe_id").agg(count(lit(1)).as("n"))
    probes.join(hits, Seq("probe_id"), "left")
      .select($"probe_id", $"t".as("t_micros"),
        coalesce($"n", lit(0L)).as("n_covering"))
  }

  /** SLO LATENCY REPORT (q255) — the error-budget readout an SRE
    * pipeline publishes per service: treating each event's value as a
    * latency (bridged to exact integer cents, the A1 rule), the report
    * gives per event_type the request count, the dyadic p50/p75
    * latency (the interpolation points both engines share on integer
    * inputs), the count breaching a declared 250.00 threshold, the
    * error-budget burn in floor basis points (guarded DIV), and the
    * budget verdict against a declared 500 bp allowance — integer
    * comparisons end to end, so the verdict can never flip on a float
    * ulp. One hash-agg plus the grouped exact percentile. */
  def sloReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"event_type",
        coalesce(($"value".cast("decimal(14,2)") * 100).cast("long"), lit(0L))
          .as("cents"))
    e.groupBy($"event_type")
      .agg(count(lit(1)).as("n_requests"),
        percentile($"cents", lit(0.5)).as("p50_cents"),
        percentile($"cents", lit(0.75)).as("p75_cents"),
        sum(when($"cents" > 25000L, 1L).otherwise(0L)).as("n_breaches"))
      .withColumn("burn_bp",
        when($"n_requests" > 0, expr("(10000 * n_breaches) div n_requests"))
          .otherwise(0L))
      .withColumn("budget_status",
        when($"burn_bp" <= 500, "within_budget").otherwise("exhausted"))
  }

  /** A/B EXPERIMENT READOUT (q254) — the analysis side of every
    * hash-split experiment (q83's split machinery is the assignment
    * side): users land in variant A or B by one md5 bit (first hex
    * digit < 8 — deterministic, stable across sessions, balanced in
    * expectation), conversion is "had ≥1 purchase event", and the
    * one-row readout carries both arms' exact counts, conversion rates
    * in floor basis points (guarded DIV), the absolute lift in bp, and
    * a DECISION made by integer comparison against a declared 200 bp
    * minimum detectable effect — no p-value theater, just the
    * pre-registered threshold rule, reproducible anywhere. One per-user
    * agg, one 2-row pivot; nothing user-sized leaves the executors. */
  def abReadout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("ab:"),
          $"user_id".cast("string"))), 1, 1), 16, 10).cast("int") < 8, "A")
          .otherwise("B"))
    val arms = users.groupBy($"variant")
      .agg(count(lit(1)).as("n"), sum($"converted").as("c"))
      .withColumn("bp",
        when($"n" > 0, expr("(10000 * c) div n")).otherwise(0L))
    arms.agg(
      sum(when($"variant" === "A", $"n")).as("n_a"),
      sum(when($"variant" === "B", $"n")).as("n_b"),
      sum(when($"variant" === "A", $"c")).as("conv_a"),
      sum(when($"variant" === "B", $"c")).as("conv_b"),
      sum(when($"variant" === "A", $"bp")).as("rate_a_bp"),
      sum(when($"variant" === "B", $"bp")).as("rate_b_bp"))
      .withColumn("lift_bp", $"rate_b_bp" - $"rate_a_bp")
      .withColumn("decision",
        when(abs($"lift_bp") < 200, "inconclusive")
          .when($"lift_bp" >= 200, "ship_b").otherwise("keep_a"))
  }

  /** LONGEST ACTIVITY STREAK (q253) — gaps-and-islands, the canonical
    * consecutive-runs idiom (login streaks, uptime runs, SLA windows)
    * done the declarative way: per user, distinct active DAYS get a
    * per-user row_number, and `day_number − row_number` is constant
    * exactly within a consecutive run — so one window pass turns runs
    * into island keys, and a hash-agg over (user, island) yields run
    * lengths with no self-join, no recursion, no per-user loop. The
    * census reports each user's active-day count, island count, and
    * longest streak; all integer day arithmetic against the epoch. At
    * 100 TB this is the same single (user, day) exchange every per-user
    * feature shares. */
  def longestStreak(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"d")
    val days = Tables.events(spark, dir)
      .select($"user_id",
        datediff(to_date($"ts"), lit(java.sql.Date.valueOf("1970-01-01")))
          .as("d"))
      .distinct()
    days
      .withColumn("island", $"d" - row_number().over(w))
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("run"))
      .groupBy($"user_id")
      .agg(sum($"run").as("n_active_days"),
        count(lit(1)).as("n_islands"),
        max($"run").as("longest_streak"))
  }

  /** MARKOV TRANSITION MATRIX (q256) — the first-order behavioral model
    * behind next-action prediction and session simulation: each user's
    * stream in (ts, event_id) order (event_id makes the order TOTAL, so
    * lag() is deterministic on both engines) yields adjacent
    * (prev → next) event-type pairs; one hash-agg counts each
    * transition, and the per-source row total arrives by a window over
    * the TINY k×k transition table — never a second scan of the events.
    * Probabilities are floor basis points of exact counts (guarded DIV),
    * so the matrix is bit-stable. At 100 TB the only event-sized
    * exchange is the per-user window every sequence feature shares. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("n_from",
        sum($"n_transitions").over(Window.partitionBy($"prev_type")))
      .withColumn("prob_bp",
        when($"n_from" > 0, expr("(10000 * n_transitions) div n_from"))
          .otherwise(0L))
      .select($"prev_type", $"event_type".as("next_type"),
        $"n_transitions", $"n_from", $"prob_bp")
  }

  /** DAY-OF-WEEK SEASONALITY INDEX (q258) — the load-shape readout
    * capacity planning starts from: per (event_type, day-of-week) the
    * event count, its share of the type in floor basis points, and an
    * over/under/uniform verdict decided by the integer cross-product
    * `7·n_dow vs n_type` — the exact form of "above the uniform 1/7
    * share" that no float ratio can misjudge. One hash-agg; the type
    * totals ride a window over the 7-row-per-type result. */
  def dowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type", dayofweek(to_date($"ts")).as("dow"))
      .groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("n_dow"))
      .withColumn("n_type",
        sum($"n_dow").over(Window.partitionBy($"event_type")))
      .withColumn("share_bp",
        when($"n_type" > 0, expr("(10000 * n_dow) div n_type")).otherwise(0L))
      .withColumn("seasonality",
        when($"n_dow" * 7 > $"n_type", "over")
          .when($"n_dow" * 7 < $"n_type", "under").otherwise("uniform"))
  }

  /** EVENT-MIX GINI IMPURITY (q259) — how concentrated each user's
    * behavior is, as the Gini impurity of their event-type distribution:
    * 0 bp = single-minded (one type), →10000 bp = perfectly mixed. The
    * whole quantity is ONE integer expression,
    * `10000·(n² − Σc²) div n²`, over exact per-(user, type) counts — a
    * log-free diversity measure (entropy needs libm; Gini ranks the
    * same users) computed in two hash-aggs with nothing user-sized on
    * the driver. Squares stay < 2⁶³ for any plausible per-user volume. */
  def eventMixGini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy($"user_id")
      .agg(sum($"c").as("n_events"),
        count(lit(1)).as("n_types"),
        sum($"c" * $"c").as("ss"))
      .withColumn("gini_bp",
        when($"n_events" > 0,
          expr("(10000 * (n_events * n_events - ss)) div " +
            "(n_events * n_events)")).otherwise(0L))
      .select($"user_id", $"n_events", $"n_types", $"gini_bp")
  }

  /** LEVEL-SHIFT CHANGEPOINT (q262) — "did the daily rate change, and
    * when?": per event_type the best single split of the daily-count
    * series, scored by the scaled mean gap
    * `10⁶·|before_sum·after_days − after_sum·before_days| div
    * (before_days·after_days)` — the exact-integer form of
    * |mean_before − mean_after|, the two-sample statistic CUSUM/binary
    * segmentation maximizes. The candidate scan is a window over the
    * PRE-AGGREGATED per-day table (≤ a few hundred rows per type at any
    * corpus size), so the O(days) sweep never touches raw events twice;
    * argmax by (score, earlier day) tie-break. */
  def levelShift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
    val scored = daily
      .withColumn("cum_cnt",
        sum($"cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_days", row_number().over(w))
      .withColumn("s_tot",
        sum($"cnt").over(Window.partitionBy($"event_type")))
      .withColumn("d_tot",
        count(lit(1)).over(Window.partitionBy($"event_type")))
      .filter($"cum_days" < $"d_tot")
      .withColumn("score",
        expr("(1000000 * abs(cum_cnt * (d_tot - cum_days) - " +
          "(s_tot - cum_cnt) * cum_days)) div " +
          "(cum_days * (d_tot - cum_days))"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy($"score".desc, $"d")))
      .filter($"rk" === 1)
      .select($"event_type", $"d".cast("string").as("split_day"),
        $"cum_days".cast("long").as("days_before"),
        ($"d_tot" - $"cum_days").cast("long").as("days_after"),
        $"cum_cnt".as("sum_before"), ($"s_tot" - $"cum_cnt").as("sum_after"),
        $"score".as("gap_score"))
  }

  /** TREND RUNS CENSUS (q265) — the randomness screen on a daily rate
    * series: day-over-day moves classified up/down/flat (pure integer
    * comparisons of exact counts), consecutive same-sign moves grouped
    * into runs by the same `rn − row_number` island trick as q253, and
    * per type the move counts, longest up/down runs, and run count — a
    * monitoring primitive (too few runs = trending, too many =
    * oscillating) that needs no distribution theory, only counting. The
    * whole sweep is windows over the PRE-AGGREGATED per-day table. */
  def trendRuns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
    val moves = daily
      .withColumn("prev", lag($"cnt", 1).over(w))
      .filter($"prev".isNotNull)
      .withColumn("sgn",
        when($"cnt" > $"prev", 1).when($"cnt" < $"prev", -1).otherwise(0))
      .withColumn("rn", row_number().over(w))
      .withColumn("isl", $"rn" - row_number().over(
        Window.partitionBy($"event_type", $"sgn").orderBy($"d")))
    moves.groupBy($"event_type", $"sgn", $"isl")
      .agg(count(lit(1)).as("len"))
      .groupBy($"event_type")
      .agg(sum($"len").as("n_moves"),
        coalesce(sum(when($"sgn" === 1, $"len")), lit(0L)).as("n_up"),
        coalesce(sum(when($"sgn" === -1, $"len")), lit(0L)).as("n_down"),
        coalesce(sum(when($"sgn" === 0, $"len")), lit(0L)).as("n_flat"),
        coalesce(max(when($"sgn" === 1, $"len")), lit(0L)).as("longest_up"),
        coalesce(max(when($"sgn" === -1, $"len")), lit(0L))
          .as("longest_down"),
        count(lit(1)).as("n_runs"))
  }

  /** DATA FRESHNESS AUDIT (q266) — the staleness SLA check every
    * ingestion dashboard runs per source: each event_type's last-seen
    * lag behind the corpus' own high-water mark in integer hours
    * (microsecond floor-div — no timestamp float math), its active span
    * in days, and a fresh/stale verdict by integer comparison against a
    * declared 24 h SLA. One grouped agg plus one broadcast scalar. */
  def freshnessAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mx = Tables.events(spark, dir)
      .agg(max(unix_micros($"ts")).as("corpus_max"))
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros($"ts")).as("min_us"),
        max(unix_micros($"ts")).as("max_us"))
      .crossJoin(broadcast(mx))
      .withColumn("staleness_hours",
        expr("(corpus_max - max_us) div 3600000000"))
      .withColumn("span_days", expr("(max_us - min_us) div 86400000000"))
      .withColumn("freshness",
        when($"staleness_hours" < 24, "fresh").otherwise("stale"))
      .select($"event_type", $"n_events", $"staleness_hours", $"span_days",
        $"freshness")
  }

  /** FUNNEL CONVERSION LATENCY (q267) — q110 counts who converts; this
    * measures HOW LONG: per converting user the first purchase strictly
    * after their first view, latency in integer seconds (microsecond
    * floor-div), summarized as n plus dyadic p25/p50/p75 — the
    * interpolation points both engines compute identically on integer
    * inputs. Two per-user min-aggs and one broadcast-size join; the
    * quantile runs over the small converted-user frame. */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("tu"))
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"tu").as("t_view"))
    val lat = ev.filter($"event_type" === "purchase")
      .join(views, Seq("user_id"))
      .filter($"tu" > $"t_view")
      .groupBy($"user_id").agg(min($"tu" - col("t_view")).as("lat_us"))
      .select($"user_id", expr("lat_us div 1000000").as("lat_s"))
    lat.agg(count(lit(1)).as("n_converted"),
      percentile($"lat_s", lit(0.25)).as("p25_s"),
      percentile($"lat_s", lit(0.5)).as("p50_s"),
      percentile($"lat_s", lit(0.75)).as("p75_s"))
  }

  /** LEADERBOARD CHURN (q269) — how stable is the weekly top-10?
    * Per ISO week (both engines' Monday-start `date_trunc`) users rank
    * by exact event count (user-id tie-break); adjacent calendar weeks
    * (+7 days — a missing week simply yields no pair) compare their
    * top-10 SETS: overlap count and Jaccard in floor basis points over
    * the actual set sizes. The ranking window runs per-week over the
    * per-user counts; the set intersection is an equi-join of two
    * ≤10-row-per-week frames. */
  def leaderboardChurn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wkUser = Tables.events(spark, dir)
      .groupBy(to_date(date_trunc("week", $"ts")).as("wk"), $"user_id")
      .agg(count(lit(1)).as("n"))
    val top = wkUser
      .withColumn("rk", row_number().over(Window.partitionBy($"wk")
        .orderBy($"n".desc, $"user_id")))
      .filter($"rk" <= 10)
      .select($"wk", $"user_id")
    val sizes = top.groupBy($"wk").agg(count(lit(1)).as("sz"))
    val pairs = sizes.as("a").join(sizes.as("b"),
        date_add(col("a.wk"), 7) === col("b.wk"))
      .select(col("a.wk").as("week_a"), col("b.wk").as("week_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
    val ov = top.as("x").join(top.as("y"),
        date_add(col("x.wk"), 7) === col("y.wk") &&
          col("x.user_id") === col("y.user_id"))
      .groupBy(col("x.wk").as("week_a"))
      .agg(count(lit(1)).as("n_overlap"))
    pairs.join(ov, Seq("week_a"), "left")
      .withColumn("n_overlap", coalesce($"n_overlap", lit(0L)))
      .withColumn("jaccard_bp",
        when($"sz_a" + $"sz_b" - $"n_overlap" > 0,
          expr("(10000 * n_overlap) div (sz_a + sz_b - n_overlap)"))
          .otherwise(0L))
      .select($"week_a".cast("string").as("week_a"),
        $"week_b".cast("string").as("week_b"),
        $"sz_a", $"sz_b", $"n_overlap", $"jaccard_bp")
  }

  /** COMPLETENESS MATRIX (q273) — q215 audits one dimension (day gaps);
    * this audits the GRID: for every observed day × every known
    * event_type, is the cell populated? Per day the present/missing
    * type counts and the sorted missing-type list (string-joined so the
    * cell is one comparable value) — the at-a-glance ingestion health
    * matrix. The grid is a cross join of two TINY distinct frames; the
    * presence probe is one distinct projection of the facts. */
  def completenessMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val present = Tables.events(spark, dir)
      .select(to_date($"ts").as("d"), $"event_type").distinct()
    val days = present.select($"d").distinct()
    val types = present.select($"event_type").distinct()
    val nTypes = types.count()
    val missing = days.crossJoin(types)
      .join(present, Seq("d", "event_type"), "left_anti")
    val missPerDay = missing.groupBy($"d")
      .agg(count(lit(1)).as("n_missing"),
        concat_ws(",", array_sort(collect_list($"event_type")))
          .as("missing_types"))
    days.join(missPerDay, Seq("d"), "left")
      .withColumn("n_missing", coalesce($"n_missing", lit(0L)))
      .withColumn("missing_types", coalesce($"missing_types", lit("")))
      .withColumn("n_present", lit(nTypes) - $"n_missing")
      .withColumn("status",
        when($"n_missing" === 0, "complete").otherwise("incomplete"))
      .select($"d".cast("string").as("day"), $"n_present", $"n_missing",
        $"missing_types", $"status")
  }

  /** DUPLICATE-PAYMENT AUDIT (q274) — the fraud/ops double-charge
    * screen: purchase pairs by the SAME user for the same whole-dollar
    * amount (`cents div 100` — retries and double-clicks rarely repeat
    * to the cent) within 24 h of each other. The pair join is keyed on
    * (user, dollars) — candidate pairs only ever form inside those tiny
    * groups, never across the corpus — with `event_id_a < event_id_b`
    * canonicalization and an integer-microsecond window predicate; the
    * report carries both event ids, both exact amounts, and the gap in
    * whole hours. */
  def duplicatePayments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.events(spark, dir)
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .select($"user_id", $"event_id",
        unix_micros($"ts").as("tu"),
        ($"value".cast("decimal(14,2)") * 100).cast("long").as("cents"))
      .withColumn("dollars", expr("cents div 100"))
    p.as("a").join(p.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.dollars") === col("b.dollars") &&
          col("a.event_id") < col("b.event_id") &&
          abs(col("b.tu") - col("a.tu")) <= lit(86400000000L))
      .select(col("a.user_id").as("user_id"),
        col("a.dollars").as("amount_dollars"),
        col("a.event_id").as("event_id_a"),
        col("b.event_id").as("event_id_b"),
        col("a.cents").as("cents_a"), col("b.cents").as("cents_b"),
        expr("abs(b.tu - a.tu) div 3600000000").as("gap_hours"))
  }

  /** GROWTH ACCOUNTING (q276) — the weekly new / retained / resurrected
    * / churned quad every growth dashboard opens with: per (user, week)
    * activity (Monday-start `date_trunc`), a user is NEW in their first
    * week, RETAINED if active the immediately previous calendar week
    * (`lag(wk) = wk − 7` — integer date arithmetic), RESURRECTED
    * otherwise; CHURNED users are charged to the week AFTER their
    * last-seen activity gap (active at w−7, absent at w), counted by an
    * anti-join of the +7-shifted activity set against itself. All four
    * classes come from one distinct (user, week) frame and one per-user
    * lag window. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wu = Tables.events(spark, dir)
      .select(to_date(date_trunc("week", $"ts")).as("wk"), $"user_id")
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"wk")
    val classed = wu
      .withColumn("prev_wk", lag($"wk", 1).over(w))
      .withColumn("cls",
        when($"prev_wk".isNull, "new")
          .when(date_add($"prev_wk", 7) === $"wk", "retained")
          .otherwise("resurrected"))
    val active = classed.groupBy($"wk")
      .agg(count(lit(1)).as("n_active"),
        sum(when($"cls" === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when($"cls" === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when($"cls" === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val churned = wu.select(date_add($"wk", 7).as("wk"), $"user_id")
      .join(wu, Seq("wk", "user_id"), "left_anti")
      .groupBy($"wk").agg(count(lit(1)).as("n_churned"))
    active.join(churned, Seq("wk"), "left")
      .withColumn("n_churned", coalesce($"n_churned", lit(0L)))
      .select($"wk".cast("string").as("week"), $"n_active", $"n_new",
        $"n_retained", $"n_resurrected", $"n_churned")
  }

  /** SEASONAL-NAIVE FORECAST BACKTEST (q277) — is this series better
    * predicted by "same as yesterday" (naive-1) or "same as last
    * Monday" (seasonal-7)? Per event_type the daily-count series is
    * backtested on every day where BOTH lags exist (calendar equi-joins
    * on the pre-aggregated per-day table), absolute errors summed as
    * exact integers, MAE reported ×10⁶ by one guarded floor-div, and
    * the winner decided by comparing the two integer error SUMS (same
    * denominator — no division needed to rank). Model selection with
    * zero distribution theory and zero floats. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("cnt"))
    val t = daily.as("t")
    val joined = t
      .join(daily.as("p1"),
        col("t.event_type") === col("p1.event_type") &&
          col("t.d") === date_add(col("p1.d"), 1))
      .join(daily.as("p7"),
        col("t.event_type") === col("p7.event_type") &&
          col("t.d") === date_add(col("p7.d"), 7))
      .select(col("t.event_type").as("event_type"),
        abs(col("t.cnt") - col("p1.cnt")).as("err1"),
        abs(col("t.cnt") - col("p7.cnt")).as("err7"))
    joined.groupBy($"event_type")
      .agg(count(lit(1)).as("n_evaluated"),
        sum($"err1").as("sum_err1"), sum($"err7").as("sum_err7"))
      .withColumn("mae1_ppm",
        when($"n_evaluated" > 0,
          expr("(1000000 * sum_err1) div n_evaluated")).otherwise(0L))
      .withColumn("mae7_ppm",
        when($"n_evaluated" > 0,
          expr("(1000000 * sum_err7) div n_evaluated")).otherwise(0L))
      .withColumn("winner",
        when($"sum_err7" < $"sum_err1", "seasonal_7")
          .when($"sum_err7" > $"sum_err1", "naive_1").otherwise("tie"))
  }

  /** PEAK CONCURRENCY (q278) — the capacity number an SRE sizes for:
    * the maximum number of simultaneously-open sessions (q18's 30-min
    * rule), computed by the sweep-line: +1 at each session start, −1
    * just after its inclusive end, deltas COLLAPSED PER UNIQUE
    * TIMESTAMP first (so the running sum is over a strictly increasing
    * time axis — no tie-order ambiguity for any engine), then the
    * running sum via [[graft.operators.Sweep.prefixSum]] (the two-phase
    * distributed prefix sum — the r12 `weak` ran it as one
    * single-partition window over ~2×sessions rows); the peak and the
    * first instant it is reached. The sweep frame is two rows per
    * session — session-sized, never event-sized.
    *
    * The session frame is localCheckpoint-ed (r15 optimization): it feeds
    * THREE consumers — both delta union legs and the n_sessions count —
    * and each lazily re-ran the event scan + sessionize window (the q132
    * checkpoint rule). The peak pick is one bounded TakeOrdered over the
    * sweep output (conc DESC, t ASC, limit 1) instead of a max-agg
    * cross-joined back against a second full read of the sweep — same
    * (first instant, peak) row, one pass. */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sessions = Tables.events(spark, dir)
      .withColumn("gap", unix_micros($"ts") - lag(unix_micros($"ts"), 1)
        .over(byUser))
      .withColumn("is_new",
        when($"gap".isNull || $"gap" > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sid")
      .agg(min(unix_micros($"ts")).as("st"),
        (max(unix_micros($"ts")) + 1).as("en"))
      .localCheckpoint()
    val deltas = sessions.select($"st".as("t"), lit(1L).as("delta"))
      .unionByName(sessions.select($"en".as("t"), lit(-1L).as("delta")))
      .groupBy($"t").agg(sum($"delta").as("net"))
    val run = graft.operators.Sweep.prefixSum(deltas, Seq($"t"), "net", "conc")
    val nSessions = sessions.count()
    run.orderBy($"conc".desc, $"t".asc).limit(1)
      .select(lit(nSessions).as("n_sessions"),
        $"conc".as("peak_concurrency"), $"t".as("peak_at_us"))
  }

  /** TOP CONVERSION PATHS (q280) — which event sequences actually lead
    * to purchase: within each session (q18's 30-min rule), the ordered
    * event-type path up to and including the FIRST purchase, rendered
    * as one `>`-joined string under a total (ts, event_id) order;
    * identical paths counted, top-10 by (count, path). The path build
    * is a per-session sort of a handful of events; the ranking window
    * runs over the tiny distinct-path frame. */
  def conversionPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = Tables.events(spark, dir)
      .withColumn("tu", unix_micros($"ts"))
      .withColumn("gap", $"tu" - lag($"tu", 1).over(byUser))
      .withColumn("is_new",
        when($"gap".isNull || $"gap" > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val firstPurchase = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"sid")
      .agg(min(struct($"tu", $"event_id")).as("fp"))
    val paths = ev.join(firstPurchase, Seq("user_id", "sid"))
      .filter(struct($"tu", $"event_id") <= $"fp")
      .groupBy($"user_id", $"sid")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"tu", $"event_id", $"event_type"))),
        x => x.getField("event_type")), ">").as("path"))
    paths.groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .withColumn("rk", row_number().over(
        Window.orderBy($"n_sessions".desc, $"path")))
      .filter($"rk" <= 10)
      .select($"rk".cast("long").as("rank"), $"path", $"n_sessions")
  }

  /** MEDIAN OF DAILY MEDIANS (q288) — the robust weekly location metric
    * ops teams prefer over a raw weekly median (one bad day cannot drag
    * the week): per (type, day) the dyadic p50 of exact cents, then per
    * (type, week) the dyadic median OF those daily medians. Every
    * interpolation is a midpoint of integral-or-half values — exact in
    * binary on both engines. Two grouped quantile passes, the second
    * over a ≤7-row-per-group frame. */
  def medianOfMedians(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select($"event_type", to_date($"ts").as("d"),
        coalesce(($"value".cast("decimal(14,2)") * 100).cast("long"), lit(0L))
          .as("cents"))
      .groupBy($"event_type", $"d")
      .agg(percentile($"cents", lit(0.5)).as("daily_p50"))
    daily
      .groupBy($"event_type",
        to_date(date_trunc("week", $"d")).as("wk"))
      .agg(count(lit(1)).as("n_days"),
        percentile($"daily_p50", lit(0.5)).as("week_median_of_p50"))
      .select($"event_type", $"wk".cast("string").as("week"), $"n_days",
        $"week_median_of_p50")
  }

  /** WEEKLY PERCENTILE DRIFT (q291) — the monitoring alarm on a
    * location statistic: per (type, week) the dyadic p50 of exact
    * cents, its delta vs the previous week (lag over the tiny
    * type×week frame), and a shift flag when the absolute delta
    * exceeds 10% of the prior value — compared as `10·|Δ| > prev`,
    * multiplication of exact integral-or-half doubles, never a float
    * ratio. */
  def percentileDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weekly = Tables.events(spark, dir)
      .select($"event_type",
        to_date(date_trunc("week", $"ts")).as("wk"),
        coalesce(($"value".cast("decimal(14,2)") * 100).cast("long"), lit(0L))
          .as("cents"))
      .groupBy($"event_type", $"wk")
      .agg(count(lit(1)).as("n_events"),
        percentile($"cents", lit(0.5)).as("p50_cents"))
    val w = Window.partitionBy($"event_type").orderBy($"wk")
    weekly
      .withColumn("prev_p50", lag($"p50_cents", 1).over(w))
      .withColumn("delta", $"p50_cents" - $"prev_p50")
      .withColumn("status",
        when($"prev_p50".isNull, "first")
          .when(abs($"delta") * 10 > $"prev_p50", "shifted")
          .otherwise("stable"))
      .select($"event_type", $"wk".cast("string").as("week"), $"n_events",
        $"p50_cents", $"prev_p50", $"delta", $"status")
  }

  /** RANDOMIZATION HEALTH CHECK (q293) — before reading q254's A/B
    * verdict, audit the assignment itself: per event_type stratum the
    * distinct users landing in each md5-bit arm, the imbalance in floor
    * basis points of the stratum size, and a balanced/imbalanced
    * verdict at a declared 500 bp tolerance — the chi-square-free
    * health check that catches a broken hash salt before it poisons an
    * experiment. */
  def randomizationHealth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val arms = Tables.events(spark, dir)
      .select($"event_type", $"user_id")
      .distinct()
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("ab:"),
          $"user_id".cast("string"))), 1, 1), 16, 10).cast("int") < 8, "A")
          .otherwise("B"))
    arms.groupBy($"event_type")
      .agg(sum(when($"variant" === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when($"variant" === "B", 1L).otherwise(0L)).as("n_b"))
      .withColumn("imbalance_bp",
        when($"n_a" + $"n_b" > 0,
          expr("(10000 * abs(n_a - n_b)) div (n_a + n_b)")).otherwise(0L))
      .withColumn("verdict",
        when($"imbalance_bp" <= 500, "balanced").otherwise("imbalanced"))
  }

  /** VALUE-DISTRIBUTION DRIFT (q292) — the PSI-style drift monitor
    * without PSI's logarithm: per event_type the value histogram
    * (50-dollar cents buckets) of the corpus' first half of days vs its
    * second half (split at the integer midpoint day), compared by L1
    * distance — `Σ|n_a·N_b − n_b·N_a|` over a full-outer bucket join,
    * scaled to floor basis points by the single division
    * `10⁴·Σ div (2·N_a·N_b)` so 0 bp = identical shapes, 10000 bp =
    * disjoint. Drift verdict at a declared 1000 bp tolerance. */
  def distributionDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"event_type",
        datediff(to_date($"ts"), lit(java.sql.Date.valueOf("1970-01-01")))
          .as("day"),
        coalesce(($"value".cast("decimal(14,2)") * 100).cast("long"), lit(0L))
          .as("cents"))
    val bounds = e.agg(min($"day").as("d0"), max($"day").as("d1"))
    val bucketed = e.crossJoin(broadcast(bounds))
      .withColumn("half",
        when($"day" < expr("(d0 + d1 + 1) div 2"), "a").otherwise("b"))
      .withColumn("bucket", expr("cents div 5000"))
      .groupBy($"event_type", $"half", $"bucket")
      .agg(count(lit(1)).as("n"))
    val a = bucketed.filter($"half" === "a")
      .select($"event_type", $"bucket", $"n".as("n_a"))
    val b = bucketed.filter($"half" === "b")
      .select($"event_type", $"bucket", $"n".as("n_b"))
    val joined = a.join(b, Seq("event_type", "bucket"), "full_outer")
      .select($"event_type", $"bucket",
        coalesce($"n_a", lit(0L)).as("n_a"),
        coalesce($"n_b", lit(0L)).as("n_b"))
    val tot = joined.groupBy($"event_type")
      .agg(sum($"n_a").as("ta"), sum($"n_b").as("tb"))
    joined.join(broadcast(tot), Seq("event_type"))
      .withColumn("term", abs($"n_a" * $"tb" - $"n_b" * $"ta"))
      .groupBy($"event_type")
      .agg(max($"ta").as("n_first"), max($"tb").as("n_second"),
        count(lit(1)).as("n_buckets"), sum($"term").as("l1_raw"))
      .withColumn("drift_bp",
        when($"n_first" * $"n_second" > 0,
          expr("(10000 * l1_raw) div (2 * n_first * n_second)"))
          .otherwise(0L))
      .withColumn("verdict",
        when($"drift_bp" > 1000, "drifted").otherwise("stable"))
      .select($"event_type", $"n_first", $"n_second", $"n_buckets",
        $"drift_bp", $"verdict")
  }

  /** OUT-OF-ORDER ARRIVAL AUDIT (q297) — does assignment order agree
    * with event time? Adjacent event pairs per user in event_id order
    * (the producer's sequence); a pair whose timestamp goes BACKWARD is
    * a late/out-of-order arrival — the number that sizes every
    * streaming watermark in the engine. Census: pair count, backward
    * count and share (guarded floor bp), and the worst backstep in
    * integer microseconds. One per-user window. */
  def outOfOrderAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    val pairs = Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tu"))
      .withColumn("prev_tu", lag($"tu", 1).over(w))
      .filter($"prev_tu".isNotNull)
      .withColumn("backstep",
        when($"tu" < $"prev_tu", $"prev_tu" - $"tu").otherwise(0L))
    pairs.agg(count(lit(1)).as("n_pairs"),
      sum(when($"backstep" > 0, 1L).otherwise(0L)).as("n_backward"),
      max($"backstep").as("max_backstep_us"))
      .withColumn("backward_bp",
        when($"n_pairs" > 0, expr("(10000 * n_backward) div n_pairs"))
          .otherwise(0L))
  }

  /** SESSION PROFILE (q299) — the shape of a session at a glance:
    * dyadic quartiles of events-per-session and of session duration in
    * integer seconds, over the q18 30-minute sessions. The quantile
    * pass runs on the session-level frame — two integral columns, one
    * row per session. */
  def sessionProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sess = Tables.events(spark, dir)
      .withColumn("tu", unix_micros($"ts"))
      .withColumn("gap", $"tu" - lag($"tu", 1).over(byUser))
      .withColumn("is_new",
        when($"gap".isNull || $"gap" > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sid")
      .agg(count(lit(1)).as("n_events"),
        expr("(max(tu) - min(tu)) div 1000000").as("dur_s"))
    sess.agg(count(lit(1)).as("n_sessions"),
      percentile($"n_events", lit(0.25)).as("p25_events"),
      percentile($"n_events", lit(0.5)).as("p50_events"),
      percentile($"n_events", lit(0.75)).as("p75_events"),
      percentile($"dur_s", lit(0.25)).as("p25_dur_s"),
      percentile($"dur_s", lit(0.5)).as("p50_dur_s"),
      percentile($"dur_s", lit(0.75)).as("p75_dur_s"))
  }

  /** KAPLAN-MEIER CHURN SURVIVAL (q247) — the survival curve behind
    * every retention/LTV model, with censoring done right: a user's
    * lifetime is last-active − first-active in HOURS (the corpus spans
    * ~30 days, so hours are the resolution where churn is visible);
    * users whose last activity is ≥12 hours before the corpus' own max
    * timestamp CHURNED (an event at their lifetime), everyone else is
    * CENSORED (still alive —
    * they leave the risk set without an event, the thing naive
    * retention curves get wrong). The estimator is the product-limit
    * S(tᵢ) = Π (1 − dⱼ/nⱼ), made hash-exact by replacing the float
    * product with an INTEGER recurrence in basis points —
    * s ← (s·(n−d)) div n from s = 10000 — which both engines can replay
    * exactly (here a bounded driver fold over the O(distinct lifetimes)
    * event table, the groupedPercentile O(k)-driver-state pattern; the
    * oracle walks the identical recurrence with a recursive CTE). The
    * distributed work is one per-user agg, one lifetime census, and one
    * small-frame cumulative window for risk sets. */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val HourUs = 3600000000L
    val users = Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("tu"))
      .groupBy($"user_id")
      .agg(min($"tu").as("fu"), max($"tu").as("lu"))
    val mx = users.agg(max($"lu").as("m"), min($"fu").as("f"))
      .localCheckpoint() // 1 row; feeds the broadcast AND the span guard
    // Enforced driver-fold bound: distinct lifetimes (in hours) can never
    // exceed the corpus' own hour span + 1, so the collect() below is
    // O(span-hours) no matter the row count (~720 for the 30-day corpus).
    val mxRow = mx.head()
    val spanHours = (mxRow.getLong(0) - mxRow.getLong(1)) / HourUs + 1
    val u = users.crossJoin(broadcast(mx.select($"m")))
      .select(expr(s"(lu - fu) div $HourUs").cast("int").as("t"),
        (expr(s"(m - lu) div $HourUs") >= 12).as("churned"))
    val total = u.count()
    val a = u.groupBy($"t")
      .agg(count(lit(1)).as("n_at"),
        sum(when($"churned", 1L).otherwise(0L)).as("d"))
    val w = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, -1)
    val km = a
      .withColumn("n_risk", lit(total) - coalesce(sum($"n_at").over(w), lit(0L)))
      .filter($"d" > 0)
      .select($"t", $"d", $"n_risk")
      .orderBy($"t")
      .collect() // O(distinct lifetimes) — bound ENFORCED just below
    require(km.length <= spanHours,
      s"q247: ${km.length} distinct lifetimes exceeds the corpus hour " +
        s"span $spanHours — the driver fold contract is broken")
    var s = 10000L
    val rows = km.map { r =>
      val (t, d, n) = (r.getInt(0), r.getLong(1), r.getLong(2))
      require(n > 0, s"empty risk set at t=$t")
      s = s * (n - d) / n
      (t, n, d, s)
    }.toSeq
    rows.toDF("t_hours", "n_risk", "n_events", "survival_bp")
  }

  /** TIME-DECAYED HEAVY HITTERS (q240) — "who is trending", the
    * recency-weighted ranking every feed/alerting pipeline wants, with
    * the decay that is EXACT across engines: an event aged `a` days
    * (against the corpus' own max day — never wall clock) weighs
    * 2^(40−a) for a ≤ 40 and 0 beyond — the q123 dyadic-EWMA rule
    * applied to counts, so every weight is one BIGINT shift, per-user
    * totals are exact integer sums (< 2⁵³, so the ranking double is
    * exact too), and a float `pow(λ, a)` ulp drift can never reorder
    * two users. Half-life = one day; 40 binary orders of magnitude ≈
    * anything older than 40 days contributes nothing, which IS the
    * product semantics of "trending". The top-10 rides the k-bounded
    * TopK heap (ties to the smaller user_id), never a global sort; the
    * 10 winners broadcast-join back for their audit columns. */
  def decayedHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"))
    val w = d.crossJoin(broadcast(d.agg(max($"day").as("mx"))))
      .select($"user_id", datediff($"mx", $"day").as("age"))
      .select($"user_id",
        when($"age" <= 40,
          expr("shiftleft(cast(1 as bigint), cast(40 - age as int))"))
          .otherwise(0L).as("wt"))
    val a = w.groupBy($"user_id")
      .agg(sum($"wt").as("decayed_w"), count(lit(1)).as("n_events"))
    val top = a
      .agg(graft.functions.TopK.scoredTopK(
        $"decayed_w".cast("double"), $"user_id", 10).as("top"))
      .select(posexplode($"top").as(Seq("pos", "s")))
      .select(($"pos" + 1).cast("int").as("rank"), $"s.cand_id".as("user_id"))
    a.join(broadcast(top), Seq("user_id"))
      .select($"rank", $"user_id", $"decayed_w", $"n_events")
  }

  /** POSITION-BASED MULTI-TOUCH ATTRIBUTION (q233) — q124's last-touch is
    * the degenerate single-winner rule; marketing mix runs the U-shaped
    * split: per user journey (non-purchase touches in time order), the
    * FIRST and LAST touch earn 40% each and the middles share the
    * remaining 20% equally. Credit is integer BASIS POINTS, never a float
    * fraction: a journey always allocates exactly 10,000 bp (n=1 → all,
    * n=2 → 5000/5000, else 4000/4000 + the middles' `2000 div (n−2)` with
    * the `2000 mod (n−2)` remainder going to the EARLIEST middles, one bp
    * each) — conservation is exact by construction, so the channel census
    * sums to 10,000 × journeys and any misallocation breaks the oracle
    * hash rather than hiding in float dust. One pass over the same
    * (user, time) window spec as every other per-user feature — one
    * exchange+sort at 100 TB, no per-conversion lookback join. */
  def multiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val t = Tables.events(spark, dir)
      .filter($"event_type" =!= "purchase")
      .select($"user_id", $"event_type",
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy($"user_id")).as("n"))
    val bp = when($"n" === 1, lit(10000L))
      .when($"n" === 2, lit(5000L))
      .when($"rn" === 1 || $"rn" === $"n", lit(4000L))
      .otherwise(expr("2000 div (n - 2)") +
        when($"rn" - 1 <= lit(2000L) % ($"n" - 2), 1L).otherwise(0L))
    t.select($"event_type", bp.as("bp"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_touches"), sum($"bp").as("total_bp"))
  }

  /** STREAM-STATIC join as a gate query — the fifth streaming operator
    * class at the gate (stateless per-batch enrichment, vs q81's window
    * state, q90's join state, q92's custom session state, q103's dedup
    * state). Each streamed event is enriched with a STATIC per-user
    * dimension (first-seen timestamp, computed batch-side) and derives the
    * user's age-in-days at event time — integer microsecond `div`
    * arithmetic, no float date math. A stream-static inner join keeps NO
    * state: every micro-batch joins against the (re-broadcast) static
    * side, which is exactly how a dimension enrichment deploys at scale.
    * Age is truncating division on non-negative deltas, floor in both
    * engines. */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    val firstSeen = Tables.events(spark, dir)
      .groupBy($"user_id").agg(min($"ts").as("first_ts"))
    graft.streaming.Streaming.runOnce(spark, s"$dir/events.parquet",
      ev => Tables.rebuildNanosTs(ev)
        .join(broadcast(firstSeen), "user_id")
        .select($"event_id", $"user_id",
          expr("(unix_micros(ts) - unix_micros(first_ts)) div 86400000000")
            .cast("int").as("age_days")),
      name = "q122_stream_static_sink",
      mode = org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** INTERVAL-OVERLAP without the interval×interval join: per session, how
    * many OTHER users had a session open at the same time (concurrency /
    * co-presence analysis). The naive formulation is an O(n²) theta-join,
    * and even the hour-bucket equi-join variant (the r5 implementation) is
    * |bucket|² in a hot hour — the classic interval-join skew killer once
    * the number of concurrently-open sessions tracks data size.
    *
    * This version never materializes a pair. By inclusion–exclusion over a
    * sorted sweep, the number of sessions overlapping [st_i, en_i] is
    *
    *   #{j : st_j <= en_i} − #{j : en_j < st_i}
    *
    * (every non-overlapping j with st_j <= en_i must have en_j < st_i).
    * Two distributed rank counts ([[graft.operators.Sweep.countUpTo]]:
    * range-partitioned parallel prefix sum, no single-task global window)
    * give the all-users term; the same two counts restricted per user —
    * plain `user_id`-partitioned running sums over the union of point and
    * query rows — give the same-user correction, which also cancels the
    * session's self-overlap. Cost: two range shuffles + per-user windows,
    * O(n log n) total, independent of overlap density — the plan contains
    * no self-join at all. The oracle is DuckDB's IEJoin over the same q18
    * session CTEs — same answer, different join algorithm. */
  def sessionOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The session frame feeds the eight union legs below (4-kind global +
    // 4-kind per-user); localCheckpoint materializes the events-scan +
    // sessionize window ONCE so each leg reads the checkpointed rows
    // instead of re-deriving the full lineage.
    val s = sessionize(spark, dir)
      .select($"user_id", $"session_id",
        unix_micros($"session_start").as("stu"),
        unix_micros($"session_end").as("enu"))
      .localCheckpoint()

    // ONE 4-kind union serves both terms (r15 — the two chained global
    // sweeps and the two per-user window legs each re-shuffled the same
    // rows; the k tie-breaks encode both inequalities in one sorted pass):
    //   k=0  start points (d1=1): sort BEFORE equal-valued k=2 queries,
    //        so run1 at a query counts starts <= en_i (non-strict);
    //   k=1  "ends < st_i" query rows: sort BEFORE equal-valued k=3 end
    //        points, so run2 here excludes ends == st_i (strict);
    //   k=2  "starts <= en_i" query rows (read run1);
    //   k=3  end points (d2=1).
    // Ties beyond (v, k) are sum-safe: rows sharing (v, k) are same-kind,
    // query rows carry zero deltas, and a prefix SUM over the tied block
    // is order-independent — the countUpTo tie rule, two deltas at once.
    def legs(withUser: Boolean): DataFrame = {
      val nullSid = lit(null).cast("bigint").as("session_id")
      val uid = if (withUser) $"user_id" else lit(null).cast("bigint").as("user_id")
      s.select(uid, nullSid, $"stu".as("v"), lit(0).as("k"),
          lit(1L).as("d1"), lit(0L).as("d2"))
        .unionByName(s.select($"user_id", $"session_id", $"stu".as("v"),
          lit(1).as("k"), lit(0L).as("d1"), lit(0L).as("d2")))
        .unionByName(s.select($"user_id", $"session_id", $"enu".as("v"),
          lit(2).as("k"), lit(0L).as("d1"), lit(0L).as("d2")))
        .unionByName(s.select(uid, nullSid, $"enu".as("v"), lit(3).as("k"),
          lit(0L).as("d1"), lit(1L).as("d2")))
    }
    // Global terms: one range exchange, two running counts.
    val nAll = graft.operators.Sweep.prefixSums(legs(withUser = false),
        Seq($"v".asc, $"k".asc), Seq("d1" -> "run1", "d2" -> "run2"))
      .filter($"k" === 1 || $"k" === 2)
      .groupBy($"user_id", $"session_id")
      .agg((max(when($"k" === 2, $"run1"))
        - max(when($"k" === 1, $"run2"))).as("n_all"))

    // Same-user correction (includes self, cancelling i's own overlap):
    // the identical 4-kind sweep, but the running sums are per-user
    // windows — one user-hash exchange + sort, both counts in one pass.
    val wUser = Window.partitionBy($"user_id").orderBy($"v", $"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val uCorr = legs(withUser = true)
      .withColumn("run1", sum($"d1").over(wUser))
      .withColumn("run2", sum($"d2").over(wUser))
      .filter($"k" === 1 || $"k" === 2)
      .groupBy($"user_id", $"session_id")
      .agg((max(when($"k" === 2, $"run1"))
        - max(when($"k" === 1, $"run2"))).as("u_corr"))

    nAll.join(uCorr, Seq("user_id", "session_id"))
      .select($"user_id", $"session_id",
        ($"n_all" - $"u_corr").as("n_overlap"))
  }

  /** Click-path mining: the top 20 event-type TRIGRAMS inside sessions —
    * the "what do users do next" path analysis behind funnel design. No
    * per-session list collection: the trigram is two `lead`s over the
    * session-partitioned window, so state is O(1) per row and the whole
    * operator is one sort + one hash-agg regardless of session length
    * (a collect_list formulation would buffer whole sessions — the
    * hottest session becomes the biggest buffer exactly where it hurts).
    * Fully tie-broken top-20 (count desc, then the trigram itself). */
  def pathTrigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(byUser)
    val isNew = when(gapUs.isNull || gapUs > lit(1800000000L), 1L).otherwise(0L)
    val bySess = Window.partitionBy($"user_id", $"session_id")
      .orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .withColumn("is_new", isNew)
      .withColumn("session_id",
        sum($"is_new").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .select($"event_type".as("t1"),
        lead($"event_type", 1).over(bySess).as("t2"),
        lead($"event_type", 2).over(bySess).as("t3"))
      .filter($"t2".isNotNull && $"t3".isNotNull)
      .groupBy($"t1", $"t2", $"t3").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"t1", $"t2", $"t3").limit(20)
  }

  /** Time-weighted average (TWAP): each value holds until the user's next
    * event, so its weight is that duration — the standard
    * irregular-sampling average of finance/telemetry. Exactness: weights
    * are integer MICROSECONDS, values integer cents, so Σ(cents·µs) and
    * Σµs are exact BIGINT aggregates and the one float op is the final
    * correctly-rounded division (zero-duration users — all events on one
    * timestamp — yield NULL in both engines rather than 0/0). At corpus
    * scale the product wants decimal(38) headroom (cents·µs·rows can pass
    * 2⁶³); BIGINT is exact at gate scale and keeps the oracle
    * term-for-term. */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .withColumn("cents",
        coalesce(($"value".cast("decimal(14,2)") * lit(100)).cast("long"), lit(0L)))
      .withColumn("dur",
        lead(unix_micros($"ts"), 1).over(byUser) - unix_micros($"ts"))
      .filter($"dur".isNotNull)
      .groupBy($"user_id")
      .agg(sum($"cents" * $"dur").as("wsum"), sum($"dur").as("tsum"))
      .select($"user_id",
        when($"tsum" === 0L, lit(null).cast("double"))
          .otherwise($"wsum".cast("double") / $"tsum".cast("double"))
          .as("twap_cents"))
  }

  /** ROLLING 7-DAY DISTINCT USERS per event type (q223) — the WAU curve,
    * the metric a naive formulation writes as COUNT(DISTINCT) OVER a
    * RANGE frame, which no engine supports and a per-day self-join makes
    * O(days × users). Sweep-line instead: a user's active days split into
    * COVERAGE SEGMENTS wherever a gap exceeds the window (lag + cumsum of
    * break flags — q18's sessionize shape on the day axis), each segment
    * [first, last+6] contributes +1/−1 boundary deltas, and the curve is
    * one cumulative sum of net deltas over the calendar spine. Every step
    * is a keyed shuffle or a per-type window; nothing is ever
    * users × days. The final cumsum partitions by event_type over
    * calendar-day rows — a census axis (30 rows/type here, bounded by the
    * corpus date span), not data. The spec checks the sweep against the
    * brute-force windowed-distinct definition. */
  def rollingDistinctWau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"event_type", $"user_id", to_date($"ts").as("d")).distinct()
    val byUserDay = Window.partitionBy($"event_type", $"user_id").orderBy($"d")
    val seg = days
      .withColumn("is_break",
        when(lag($"d", 1).over(byUserDay).isNull ||
          datediff($"d", lag($"d", 1).over(byUserDay)) > 6, 1L).otherwise(0L))
      .withColumn("sid", sum($"is_break").over(
        byUserDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val segs = seg.groupBy($"event_type", $"user_id", $"sid")
      .agg(min($"d").as("s"), date_add(max($"d"), 7).as("e"))
    val net = segs.select($"event_type", $"s".as("d"), lit(1L).as("delta"))
      .unionAll(segs.select($"event_type", $"e".as("d"), lit(-1L).as("delta")))
      .groupBy($"event_type", $"d").agg(sum($"delta").as("nd"))
    val spine = days.select($"event_type").distinct()
      .crossJoin(days.agg(min($"d").as("lo"), max($"d").as("hi")))
      .select($"event_type", explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
    val curve = Window.partitionBy($"event_type").orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(net, Seq("event_type", "d"), "left")
      .withColumn("wau", sum(coalesce($"nd", lit(0L))).over(curve))
      .select($"event_type", $"d".as("day"), $"wau")
  }

  /** Declarative SESSION WINDOWS via Spark's `session_window(ts, gap)` —
    * the one-expression form of what q18 builds from gap-flag + cumsum
    * CTEs (and the same expression `readStream` executes with merging
    * session state). Gate parity against the CTE formulation proves the
    * built-in's semantics: window.start = first event, window.end = last
    * event + gap. Money rides the exact decimal bridge as everywhere. */
  def sessionWindowFn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(14,2)")).cast("double").as("total_value"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end_gap"), $"n_events", $"total_value")
  }

  /** STREAMING session windows (q308): the identical
    * `session_window(ts, gap)` expression as q138, executed under
    * `readStream` with MERGING session state — the state-store class q92's
    * flatMapGroupsWithState builds by hand, exercised through the
    * declarative API (SessionWindowStateStore save/restore/merge exec
    * nodes, not a user state function). The q92 two-batch drive
    * (corpus file, then +100-day sentinels under maxFilesPerTrigger=1)
    * advances the watermark past every real session so Append mode must
    * flush them all; sentinels are filtered AFTER the watermark node, so
    * they move event time without polluting any session. Equality with
    * the q138 batch oracle proves merge-on-late-arrival state semantics
    * land exactly the batch answer. */
  /** Three-batch drive for watermark-APPEND flushes (q308): corpus, the
    * q92 sentinel file, then the SAME sentinel again under a second path.
    * Watermarks lag one batch (batch N emits with the watermark computed
    * from batch N−1's data), and `processAllAvailable` only waits for
    * DATA batches — a flush that relies on the engine's trailing no-data
    * micro-batch races `stop()`. The third (data) batch runs with the
    * sentinel-advanced watermark, so every real session MUST emit before
    * the drive returns. Pure symlinks; nothing new is written. */
  private def q308DriveFor(spark: SparkSession, dir: String): String =
    Derived("event.q308Drive", dir) {
      import java.nio.file.{Files, Paths}
      val (q92drive, _) = q92DriveFor(spark, dir)
      val drive = Scratch.named(s"q308_drive_${Scratch.dirKey(dir)}")
      stageCorpus(spark, drive, "aa_events.parquet", s"$dir/events.parquet")
      Files.createSymbolicLink(drive.resolve("ww_sentinel.parquet"),
        Paths.get(s"$q92drive/zz_sentinel.parquet"))
      Files.createSymbolicLink(drive.resolve("zz_sentinel2.parquet"),
        Paths.get(s"$q92drive/zz_sentinel.parquet"))
      drive.toString
    }

  def streamingSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, sentinelUs) = q92DriveFor(spark, dir)
    val drivePath = q308DriveFor(spark, dir)
    // Sentinel rows flow INTO the aggregation: a pre-agg filter on
    // event_type would be predicate-pushed BELOW the EventTimeWatermark
    // node (it doesn't reference ts), silencing the very rows that must
    // advance the watermark — measured as the last ~1 minute of sessions
    // never flushing. Sentinel sessions sit +100 days out, are never
    // passed by the watermark, never emit, and the post-agg start-time
    // filter (q92's pattern) is belt-and-braces.
    graft.streaming.Streaming.runOnce(spark, drivePath,
      ev => {
        Tables.rebuildNanosTs(ev)
          .withWatermark("ts", "1 minute")
          .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast("decimal(14,2)")).cast("double")
              .as("total_value"))
          .select($"user_id", $"w.start".as("session_start"),
            $"w.end".as("session_end_gap"), $"n_events", $"total_value")
      },
      name = "q308_session_window_sink",
      mode = org.apache.spark.sql.streaming.OutputMode.Append(),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      .filter($"session_start" < timestamp_micros(lit(sentinelUs)))
  }

  /** TIME-GRID RESAMPLE + LINEAR INTERPOLATION (q307) — q198's forward
    * fill answers "what was the last known value"; this answers the other
    * resampling question, "what's the straight-line estimate between the
    * two known neighbors" (the standard gap treatment for slowly-moving
    * numeric series). One observation per (user, day) — the day's LAST
    * event by (ts, event_id), exactly the oracle's row_number(DESC) —
    * then a per-user calendar spine (each user's OWN first..last observed
    * day, never a global span), prev/next known neighbors via
    * ignore-nulls window functions, and exact-cents interpolation
    * v = pv + (nv−pv)·(d−pd)/(nd−pd) in floor BIGINT with the +1e9·span
    * bias (nv−pv can be negative; the bias keeps the numerator positive,
    * where Spark's truncating `div` and DuckDB's flooring `//` agree).
    *
    * Scale: one (user, day) hash-agg, one per-user spine explode (bounded
    * by span days), two windows over the SAME (user, day) partitioning —
    * one sort serves both directions. */
  def linearInterpolationResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"value".isNotNull)
      .select($"user_id", to_date($"ts").as("day"), $"ts", $"event_id",
        ($"value".cast("decimal(14,2)") * 100).cast("long").as("cents"))
    val obs = ev
      .groupBy($"user_id", $"day")
      .agg(max(struct(unix_micros($"ts").as("us"), $"event_id", $"cents"))
        .getField("cents").as("obs_cents"))
    val grid = obs.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id",
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val wPrev = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(0, Window.unboundedFollowing)
    grid.join(obs, Seq("user_id", "day"), "left")
      .withColumn("pv", last($"obs_cents", ignoreNulls = true).over(wPrev))
      .withColumn("pd",
        last(when($"obs_cents".isNotNull, $"day"), ignoreNulls = true)
          .over(wPrev))
      .withColumn("nv", first($"obs_cents", ignoreNulls = true).over(wNext))
      .withColumn("nd",
        first(when($"obs_cents".isNotNull, $"day"), ignoreNulls = true)
          .over(wNext))
      .withColumn("v", when($"obs_cents".isNotNull, $"obs_cents")
        // Bias = abs(nv-pv)+1 is PROVABLY sufficient at any magnitude:
        // numerator = (nv-pv)*d + (|nv-pv|+1)*span ≥ span·1 > 0 (d ≤ span),
        // so Spark's truncating `div` and DuckDB's flooring `//` agree,
        // and (num div span) − (|nv-pv|+1) = floor((nv-pv)·d/span) — the
        // floor-lerp. (A fixed 1e9 bias only held for |nv-pv| < $10M and
        // would diverge SILENTLY past it — ADVICE r11.) Exact while
        // |nv-pv|·span < 2^62. datediff yields INT — widen to BIGINT
        // BEFORE multiplying or ANSI mode throws ARITHMETIC_OVERFLOW.
        .otherwise($"pv" + expr(
          """((nv - pv) * CAST(datediff(day, pd) AS BIGINT)
            |  + (abs(nv - pv) + 1) * CAST(datediff(nd, pd) AS BIGINT))
            | div CAST(datediff(nd, pd) AS BIGINT)""".stripMargin)
          - (abs($"nv" - $"pv") + lit(1L))))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        count($"obs_cents").as("n_observed"),
        (count(lit(1)) - count($"obs_cents")).as("n_interpolated"),
        sum($"v").as("series_sum_cents"))
  }

  /** Streaming foreachBatch sink gate: the stream lands as per-micro-batch
    * parquet subdirectories (`batch_id=N`, the idempotent exactly-once-to-
    * storage layout — a replayed batch overwrites itself), then the landed
    * files are read back THROUGH the partition-discovery layer and
    * re-aggregated. Oracle equality proves the sink wrote exactly the
    * input — no duplicate, no loss — and that the batch_id partitioning
    * round-trips. The aggregation is q19's hourly rollup, so any
    * dropped/duplicated event flips a count. */
  def streamingForeachSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.enableNanosRead(spark)
    // stable per-JVM scratch (shutdown-cleaned): a replayed run overwrites
    // its own batch_id=N subdirs — the sink's idempotence contract — so
    // reusing one directory is both leak-free and semantically honest.
    // Keyed by (query, input dir), NOT query alone: each runForeachBatch
    // call gets a fresh checkpoint so batch ids restart at 0, and a later
    // same-JVM run against a DIFFERENT dataset (or one landing fewer
    // batches) must not read the earlier run's leftover batch_id=N dirs.
    val out = graft.Scratch.named(s"q140_${graft.Scratch.dirKey(dir)}").resolve("landed").toString
    graft.streaming.Streaming.runForeachBatch(spark, s"$dir/events.parquet", out,
      ev => Tables.rebuildNanosTs(ev), name = "q140_foreach_sink")
    spark.read.parquet(out)
      .groupBy(date_trunc("hour", $"ts").as("hour_start"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(14,2)")).cast("double").as("total_value"))
  }

  /** FORWARD as-of join — "next error at-or-after each click" — by running
    * the backward as-of operator on NEGATED time: order-reversal is an
    * involution, so one merge-join implementation serves both directions
    * (backward asof on −t ⟺ forward asof on t, inclusive at equality).
    * The negation is integer microseconds (exact); outputs surface the
    * original timestamps. Same single-pass O(1)-state merge as q45. */
  def asofNextError(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", (-unix_micros($"ts")).as("tneg"), $"ts", $"event_id")
    val errors = ev.filter($"event_type" === "error")
      .withColumn("err_ts", $"ts")
      .select($"user_id", (-unix_micros($"ts")).as("tneg"), $"event_id",
        $"err_ts", $"value")
    graft.operators.AsOf.asofJoin(clicks, errors,
      keys = Seq("user_id"), tsCol = "tneg",
      valueCols = Seq("err_ts", "value"), tieBreak = "event_id")
      .select($"event_id", $"user_id", $"ts".as("click_ts"),
        $"asof_err_ts".as("next_error_ts"),
        $"asof_value".as("next_error_value"))
  }

  /** Sequence-completeness audit — the ingestion health check run after
    * every load: are all ids in [min, max] present, and how many are
    * duplicated? The expected count is pure integer bounds arithmetic
    * (max − min + 1) from a 1-row aggregate — NO dense spine is ever
    * materialized, so the audit costs one scan regardless of the id
    * range (an exploded `sequence` + anti-join would build a
    * range-sized frame just to count absences; subtraction is free).
    * n_missing > 0 ⇒ dropped records; n_dups > 0 ⇒ replayed ones. */
  def sequenceAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .agg(min($"event_id").as("min_id"), max($"event_id").as("max_id"),
        count(lit(1)).as("n_rows"),
        countDistinct($"event_id").as("n_distinct"))
      .select($"min_id", $"max_id", $"n_rows",
        ($"max_id" - $"min_id" + 1L).as("n_expected"),
        ($"max_id" - $"min_id" + 1L - $"n_distinct").as("n_missing"),
        ($"n_rows" - $"n_distinct").as("n_dups"))
  }

  /** Schema-ENFORCED JSON parsing via `from_json` — distinct from q20's
    * path extraction: the payload is parsed once into a typed struct
    * against a declared schema (malformed rows → null struct, the
    * PERMISSIVE contract), and downstream code reads typed fields, not
    * strings. Per event type: parse success count and exact stats on the
    * typed field. The parse is a per-row codegen'd expression — an
    * embarrassingly parallel scan at any scale. */
  def typedJson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("p", from_json($"props",
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        count($"p.k").as("n_parsed"),
        sum($"p.k".cast("long")).as("sum_k"),
        min($"p.k").as("min_k"), max($"p.k").as("max_k"))
  }

  /** RFM segmentation — the classic behavioral scoring operator: per user,
    * Recency (days from last purchase to the corpus horizon, integer
    * `div`), Frequency (purchase count), Monetary (exact cents), each
    * scored 1-5 by quintile. Scoring uses BROADCAST CUTPOINTS (exact
    * 20/40/60/80th percentiles of each metric, one tiny aggregate) and
    * per-row comparisons — NOT a global `ntile`, whose unpartitioned
    * window would serialize the whole user frame through one sorting task
    * at scale. Cutpoint exactness rides on integral metrics (the
    * q54/q87 rule: interpolating integral values is exact in both
    * engines), so every >-comparison branches identically. Recency scores
    * INVERTED (recent = 5), the convention. At 100 TB the cutpoint agg
    * swaps for the Stats histogram pruner; the scoring scan is unchanged. */
  def rfmSegmentation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(max(unix_micros($"ts")).as("last_us"),
        count(lit(1)).as("frequency"),
        sum(coalesce(($"value".cast("decimal(14,2)") * lit(100)).cast("long"),
          lit(0L))).as("monetary_cents"))
    val horizon = ev.agg(max(unix_micros($"ts")).as("h_us"))
    val scored = purchases.crossJoin(broadcast(horizon))
      .select($"user_id",
        expr("(h_us - last_us) div 86400000000").cast("int").as("recency_days"),
        $"frequency", $"monetary_cents")
    val cuts = scored.agg(
      expr("percentile(recency_days, array(0.2D, 0.4D, 0.6D, 0.8D))").as("rc"),
      expr("percentile(frequency, array(0.2D, 0.4D, 0.6D, 0.8D))").as("fc"),
      expr("percentile(monetary_cents, array(0.2D, 0.4D, 0.6D, 0.8D))").as("mc"))
    def above(v: org.apache.spark.sql.Column, cutsCol: String): org.apache.spark.sql.Column =
      (0 to 3).map(i => when(v > col(cutsCol).getItem(i), 1).otherwise(0))
        .reduce(_ + _)
    scored.crossJoin(broadcast(cuts))
      .select($"user_id", $"recency_days", $"frequency", $"monetary_cents",
        (lit(5) - above($"recency_days", "rc")).cast("int").as("r_score"),
        (lit(1) + above($"frequency", "fc")).cast("int").as("f_score"),
        (lit(1) + above($"monetary_cents", "mc")).cast("int").as("m_score"))
  }

  /** Additive seasonal decomposition of the daily event count — the
    * transcendental-free cousin of STL that a traffic dashboard ships:
    * trend = centered 7-day floor-mean (only days with a FULL window, so
    * the series edges never carry a partial-window artifact), weekday
    * seasonal = per-day-of-week floor-mean of the detrended series,
    * remainder = what neither explains. The day grid is built from a
    * min/max date spine (missing days count 0), so row adjacency in the
    * trend window is CALENDAR adjacency, not data adjacency.
    *
    * Exactness: counts and all three components are BIGINT; the seasonal
    * mean can be negative, and Spark's `div` truncates toward zero while
    * DuckDB's `//` floors — the +1e9·n bias keeps every division's
    * numerator positive, where the two semantics coincide (same trick as
    * the growth-accounting gates). Scale: the daily frame is
    * date-cardinality bounded (365·years rows), so its unpartitioned
    * 7-row window and the 7-row seasonal broadcast are driver-safe by
    * construction; the only data-sized work is the first groupBy(day). */
  def seasonalDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily0 = Tables.events(spark, dir)
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = daily0.agg(min($"day").as("d0"), max($"day").as("d1"))
    val spine = bounds
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val daily = spine.join(daily0, Seq("day"), "left")
      .select($"day", coalesce($"cnt", lit(0L)).as("cnt"))
    val w = Window.orderBy($"day").rowsBetween(-3, 3)
    val t = daily
      .withColumn("w_n", count(lit(1)).over(w))
      .withColumn("w_sum", sum($"cnt").over(w))
      .filter($"w_n" === 7)
      .withColumn("trend", expr("w_sum div 7"))
      .withColumn("detrended", $"cnt" - $"trend")
      .withColumn("dow", dayofweek($"day"))
    val seas = t.groupBy($"dow").agg(
      expr("((sum(detrended) + 1000000000 * count(*)) div count(*)) - 1000000000")
        .as("seasonal"))
    t.join(broadcast(seas), "dow")
      .select($"day", $"cnt", $"trend", $"seasonal",
        ($"detrended" - $"seasonal").as("remainder"))
  }

  /** GROUPED 7-DAY MOVING MEDIAN (q313) — the robust smoother a noisy
    * daily-count dashboard uses where q304's moving MEAN would chase
    * spikes: per event type, the exact median of each full 7-day calendar
    * window (spine-filled with zeros, so row adjacency is calendar
    * adjacency — q304's rule). The window median is
    * `array_sort(collect_list)[4]`: collect order is scheduling-
    * dependent, the sort pins it, and 7 integer values make the median
    * exact on both engines. Edge days (partial windows) are excluded by
    * the same count==7 guard as q304.
    *
    * Scale: the grouped-daily frame is (types × days)-bounded, so the
    * per-type windows and their 7-element lists are metadata-sized; the
    * only data-sized work is the first groupBy. */
  def movingMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily0 = Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = daily0.groupBy($"event_type")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
    val spine = bounds.select($"event_type",
      explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val daily = spine.join(daily0, Seq("event_type", "day"), "left")
      .select($"event_type", $"day", coalesce($"cnt", lit(0L)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-3, 3)
    daily
      .withColumn("w_n", count(lit(1)).over(w))
      .withColumn("med7",
        // try_element_at (CLAUDE.md ANSI rule): edge days have <7-element
        // windows, and only the w_n===7 filter removes them — if the
        // optimizer ever evaluates this projection below the filter, a
        // plain element_at would raise ARRAY_INDEX_OUT_OF_BOUNDS on a
        // spine shorter than 4 days. try_element_at yields NULL there,
        // matching DuckDB's list[4], and the filter drops the row either
        // way.
        try_element_at(array_sort(collect_list($"cnt").over(w)), lit(4)))
      .filter($"w_n" === 7)
      .select($"event_type", $"day", $"cnt", $"med7")
  }

  /** CHANGEPOINT SCAN (q324) — the level-shift detector a pipeline-health
    * monitor runs over its event streams: per event_type, the split day
    * that maximizes the gap between the mean daily volume BEFORE and
    * AFTER it (the single-changepoint least-squares scan, expressed via
    * prefix sums). Means ride 10⁶-scaled integer floor fixed point
    * (CLAUDE.md rule: never a float ratio), the winner is rank-pinned by
    * (gap DESC, day ASC), and edge splits are excluded (t < n keeps both
    * sides non-empty, which also guards both divisions).
    *
    * Scale shape: one data-sized grouped count; everything after runs on
    * the (types × days)-bounded daily frame — two window passes and an
    * arg-max, all metadata-sized. */
  def changepointScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy($"event_type")
    val scored = daily
      .withColumn("t", row_number().over(byType.orderBy($"day")).cast("long"))
      .withColumn("s", sum($"cnt").over(byType.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("tot", sum($"cnt").over(byType))
      .filter($"t" < $"n")
      .withColumn("left_mean_fp", expr("(1000000 * s) div t"))
      .withColumn("right_mean_fp", expr("(1000000 * (tot - s)) div (n - t)"))
      .withColumn("gap_fp", abs($"left_mean_fp" - $"right_mean_fp"))
    scored
      .withColumn("rk", row_number().over(
        byType.orderBy($"gap_fp".desc, $"day".asc)))
      .filter($"rk" === 1)
      .select($"event_type", $"day".as("split_day"), $"t", $"n".as("n_days"),
        $"left_mean_fp", $"right_mean_fp", $"gap_fp")
  }

  /** AUTOCORRELATION FUNCTION (q327) — the lag-structure report that
    * picks seasonal-model windows (q304 assumes weekly; this MEASURES
    * which lags carry signal): per event_type, the ACF at lags 1..7 over
    * the zero-filled daily-count spine, statsmodels convention (global
    * mean, global variance denominator).
    *
    * Exactness: r_L = Σ(x_t−x̄)(x_{t+L}−x̄) / Σ(x_t−x̄)² is computed with
    * the mean cleared by n — num_L = Σ(n·x_t−S)(n·x_{t+L}−S), den =
    * Σ(n·x_t−S)² — so every term is an exact BIGINT. num_L goes NEGATIVE
    * at anti-correlated lags; that is safe here because BIGINT `//` in
    * DuckDB TRUNCATES exactly like Spark's `div` (verified:
    * -7//2 = -3 — the flooring `//` caveat in CLAUDE.md is about
    * double operands), so the plain truncating quotient is identical on
    * both engines. Magnitude bound (q318 convention): needs n·Σ(n·x)² ≲ 2⁶³ —
    * n ~ 10² days and daily counts ≤ ~10⁶ hold at any shipped sf and
    * ~100× beyond; past that both engines fail loudly on the BIGINT
    * overflow, never silently.
    *
    * Scale shape: one data-sized grouped count; the spine, the lead
    * windows, and the lag aggregates all run on the (types × days)
    * frame — metadata-sized, like q304/q313. */
  def autocorrelation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily0 = Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = daily0.groupBy($"event_type")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
    val spine = bounds.select($"event_type",
      explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val daily = spine.join(daily0, Seq("event_type", "day"), "left")
      .select($"event_type", $"day", coalesce($"cnt", lit(0L)).as("x"))
    val tot = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("s"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val led = daily.join(broadcast(tot), "event_type")
      .select(($"event_type" +: $"n" +: ($"n" * $"x" - $"s").as("c0") +:
        (1 to 7).map(l => (lead($"x", l).over(w) * $"n" - $"s").as(s"c$l"))): _*)
    val aggCols = sum($"c0" * $"c0").as("den") +:
      (1 to 7).map(l =>
        sum(when(col(s"c$l").isNotNull, $"c0" * col(s"c$l"))
          .otherwise(0L)).as(s"num$l"))
    val aggs = led.groupBy($"event_type", $"n")
      .agg(aggCols.head, aggCols.tail: _*)
    // ONE plan for all seven lags: stack unpivots the per-lag numerators
    // (a per-lag unionAll would re-derive the whole spine+window+agg
    // pipeline seven times — the q219 lineage-blowup lesson)
    val longFmt = (1 to 7).map(l => s"$l, num$l").mkString(", ")
    aggs.selectExpr("event_type", "n", "den",
        s"stack(7, $longFmt) as (lag, num)")
      .select($"event_type", $"lag".cast("int").as("lag"), $"n".as("n_days"),
        when($"den" > 0, expr("(10000 * num) div den"))
          .otherwise(0L).as("acf_bp"))
  }

  /** MANN–WHITNEY U readout (q330) — the nonparametric two-sample test
    * every metrics platform runs when the per-user metric is skewed (event
    * counts, revenue) and a t-test's normality assumption is indefensible.
    * Arms are q254's md5-bit assignment (salt "mw:"); the metric is each
    * user's event count. The whole computation is EXACT BIGINT via the
    * value-census formulation: group users by metric value v, count each
    * arm (cnt_a, cnt_b, t = both), and use DOUBLED midranks —
    * 2·midrank(v) = 2·C(v) + t(v) + 1 where C(v) = #users with metric < v
    * — so ties never produce a fraction. Then
    *   2·R_A = Σ cnt_a·(2C+t+1),  2·U_A = 2·R_A − n_a(n_a+1),
    *   2·U_B = 2·n_a·n_b − 2·U_A, and the tie-correction term Σ t(t−1)(t+1)
    * ships for the variance the analyst computes downstream — no
    * transcendentals, no p-value divergence across engines.
    *
    * Scale shape: one data-sized grouped count (per-user metric), one
    * metric-value census, and C(v) by [[graft.operators.Sweep.countUpTo]]
    * — the range-partitioned two-phase prefix sum, NOT a global window
    * (the distinct-value domain grows with the data; at gate scale ~2⁶³
    * headroom holds to n ≈ 10⁹ users, production sums ride DECIMAL(38)). */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .withColumn("variant",
        when(conv(substring(md5(concat(lit("mw:"),
          $"user_id".cast("string"))), 1, 1), 16, 10).cast("int") < 8, "A")
          .otherwise("B"))
    val census = per.groupBy($"n").agg(
      sum(when($"variant" === "A", 1L).otherwise(0L)).as("cnt_a"),
      sum(when($"variant" === "B", 1L).otherwise(0L)).as("cnt_b"),
      count(lit(1)).as("t"))
    val withC = graft.operators.Sweep.countUpTo(
      points = per.select($"n".as("v")),
      queries = census.select($"cnt_a", $"cnt_b", $"t", $"n".as("v")),
      valueCol = "v", outCol = "c_below", strict = true)
    withC.agg(
        sum($"cnt_a").as("na"), sum($"cnt_b").as("nb"),
        sum($"cnt_a" * (lit(2L) * $"c_below" + $"t" + lit(1L))).as("tra"),
        sum($"t" * ($"t" - 1L) * ($"t" + 1L)).as("tie_cubic"))
      .select($"na".as("n_a"), $"nb".as("n_b"),
        $"tra".as("two_rank_sum_a"),
        ($"tra" - $"na" * ($"na" + 1L)).as("two_u_a"),
        (lit(2L) * $"na" * $"nb" - ($"tra" - $"na" * ($"na" + 1L)))
          .as("two_u_b"),
        $"tie_cubic")
  }

  /** INTERVAL-UNION COVERAGE (q333) — per user, the total wall-clock time
    * covered by the union of their per-event-type activity sessions (q18's
    * 30-minute-gap sessionization, run per (user, type), so the intervals
    * OVERLAP across types and the union is a genuine interval-merge — the
    * utilization/uptime/billable-time primitive q278's peak-concurrency
    * sweep does not answer). The merge is the classic sorted sweep: per
    * user, order intervals by (start, end, type), an island begins where
    * `start` exceeds the running max of all earlier ends, and each
    * island's coverage is max(end) − min(start) — exact epoch-micros
    * arithmetic. Output censuses users by integer-log2 coverage-seconds
    * bucket (`length(bin(x))−1`, the repo's transcendental-free log2).
    *
    * Scale shape: everything after the grouped sessionize runs in windows
    * PARTITIONED BY user — bounded per-user frames, no global window; the
    * census is one final tiny agg. */
  def intervalUnionCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUT = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"tsu", $"event_id")
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"event_id", unix_micros($"ts").as("tsu"))
    val gap = $"tsu" - lag($"tsu", 1).over(byUT)
    val sessions = ev
      .withColumn("is_new", when(gap.isNull || gap > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(
        byUT.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"event_type", $"sid")
      .agg(min($"tsu").as("st"), max($"tsu").as("en"))
    val byUser = Window.partitionBy($"user_id").orderBy($"st", $"en", $"event_type")
    val islands = sessions
      .withColumn("prev_max_en",
        max($"en").over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_island",
        when($"prev_max_en".isNull || $"st" > $"prev_max_en", 1L).otherwise(0L))
      .withColumn("island", sum($"is_island").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"island")
      .agg((max($"en") - min($"st")).as("covered_us"))
    islands.groupBy($"user_id")
      .agg(count(lit(1)).as("n_islands"), sum($"covered_us").as("covered_us"))
      .select($"user_id", $"n_islands", $"covered_us",
        (length(bin(lit(1L) + expr("covered_us div 1000000"))) - 1)
          .cast("int").as("coverage_bucket"))
      .groupBy($"coverage_bucket")
      .agg(count(lit(1)).as("n_users"),
        sum($"n_islands").as("n_islands"),
        sum($"covered_us").as("sum_covered_us"),
        max($"covered_us").as("max_covered_us"))
  }

  /** TEMPORAL MOTIF CENSUS (q346) — ordered event-type pairs within a
    * 1-hour horizon per user ("view then purchase inside the hour"), the
    * 2-node temporal-motif count behind propensity features and
    * causal-order audits. q256's Markov census sees only ADJACENT
    * transitions; this counts every ordered pair within the window, so a
    * view→search→purchase hour credits view→purchase too.
    *
    * Scale shape: the classic BANDED TIME JOIN (the q46/q248 grid trick
    * in time) — anchors explode to their own and the NEXT hour bucket,
    * successors key by their bucket, and the equi-join on (user, bucket)
    * provably covers every 0 < Δt ≤ 1h pair exactly once (tb's single
    * bucket is either ta's or the next; the exploded keys are distinct),
    * so per-task fan-out is bounded by per-user-per-hour activity —
    * never a full per-user cross join. Strict tb > ta excludes
    * simultaneous pairs (they have no order to count). Exact integer
    * microseconds end-to-end. */
  def temporalMotifs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("tsu"))
    val anchors = ev.select($"user_id", $"event_type".as("type_a"),
      $"tsu".as("ta"),
      explode(array(expr("tsu div 3600000000"),
        expr("tsu div 3600000000") + 1L)).as("b"))
    val successors = ev.select($"user_id", $"event_type".as("type_b"),
      $"tsu".as("tb"), expr("tsu div 3600000000").as("b"))
    anchors.join(successors, Seq("user_id", "b"))
      .filter($"tb" > $"ta" && $"tb" - $"ta" <= 3600000000L)
      .groupBy($"type_a", $"type_b")
      .agg(count(lit(1)).as("n_motifs"),
        countDistinct($"user_id").as("n_users"))
  }

  /** BIPARTITE BUTTERFLY CENSUS (q351) — the (2,2)-biclique count of the
    * user×event-type engagement graph (Sanei-Mehri et al.'s butterfly:
    * two users sharing two types), THE bipartite clustering primitive —
    * community structure in a bipartite graph shows up as butterflies,
    * not triangles (bipartite graphs have none). Exact combinatorics:
    * butterflies = Σ over type pairs C(w,2) where w = users engaging
    * both types; user-centered wedges = Σ C(deg,2). The type-pair
    * enumeration is the q125 move transposed: pairs enumerate PER USER
    * (per-user fan-out ≤ C(distinct types, 2) — the type vocabulary is
    * bounded, so no hot user can blow it up), then one keyed agg; every
    * C(n,2) is the overflow-safe `(n·(n−1)) div 2` on non-negative n. */
  def butterflyCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the incidence frame feeds degrees, the edge census, and both sides
    // of the type-pair enumeration — cached (the q132 rule)
    val ut = Tables.events(spark, dir)
      .select($"user_id", $"event_type").distinct().cache()
    val sizes = ut.agg(count(lit(1)).as("n_edges"),
      countDistinct($"user_id").as("n_users"),
      countDistinct($"event_type").as("n_types"))
    val wedges = ut.groupBy($"user_id").agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) div 2")).as("n_user_wedges"))
    val bf = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("w"))
      .agg(count(lit(1)).as("n_type_pairs"),
        max($"w").as("max_cooccurrence"),
        sum(expr("(w * (w - 1)) div 2")).as("n_butterflies"))
    sizes.crossJoin(broadcast(wedges)).crossJoin(broadcast(bf))
      .select($"n_users", $"n_types", $"n_edges", $"n_user_wedges",
        $"n_type_pairs", $"max_cooccurrence", $"n_butterflies")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q351_butterfly_census" -> (butterflyCensus _),
    "q346_temporal_motifs" -> (temporalMotifs _),
    "q330_mann_whitney" -> (mannWhitney _),
    "q333_interval_union_coverage" -> (intervalUnionCoverage _),
    "q327_autocorrelation" -> (autocorrelation _),
    "q324_changepoint_scan" -> (changepointScan _),
    "q313_moving_median" -> (movingMedian _),
    "q304_seasonal_decomposition" -> (seasonalDecomposition _),
    "q307_linear_interpolation" -> (linearInterpolationResample _),
    "q308_streaming_session_window" -> (streamingSessionWindow _),
    "q147_rfm_segmentation" -> (rfmSegmentation _),
    "q145_sequence_audit" -> (sequenceAudit _),
    "q146_typed_json" -> (typedJson _),
    "q138_session_window_fn" -> (sessionWindowFn _),
    "q223_rolling_wau" -> (rollingDistinctWau _),
    "q140_streaming_foreach_sink" -> (streamingForeachSink _),
    "q141_asof_forward" -> (asofNextError _),
    "q134_path_trigrams" -> (pathTrigrams _),
    "q135_twap" -> (twap _),
    "q132_session_overlap" -> (sessionOverlap _),
    "q122_stream_static_enrich" -> (streamStaticEnrich _),
    "q123_dyadic_ewma" -> (dyadicEwma _),
    "q124_last_touch" -> (lastTouch _),
    "q233_multi_touch_attribution" -> (multiTouchAttribution _),
    "q235_allen_census" -> (allenCensus _),
    "q240_decayed_heavy_hitters" -> (decayedHeavyHitters _),
    "q243_interval_stabbing" -> (intervalStabbing _),
    "q247_kaplan_meier" -> (kaplanMeier _),
    "q252_streaming_merge_sink" -> (streamingMergeSink _),
    "q253_longest_streak" -> (longestStreak _),
    "q254_ab_readout" -> (abReadout _),
    "q255_slo_report" -> (sloReport _),
    "q256_markov_transitions" -> (markovTransitions _),
    "q258_dow_seasonality" -> (dowSeasonality _),
    "q259_event_mix_gini" -> (eventMixGini _),
    "q262_level_shift" -> (levelShift _),
    "q265_trend_runs" -> (trendRuns _),
    "q266_freshness_audit" -> (freshnessAudit _),
    "q267_funnel_latency" -> (funnelLatency _),
    "q269_leaderboard_churn" -> (leaderboardChurn _),
    "q273_completeness_matrix" -> (completenessMatrix _),
    "q274_duplicate_payments" -> (duplicatePayments _),
    "q276_growth_accounting" -> (growthAccounting _),
    "q277_forecast_backtest" -> (forecastBacktest _),
    "q288_median_of_medians" -> (medianOfMedians _),
    "q291_percentile_drift" -> (percentileDrift _),
    "q292_distribution_drift" -> (distributionDrift _),
    "q293_randomization_health" -> (randomizationHealth _),
    "q297_out_of_order_audit" -> (outOfOrderAudit _),
    "q299_session_profile" -> (sessionProfile _),
    "q278_peak_concurrency" -> (peakConcurrency _),
    "q280_conversion_paths" -> (conversionPaths _),
    "q120_gap_fill" -> (gapFillHourly _),
    "q110_funnel" -> (funnel _),
    "q114_cohort_retention" -> (cohortRetention _),
    "q46_range_join" -> (errorFollowedByClick _),
    "q45_asof_join" -> (asofLastError _),
    "q18_sessionize" -> (sessionize _),
    "q19_tumbling_hourly" -> (tumblingHourly _),
    "q20_json_extract" -> (jsonExtract _),
    "q21_inter_event_gaps" -> (interEventGaps _),
    "q81_streaming_hourly" -> (streamingHourly _),
    "q90_streaming_join" -> (streamingClickErrorJoin _),
    "q92_streaming_sessions" -> (streamingSessions _),
    "q103_streaming_dedup" -> (streamingDedup _),
    "q166_streaming_late_data" -> (streamingLateData _),
    "q182_streaming_tws" -> (streamingTwsAggregate _),
    "q184_streaming_checkpoint_recovery" -> (streamingCheckpointRecovery _),
    "q194_streaming_update_mode" -> (streamingUpdateMode _),
    "q196_stream_static_join" -> (streamingStaticJoin _),
    "q198_gap_fill" -> (gapFillForwardFill _),
    "q201_streaming_replay_idempotence" -> (streamingReplayIdempotence _),
    "q216_streaming_outer_join" -> (streamingOuterJoin _),
    "q227_streaming_full_outer" -> (streamingFullOuterJoin _))

  /** The gap-flag + cumsum sessionizer (window.end = last event + gap) —
    * ONE definition gates both the batch `session_window` expression
    * (q138) and its streaming merging-state execution (q308). */
  private val sessionWindowOracleSql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts, value,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end_gap,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** q327's oracle: same spine, same n-cleared integer products; BIGINT
    * `//` truncates exactly like Spark's `div`, including on the negative
    * numerators of anti-correlated lags. */
  private def autocorrSql: String = {
    val cs = (1 to 7).map(l =>
      s"lead(d.x, $l) OVER w * t.n - t.s AS c$l").mkString(",\n    |    ")
    val nums = (1 to 7).map(l =>
      s"CAST(sum(CASE WHEN c$l IS NOT NULL THEN c0 * c$l ELSE 0 END) " +
        s"AS BIGINT) AS num$l").mkString(",\n    |    ")
    val selects = (1 to 7).map(l =>
      s"""SELECT event_type, CAST($l AS INTEGER) AS lag, n AS n_days,
         |  CAST(CASE WHEN den > 0 THEN (10000 * num$l) // den ELSE 0 END
         |    AS BIGINT) AS acf_bp FROM a""").mkString("\nUNION ALL\n")
    s"""WITH daily0 AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2
       |), b AS (
       |  SELECT event_type, min(day) AS d0, max(day) AS d1
       |  FROM daily0 GROUP BY 1
       |), spine AS (
       |  SELECT event_type, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b
       |), daily AS (
       |  SELECT s.event_type, s.day, coalesce(cnt, CAST(0 AS BIGINT)) AS x
       |  FROM spine s LEFT JOIN daily0 USING (event_type, day)
       |), tot AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS s
       |  FROM daily GROUP BY 1
       |), led AS (
       |  SELECT d.event_type, t.n, t.n * d.x - t.s AS c0,
       |    $cs
       |  FROM daily d JOIN tot t USING (event_type)
       |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day)
       |), a AS (
       |  SELECT event_type, n, CAST(sum(c0 * c0) AS BIGINT) AS den,
       |    $nums
       |  FROM led GROUP BY 1, 2
       |)
       |$selects""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // q330: same md5-bit arms, same doubled-midrank census algebra —
    // q351: identical distinct incidence, per-user pair enumeration, and
    // (n·(n−1))//2 combinatorics.
    "q351_butterfly_census" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |), sizes AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |  FROM ut
        |), wedges AS (
        |  SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_user_wedges
        |  FROM (SELECT count(*) AS d FROM ut GROUP BY user_id)
        |), tp AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS w
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |), bf AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_type_pairs,
        |    CAST(max(w) AS BIGINT) AS max_cooccurrence,
        |    CAST(sum((w * (w - 1)) // 2) AS BIGINT) AS n_butterflies
        |  FROM tp
        |)
        |SELECT n_users, n_types, n_edges, n_user_wedges, n_type_pairs,
        |  max_cooccurrence, n_butterflies
        |FROM sizes, wedges, bf""".stripMargin,
    // q346: the oracle takes the quadratic per-user join (its privilege
    // at sf0.01) — same strict 0 < Δt ≤ 1h micros window, so the banded
    // engine plan must produce the identical multiset.
    "q346_temporal_motifs" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events
        |), pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, a.user_id
        |  FROM ev a JOIN ev b ON a.user_id = b.user_id
        |    AND b.tsu > a.tsu AND b.tsu - a.tsu <= 3600000000
        |)
        |SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_motifs,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM pairs GROUP BY 1, 2""".stripMargin,
    // C(v) here is a plain cumulative window (single-node oracle), the
    // engine's Sweep.countUpTo is distributed-exact by construction.
    "q330_mann_whitney" ->
      """WITH per AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5('mw:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) < 8
        |      THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id
        |), census AS (
        |  SELECT n,
        |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b,
        |    CAST(count(*) AS BIGINT) AS t
        |  FROM per GROUP BY n
        |), c AS (
        |  SELECT *, CAST(coalesce(sum(t) OVER (ORDER BY n
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS c_below
        |  FROM census
        |), s AS (
        |  SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
        |    CAST(sum(cnt_b) AS BIGINT) AS nb,
        |    CAST(sum(cnt_a * (2 * c_below + t + 1)) AS BIGINT) AS tra,
        |    CAST(sum(t * (t - 1) * (t + 1)) AS BIGINT) AS tie_cubic
        |  FROM c
        |)
        |SELECT na AS n_a, nb AS n_b, tra AS two_rank_sum_a,
        |  tra - na * (na + 1) AS two_u_a,
        |  2 * na * nb - (tra - na * (na + 1)) AS two_u_b, tie_cubic
        |FROM s""".stripMargin,
    // q333: identical per-(user,type) 30-min sessionization, identical
    // (start, end, type) sweep order, running-max island merge, and the
    // length(bin(x))−1 log2 bucket.
    "q333_interval_union_coverage" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu
        |  FROM events
        |), g AS (
        |  SELECT *, tsu - lag(tsu) OVER
        |    (PARTITION BY user_id, event_type ORDER BY tsu, event_id) AS gap
        |  FROM ev
        |), sidd AS (
        |  SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id, event_type
        |      ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM g
        |), sess AS (
        |  SELECT user_id, event_type, sid,
        |    CAST(min(tsu) AS BIGINT) AS st, CAST(max(tsu) AS BIGINT) AS en
        |  FROM sidd GROUP BY 1, 2, 3
        |), isl AS (
        |  SELECT *, CASE WHEN pme IS NULL OR st > pme THEN 1 ELSE 0 END
        |    AS is_island
        |  FROM (SELECT *, max(en) OVER (PARTITION BY user_id
        |    ORDER BY st, en, event_type
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM sess)
        |), num AS (
        |  SELECT *, CAST(sum(is_island) OVER (PARTITION BY user_id
        |    ORDER BY st, en, event_type
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS island
        |  FROM isl
        |), cov AS (
        |  SELECT user_id, island,
        |    CAST(max(en) - min(st) AS BIGINT) AS covered_us
        |  FROM num GROUP BY 1, 2
        |), per_user AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |    CAST(sum(covered_us) AS BIGINT) AS covered_us
        |  FROM cov GROUP BY user_id
        |)
        |SELECT CAST(length(bin(1 + covered_us // 1000000)) - 1 AS INTEGER)
        |    AS coverage_bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n_islands) AS BIGINT) AS n_islands,
        |  CAST(sum(covered_us) AS BIGINT) AS sum_covered_us,
        |  CAST(max(covered_us) AS BIGINT) AS max_covered_us
        |FROM per_user GROUP BY 1""".stripMargin,
    "q327_autocorrelation" -> autocorrSql,
    // q324: identical daily frame, prefix sums, 10⁶ fixed-point floor
    // means (all dividends positive, so `//` == `div`), and the same
    // (gap DESC, day ASC) rank pin.
    "q324_changepoint_scan" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |), w AS (
        |  SELECT event_type, day,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS t,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS s,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM daily
        |), sc AS (
        |  SELECT event_type, day, t, n,
        |    CAST((1000000 * s) // t AS BIGINT) AS left_mean_fp,
        |    CAST((1000000 * (tot - s)) // (n - t) AS BIGINT) AS right_mean_fp
        |  FROM w WHERE t < n
        |), r AS (
        |  SELECT *, abs(left_mean_fp - right_mean_fp) AS gap_fp,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(left_mean_fp - right_mean_fp) DESC, day ASC) AS rk
        |  FROM sc
        |)
        |SELECT event_type, day AS split_day, t, n AS n_days,
        |  left_mean_fp, right_mean_fp, CAST(gap_fp AS BIGINT) AS gap_fp
        |FROM r WHERE rk = 1""".stripMargin,
    // q313: same spine, same full-window guard, same sorted-list median
    // (list_sort pins DuckDB's collect order exactly as array_sort does).
    "q313_moving_median" ->
      """WITH daily0 AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM daily0 GROUP BY 1
        |), spine AS (
        |  SELECT event_type, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b
        |), daily AS (
        |  SELECT s.event_type, s.day, coalesce(cnt, CAST(0 AS BIGINT)) AS cnt
        |  FROM spine s LEFT JOIN daily0 USING (event_type, day)
        |), win AS (
        |  SELECT event_type, day, cnt, count(*) OVER w AS w_n,
        |    list_sort(list(cnt) OVER w)[4] AS med7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |)
        |SELECT event_type, day, cnt, CAST(med7 AS BIGINT) AS med7
        |FROM win WHERE w_n = 7""".stripMargin,
    // q307: identical last-of-day pick (row_number ts DESC, event_id
    // DESC), per-user spine, ignore-nulls neighbor windows, and the same
    // abs(nv-pv)+1 bias-guarded integer lerp (numerator provably positive
    // at any magnitude, so `//` == `div`); DATE − DATE is already integer
    // days.
    "q307_linear_interpolation" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |), obs AS (
        |  SELECT user_id, day, cents AS obs_cents FROM (
        |    SELECT user_id, day, cents, row_number() OVER (
        |      PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1
        |), b AS (
        |  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY 1
        |), grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b
        |), f AS (
        |  SELECT g.user_id, g.day, o.obs_cents,
        |    last_value(o.obs_cents IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN o.obs_cents IS NOT NULL THEN g.day END
        |      IGNORE NULLS) OVER wp AS pd,
        |    first_value(o.obs_cents IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN o.obs_cents IS NOT NULL THEN g.day END
        |      IGNORE NULLS) OVER wn AS nd
        |  FROM grid g LEFT JOIN obs o USING (user_id, day)
        |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |), v AS (
        |  SELECT user_id, day, obs_cents,
        |    CASE WHEN obs_cents IS NOT NULL THEN obs_cents
        |         ELSE pv + ((nv - pv) * (day - pd)
        |           + (abs(nv - pv) + 1) * (nd - pd)) // (nd - pd)
        |           - (abs(nv - pv) + 1)
        |    END AS v
        |  FROM f
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(count(obs_cents) AS BIGINT) AS n_observed,
        |  CAST(count(*) - count(obs_cents) AS BIGINT) AS n_interpolated,
        |  CAST(sum(v) AS BIGINT) AS series_sum_cents
        |FROM v GROUP BY user_id""".stripMargin,
    // q304: same spine/window/bias-div trajectory; DuckDB dayofweek is
    // 0-based (+1 aligns with Spark). BIGINT `//` truncates exactly like
    // Spark's `div` (verified r12, q327 — the flooring-`//` caveat is
    // double-only); the positive-numerator bias keeps the trajectory
    // identical under any integer-division semantics regardless.
    "q304_seasonal_decomposition" ->
      """WITH daily0 AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1
        |), b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily0),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b
        |), daily AS (
        |  SELECT s.day, coalesce(cnt, CAST(0 AS BIGINT)) AS cnt
        |  FROM spine s LEFT JOIN daily0 USING (day)
        |), win AS (
        |  SELECT day, cnt, count(*) OVER w AS w_n, sum(cnt) OVER w AS w_sum
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), t AS (
        |  SELECT day, cnt, CAST(w_sum // 7 AS BIGINT) AS trend,
        |    CAST(cnt - (w_sum // 7) AS BIGINT) AS detrended,
        |    dayofweek(day) + 1 AS dow
        |  FROM win WHERE w_n = 7
        |), seas AS (
        |  SELECT dow,
        |    CAST(((sum(detrended) + 1000000000 * count(*)) // count(*))
        |      - 1000000000 AS BIGINT) AS seasonal
        |  FROM t GROUP BY dow
        |)
        |SELECT t.day, t.cnt, t.trend, seas.seasonal,
        |  CAST(t.detrended - seas.seasonal AS BIGINT) AS remainder
        |FROM t JOIN seas USING (dow)""".stripMargin,
    // q182: the TWS processor's count + integer-cent sum per user is the
    // plain batch aggregate (sentinels are flush signals, never data; the
    // coalesce mirrors the engine's null-value-adds-0 rule).
    "q182_streaming_tws" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)), 0)
        |    AS DOUBLE) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id""".stripMargin,
    // q184: identical aggregate to q182 — by design (the q153/q154
    // precedent): the recovered two-phase drive must land on EXACTLY the
    // single-run result, or the restart lost/duplicated state or rows.
    "q184_streaming_checkpoint_recovery" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)), 0)
        |    AS DOUBLE) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id""".stripMargin,
    // q166: the watermark is floor(max_us/1000) − 24h in ENGINE MILLIS
    // (EventTimeWatermarkExec tracks event time in ms), and a row survives
    // iff epoch_us(ts) > wm_ms·1000 — the row AT the watermark is dropped
    // (WatermarkSupport's `ts <= wm` predicate, microsecond-pinned in
    // StreamingSpec).
    "q166_streaming_late_data" ->
      """WITH wm AS (
        |  SELECT (epoch_us(max(ts)) // 1000 - 86400000) * 1000 AS wm_us
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_total,
        |  CAST(sum(CASE WHEN epoch_us(ts) > wm_us THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_on_time,
        |  CAST(sum(CASE WHEN epoch_us(ts) > wm_us THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_late
        |FROM events, wm GROUP BY event_type""".stripMargin,
    "q147_rfm_segmentation" ->
      """WITH p AS (
        |  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS frequency,
        |    CAST(sum(coalesce(CAST(CAST(value AS DECIMAL(14,2)) * 100
        |      AS BIGINT), 0)) AS BIGINT) AS monetary_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
        |), h AS (
        |  SELECT max(epoch_us(ts)) AS h_us FROM events
        |), s AS (
        |  SELECT user_id,
        |    CAST((h_us - last_us) // 86400000000 AS INTEGER) AS recency_days,
        |    frequency, monetary_cents
        |  FROM p CROSS JOIN h
        |), c AS (
        |  SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
        |         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fc,
        |         quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mc
        |  FROM s
        |)
        |SELECT user_id, recency_days, frequency, monetary_cents,
        |  CAST(5 - (CASE WHEN recency_days > rc[1] THEN 1 ELSE 0 END
        |          + CASE WHEN recency_days > rc[2] THEN 1 ELSE 0 END
        |          + CASE WHEN recency_days > rc[3] THEN 1 ELSE 0 END
        |          + CASE WHEN recency_days > rc[4] THEN 1 ELSE 0 END)
        |    AS INTEGER) AS r_score,
        |  CAST(1 + (CASE WHEN frequency > fc[1] THEN 1 ELSE 0 END
        |          + CASE WHEN frequency > fc[2] THEN 1 ELSE 0 END
        |          + CASE WHEN frequency > fc[3] THEN 1 ELSE 0 END
        |          + CASE WHEN frequency > fc[4] THEN 1 ELSE 0 END)
        |    AS INTEGER) AS f_score,
        |  CAST(1 + (CASE WHEN monetary_cents > mc[1] THEN 1 ELSE 0 END
        |          + CASE WHEN monetary_cents > mc[2] THEN 1 ELSE 0 END
        |          + CASE WHEN monetary_cents > mc[3] THEN 1 ELSE 0 END
        |          + CASE WHEN monetary_cents > mc[4] THEN 1 ELSE 0 END)
        |    AS INTEGER) AS m_score
        |FROM s CROSS JOIN c""".stripMargin,
    "q145_sequence_audit" ->
      """SELECT min(event_id) AS min_id, max(event_id) AS max_id,
        |  count(*) AS n_rows,
        |  max(event_id) - min(event_id) + 1 AS n_expected,
        |  max(event_id) - min(event_id) + 1 - count(DISTINCT event_id)
        |    AS n_missing,
        |  count(*) - count(DISTINCT event_id) AS n_dups
        |FROM events""".stripMargin,
    // TRY_CAST mirrors from_json's PERMISSIVE null-on-mismatch: a future
    // corpus row with non-integer k must null out, not crash the oracle
    // (ADVICE r4)
    "q146_typed_json" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
        |    AS n_parsed,
        |  CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
        |    AS BIGINT) AS sum_k,
        |  min(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    // q223: the same sweep-line algebra — coverage segments, boundary
    // deltas, one cumsum over the calendar spine.
    "q223_rolling_wau" ->
      """WITH days AS (
        |  SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS d FROM events
        |), brk AS (
        |  SELECT event_type, user_id, d,
        |    CASE WHEN lag(d) OVER w IS NULL
        |              OR date_diff('day', lag(d) OVER w, d) > 6
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM days WINDOW w AS (PARTITION BY event_type, user_id ORDER BY d)
        |), seg AS (
        |  SELECT event_type, user_id, d,
        |    SUM(is_break) OVER (PARTITION BY event_type, user_id ORDER BY d) AS sid
        |  FROM brk
        |), segs AS (
        |  SELECT event_type, user_id, sid, min(d) AS s, max(d) + 7 AS e
        |  FROM seg GROUP BY 1, 2, 3
        |), net AS (
        |  SELECT event_type, d, SUM(delta) AS nd FROM (
        |    SELECT event_type, s AS d, CAST(1 AS BIGINT) AS delta FROM segs
        |    UNION ALL
        |    SELECT event_type, e, CAST(-1 AS BIGINT) FROM segs
        |  ) GROUP BY 1, 2
        |), bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM days),
        |spine AS (
        |  SELECT et.event_type,
        |         unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY))::DATE AS d
        |  FROM (SELECT DISTINCT event_type FROM days) et, bounds b
        |)
        |SELECT sp.event_type, sp.d AS day,
        |  CAST(SUM(coalesce(n.nd, 0))
        |       OVER (PARTITION BY sp.event_type ORDER BY sp.d) AS BIGINT) AS wau
        |FROM spine sp LEFT JOIN net n
        |  ON n.event_type = sp.event_type AND n.d = sp.d""".stripMargin,
    // the CTE sessionizer with window.end = last event + 30 min — the
    // session_window() contract (shared: q138 batch, q308 streaming)
    "q138_session_window_fn" -> sessionWindowOracleSql,
    // q308: the STREAMING session_window must land exactly the batch
    // answer — one oracle definition serves both gates.
    "q308_streaming_session_window" -> sessionWindowOracleSql,
    // equality with the direct batch rollup proves the foreachBatch sink
    // landed exactly the stream (no dup, no loss)
    "q140_streaming_foreach_sink" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // explicit row_number formulation, NOT DuckDB's ASOF JOIN: at a
    // (user_id, ts) tie between two errors ASOF returns an unspecified
    // row, while the Spark operator deterministically keeps the max
    // event_id (AsOf's window orders __tie asc and last() wins) — the
    // ORDER BY e.ts ASC, e.event_id DESC mirrors that exactly (ADVICE r4)
    "q141_asof_forward" ->
      """WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
        |     errors AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |       e.ts AS next_error_ts, e.value AS next_error_value
        |FROM clicks c LEFT JOIN errors e
        |  ON c.user_id = e.user_id AND e.ts >= c.ts
        |QUALIFY row_number() OVER (PARTITION BY c.event_id
        |  ORDER BY e.ts ASC NULLS LAST, e.event_id DESC) = 1""".stripMargin,
    "q134_path_trigrams" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |), tri AS (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w2 AS t2,
        |    lead(event_type, 2) OVER w2 AS t3
        |  FROM sess
        |  WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
        |)
        |SELECT t1, t2, t3, count(*) AS n
        |FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY t1, t2, t3
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,
    "q135_twap" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id,
        |    coalesce(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT), 0) AS cents
        |  FROM events
        |), d AS (
        |  SELECT user_id, cents,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - epoch_us(ts) AS dur
        |  FROM c
        |), a AS (
        |  SELECT user_id,
        |    CAST(sum(cents * dur) AS BIGINT) AS wsum,
        |    CAST(sum(dur) AS BIGINT) AS tsum
        |  FROM d WHERE dur IS NOT NULL GROUP BY user_id
        |)
        |SELECT user_id,
        |  CASE WHEN tsum = 0 THEN NULL
        |       ELSE CAST(wsum AS DOUBLE) / CAST(tsum AS DOUBLE) END AS twap_cents
        |FROM a""".stripMargin,
    "q132_session_overlap" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flagged
        |), agg AS (
        |  SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
        |  FROM sess GROUP BY user_id, session_id
        |), ov AS (
        |  SELECT a.user_id, a.session_id, count(*) AS n
        |  FROM agg a JOIN agg b
        |    ON a.user_id <> b.user_id AND a.st <= b.en AND b.st <= a.en
        |  GROUP BY a.user_id, a.session_id
        |)
        |SELECT a.user_id, a.session_id,
        |  CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap
        |FROM agg a LEFT JOIN ov
        |  ON ov.user_id = a.user_id AND ov.session_id = a.session_id""".stripMargin,
    // q122 = streaming enrichment against a static dim; the batch twin is
    // the plain join — equality IS what the stream-static gate proves.
    "q122_stream_static_enrich" ->
      """WITH f AS (
        |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
        |)
        |SELECT e.event_id, e.user_id,
        |  CAST((epoch_us(e.ts) - epoch_us(f.first_ts)) // 86400000000
        |    AS INTEGER) AS age_days
        |FROM events e JOIN f ON e.user_id = f.user_id""".stripMargin,
    // exact dyadic EWMA: BIGINT cents × power-of-two weights, one final
    // correctly-rounded double division — the identical op tree as Spark
    "q123_dyadic_ewma" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |    coalesce(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT), 0) AS cents
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  CAST(32 * cents
        |     + coalesce(16 * lag(cents, 1) OVER w, 0)
        |     + coalesce(8 * lag(cents, 2) OVER w, 0)
        |     + coalesce(4 * lag(cents, 3) OVER w, 0)
        |     + coalesce(2 * lag(cents, 4) OVER w, 0)
        |     + coalesce(1 * lag(cents, 5) OVER w, 0) AS DOUBLE)
        |  / CAST(32
        |     + CASE WHEN lag(cents, 1) OVER w IS NULL THEN 0 ELSE 16 END
        |     + CASE WHEN lag(cents, 2) OVER w IS NULL THEN 0 ELSE 8 END
        |     + CASE WHEN lag(cents, 3) OVER w IS NULL THEN 0 ELSE 4 END
        |     + CASE WHEN lag(cents, 4) OVER w IS NULL THEN 0 ELSE 2 END
        |     + CASE WHEN lag(cents, 5) OVER w IS NULL THEN 0 ELSE 1 END
        |    AS DOUBLE) AS ewma
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    // q292: same midpoint-day split, same 5000-cent buckets, same
    // single-division L1 in floor bp.
    "q292_distribution_drift" ->
      """WITH e AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    coalesce(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT),
        |      0) AS cents
        |  FROM events
        |), bd AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |bk AS (
        |  SELECT event_type,
        |    CASE WHEN day < ((SELECT d0 FROM bd) + (SELECT d1 FROM bd)
        |      + 1) // 2 THEN 'a' ELSE 'b' END AS half,
        |    cents // 5000 AS bucket, count(*) AS n
        |  FROM e GROUP BY 1, 2, 3
        |), j AS (
        |  SELECT coalesce(a.event_type, b.event_type) AS event_type,
        |    coalesce(a.bucket, b.bucket) AS bucket,
        |    coalesce(a.n, 0) AS n_a, coalesce(b.n, 0) AS n_b
        |  FROM (SELECT event_type, bucket, n FROM bk WHERE half = 'a') a
        |  FULL OUTER JOIN
        |    (SELECT event_type, bucket, n FROM bk WHERE half = 'b') b
        |  ON a.event_type = b.event_type AND a.bucket = b.bucket
        |), t AS (
        |  SELECT event_type, sum(n_a) AS ta, sum(n_b) AS tb
        |  FROM j GROUP BY 1
        |), l AS (
        |  SELECT j.event_type, max(t.ta) AS n_first, max(t.tb) AS n_second,
        |    count(*) AS n_buckets,
        |    sum(abs(j.n_a * t.tb - j.n_b * t.ta)) AS l1_raw
        |  FROM j JOIN t ON j.event_type = t.event_type
        |  GROUP BY 1
        |)
        |SELECT event_type, CAST(n_first AS BIGINT) AS n_first,
        |  CAST(n_second AS BIGINT) AS n_second, n_buckets,
        |  CAST(CASE WHEN n_first * n_second > 0
        |    THEN (10000 * l1_raw) // (2 * n_first * n_second)
        |    ELSE 0 END AS BIGINT) AS drift_bp,
        |  CASE WHEN (CASE WHEN n_first * n_second > 0
        |      THEN (10000 * l1_raw) // (2 * n_first * n_second)
        |      ELSE 0 END) > 1000
        |    THEN 'drifted' ELSE 'stable' END AS verdict
        |FROM l""".stripMargin,
    // q297: same event_id adjacency, same backstep arithmetic.
    "q297_out_of_order_audit" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tu,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS prev_tu
        |  FROM events
        |), f AS (
        |  SELECT CASE WHEN tu < prev_tu THEN prev_tu - tu ELSE 0 END
        |    AS backstep
        |  FROM p WHERE prev_tu IS NOT NULL
        |)
        |SELECT count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN backstep > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_backward,
        |  CAST(max(backstep) AS BIGINT) AS max_backstep_us,
        |  CAST(CASE WHEN count(*) > 0
        |    THEN (10000 * sum(CASE WHEN backstep > 0 THEN 1 ELSE 0 END))
        |      // count(*)
        |    ELSE 0 END AS BIGINT) AS backward_bp
        |FROM f""".stripMargin,
    // q299: same 30-min sessions, dyadic quartiles on integral columns.
    "q299_session_profile" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS tu, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS gap
        |  FROM events
        |), s AS (
        |  SELECT user_id, tu,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1
        |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g
        |), sess AS (
        |  SELECT user_id, sid, count(*) AS n_events,
        |    (max(tu) - min(tu)) // 1000000 AS dur_s
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT count(*) AS n_sessions,
        |  CAST(quantile_cont(n_events, 0.25) AS DOUBLE) AS p25_events,
        |  CAST(quantile_cont(n_events, 0.5) AS DOUBLE) AS p50_events,
        |  CAST(quantile_cont(n_events, 0.75) AS DOUBLE) AS p75_events,
        |  CAST(quantile_cont(dur_s, 0.25) AS DOUBLE) AS p25_dur_s,
        |  CAST(quantile_cont(dur_s, 0.5) AS DOUBLE) AS p50_dur_s,
        |  CAST(quantile_cont(dur_s, 0.75) AS DOUBLE) AS p75_dur_s
        |FROM sess""".stripMargin,
    // q288: two identical dyadic quantile passes; every interpolation a
    // midpoint of integral-or-half values.
    "q288_median_of_medians" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(quantile_cont(coalesce(CAST(CAST(value AS DECIMAL(14,2))
        |      * 100 AS BIGINT), 0), 0.5) AS DOUBLE) AS daily_p50
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type,
        |  CAST(CAST(date_trunc('week', d) AS DATE) AS VARCHAR) AS week,
        |  count(*) AS n_days,
        |  CAST(quantile_cont(daily_p50, 0.5) AS DOUBLE)
        |    AS week_median_of_p50
        |FROM daily GROUP BY 1, 2""".stripMargin,
    // q291: same weekly dyadic p50, same ×10 shift comparison on exact
    // integral-or-half doubles.
    "q291_percentile_drift" ->
      """WITH weekly AS (
        |  SELECT event_type,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    count(*) AS n_events,
        |    CAST(quantile_cont(coalesce(CAST(CAST(value AS DECIMAL(14,2))
        |      * 100 AS BIGINT), 0), 0.5) AS DOUBLE) AS p50_cents
        |  FROM events GROUP BY 1, 2
        |), l AS (
        |  SELECT *, lag(p50_cents) OVER (PARTITION BY event_type
        |    ORDER BY wk) AS prev_p50
        |  FROM weekly
        |)
        |SELECT event_type, CAST(wk AS VARCHAR) AS week, n_events,
        |  p50_cents, prev_p50, p50_cents - prev_p50 AS delta,
        |  CASE WHEN prev_p50 IS NULL THEN 'first'
        |       WHEN abs(p50_cents - prev_p50) * 10 > prev_p50
        |         THEN 'shifted'
        |       ELSE 'stable' END AS status
        |FROM l""".stripMargin,
    // q293: same md5-bit arms on distinct (type, user), same guarded
    // imbalance cross-mult and 500 bp verdict.
    "q293_randomization_health" ->
      """WITH arms AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1)
        |        < 8
        |      THEN 'A' ELSE 'B' END AS variant
        |  FROM events
        |)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_b,
        |  CAST(CASE WHEN count(*) > 0
        |    THEN (10000 * abs(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0
        |      END) - sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)))
        |      // count(*)
        |    ELSE 0 END AS BIGINT) AS imbalance_bp,
        |  CASE WHEN (CASE WHEN count(*) > 0
        |    THEN (10000 * abs(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0
        |      END) - sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)))
        |      // count(*)
        |    ELSE 0 END) <= 500 THEN 'balanced' ELSE 'imbalanced' END
        |    AS verdict
        |FROM arms GROUP BY event_type""".stripMargin,
    // q276: same Monday weeks, same lag classification, same +7 shifted
    // anti-join churn attribution.
    "q276_growth_accounting" ->
      """WITH wu AS (
        |  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    user_id
        |  FROM events
        |), cl AS (
        |  SELECT wk, user_id,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
        |  FROM wu
        |), act AS (
        |  SELECT wk, count(*) AS n_active,
        |    sum(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS n_new,
        |    sum(CASE WHEN prev_wk + 7 = wk THEN 1 ELSE 0 END)
        |      AS n_retained,
        |    sum(CASE WHEN prev_wk IS NOT NULL AND prev_wk + 7 <> wk
        |      THEN 1 ELSE 0 END) AS n_resurrected
        |  FROM cl GROUP BY 1
        |), ch AS (
        |  SELECT s.wk, count(*) AS n_churned FROM (
        |    SELECT wk + 7 AS wk, user_id FROM wu) s
        |  WHERE NOT EXISTS (SELECT 1 FROM wu
        |    WHERE wu.wk = s.wk AND wu.user_id = s.user_id)
        |  GROUP BY 1
        |)
        |SELECT CAST(act.wk AS VARCHAR) AS week, act.n_active,
        |  CAST(act.n_new AS BIGINT) AS n_new,
        |  CAST(act.n_retained AS BIGINT) AS n_retained,
        |  CAST(act.n_resurrected AS BIGINT) AS n_resurrected,
        |  CAST(coalesce(ch.n_churned, 0) AS BIGINT) AS n_churned
        |FROM act LEFT JOIN ch ON act.wk = ch.wk""".stripMargin,
    // q277: same calendar equi-joins on the per-day frame, same integer
    // error sums, ppm floor-divs and sum-comparison winner.
    "q277_forecast_backtest" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), j AS (
        |  SELECT t.event_type, abs(t.cnt - p1.cnt) AS err1,
        |    abs(t.cnt - p7.cnt) AS err7
        |  FROM daily t
        |  JOIN daily p1 ON t.event_type = p1.event_type
        |    AND t.d = p1.d + 1
        |  JOIN daily p7 ON t.event_type = p7.event_type
        |    AND t.d = p7.d + 7
        |), a AS (
        |  SELECT event_type, count(*) AS n_evaluated,
        |    CAST(sum(err1) AS BIGINT) AS sum_err1,
        |    CAST(sum(err7) AS BIGINT) AS sum_err7
        |  FROM j GROUP BY 1
        |)
        |SELECT event_type, n_evaluated, sum_err1, sum_err7,
        |  CAST(CASE WHEN n_evaluated > 0
        |    THEN (1000000 * sum_err1) // n_evaluated ELSE 0 END AS BIGINT)
        |    AS mae1_ppm,
        |  CAST(CASE WHEN n_evaluated > 0
        |    THEN (1000000 * sum_err7) // n_evaluated ELSE 0 END AS BIGINT)
        |    AS mae7_ppm,
        |  CASE WHEN sum_err7 < sum_err1 THEN 'seasonal_7'
        |       WHEN sum_err7 > sum_err1 THEN 'naive_1'
        |       ELSE 'tie' END AS winner
        |FROM a""".stripMargin,
    // q278: same 30-min sessions, same per-unique-timestamp collapsed
    // sweep line, same first-peak instant.
    "q278_peak_concurrency" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS tu, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS gap
        |  FROM events
        |), s AS (
        |  SELECT user_id, tu,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1
        |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g
        |), sess AS (
        |  SELECT user_id, sid, min(tu) AS st, max(tu) + 1 AS en
        |  FROM s GROUP BY 1, 2
        |), d AS (
        |  SELECT t, CAST(sum(delta) AS BIGINT) AS net FROM (
        |    SELECT st AS t, 1 AS delta FROM sess
        |    UNION ALL
        |    SELECT en AS t, -1 AS delta FROM sess) GROUP BY 1
        |), run AS (
        |  SELECT t, sum(net) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM d
        |)
        |SELECT (SELECT count(*) FROM sess) AS n_sessions,
        |  CAST(max(conc) AS BIGINT) AS peak_concurrency,
        |  CAST(min(t) AS BIGINT) AS peak_at_us
        |FROM run WHERE conc = (SELECT max(conc) FROM run)""".stripMargin,
    // q280: same sessions, same first-purchase cut under the same total
    // order, string_agg replays the sorted '>' join.
    "q280_conversion_paths" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tu,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS gap
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, event_type, tu,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1
        |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g
        |), fp AS (
        |  SELECT user_id, sid, tu AS fp_tu, event_id AS fp_id FROM (
        |    SELECT user_id, sid, tu, event_id,
        |      row_number() OVER (PARTITION BY user_id, sid
        |        ORDER BY tu, event_id) AS rn
        |    FROM s WHERE event_type = 'purchase')
        |  WHERE rn = 1
        |), paths AS (
        |  SELECT s.user_id, s.sid,
        |    string_agg(s.event_type, '>' ORDER BY s.tu, s.event_id)
        |      AS path
        |  FROM s JOIN fp ON s.user_id = fp.user_id AND s.sid = fp.sid
        |  WHERE (s.tu, s.event_id) <= (fp.fp_tu, fp.fp_id)
        |  GROUP BY 1, 2
        |), pc AS (
        |  SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1
        |)
        |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
        |    AS BIGINT) AS rank, path, n_sessions
        |FROM pc
        |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin,
    // q273: same grid (distinct days × distinct types), same left-anti
    // probe, same sorted comma-joined missing list.
    "q273_completeness_matrix" ->
      """WITH present AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, event_type FROM events
        |), days AS (SELECT DISTINCT d FROM present),
        |types AS (SELECT DISTINCT event_type FROM present),
        |grid AS (SELECT d, event_type FROM days CROSS JOIN types),
        |miss AS (
        |  SELECT g.d, g.event_type FROM grid g
        |  WHERE NOT EXISTS (SELECT 1 FROM present p
        |    WHERE p.d = g.d AND p.event_type = g.event_type)
        |), mpd AS (
        |  SELECT d, count(*) AS n_missing,
        |    string_agg(event_type, ',' ORDER BY event_type)
        |      AS missing_types
        |  FROM miss GROUP BY 1
        |)
        |SELECT CAST(days.d AS VARCHAR) AS day,
        |  CAST((SELECT count(*) FROM types) - coalesce(mpd.n_missing, 0)
        |    AS BIGINT) AS n_present,
        |  CAST(coalesce(mpd.n_missing, 0) AS BIGINT) AS n_missing,
        |  coalesce(mpd.missing_types, '') AS missing_types,
        |  CASE WHEN coalesce(mpd.n_missing, 0) = 0 THEN 'complete'
        |    ELSE 'incomplete' END AS status
        |FROM days LEFT JOIN mpd ON days.d = mpd.d""".stripMargin,
    // q274: same (user, whole-dollar) pair keying, id canonicalization
    // and 24 h integer-microsecond window.
    "q274_duplicate_payments" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tu,
        |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
        |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) // 100
        |      AS dollars
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |)
        |SELECT a.user_id, a.dollars AS amount_dollars,
        |  a.event_id AS event_id_a, b.event_id AS event_id_b,
        |  a.cents AS cents_a, b.cents AS cents_b,
        |  CAST(abs(b.tu - a.tu) // 3600000000 AS BIGINT) AS gap_hours
        |FROM p a JOIN p b
        |  ON a.user_id = b.user_id AND a.dollars = b.dollars
        |  AND a.event_id < b.event_id
        |  AND abs(b.tu - a.tu) <= 86400000000""".stripMargin,
    // q265: identical sign classification and island keys over the same
    // per-day frame; coalesced zeros where a sign class is absent.
    "q265_trend_runs" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), mv AS (
        |  SELECT event_type, d, cnt,
        |    lag(cnt) OVER (PARTITION BY event_type ORDER BY d) AS prev
        |  FROM daily
        |), sg AS (
        |  SELECT event_type, d,
        |    CASE WHEN cnt > prev THEN 1 WHEN cnt < prev THEN -1
        |      ELSE 0 END AS sgn
        |  FROM mv WHERE prev IS NOT NULL
        |), isl AS (
        |  SELECT event_type, sgn,
        |    row_number() OVER (PARTITION BY event_type ORDER BY d) -
        |    row_number() OVER (PARTITION BY event_type, sgn ORDER BY d)
        |      AS isl
        |  FROM sg
        |), runs AS (
        |  SELECT event_type, sgn, isl, count(*) AS len
        |  FROM isl GROUP BY 1, 2, 3
        |)
        |SELECT event_type, CAST(sum(len) AS BIGINT) AS n_moves,
        |  CAST(coalesce(sum(CASE WHEN sgn = 1 THEN len END), 0) AS BIGINT)
        |    AS n_up,
        |  CAST(coalesce(sum(CASE WHEN sgn = -1 THEN len END), 0) AS BIGINT)
        |    AS n_down,
        |  CAST(coalesce(sum(CASE WHEN sgn = 0 THEN len END), 0) AS BIGINT)
        |    AS n_flat,
        |  CAST(coalesce(max(CASE WHEN sgn = 1 THEN len END), 0) AS BIGINT)
        |    AS longest_up,
        |  CAST(coalesce(max(CASE WHEN sgn = -1 THEN len END), 0) AS BIGINT)
        |    AS longest_down,
        |  count(*) AS n_runs
        |FROM runs GROUP BY event_type""".stripMargin,
    // q266: same integer-microsecond floor-divs against the corpus max.
    "q266_freshness_audit" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS corpus_max FROM events),
        |a AS (
        |  SELECT event_type, count(*) AS n_events,
        |    min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us
        |  FROM events GROUP BY 1
        |)
        |SELECT event_type, n_events,
        |  CAST(((SELECT corpus_max FROM mx) - max_us) // 3600000000
        |    AS BIGINT) AS staleness_hours,
        |  CAST((max_us - min_us) // 86400000000 AS BIGINT) AS span_days,
        |  CASE WHEN ((SELECT corpus_max FROM mx) - max_us) // 3600000000
        |    < 24 THEN 'fresh' ELSE 'stale' END AS freshness
        |FROM a""".stripMargin,
    // q267: same first-view/first-later-purchase pairing, integer
    // seconds, dyadic quantile_cont on integer inputs.
    "q267_funnel_latency" ->
      """WITH v AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1
        |), l AS (
        |  SELECT e.user_id,
        |    min(epoch_us(e.ts) - v.t_view) // 1000000 AS lat_s
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t_view
        |  GROUP BY 1
        |)
        |SELECT count(*) AS n_converted,
        |  CAST(quantile_cont(lat_s, 0.25) AS DOUBLE) AS p25_s,
        |  CAST(quantile_cont(lat_s, 0.5) AS DOUBLE) AS p50_s,
        |  CAST(quantile_cont(lat_s, 0.75) AS DOUBLE) AS p75_s
        |FROM l""".stripMargin,
    // q269: same Monday-start date_trunc weeks, same (count desc, user)
    // top-10 ranking, same +7d adjacency and Jaccard cross-mult.
    "q269_leaderboard_churn" ->
      """WITH wu AS (
        |  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk, user_id,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), top AS (
        |  SELECT wk, user_id FROM (
        |    SELECT wk, user_id, row_number() OVER (PARTITION BY wk
        |      ORDER BY n DESC, user_id) AS rk
        |    FROM wu
        |  ) WHERE rk <= 10
        |), sizes AS (
        |  SELECT wk, count(*) AS sz FROM top GROUP BY 1
        |), pairs AS (
        |  SELECT a.wk AS week_a, b.wk AS week_b, a.sz AS sz_a, b.sz AS sz_b
        |  FROM sizes a JOIN sizes b ON a.wk + 7 = b.wk
        |), ov AS (
        |  SELECT x.wk AS week_a, count(*) AS n_overlap
        |  FROM top x JOIN top y
        |    ON x.wk + 7 = y.wk AND x.user_id = y.user_id
        |  GROUP BY 1
        |)
        |SELECT CAST(p.week_a AS VARCHAR) AS week_a,
        |  CAST(p.week_b AS VARCHAR) AS week_b,
        |  CAST(p.sz_a AS BIGINT) AS sz_a, CAST(p.sz_b AS BIGINT) AS sz_b,
        |  CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(CASE WHEN p.sz_a + p.sz_b - coalesce(o.n_overlap, 0) > 0
        |    THEN (10000 * coalesce(o.n_overlap, 0)) //
        |      (p.sz_a + p.sz_b - coalesce(o.n_overlap, 0))
        |    ELSE 0 END AS BIGINT) AS jaccard_bp
        |FROM pairs p LEFT JOIN ov o ON p.week_a = o.week_a""".stripMargin,
    // q256: same (ts, event_id) total order for lag, same guarded
    // floor-bp probabilities via a window over the transition table.
    "q256_markov_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |), t AS (
        |  SELECT prev_type, event_type AS next_type,
        |    count(*) AS n_transitions
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT prev_type, next_type,
        |  CAST(n_transitions AS BIGINT) AS n_transitions,
        |  CAST(sum(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS n_from,
        |  CAST(CASE WHEN sum(n_transitions) OVER (PARTITION BY prev_type) > 0
        |    THEN (10000 * n_transitions) //
        |      (sum(n_transitions) OVER (PARTITION BY prev_type))
        |    ELSE 0 END AS BIGINT) AS prob_bp
        |FROM t""".stripMargin,
    // q258: DuckDB dayofweek is 0-based (Sun=0) — +1 aligns with Spark;
    // the verdict is the integer cross-product, never a float share.
    "q258_dow_seasonality" ->
      """WITH a AS (
        |  SELECT event_type,
        |    CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER) AS dow,
        |    count(*) AS n_dow
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, dow, CAST(n_dow AS BIGINT) AS n_dow,
        |  CAST(sum(n_dow) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS n_type,
        |  CAST(CASE WHEN sum(n_dow) OVER (PARTITION BY event_type) > 0
        |    THEN (10000 * n_dow) //
        |      (sum(n_dow) OVER (PARTITION BY event_type))
        |    ELSE 0 END AS BIGINT) AS share_bp,
        |  CASE
        |    WHEN n_dow * 7 > sum(n_dow) OVER (PARTITION BY event_type)
        |      THEN 'over'
        |    WHEN n_dow * 7 < sum(n_dow) OVER (PARTITION BY event_type)
        |      THEN 'under'
        |    ELSE 'uniform' END AS seasonality
        |FROM a""".stripMargin,
    // q259: identical single integer Gini expression over exact counts.
    "q259_event_mix_gini" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), u AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |    count(*) AS n_types, CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM c GROUP BY 1
        |)
        |SELECT user_id, n_events, n_types,
        |  CAST(CASE WHEN n_events > 0
        |    THEN (10000 * (n_events * n_events - ss)) //
        |      (n_events * n_events)
        |    ELSE 0 END AS BIGINT) AS gini_bp
        |FROM u""".stripMargin,
    // q262: same scaled-integer two-sample gap over the same per-day
    // cumulative window; argmax with the same (score desc, day) order.
    "q262_level_shift" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), sc AS (
        |  SELECT event_type, d,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS cum_days,
        |    sum(cnt) OVER (PARTITION BY event_type) AS s_tot,
        |    count(*) OVER (PARTITION BY event_type) AS d_tot
        |  FROM daily
        |), f AS (
        |  SELECT *, (1000000 * abs(cum_cnt * (d_tot - cum_days) -
        |      (s_tot - cum_cnt) * cum_days)) //
        |      (cum_days * (d_tot - cum_days)) AS score
        |  FROM sc WHERE cum_days < d_tot
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY score DESC, d) AS rk
        |  FROM f
        |)
        |SELECT event_type, CAST(d AS VARCHAR) AS split_day,
        |  CAST(cum_days AS BIGINT) AS days_before,
        |  CAST(d_tot - cum_days AS BIGINT) AS days_after,
        |  CAST(cum_cnt AS BIGINT) AS sum_before,
        |  CAST(s_tot - cum_cnt AS BIGINT) AS sum_after,
        |  CAST(score AS BIGINT) AS gap_score
        |FROM r WHERE rk = 1""".stripMargin,
    // q255: same cents bridge, dyadic quantile_cont, integer budget rule.
    "q255_slo_report" ->
      """WITH e AS (
        |  SELECT event_type,
        |    coalesce(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT), 0)
        |      AS cents
        |  FROM events
        |), a AS (
        |  SELECT event_type, count(*) AS n_requests,
        |    CAST(quantile_cont(cents, 0.5) AS DOUBLE) AS p50_cents,
        |    CAST(quantile_cont(cents, 0.75) AS DOUBLE) AS p75_cents,
        |    CAST(sum(CASE WHEN cents > 25000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_breaches
        |  FROM e GROUP BY event_type
        |)
        |SELECT event_type, n_requests, p50_cents, p75_cents, n_breaches,
        |  CAST(CASE WHEN n_requests > 0
        |    THEN (10000 * n_breaches) // n_requests ELSE 0 END AS BIGINT)
        |    AS burn_bp,
        |  CASE WHEN (CASE WHEN n_requests > 0
        |      THEN (10000 * n_breaches) // n_requests ELSE 0 END) <= 500
        |    THEN 'within_budget' ELSE 'exhausted' END AS budget_status
        |FROM a""".stripMargin,
    // q254: same md5-bit assignment (first hex digit < 8 via strpos),
    // same integer rates and the same declared 200 bp decision rule.
    "q254_ab_readout" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) < 8
        |      THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id
        |), arms AS (
        |  SELECT variant, count(*) AS n, sum(converted) AS c,
        |    CASE WHEN count(*) > 0
        |      THEN (10000 * sum(converted)) // count(*) ELSE 0 END AS bp
        |  FROM u GROUP BY variant
        |), p AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 'A' THEN n END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN n END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN variant = 'A' THEN c END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN c END) AS BIGINT) AS conv_b,
        |    CAST(sum(CASE WHEN variant = 'A' THEN bp END) AS BIGINT)
        |      AS rate_a_bp,
        |    CAST(sum(CASE WHEN variant = 'B' THEN bp END) AS BIGINT)
        |      AS rate_b_bp
        |  FROM arms
        |)
        |SELECT n_a, n_b, conv_a, conv_b, rate_a_bp, rate_b_bp,
        |  rate_b_bp - rate_a_bp AS lift_bp,
        |  CASE WHEN abs(rate_b_bp - rate_a_bp) < 200 THEN 'inconclusive'
        |       WHEN rate_b_bp - rate_a_bp >= 200 THEN 'ship_b'
        |       ELSE 'keep_a' END AS decision
        |FROM p""".stripMargin,
    // q253: identical islands — day_number − row_number over the same
    // distinct (user, day) frame; date subtraction is exact integer days.
    "q253_longest_streak" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events
        |), isl AS (
        |  SELECT user_id,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
        |  FROM days
        |), runs AS (
        |  SELECT user_id, island, count(*) AS run
        |  FROM isl GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(sum(run) AS BIGINT) AS n_active_days,
        |  count(*) AS n_islands, CAST(max(run) AS BIGINT) AS longest_streak
        |FROM runs GROUP BY user_id""".stripMargin,
    // q252: the snapshot the merge sink converges to IS the batch
    // aggregate — per-user count + exact cents (q182's null-adds-0 rule).
    "q252_streaming_merge_sink" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100
        |    AS BIGINT)), 0) AS BIGINT) AS total_cents
        |FROM events GROUP BY user_id""".stripMargin,
    // q247: the identical integer product-limit recurrence, walked by a
    // recursive CTE over the event-time table in t order.
    "q247_kaplan_meier" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS fu, max(epoch_us(ts)) AS lu
        |  FROM events GROUP BY 1
        |), mx AS (SELECT max(lu) AS m FROM d0
        |), u AS (
        |  SELECT (lu - fu) // 3600000000 AS t,
        |    (((SELECT m FROM mx) - lu) // 3600000000 >= 12) AS churned
        |  FROM d0
        |), a AS (
        |  SELECT t, count(*) AS n_at,
        |    sum(CASE WHEN churned THEN 1 ELSE 0 END) AS d
        |  FROM u GROUP BY 1
        |), o AS (
        |  SELECT t, d,
        |    (SELECT count(*) FROM u)
        |      - coalesce(sum(n_at) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM a
        |), ev AS (
        |  SELECT t, d, n_risk, row_number() OVER (ORDER BY t) AS i
        |  FROM o WHERE d > 0
        |), km(i, s) AS (
        |  SELECT 0, CAST(10000 AS BIGINT)
        |  UNION ALL
        |  SELECT e.i, (k.s * (e.n_risk - e.d)) // e.n_risk
        |  FROM km k JOIN ev e ON e.i = k.i + 1
        |)
        |SELECT CAST(e.t AS INTEGER) AS t_hours, CAST(e.n_risk AS BIGINT) AS n_risk,
        |  CAST(e.d AS BIGINT) AS n_events, CAST(k.s AS BIGINT) AS survival_bp
        |FROM ev e JOIN km k USING (i)""".stripMargin,
    // q243: the oracle stabs with the NAIVE full range join — the
    // engine's day-bucketed equi-join must find exactly the same
    // covering sets; probes from the corpus' own bounds, floor-div.
    "q243_interval_stabbing" ->
      """WITH g AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tu, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 86400000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |), s0 AS (
        |  SELECT user_id, event_type, tu,
        |    sum(is_new) OVER (PARTITION BY user_id, event_type
        |      ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g
        |), s AS (
        |  SELECT user_id, event_type, sid, min(tu) AS st, max(tu) AS en
        |  FROM s0 GROUP BY 1, 2, 3
        |), b AS (
        |  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
        |), p AS (
        |  SELECT k AS probe_id, mn + ((mx - mn) // 6) * k AS t
        |  FROM b, (SELECT unnest(generate_series(1, 5)) AS k)
        |), h AS (
        |  SELECT p.probe_id, count(*) AS n
        |  FROM s JOIN p ON s.st <= p.t AND s.en >= p.t
        |  GROUP BY 1
        |)
        |SELECT p.probe_id, CAST(p.t AS BIGINT) AS t_micros,
        |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_covering
        |FROM p LEFT JOIN h USING (probe_id)""".stripMargin,
    // q240: same dyadic shift weights against the corpus max day; `<<`
    // on BIGINT mirrors shiftleft, row_number replays the heap's
    // (weight DESC, user_id ASC) order.
    "q240_decayed_heavy_hitters" ->
      """WITH d AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events
        |), b AS (SELECT max(day) AS mx FROM d
        |), w AS (
        |  SELECT user_id,
        |    CASE WHEN date_diff('day', day, mx) <= 40
        |      THEN CAST(1 AS BIGINT)
        |           << CAST(40 - date_diff('day', day, mx) AS INT)
        |      ELSE CAST(0 AS BIGINT) END AS wt
        |  FROM d, b
        |), a AS (
        |  SELECT user_id, CAST(sum(wt) AS BIGINT) AS decayed_w,
        |    count(*) AS n_events
        |  FROM w GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY decayed_w DESC, user_id ASC)
        |      AS INTEGER) AS rank,
        |    user_id, decayed_w, n_events
        |  FROM a
        |) WHERE rank <= 10""".stripMargin,
    // q235: identical per-(user,type) sessionization and the same
    // mutually-exclusive CASE ladder over exact microsecond endpoints.
    "q235_allen_census" ->
      """WITH g AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tu, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 86400000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |), s0 AS (
        |  SELECT user_id, event_type, tu,
        |    sum(is_new) OVER (PARTITION BY user_id, event_type
        |      ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g
        |), s AS (
        |  SELECT user_id, event_type, sid, min(tu) AS st, max(tu) AS en
        |  FROM s0 GROUP BY 1, 2, 3
        |), p AS (
        |  SELECT a.st AS sa, a.en AS ea, b.st AS sb, b.en AS eb
        |  FROM s a JOIN s b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  WHERE abs(a.st - b.st) <= 86400000000
        |)
        |SELECT CASE
        |    WHEN ea < sb THEN 'precedes'
        |    WHEN eb < sa THEN 'preceded_by'
        |    WHEN ea = sb THEN 'meets'
        |    WHEN eb = sa THEN 'met_by'
        |    WHEN sa = sb AND ea = eb THEN 'equals'
        |    WHEN sa = sb AND ea < eb THEN 'starts'
        |    WHEN sa = sb THEN 'started_by'
        |    WHEN ea = eb AND sa > sb THEN 'finishes'
        |    WHEN ea = eb THEN 'finished_by'
        |    WHEN sa > sb AND ea < eb THEN 'during'
        |    WHEN sa < sb AND ea > eb THEN 'contains'
        |    WHEN sa < sb THEN 'overlaps'
        |    ELSE 'overlapped_by' END AS relation,
        |  count(*) AS n_pairs
        |FROM p GROUP BY 1""".stripMargin,
    // q233: the same integer-bp U-shape replayed; `//`/`%` on positive
    // BIGINTs = Spark's div/%; conservation (Σbp = 10000·journeys) is a
    // consequence, not an assumption — any drift shows per channel.
    "q233_multi_touch_attribution" ->
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER w AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events WHERE event_type <> 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), c AS (
        |  SELECT event_type,
        |    CASE WHEN n = 1 THEN 10000
        |         WHEN n = 2 THEN 5000
        |         WHEN rn = 1 OR rn = n THEN 4000
        |         ELSE 2000 // (n - 2)
        |           + (CASE WHEN rn - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END)
        |    END AS bp
        |  FROM t
        |)
        |SELECT event_type, count(*) AS n_touches,
        |  CAST(sum(bp) AS BIGINT) AS total_bp
        |FROM c GROUP BY event_type""".stripMargin,
    "q124_last_touch" ->
      """WITH t AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |        IGNORE NULLS) OVER w AS touch_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN ts END
        |        IGNORE NULLS) OVER w AS touch_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id, ts AS purchase_ts, touch_type, touch_ts
        |FROM t WHERE event_type = 'purchase'""".stripMargin,
    "q120_gap_fill" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hs, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT date_trunc('hour', min(ts)) AS lo,
        |         date_trunc('hour', max(ts)) AS hi
        |  FROM events
        |), g AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
        |  FROM b
        |), t AS (
        |  SELECT DISTINCT event_type FROM events
        |)
        |SELECT g.hour_start, t.event_type,
        |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_events
        |FROM g CROSS JOIN t
        |LEFT JOIN h ON h.hs = g.hour_start AND h.event_type = t.event_type""".stripMargin,
    "q110_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS view_ts
        |  FROM events WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS click_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.view_ts
        |  WHERE e.event_type = 'click' GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS purchase_ts
        |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
        |)
        |SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
        |  CAST(1 + CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END
        |    AS INTEGER) AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    "q114_cohort_retention" ->
      """WITH w AS (
        |  -- DuckDB's week-trunc yields DATE; Spark's yields TIMESTAMP — pin it
        |  SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
        |  FROM events
        |), f AS (
        |  SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY user_id
        |), a AS (
        |  SELECT DISTINCT user_id, wk FROM w
        |)
        |SELECT f.cohort_week,
        |  CAST((epoch_us(a.wk) - epoch_us(f.cohort_week)) / 604800000000
        |    AS INTEGER) AS week_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    "q46_range_join" ->
      """WITH errors AS (SELECT * FROM events WHERE event_type = 'error'),
        |     clicks AS (SELECT * FROM events WHERE event_type = 'click')
        |SELECT e.event_id AS error_id, c.event_id AS click_id, e.user_id,
        |       e.ts AS error_ts, c.ts AS click_ts
        |FROM errors e JOIN clicks c
        |  ON e.user_id = c.user_id
        | AND c.ts >= e.ts
        | AND epoch_us(c.ts) - epoch_us(e.ts) <= 3600000000""".stripMargin,
    "q45_asof_join" ->
      """WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
        |     errors AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |       e.ts AS last_error_ts, e.value AS last_error_value
        |FROM clicks c ASOF LEFT JOIN errors e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts""".stripMargin,
    "q18_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "q19_tumbling_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q90_streaming_join" ->
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |     e AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
        |       c.ts AS click_ts, e.ts AS error_ts
        |FROM c JOIN e
        |  ON c.user_id = e.user_id
        | AND e.ts <= c.ts
        | AND e.ts >= c.ts - INTERVAL 60 MINUTE""".stripMargin,
    // q216: q90's join LEFT-OUTER — every click appears exactly once if
    // unmatched (null error columns) or once per matching error.
    "q216_streaming_outer_join" ->
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |     e AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
        |       c.ts AS click_ts, e.ts AS error_ts
        |FROM c LEFT JOIN e
        |  ON c.user_id = e.user_id
        | AND e.ts <= c.ts
        | AND e.ts >= c.ts - INTERVAL 60 MINUTE""".stripMargin,
    // q227: the batch FULL JOIN twin — the key comes from whichever side
    // exists.
    "q227_streaming_full_outer" ->
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |     e AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT coalesce(c.user_id, e.user_id) AS user_id,
        |       c.event_id AS click_id, e.event_id AS error_id,
        |       c.ts AS click_ts, e.ts AS error_ts
        |FROM c FULL JOIN e
        |  ON c.user_id = e.user_id
        | AND e.ts <= c.ts
        | AND e.ts >= c.ts - INTERVAL 60 MINUTE""".stripMargin,
    // q103 = streaming dropDuplicatesWithinWatermark; the output projects
    // only key-derived columns, so DISTINCT is exact whichever duplicate
    // the stream saw first.
    "q103_streaming_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // q81 = q19 executed by the streaming engine; the oracle is shared
    // because the declarative query is identical — that equivalence IS the
    // thing this gate entry proves.
    "q81_streaming_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // q198: same grid construction (per-user bounds, hourly
    // generate_series), same (ts, event_id) closing-row rule, same
    // IGNORE NULLS forward fill.
    "q198_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, ts, event_id,
        |    coalesce(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT), 0) AS cents
        |  FROM events
        |), he AS (
        |  SELECT user_id, h, count(*) AS n_ev FROM e GROUP BY user_id, h
        |), hc AS (
        |  SELECT user_id, h, cents AS close_cents FROM e
        |  QUALIFY row_number() OVER (PARTITION BY user_id, h
        |    ORDER BY ts DESC, event_id DESC) = 1
        |), hourly AS (
        |  SELECT he.user_id, he.h, he.n_ev, hc.close_cents
        |  FROM he JOIN hc USING (user_id, h)
        |), grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        |  FROM hourly GROUP BY user_id
        |), f AS (
        |  SELECT g.user_id, g.h, hourly.n_ev,
        |    last_value(hourly.close_cents IGNORE NULLS)
        |      OVER (PARTITION BY g.user_id ORDER BY g.h
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS filled_cents
        |  FROM grid g LEFT JOIN hourly USING (user_id, h)
        |)
        |SELECT user_id, count(*) AS n_grid_hours,
        |  CAST(sum(CASE WHEN n_ev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_event_hours,
        |  CAST(sum(CASE WHEN n_ev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gap_hours,
        |  CAST(coalesce(sum(CASE WHEN n_ev IS NULL THEN filled_cents END), 0)
        |    AS BIGINT) AS gap_fill_cents
        |FROM f GROUP BY user_id""".stripMargin,
    // q196: batch join against the same literal dim — the stream-static
    // broadcast enrichment is semantically invisible.
    "q196_stream_static_join" ->
      """WITH dim(event_type, tier, weight) AS (
        |  VALUES ('click', 'engagement', 1), ('view', 'engagement', 2),
        |         ('signup', 'engagement', 3), ('purchase', 'commerce', 5),
        |         ('error', 'ops', 4)
        |)
        |SELECT tier, count(*) AS n_events,
        |  CAST(sum(weight) AS BIGINT) AS weight_sum,
        |  CAST(sum(coalesce(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT), 0)
        |    * weight) AS BIGINT) AS weighted_cents
        |FROM events JOIN dim USING (event_type)
        |GROUP BY tier""".stripMargin,
    // q194: identical to q81's by design — each key's LAST Update-mode
    // emission must be the full aggregate, whatever the batch split.
    "q194_streaming_update_mode" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // q201: q194's final aggregate PLUS the exact emission census the
    // drive's split rule implies — per (hour, type), batch 0 (rows at or
    // before mid-microsecond) and batch 1 (rows after) each emit at most
    // once, and a replayed-batch duplicate file would inflate the count.
    // mid replays q194DriveFor's integer arithmetic: mn + (mx − mn) // 2
    // over epoch_us (Spark's unix_micros twin, the q92 precedent).
    "q201_streaming_replay_idempotence" ->
      """WITH b AS (
        |  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
        |), m AS (
        |  SELECT mn + (mx - mn) // 2 AS mid FROM b
        |)
        |SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
        |  CAST(max(CASE WHEN epoch_us(ts) <= mid THEN 1 ELSE 0 END)
        |     + max(CASE WHEN epoch_us(ts) > mid THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_emissions
        |FROM events, m GROUP BY 1, 2""".stripMargin,
    // q92 = q18 executed by the streaming engine with per-key session state;
    // same session CTEs, grouped by (user, session) but session_id not
    // emitted (streaming state has no global session ordinal). The exact
    // money bridge: decimal(14,2)·100 → BIGINT cents summed exactly, then
    // ONE correctly-rounded double division — both engines identical.
    "q92_streaming_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(CAST(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS DOUBLE) / CAST(100.0 AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "q20_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q21_inter_event_gaps" ->
      """SELECT event_id, user_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
        |  lag(event_type) OVER w = event_type AS same_as_prev
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)
}
