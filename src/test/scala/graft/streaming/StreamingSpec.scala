package graft.streaming

import java.sql.Timestamp

import graft.{LocalSession, SparkSpec}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private lazy val eventsDir: String = {
    val dir = graft.Scratch.fresh("stream-events").toString
    Seq(
      Streaming.Event(1, ts("2024-01-01 00:05:00"), 7, "click", 1.5),
      Streaming.Event(2, ts("2024-01-01 00:25:00"), 7, "click", 2.5),
      Streaming.Event(3, ts("2024-01-01 01:10:00"), 7, "view", 4.0),
      Streaming.Event(4, ts("2024-01-01 00:45:00"), 9, "click", 8.0))
      .toDF().write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming tumbling-window agg matches the batch expression") {
    val out = Streaming.runOnce(spark, eventsDir,
      df => Streaming.hourlyCounts(df), "hourly_test")
      .select("hour_start", "event_type", "n_events", "total_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(out == Set(
      (ts("2024-01-01 00:00:00"), "click", 3L, 12.0),
      (ts("2024-01-01 01:00:00"), "view", 1L, 4.0)))
  }

  test("transformWithState count/sum: ValueState crosses the sentinel batch boundary") {
    // two data files + a sentinel file → 3 micro-batches under
    // maxFilesPerTrigger=1; the accumulating state must survive BOTH
    // boundaries or the sentinel-batch emission undercounts
    val dir = graft.Scratch.fresh("tws-drive").toString
    Seq(Streaming.TwsEvent(7, isSentinel = false, 150),
      Streaming.TwsEvent(9, isSentinel = false, 800))
      .toDF().coalesce(1).write.parquet(s"$dir/batch")
    val p1 = new java.io.File(s"$dir/batch").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(p1.toPath,
      java.nio.file.Paths.get(s"$dir/aa_one.parquet"))
    Seq(Streaming.TwsEvent(7, isSentinel = false, 250))
      .toDF().coalesce(1).write.parquet(s"$dir/batch2")
    val p2 = new java.io.File(s"$dir/batch2").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(p2.toPath,
      java.nio.file.Paths.get(s"$dir/bb_two.parquet"))
    Seq(Streaming.TwsEvent(7, isSentinel = true, 0),
      Streaming.TwsEvent(9, isSentinel = true, 0))
      .toDF().coalesce(1).write.parquet(s"$dir/batch3")
    val p3 = new java.io.File(s"$dir/batch3").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(p3.toPath,
      java.nio.file.Paths.get(s"$dir/zz_sentinel.parquet"))

    LocalSession.withConfs(spark, RocksDb) {
      val out = Streaming.runOnce(spark, dir,
        df => Streaming.twsCountSum(df.as[Streaming.TwsEvent]).toDF(),
        "tws_test",
        mode = org.apache.spark.sql.streaming.OutputMode.Append(),
        sourceOptions = Map("maxFilesPerTrigger" -> "1"))
        .as[(Long, Long, Long)].collect().toSet
      assert(out == Set((7L, 2L, 400L), (9L, 1L, 800L)))
    }
  }

  test("transformWithState count/sum: sentinel sharing a batch with data rows flushes the whole batch") {
    // ADVICE r9: the processor folds the batch BEFORE applying the
    // sentinel, so same-key data rows in the sentinel's own micro-batch
    // are flushed regardless of where the sentinel sits in iterator
    // order. One batch: data(7)+sentinel(7)+data(7) → one row (7, 2, 300).
    val dir = graft.Scratch.fresh("tws-mixed").resolve("in").toString
    Seq(Streaming.TwsEvent(7, isSentinel = false, 100),
      Streaming.TwsEvent(7, isSentinel = true, 0),
      Streaming.TwsEvent(7, isSentinel = false, 200))
      .toDF().coalesce(1).write.parquet(dir)
    LocalSession.withConfs(spark, RocksDb) {
      val out = Streaming.runOnce(spark, dir,
        df => Streaming.twsCountSum(df.as[Streaming.TwsEvent]).toDF(),
        "tws_mixed_test",
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
        .as[(Long, Long, Long)].collect().toSet
      assert(out == Set((7L, 2L, 300L)),
        "a mid-batch sentinel must flush state plus the full batch delta")
    }
  }

  test("checkpoint recovery: restart reloads state, never re-reads or re-emits (q184's contract)") {
    // phase 1: two files → two batches of data for users 7 and 9; STOP.
    // phase 2: one more data row for 7 plus sentinels, restarted from the
    // SAME checkpoint. Expected totals prove three things at once:
    //  - state survived the restart (7 counts its phase-1 rows),
    //  - committed files were not re-read (7 is 3, not 5+),
    //  - no key emitted twice (exactly one row per user across ALL batches).
    val drive = graft.Scratch.fresh("ckrec-drive")
    def writeFile(name: String, rows: Seq[Streaming.TwsEvent]): Unit = {
      val staging = graft.Scratch.fresh("ckrec-stage").resolve("out").toString
      rows.toDF().coalesce(1).write.parquet(staging)
      val p = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(p.toPath, drive.resolve(name))
    }
    writeFile("aa.parquet", Seq(Streaming.TwsEvent(7, isSentinel = false, 100),
      Streaming.TwsEvent(9, isSentinel = false, 50)))
    writeFile("bb.parquet", Seq(Streaming.TwsEvent(7, isSentinel = false, 200)))
    val out = graft.Scratch.fresh("ckrec-out").resolve("batches").toString
    val ckpt = graft.Scratch.fresh("ckrec-ckpt").resolve("ckpt").toString
    val plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => Streaming.twsCountSum(df.as[Streaming.TwsEvent]).toDF()
    LocalSession.withConfs(spark, RocksDb) {
      Streaming.runForeachBatch(spark, drive.toString, out, plan, "ckrec_p1",
        sourceOptions = Map("maxFilesPerTrigger" -> "1"),
        checkpointDir = Some(ckpt))
      writeFile("zz.parquet", Seq(Streaming.TwsEvent(7, isSentinel = false, 40),
        Streaming.TwsEvent(7, isSentinel = true, 0),
        Streaming.TwsEvent(9, isSentinel = true, 0)))
      Streaming.runForeachBatch(spark, drive.toString, out, plan, "ckrec_p2",
        sourceOptions = Map("maxFilesPerTrigger" -> "1"),
        checkpointDir = Some(ckpt))
    }
    val rows = spark.read
      .schema("user_id LONG, n_events LONG, total_cents LONG").parquet(out)
      .select("user_id", "n_events", "total_cents") // drop the batch_id partition col
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.sorted == Seq((7L, 3L, 340L), (9L, 1L, 50L)),
      s"recovered totals drifted: $rows")
    // zero re-emitted keys across every batch dir, the Append-mode claim
    assert(rows.map(_._1).distinct.size == rows.size,
      s"a key emitted more than once across batches: $rows")
  }

  test("a lost commit replays exactly its batch, and the batch-keyed sink absorbs it (q201's contract)") {
    // crash model: the sink wrote batch N but commits/N never landed. On
    // restart Spark must re-run batch N — once, from its logged offsets —
    // and the per-batch_id overwrite sink must leave the output identical.
    val drive = graft.Scratch.fresh("replay-drive")
    def writeFile(name: String, rows: Seq[Streaming.Event]): Unit = {
      val staging = graft.Scratch.fresh("replay-stage").resolve("out").toString
      rows.toDF().coalesce(1).write.parquet(staging)
      val p = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(p.toPath, drive.resolve(name))
    }
    writeFile("aa.parquet", Seq(
      Streaming.Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.5),
      Streaming.Event(2, ts("2024-01-01 00:10:00"), 9, "view", 2.5)))
    writeFile("bb.parquet", Seq(
      Streaming.Event(3, ts("2024-01-01 00:20:00"), 7, "click", 3.5)))
    val out = graft.Scratch.fresh("replay-out").resolve("batches").toString
    val ckpt = graft.Scratch.fresh("replay-ckpt").resolve("ckpt").toString
    // the production sink shape (runForeachBatch's), plus an invocation
    // counter per batch id — the replay census
    val calls = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    def run(name: String): Unit = {
      val q = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Streaming.Event]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(drive.toString)
        .writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          calls.merge(batchId, 1, Integer.sum(_, _))
          batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
        }
        .option("checkpointLocation", ckpt).queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    run("replay_p1")
    assert(calls.get(0L) == 1 && calls.get(1L) == 1, s"phase 1 drive: $calls")
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.delete(commits.resolve("1"))
    java.nio.file.Files.deleteIfExists(commits.resolve(".1.crc"))
    run("replay_p2")
    // batch 1 re-ran exactly once; batch 0 (still committed) did not
    assert(calls.get(0L) == 1, s"committed batch 0 was replayed: $calls")
    assert(calls.get(1L) == 2, s"batch 1 was not replayed: $calls")
    // and the output is byte-identical to a crash-free run: 3 rows, no dups
    val got = spark.read.schema(
      implicitly[org.apache.spark.sql.Encoder[Streaming.Event]].schema
        .add("batch_id", "long"))
      .parquet(out).select("event_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L, 3L), s"replay duplicated or lost rows: $got")
  }

  test("transformWithState event-time timers fire on watermark advance, not wall clock") {
    // batch 1: real events (timers armed at last ts + 60 s)
    // batch 2: a far-future advancer for key 99 — its watermark crossing
    //          fires keys 7 and 9's timers; 99's own timer stays unfired
    val dir = graft.Scratch.fresh("tws-timer").toString
    def writeBatch(name: String, rows: Seq[Streaming.TimedEvent]): Unit = {
      val staging = graft.Scratch.fresh("tws-timer-stage").resolve("out").toString
      rows.toDF().coalesce(1).write.parquet(staging)
      val p = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(p.toPath, java.nio.file.Paths.get(s"$dir/$name"))
    }
    writeBatch("aa_events.parquet", Seq(
      Streaming.TimedEvent(7, ts("2024-01-01 00:00:00")),
      Streaming.TimedEvent(7, ts("2024-01-01 00:00:30")),
      Streaming.TimedEvent(9, ts("2024-01-01 00:00:10"))))
    writeBatch("zz_advance.parquet", Seq(
      Streaming.TimedEvent(99, ts("2024-01-02 00:00:00"))))

    LocalSession.withConfs(spark, RocksDb) {
      val out = Streaming.runOnce(spark, dir,
        df => Streaming.twsTimerCounts(df.as[Streaming.TimedEvent], 60000L).toDF(),
        "tws_timer_test",
        mode = org.apache.spark.sql.streaming.OutputMode.Append(),
        sourceOptions = Map("maxFilesPerTrigger" -> "1"))
        .as[(Long, Long)].collect().toSet
      assert(out == Set((7L, 2L), (9L, 1L)),
        "only the watermark-expired keys may flush; the advancer must not")
    }
  }

  test("stream-static enrichment join: broadcast dim against the stream") {
    import org.apache.spark.sql.functions.broadcast
    val dims = Seq(("click", "interaction"), ("view", "content"))
      .toDF("event_type", "category")
    val out = Streaming.runOnce(spark, eventsDir,
      df => df.join(broadcast(dims), Seq("event_type"))
        .groupBy("category").count(), "enriched_test")
      .as[(String, Long)].collect().toMap
    assert(out == Map("interaction" -> 3L, "content" -> 1L))
  }

  test("streaming dedup keeps one row per content fingerprint") {
    val dir = graft.Scratch.fresh("stream-docs").toString
    Seq(
      (1L, ts("2024-01-01 00:00:00"), "the quick brown fox"),
      (2L, ts("2024-01-01 00:05:00"), "the quick brown fox"), // dup content
      (3L, ts("2024-01-01 00:10:00"), "an entirely different doc"))
      .toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
    val out = Streaming.runOnce(spark, dir,
      df => Streaming.dedupStream(df, "text", "ts"), "dedup_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .select("text").as[String].collect().toSeq
    assert(out.length == 2)
    assert(out.toSet ==
      Set("the quick brown fox", "an entirely different doc"))
  }

  test("stream-stream join pairs clicks with preceding errors within the gap") {
    val clickDir = graft.Scratch.fresh("ss-clicks").toString
    val errorDir = graft.Scratch.fresh("ss-errors").toString
    Seq((7L, ts("2024-01-01 01:00:00"), 11L))
      .toDF("user_id", "ts", "event_id").write.mode("overwrite").parquet(clickDir)
    Seq(
      (7L, ts("2024-01-01 00:30:00"), 21L), // within 60 min before → joins
      (7L, ts("2024-01-01 01:10:00"), 22L), // after the click → no
      (7L, ts("2023-12-31 22:00:00"), 23L), // too old → no
      (9L, ts("2024-01-01 00:30:00"), 24L)) // other user → no
      .toDF("user_id", "ts", "event_id").write.mode("overwrite").parquet(errorDir)

    val cSchema = spark.read.parquet(clickDir).schema
    val q = Streaming.clickErrorJoin(
      spark.readStream.schema(cSchema).parquet(clickDir),
      spark.readStream.schema(cSchema).parquet(errorDir))
      .writeStream.outputMode("append").format("memory").queryName("ssj_test")
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("ssj_test")
      .select("click_id", "error_id").as[(Long, Long)].collect().toSet
    assert(out == Set((11L, 21L)))
  }

  test("full-outer stream-stream join takes the key from whichever side exists") {
    val clickDir = graft.Scratch.fresh("fo-clicks").toString
    val errorDir = graft.Scratch.fresh("fo-errors").toString
    Seq(
      (7L, ts("2024-01-01 01:00:00"), 11L), // matched by error 21
      (8L, ts("2024-01-01 01:00:00"), 12L), // click-only → null error side
      // far-future advancers move both watermarks so null rows can flush
      (-1L, ts("2024-06-01 00:00:00"), -2L))
      .toDF("user_id", "ts", "event_id").write.mode("overwrite").parquet(clickDir)
    Seq(
      (7L, ts("2024-01-01 00:30:00"), 21L), // joins click 11
      (9L, ts("2024-01-01 00:30:00"), 24L), // error-only → null click side
      (-1L, ts("2024-06-01 00:00:00"), -3L))
      .toDF("user_id", "ts", "event_id").write.mode("overwrite").parquet(errorDir)

    val cSchema = spark.read.parquet(clickDir).schema
    val q = Streaming.clickErrorJoin(
      spark.readStream.schema(cSchema).parquet(clickDir),
      spark.readStream.schema(cSchema).parquet(errorDir),
      joinType = "full_outer")
      .writeStream.outputMode("append").format("memory").queryName("foj_test")
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("foj_test").filter($"user_id" >= 0)
      .select("user_id", "click_id", "error_id")
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    assert(out == Set(
      (7L, Some(11L), Some(21L)),
      (8L, Some(12L), None),
      (9L, None, Some(24L))), s"got $out")
  }

  test("foreachBatch sink writes idempotent batch-keyed parquet") {
    val srcDir = graft.Scratch.fresh("fb-src").toString
    val outDir = graft.Scratch.fresh("fb-out").toString
    Seq(
      Streaming.Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.5),
      Streaming.Event(2, ts("2024-01-01 00:10:00"), 9, "view", 2.5))
      .toDF().write.mode("overwrite").parquet(srcDir)
    Streaming.runForeachBatch(spark, srcDir, outDir,
      df => df.filter($"event_type" === "click"), "fb_test")
    val written = spark.read.parquet(outDir)
    assert(written.count() == 1)
    assert(written.select("event_id").as[Long].collect().toSeq == Seq(1L))
    assert(written.columns.contains("batch_id")) // partition column surfaced
  }

  test("event-time sessionizer: watermark timeout closes idle sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streaming.CentsEvent]
    val sessions = Streaming.sessionizeEventTime(
      input.toDS().withWatermark("ts", "0 seconds"), gapMinutes = 30)
    val q = sessions.toDF().writeStream
      .outputMode("append").format("memory").queryName("etsess_test").start()
    try {
      input.addData(
        Streaming.CentsEvent(1, ts("2024-01-01 00:00:00"), 7, 100),
        Streaming.CentsEvent(2, ts("2024-01-01 00:10:00"), 7, 250))
      q.processAllAvailable()
      // session still open: watermark (00:10) hasn't passed end+gap (00:40)
      assert(spark.table("etsess_test").count() == 0)
      // another user's much later event drags the watermark past user 7's
      // timeout; the flush happens in the engine's no-data follow-up batch
      input.addData(Streaming.CentsEvent(3, ts("2024-01-01 02:00:00"), 9, 500))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30L * 1000000000
      while (spark.table("etsess_test").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      val out = spark.table("etsess_test")
        .select("user_id", "n_events", "session_start", "session_end", "total_cents")
        .as[(Long, Long, Timestamp, Timestamp, Long)].collect().toSet
      // user 7's session emitted by TIMEOUT (not by a same-key event);
      // user 9's session is younger than the watermark and stays open
      assert(out == Set(
        (7L, 2L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 350L)))
    } finally q.stop()
  }

  test("sessionizer state survives a checkpointed restart") {
    import org.apache.spark.sql.streaming.OutputMode
    val srcDir = graft.Scratch.fresh("ckpt-src").toString
    val ckpt = graft.Scratch.fresh("ckpt-state").toString
    val outDir = graft.Scratch.fresh("ckpt-out").toString
    def writeFile(name: String, rows: Seq[(Long, Timestamp, Long, Long)]): Unit = {
      val stage = graft.Scratch.fresh("ckpt-stage")
      rows.toDF("event_id", "ts", "user_id", "cents")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, name))
    }
    writeFile("a.parquet", Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, 100L),
      (2L, ts("2024-01-01 10:10:00"), 7L, 200L)))
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val q = Streaming.sessionizeEventTime(
        spark.readStream.schema(schema).parquet(srcDir)
          .withWatermark("ts", "0 seconds")
          .as[Streaming.CentsEvent])
        .toDF().writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          b.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // session (10:00, 10:10) open in state when the query stops
    // "deploy restart": same checkpoint, new data — the recovered state
    // must stitch file B's 10:15 event into file A's open session
    writeFile("b.parquet", Seq(
      (3L, ts("2024-01-01 10:15:00"), 7L, 400L),
      (4L, ts("2024-01-01 11:30:00"), 7L, 800L))) // >30 min gap → closes it
    run()
    val sessions = spark.read.parquet(outDir)
      .select("user_id", "n_events", "session_start", "session_end", "total_cents")
      .as[(Long, Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(sessions == Set(
      (7L, 3L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:15:00"), 700L)))
  }

  test("session state crosses a forced micro-batch boundary (maxFilesPerTrigger=1)") {
    import org.apache.spark.sql.streaming.OutputMode
    val srcDir = graft.Scratch.fresh("mb-src").toString
    val outDir = graft.Scratch.fresh("mb-out").toString
    def writeFile(name: String, ageSec: Long,
        rows: Seq[(Long, Timestamp, Long, Long)]): Unit = {
      val stage = graft.Scratch.fresh("mb-stage")
      rows.toDF("event_id", "ts", "user_id", "cents")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      // explicit mtimes pin FileStreamSource's oldest-first batch order
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageSec * 1000))
    }
    writeFile("a.parquet", 60, Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, 100L),
      (2L, ts("2024-01-01 10:10:00"), 7L, 200L)))
    writeFile("b.parquet", 0, Seq(
      (3L, ts("2024-01-01 10:15:00"), 7L, 400L),  // continues file A's session
      (4L, ts("2024-01-01 11:30:00"), 7L, 800L))) // >30 min gap → closes it
    Streaming.runForeachBatch(spark, srcDir, outDir,
      df => Streaming.sessionizeEventTime(
        df.withWatermark("ts", "0 seconds").as[Streaming.CentsEvent]).toDF(),
      "mb_test", sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    // two data batches ran (one file each) …
    val batchDirs = new java.io.File(outDir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(batchDirs.take(2).toSeq == Seq("batch_id=0", "batch_id=1"))
    // … and the session stitched file A's open state to file B's events:
    // emitted by batch 1's same-user successor, never visible in batch 0
    val sessions = spark.read.parquet(outDir)
      .select("batch_id", "user_id", "n_events", "session_start", "session_end",
        "total_cents")
      .as[(Long, Long, Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(sessions ==
      Set((1L, 7L, 3L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:15:00"), 700L)))
  }

  test("event-time sessionizer matches a reference implementation on random data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(42)
    var clockUs = 1700000000000000L
    val evs = (1 to 300).map { i =>
      clockUs += (rnd.nextInt(45 * 60) + 1).toLong * 1000000L // 1 s .. 45 min
      (i.toLong, clockUs, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong)
    }
    def mkTs(us: Long) = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }
    // plain-Scala reference: per user, sort by (ts, id), split on >30 min.
    // A session is emitted either by a same-user successor event (all but
    // the final session) or by WATERMARK TIMEOUT: with a 0-second delay the
    // watermark reaches the global max event time, and the engine's no-data
    // batch flushes any final session whose timeout point (end + gap, in
    // engine millis, +1) is strictly below it.
    val gapUs = 30L * 60 * 1000000
    val maxTsMs = evs.map(_._2).max / 1000
    val expected = evs.groupBy(_._3).flatMap { case (user, es) =>
      val sorted = es.sortBy(e => (e._2, e._1))
      val sessions = sorted.foldLeft(List.empty[List[(Long, Long, Long, Long)]]) {
        case (acc, e) => acc match {
          case cur :: rest if e._2 - cur.head._2 <= gapUs => (e :: cur) :: rest
          case _ => List(e) :: acc
        }
      }.reverse.map(_.reverse)
      val flushedTail = sessions.takeRight(1).filter { s =>
        maxTsMs > s.last._2 / 1000 + 30L * 60000 + 1
      }
      (sessions.dropRight(1) ++ flushedTail).map { s =>
        (user, s.length.toLong, s.head._2, s.last._2, s.map(_._4).sum)
      }
    }.toSet

    val input = MemoryStream[Streaming.CentsEvent]
    val q = Streaming.sessionizeEventTime(
      input.toDS().withWatermark("ts", "0 seconds")).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("etsess_rand").start()
    try {
      input.addData(evs.map(e => Streaming.CentsEvent(e._1, mkTs(e._2), e._3, e._4)))
      q.processAllAvailable()
      // the timeout flush rides the engine's no-data follow-up batch — poll
      def read() = spark.table("etsess_rand")
        .select("user_id", "n_events", "session_start", "session_end", "total_cents")
        .as[(Long, Long, Timestamp, Timestamp, Long)].collect()
        .map(r => (r._1, r._2,
          r._3.getTime / 1000 * 1000000 + r._3.getNanos / 1000,
          r._4.getTime / 1000 * 1000000 + r._4.getNanos / 1000, r._5)).toSet
      val deadline = System.nanoTime() + 30L * 1000000000
      var got = read()
      while (got != expected && System.nanoTime() < deadline) {
        Thread.sleep(200); got = read()
      }
      assert(got == expected)
      assert(got.size > 50) // the corpus really produced many sessions
    } finally q.stop()
  }

  test("late-data accountant: the watermark's drop boundary, pinned to the microsecond") {
    // Pins the ENGINE's late-row filter semantics the q166 oracle replays:
    // a row reaching a stateful operator in batch N survives iff
    //   epoch_us(ts) > watermark_ms * 1000
    // (WatermarkSupport's drop predicate is `ts <= wm`, measured here to
    // the microsecond: the row AT the watermark is dropped), where
    // watermark_ms = floor(max_seen_us / 1000) - delay_ms as of the START
    // of batch N (= the previous batch's committed watermark). Batch 1 is one far-ahead advancer row (watermark
    // 0 during batch 1 — everything survives); batch 2's rows straddle the
    // advanced watermark microsecond-exactly; batch 3 sentinels flush each
    // key's surviving count.
    val srcDir = graft.Scratch.fresh("late-src").toString
    def writeFile(name: String, ageSec: Long,
        rows: Seq[(Long, Timestamp, String)]): Unit = {
      val stage = graft.Scratch.fresh("late-stage")
      rows.toDF("event_id", "ts", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageSec * 1000))
    }
    def usTs(us: Long) = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }
    val tUs = Timestamp.valueOf("2024-01-10 12:00:00").getTime * 1000L
    val wmUs = (tUs / 1000 - 3600L * 1000) * 1000 // 1-hour delay, in engine ms→us
    writeFile("a_advance.parquet", 180, Seq((10L, usTs(tUs), "advancer")))
    // one GAP batch between advancer and straddle: since Spark 3.4 the
    // late-row filter for batch N uses the watermark as of batch N-1's
    // START (eventTimeWatermarkForLateEvents), so the advance needs a full
    // committed batch between it and the rows it should drop
    writeFile("b_gap.parquet", 120, Seq((11L, usTs(tUs), "advancer")))
    writeFile("c_straddle.parquet", 60, Seq(
      (1L, usTs(wmUs - 1000), "below_ms"),
      (2L, usTs(wmUs - 1), "below_us"),
      (3L, usTs(wmUs), "at_wm"),
      (4L, usTs(wmUs + 1), "above_us"),
      (5L, usTs(tUs - 1), "on_time")))
    val keys = Seq("advancer", "below_ms", "below_us", "at_wm", "above_us", "on_time")
    writeFile("d_flush.parquet", 0,
      keys.map(k => (-1L, usTs(tUs + 86400L * 1000000), k)))
    val out = Streaming.runOnce(spark, srcDir,
      df => Streaming.onTimeCounts(
        df.withWatermark("ts", "1 hour").as[Streaming.KeyedEvent]).toDF(),
      "late_test", org.apache.spark.sql.streaming.OutputMode.Append(),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      .as[(String, Long)].collect().toMap
    assert(out == Map(
      "advancer" -> 2L, // batches 1-2: their late-events watermark was 0
      "below_ms" -> 0L, "below_us" -> 0L, // behind the watermark → dropped
      "at_wm" -> 0L, // the row AT the watermark is dropped too (ts <= wm)
      "above_us" -> 1L, // one microsecond past the watermark survives
      "on_time" -> 1L))
  }

  test("q92 sentinel math drives a raw long-nanos events dir (VERDICT r8 #7)") {
    // The ts bridge is covered for both corpus encodings (TablesSpec), but
    // q92's SENTINEL arithmetic (max-ts read, far-future sentinel emitted
    // in the source encoding) has its own LongType branch — this drives the
    // whole gate on a synthetic long-nanos corpus so a regeneration back to
    // TIMESTAMP(NANOS) cannot silently break the streaming family again.
    val dir = graft.Scratch.fresh("q92-nanos").toString
    def us(s: String) = Timestamp.valueOf(s).getTime * 1000L
    val rows = Seq(
      (1L, us("2024-03-01 10:00:00") + 123456L, 7L, "click", 1.25, """{"k":1}"""),
      (2L, us("2024-03-01 10:10:00"), 7L, "view", 2.50, null),
      // >30 min gap → second session for user 7
      (3L, us("2024-03-01 11:00:00") + 1L, 7L, "click", 0.75, null),
      (4L, us("2024-03-01 10:05:00"), 9L, "purchase", 10.00, null))
    val stage = graft.Scratch.fresh("q92-nanos-stage")
    rows.map { case (id, tsUs, u, t, v, p) => (id, tsUs * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"))
    // the raw read surfaces ts as LONG — exactly what the nanos corpus
    // looks like under enableNanosRead
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    val streaming = graft.ops.EventQueries.streamingSessions(spark, dir)
      .select($"user_id", $"n_events", $"session_start", $"session_end",
        $"total_value")
      .as[(Long, Long, Timestamp, Timestamp, Double)].collect().toSet
    val batch = graft.ops.EventQueries.sessionize(spark, dir)
      .select($"user_id", $"n_events", $"session_start", $"session_end",
        $"total_value")
      .as[(Long, Long, Timestamp, Timestamp, Double)].collect().toSet
    assert(streaming == batch, s"streaming=$streaming batch=$batch")
    assert(streaming.size == 3) // two sessions for user 7, one for user 9
    // the microsecond tail survived the nanos bridge end-to-end
    assert(streaming.exists(_._3.getNanos == 123456000))
  }

  test("stateful sessionization closes sessions after the inactivity gap") {
    val events = Seq(
      Streaming.Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
      Streaming.Event(2, ts("2024-01-01 00:10:00"), 7, "click", 2.0),
      // 50-minute gap → new session
      Streaming.Event(3, ts("2024-01-01 01:00:00"), 7, "view", 3.0),
      Streaming.Event(4, ts("2024-01-01 00:00:00"), 9, "view", 5.0)).toDS()
    // batch-mode flatMapGroupsWithState: closed sessions are emitted; the
    // still-open tail session stays in (discarded) state
    val closed = Streaming.sessionize(events, gapMinutes = 30)
      .collect().map(s => (s.user_id, s.n_events, s.total_value)).toSet
    assert(closed == Set((7L, 2L, 3.0)))
  }

  test("state partition count derives from source bytes: floor 2, +1 per 32 MiB") {
    // r15: the drive helpers size state-store partitions from the source's
    // byte volume instead of a constant (guide §2 scale-adaptive
    // partitioning). Floor is 2 even for an empty/missing source; one more
    // partition per started 32 MiB after the first.
    val dir = java.nio.file.Files.createTempDirectory("spf_test_").toFile
    try {
      def fileOf(n: String, bytes: Int): Unit = {
        val f = new java.io.File(dir, n)
        val out = new java.io.FileOutputStream(f)
        try out.write(new Array[Byte](bytes)) finally out.close()
      }
      assert(graft.Tables.partitionsFor(dir.getPath, floor = 2) == 2) // empty dir
      assert(graft.Tables.partitionsFor(dir.getPath + "/nope", floor = 2) == 2)
      fileOf("a.parquet", 1 << 20) // 1 MiB
      assert(graft.Tables.partitionsFor(dir.getPath, floor = 2) == 2)
      val single = new java.io.File(dir, "a.parquet").getPath
      assert(graft.Tables.partitionsFor(single, floor = 2) == 2) // plain-file source
      fileOf("b.parquet", 80 << 20) // dir total 81 MiB -> ceil(81/32) = 3
      assert(graft.Tables.partitionsFor(dir.getPath, floor = 2) == 3)
      // the graph adjacency's rule: 2 × the edge bytes -> ceil(162/32) = 6
      assert(graft.Tables.partitionsFor(dir.getPath, floor = 1, scale = 2) == 6)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete(): Unit
    }
  }
}
