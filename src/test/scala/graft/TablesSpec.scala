package graft

/** Pins the load-time parallelism policy (Tables.load scaladoc, r6):
  * compute-heavy corpora (documents, embeddings) get one hash exchange so
  * per-row CPU before the first shuffle fans out; TPC-H facts and events
  * stay on their raw scan partitioning — every gate query over them reaches
  * its own shuffle, so a load exchange would be a second full-data shuffle
  * per query (measured +0.22 s per lineitem query at sf0.1, benefit nil). */
class TablesSpec extends SparkSpec {

  private def hasExchange(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  test("facts and events load with no exchange above the scan") {
    for (t <- Seq("lineitem", "orders", "customer", "nation"))
      assert(!hasExchange(Tables.load(spark, sf0001, t)),
        s"$t must not be respread at load — its queries shuffle on their own keys")
    // events goes through the ns→us bridge (a Project, never an Exchange)
    assert(!hasExchange(Tables.events(spark, sf0001)))
  }

  test("documents and embeddings are spread when the scan under-parallelizes") {
    for (t <- Seq("documents", "embeddings")) {
      val df = Tables.load(spark, sf0001, t)
      val raw = spark.read.parquet(s"$sf0001/$t.parquet").rdd.getNumPartitions
      if (raw * 2 < spark.sparkContext.defaultParallelism)
        assert(df.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
          s"$t scan yields $raw partitions — load must fan it out for the " +
            "per-row-heavy operators (shingling, vector math)")
      else
        assert(!hasExchange(df), s"$t already parallel enough — no exchange")
    }
  }

  test("ts bridge normalizes BOTH corpus encodings to the same timestamps") {
    // The corpus has shipped events.ts as parquet TIMESTAMP(NANOS) (read as
    // a raw long under enableNanosRead) and as TIMESTAMP(MICROS)/NTZ; a
    // regeneration can flip the encoding again. rebuildNanosTs must map
    // either to identical session-TZ TIMESTAMP values (r7: the micros
    // regeneration broke 28 gates — this pins the dispatch).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val us = Seq(0L, 1L, 1700000000123456L, -987654321L)
    val dir = Scratch.fresh("tsbridge")
    val longPath = dir.resolve("long").toString
    val ntzPath = dir.resolve("ntz").toString
    us.map(u => (u * 1000L, u)).toDF("ts", "us")
      .write.mode("overwrite").parquet(longPath)
    us.toDF("us")
      .withColumn("ts", timestamp_micros($"us")
        .cast(org.apache.spark.sql.types.TimestampNTZType))
      .write.mode("overwrite").parquet(ntzPath)
    val fromLong = Tables.rebuildNanosTs(spark.read.parquet(longPath))
    val fromNtz = Tables.rebuildNanosTs(spark.read.parquet(ntzPath))
    for (df <- Seq(fromLong, fromNtz))
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
    val longVals = fromLong.select(unix_micros($"ts"), $"us")
      .as[(Long, Long)].collect().toMap
    val ntzVals = fromNtz.select(unix_micros($"ts"), $"us")
      .as[(Long, Long)].collect().toMap
    assert(longVals.keySet == us.toSet && ntzVals.keySet == us.toSet,
      s"bridge changed values: long=$longVals ntz=$ntzVals")
    // an already-normalized frame passes through untouched
    assert(Tables.rebuildNanosTs(fromNtz).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("column pruning passes through the documents spread") {
    // the exchange must not widen the scan: a 1-column projection above
    // Tables.documents should reach the parquet reader as a 1-2 column
    // ReadSchema (id key rides along for the hash partitioning)
    val plan = Tables.documents(spark, sf0001).select("lang")
      .queryExecution.executedPlan.toString
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$plan"))
    val cols = read.split(",").map(_.trim.takeWhile(_ != ':')).toSet
    assert(cols.subsetOf(Set("lang", "doc_id")),
      s"spread widened the scan to $cols")
  }

  test("a repeated table load runs no schema job; a rewritten table is re-read") {
    import spark.implicits._
    val dir = Scratch.fresh("schemamemo").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t")
    assert(jobsOf(Tables.load(spark, dir, "t"): Unit) == 0,
      "the second load of an unchanged table must reuse its schema")
    assert(Tables.load(spark, dir, "t").schema == first.schema)
    Seq((2L, 3.5)).toDF("k", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("k", "w"))
    assert(again.as[(Long, Double)].collect().toSeq == Seq((2L, 3.5)))
  }
}
