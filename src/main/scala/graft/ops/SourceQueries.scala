package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Bucketing
import graft.sources.Sources

/** Source/sink round-trip GATE queries — the file-format surface
  * ([[graft.sources.Sources]]) proven at the DuckDB oracle, not just in
  * SourcesSpec: a query whose INPUT passed through the sink+source pair can
  * only hash-match an oracle reading the original parquet if the format
  * round trip was lossless.
  */
object SourceQueries {

  /** JSONL (newline-delimited JSON) sink → source round trip: the documents
    * table is exported to JSONL (the lingua franca of training-data
    * interchange), read back with an explicit schema (no inference pass —
    * one scan, stable types), and aggregated per (source, lang). The
    * distinct-md5 column pins CONTENT equality (any mangled text/escaping
    * changes a digest), the sums pin numeric fidelity. Write and read are
    * both distributed (one file per partition out, parallel scan back);
    * the export lands in a run-scoped temp dir, Verify/Bench-safe. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    // stable per-JVM scratch dir (shutdown-cleaned; repeat runs overwrite
    // one directory instead of leaking a fresh one per pass — VERDICT r4 #4),
    // keyed by (query, input dir) so two sf dirs driven in one JVM never
    // share an export directory (VERDICT r6 wrong #1)
    val out = graft.Scratch.named(s"q118_${graft.Scratch.dirKey(dir)}").resolve("docs_jsonl").toString
    Sources.writeJsonl(docs, out)
    Sources.readJsonl(spark, out, docs.schema)
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(length($"text")).cast("long").as("total_text_len"),
        countDistinct(md5($"text")).as("n_uniq_texts"))
  }

  /** Header-CSV sink → source round trip — the reference's own interchange
    * format (its results/events tables are header CSVs, SURVEY §2 S1/S4) put
    * under the oracle: same aggregate contract as [[jsonlRoundtrip]]; the
    * explicit read schema (no inference scan) and quoting must preserve
    * every byte or the md5-distinct column diverges. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val out = graft.Scratch.named(s"q119_${graft.Scratch.dirKey(dir)}").resolve("docs_csv").toString
    Sources.writeCsv(docs, out)
    Sources.readCsv(spark, out, docs.schema)
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(length($"text")).cast("long").as("total_text_len"),
        countDistinct(md5($"text")).as("n_uniq_texts"))
  }

  /** MULTILINE-CSV round trip (q312) — the CSV edge every real crawl
    * export hits: fields with embedded NEWLINES, QUOTES, and the
    * delimiter itself. A deterministic "tricky" derivation (spaces in the
    * first 100 chars become newlines, then a trailing `,"x` forces a
    * quote + comma) is written through Spark's quoting CSV writer and
    * read back with `multiLine=true`; the census digests the strings, so
    * a mis-split record, a lost quote, or an escape asymmetry breaks the
    * hash. The oracle derives the identical strings straight from the
    * table — no file I/O — which isolates the sink/source as the system
    * under test. Scale note: `multiLine` makes a CSV file non-splittable
    * (a record can straddle any offset), so the writer's task-per-
    * partition file layout IS the read parallelism — exactly how a
    * production pipeline keeps multiline CSV scans parallel. */
  def csvMultilineRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tricky = Tables.documents(spark, dir).select($"doc_id",
      concat(regexp_replace(substring($"text", 1, 100), " ", "\n"),
        lit(",\"x")).as("tricky"))
    val out = graft.Scratch.named(s"q312_${graft.Scratch.dirKey(dir)}")
      .resolve("csv").toString
    tricky.write.mode("overwrite").option("header", "true").csv(out)
    spark.read.option("header", "true").option("multiLine", "true")
      .schema(tricky.schema).csv(out)
      .groupBy(($"doc_id" % 4).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length($"tricky")).cast("long").as("total_len"),
        sum(conv(substring(md5($"tricky"), 1, 12), 16, 10).cast("long"))
          .as("content_sum48"))
  }

  /** Hive-partitioned parquet sink → PRUNED source round trip: documents
    * land partitioned by `lang` (writePartitionedParquet: one directory
    * per value, the lakehouse layout), and the read-back filters two
    * languages — a filter the v2 file source satisfies by LISTING only
    * those two directories (partition pruning; never opens the rest, the
    * property that makes partition columns the first-order I/O lever at
    * 100 TB — SourcesSpec asserts the pruned plan, this gate proves the
    * data that flows through it is intact). The oracle filters the
    * original table: equality = lossless layout + correct pruning. */
  def partitionedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val out = graft.Scratch.named(s"q136_${graft.Scratch.dirKey(dir)}").resolve("docs_bylang").toString
    Sources.writePartitionedParquet(docs, out, Seq("lang"))
    Sources.readParquet(spark, out)
      .filter($"lang".isin("en", "fr"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        countDistinct(md5($"text")).as("n_uniq_texts"))
  }

  /** XML sink → source round trip — the ARRIVAL format of crawl dumps and
    * feed exports (Spark 4's built-in xml source). Same aggregate contract
    * as [[jsonlRoundtrip]]: the md5-distinct column means any asymmetric
    * entity escaping or whitespace mangling in text content (`&amp;`,
    * `<`, newlines inside elements) breaks the hash. */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val out = graft.Scratch.named(s"q155_${graft.Scratch.dirKey(dir)}").resolve("docs_xml").toString
    Sources.writeXml(docs, out, rowTag = "doc")
    Sources.readXml(spark, out, docs.schema, rowTag = "doc")
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(length($"text")).cast("long").as("total_text_len"),
        countDistinct(md5($"text")).as("n_uniq_texts"))
  }

  /** ORC sink → source round trip (q191) — completes the oracle-gated
    * format surface (parquet/JSONL/CSV/XML/partitioned-parquet + the
    * second COLUMNAR format): same aggregate contract as
    * [[jsonlRoundtrip]]; ORC shares the v2 file-source pushdown/pruning
    * machinery with parquet, so a lossless round trip here carries every
    * scan optimization unchanged. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val out = graft.Scratch.named(s"q191_${graft.Scratch.dirKey(dir)}").resolve("docs_orc").toString
    Sources.writeOrc(docs, out)
    Sources.readOrc(spark, out)
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(length($"text")).cast("long").as("total_text_len"),
        countDistinct(md5($"text")).as("n_uniq_texts"))
  }

  /** BUCKETED-table join gate — the write-once/join-many co-location
    * lever promoted from spec-only (BucketingSpec) to the oracle: both
    * fact sides land as 8-bucket hash-bucketed sorted parquet on the join
    * key ([[graft.operators.Bucketing]]), and the fact-fact join + the
    * follow-on aggregation run off the bucket layout — at 100 TB this is
    * the plan with NO exchange on either join side (BucketingSpec asserts
    * exchange-freeness; this gate proves the bucketed files carry the
    * data intact). Monetary sum through DECIMAL(14,2) per the cross-engine
    * float rule.
    *
    * The bucketed tables are built ONCE per (JVM, dir) — bucketing is the
    * write-once/join-many contract by definition, so the gate times the
    * exchange-free join (its claim), not a per-pass table rebuild (the
    * r7 q153/q154 lesson applied here; catalog presence is re-checked so
    * a fresh session in the same JVM rebuilds). */
  private val bucketedBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def bucketedTables(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    bucketedBuilt.compute(dir, (_, prev) => {
      val sfx = graft.Scratch.dirKey(dir)
      val names = (s"li_bucketed_$sfx", s"or_bucketed_$sfx")
      if (prev != null && spark.catalog.tableExists(names._1)
          && spark.catalog.tableExists(names._2)) prev
      else {
        val scratch = graft.Scratch.named(s"q156_$sfx")
        Bucketing.writeBucketed(
          Tables.lineitem(spark, dir)
            .select($"l_orderkey", $"l_quantity", $"l_extendedprice"),
          names._1, "l_orderkey", 8, Some(scratch.resolve("li").toString))
        Bucketing.writeBucketed(
          Tables.orders(spark, dir)
            .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority"),
          names._2, "l_orderkey", 8, Some(scratch.resolve("or").toString))
        names
      }
    })
  }

  /** Month-partitioned fact + opaque month dim for the DPP gate (q183),
    * built once per (JVM, dir) like [[bucketedTables]]: lineitem lands
    * `partitionBy("ship_month")` (83 directories over the corpus's 7
    * shipped years), and the dim — every distinct month with its year as
    * a STORED column — is written to parquet and read back, so the optimizer
    * cannot statically derive `ship_month` from a `yr` predicate and
    * dynamic partition pruning is the only scan-killer available. */
  private def dppTables(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    graft.Derived("source.dppTables", dir) {
      val scratch = graft.Scratch.named(s"q183_${graft.Scratch.dirKey(dir)}")
      val factPath = scratch.resolve("li_bymonth").toString
      val dimPath = scratch.resolve("months").toString
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity", $"l_extendedprice",
          date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
      Sources.writePartitionedParquet(li, factPath, Seq("ship_month"))
      li.select($"ship_month").distinct()
        .withColumn("yr", substring($"ship_month", 1, 4))
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
      (factPath, dimPath)
    }
  }

  /** DYNAMIC PARTITION PRUNING gate (q183, VERDICT r9 #3) — the
    * scan-killer of the star-join at 100 TB, executed and oracle-gated:
    * the fact is month-partitioned parquet, the dim filter (`yr = 1996`)
    * sits on a column the fact knows nothing about, and the join key IS
    * the partition column — so at planning time no static prune exists,
    * and Spark inserts a `dynamicpruningexpression` on the fact scan that
    * reuses the dim's broadcast to enumerate the surviving months at
    * RUNTIME: 12 of 83 partition directories are read, the other 71
    * never open (DppSpec pins the executed-plan subquery node + the scan's
    * pruned partition count; this gate proves the rows that flow through
    * the pruned scan are intact). The oracle replays the equivalent
    * semantics on the raw table — every fact month exists in the dim, so
    * the star join ≡ a year filter. */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (factPath, dimPath) = dppTables(spark, dir)
    val fact = Sources.readParquet(spark, factPath)
    val dim = Sources.readParquet(spark, dimPath).filter($"yr" === "1996")
    fact.join(broadcast(dim), Seq("ship_month"))
      .groupBy($"ship_month")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("decimal(14,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(14,2)")).cast("double").as("sum_price"))
  }

  /** Two-generation evolved layout for q189, built once per (JVM, dir):
    * generation 1 written by an "old" writer (doc_id, text, lang only);
    * generation 2 by a "new" writer that added `source` and `n_chars`. */
  private def evolvedLayout(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    graft.Derived("source.evolvedLayout", dir) {
      val out = graft.Scratch.named(s"q189_${graft.Scratch.dirKey(dir)}")
        .resolve("docs_evolved").toString
      val docs = Tables.documents(spark, dir)
      docs.filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"text", $"lang")
        .write.mode("overwrite").parquet(s"$out/gen=1")
      docs.filter($"doc_id" % 2 =!= 0)
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .write.mode("overwrite").parquet(s"$out/gen=2")
      out
    }
  }

  /** SCHEMA-EVOLUTION read gate (q189) — the lakehouse fact of life every
    * long-lived corpus hits: half the files were written before the table
    * grew `source`/`n_chars` columns. `mergeSchema` unions the footers at
    * planning time, old files surface the new columns as NULL, and the
    * aggregate coalesces them (`__pre_evolution__` / 0) — so the gate
    * proves BOTH that no column of either generation is lost and that
    * missing-column nulls flow through aggregation exactly as the oracle's
    * CASE on the raw table predicts. Planning-time footer union: per-file
    * schema reconciliation is metadata work, the scan itself stays one
    * distributed pass — the posture that matters when a 100 TB table has
    * five writer generations. */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = evolvedLayout(spark, dir)
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce($"source", lit("__pre_evolution__")).as("source"), $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"n_chars", lit(0L))).as("total_chars"),
        countDistinct(md5($"text")).as("n_uniq_texts"))
  }

  /** Sorted-vs-scrambled lineitem pair for the q202 row-group-skipping
    * gate, built once per (JVM, dir): the SAME projection written twice
    * into single files with deliberately small row groups (64 KiB block
    * size → many footer min/max entries per file) — once clustered by
    * `ship_day` (every row group covers a narrow date slice) and once
    * deterministically scrambled by a hash (every row group spans the full
    * seven-year range, so min/max stats can never exclude it). */
  private[graft] def skipLayouts(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    graft.Derived("source.skipLayouts", dir) {
      val scratch = graft.Scratch.named(s"q202_${graft.Scratch.dirKey(dir)}")
      val sortedPath = scratch.resolve("li_sorted").toString
      val scrambledPath = scratch.resolve("li_scrambled").toString
      val li = Tables.lineitem(spark, dir)
        .select(to_date($"l_shipdate").as("ship_day"),
          $"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
        df.repartition(1)
          .write.mode("overwrite")
          .option("parquet.block.size", (64 * 1024).toString)
          .parquet(path)
      write(li.sortWithinPartitions($"ship_day"), sortedPath)
      write(li.sortWithinPartitions(md5(concat_ws("|",
        $"l_orderkey", $"l_linenumber"))), scrambledPath)
      (sortedPath, scrambledPath)
    }
  }

  /** ROW-GROUP DATA SKIPPING gate (q202, VERDICT r10 #3) — the scan-killer
    * BELOW directory level: q183 proves partition directories prune; this
    * proves parquet footer min/max statistics prune row groups INSIDE a
    * file, and that they only do so when the layout earns it — the reason
    * OPTIMIZE/ZORDER (q109) exists at all. The same selective one-month
    * aggregate runs over [[skipLayouts]]' two physically different copies
    * of identical data; both must return identical, oracle-exact numbers
    * (skipping may never change results), while the executed scans' row
    * counts prove the physical claim: the date-clustered copy materializes
    * only the row groups whose [min,max] overlaps March 1998, the
    * scrambled copy decodes every group because every group's range spans
    * the full corpus. The gate `require`s the measured ratio (clustered
    * scan ≤ half the scrambled scan's rows — in practice ~30×) so a
    * regression in pushdown (filter not reaching the scan, stats not
    * written, predicate type mismatch) aborts the query rather than
    * silently reverting to full scans. LayoutSpec's q202 case pins the
    * exact metric shape. */
  def rowGroupSkipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (sortedPath, scrambledPath) = skipLayouts(spark, dir)
    val pred = $"ship_day" >= lit(java.sql.Date.valueOf("1998-03-01")) &&
      $"ship_day" <= lit(java.sql.Date.valueOf("1998-03-31"))
    def run(path: String): (Long, Long, Double, Double) = {
      val df = spark.read.parquet(path).filter(pred)
        .agg(count(lit(1)).as("n_rows"),
          sum($"l_quantity".cast("decimal(14,2)")).cast("double").as("sum_qty"),
          sum($"l_extendedprice".cast("decimal(14,2)")).cast("double").as("sum_price"))
      val r = df.collect().head
      (scanOutputRows(df, path), r.getLong(0), r.getDouble(1), r.getDouble(2))
    }
    val (sortedScan, n1, q1, p1) = run(sortedPath)
    val (scrambledScan, n2, q2, p2) = run(scrambledPath)
    require(n1 == n2 && q1 == q2 && p1 == p2,
      s"layout changed results: ($n1,$q1,$p1) vs ($n2,$q2,$p2)")
    require(sortedScan * 2 <= scrambledScan,
      s"row-group skipping regressed: clustered scan materialized " +
        s"$sortedScan rows vs $scrambledScan unclustered — footer stats " +
        "are not pruning")
    Seq(("scrambled", n2, q2, p2), ("sorted", n1, q1, p1))
      .toDF("layout", "n_rows", "sum_qty", "sum_price")
  }

  /** Sum of the executed plan's FileSourceScanExec output-row metrics for
    * scans rooted at `path` — rows MATERIALIZED from parquet after
    * row-group/page pruning (pushed predicates prune whole groups; rows of
    * surviving groups all surface and the post-scan Filter re-applies),
    * which is exactly the data-skipping observable. AQE wraps stages in
    * leaf nodes, so the walk descends explicitly (the DppSpec pattern). */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame,
      path: String): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans) ++
        other.subqueries.flatMap(allScans)
    }
    val scans = allScans(df.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains(
        new java.io.File(path).getName)))
    require(scans.nonEmpty, s"no FileSourceScanExec over $path in the executed plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  /** Range-clustered multi-file lineitem copy + its zone-map manifest for
    * q229, built once per (JVM, dir). The data dir holds 24 range slices
    * of `ship_day` (each FILE covers a narrow contiguous date band — the
    * layout OPTIMIZE/range-cluster produces); the manifest is the
    * file-statistics TABLE a lakehouse log keeps (file_path, min/max
    * ship_day, n_rows), derived in one scan via `_metadata.file_path` and
    * persisted as parquet — stats live beside the data, not in it. */
  private[graft] def zoneMapLayout(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    graft.Derived("source.zoneMapLayout", dir) {
      val scratch = graft.Scratch.named(s"q229_${graft.Scratch.dirKey(dir)}")
      val dataPath = scratch.resolve("li_zones").toString
      val statsPath = scratch.resolve("li_zonemap").toString
      Tables.lineitem(spark, dir)
        .select(to_date($"l_shipdate").as("ship_day"),
          $"l_returnflag", $"l_quantity", $"l_extendedprice")
        .repartitionByRange(24, $"ship_day")
        .write.mode("overwrite").parquet(dataPath)
      spark.read.parquet(dataPath)
        .groupBy(col("_metadata.file_path").as("file_path"))
        .agg(min($"ship_day").as("min_day"), max($"ship_day").as("max_day"),
          count(lit(1)).as("n_rows"))
        .write.mode("overwrite").parquet(statsPath)
      (dataPath, statsPath)
    }
  }

  /** ZONE-MAP FILE PRUNING (q229) — data skipping one level ABOVE q202's
    * row groups: an EXTERNAL file-statistics manifest (the Delta/Iceberg
    * scan-planning model) decides which files a selective query opens at
    * all, without touching a single data footer. Planning reads only the
    * manifest (O(files) rows — here 24; at 100 TB still just one row per
    * file, the table the transaction log already maintains), keeps the
    * files whose [min_day, max_day] band overlaps the probe month, and
    * the collected path list (bounded by file count, the documented O(k)
    * driver state) becomes the scan's input — a 1998-vintage query never
    * opens a 1995 file. The `require` pins the physical claim (≤ a
    * quarter of the files survive planning; in practice 1-2 of 24); the
    * oracle computes the same month aggregate from the raw table, so a
    * manifest that lies (stale stats, an off-by-one band compare dropping
    * a boundary file) breaks the hash, not just the speed. */
  def zoneMapPrunedScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (dataPath, statsPath) = zoneMapLayout(spark, dir)
    val lo = java.sql.Date.valueOf("1997-06-01")
    val hi = java.sql.Date.valueOf("1997-06-30")
    val manifest = spark.read.parquet(statsPath)
    val totalFiles = manifest.count()
    val selected = manifest
      .filter($"max_day" >= lit(lo) && $"min_day" <= lit(hi))
      .select($"file_path").collect().map(_.getString(0))
    require(selected.nonEmpty && selected.length * 4 <= totalFiles,
      s"zone-map pruning regressed: ${selected.length} of $totalFiles " +
        "files survive a one-month probe — the manifest is not selective")
    spark.read.parquet(selected.toIndexedSeq: _*)
      .filter($"ship_day" >= lit(lo) && $"ship_day" <= lit(hi))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("decimal(14,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(14,2)")).cast("double").as("sum_price"))
  }

  /** Immutable multi-file documents base + a POSITIONAL delete vector for
    * q230, built once per (JVM, dir). The delete files carry (file_path,
    * row_index) ONLY — no logical key — exactly what an Iceberg/Delta
    * merge-on-read writer emits: deleting is writing a tiny side file,
    * never rewriting a data file. The vector is derived by one metadata
    * scan of the base (`_metadata.file_path` / `_metadata.row_index`) and
    * the doc_id is dropped on purpose; a reader that can't reproduce the
    * same positions cannot reconstruct the table. */
  private[graft] def morLayout(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    graft.Derived("source.morLayout", dir) {
      val scratch = graft.Scratch.named(s"q230_${graft.Scratch.dirKey(dir)}")
      val basePath = scratch.resolve("docs_base").toString
      val delPath = scratch.resolve("docs_deletes").toString
      Tables.documents(spark, dir)
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .repartition(8, $"doc_id")
        .write.mode("overwrite").parquet(basePath)
      spark.read.parquet(basePath)
        .filter($"doc_id" % 7 === 3)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("row_index"))
        .write.mode("overwrite").parquet(delPath)
      (basePath, delPath)
    }
  }

  /** MERGE-ON-READ POSITIONAL DELETES (q230) — the OTHER half of the
    * lakehouse mutation model: q205/q211 are copy-on-write (a delete
    * rewrites its bucket), this is merge-on-read (a delete writes a
    * (file, position) side file and the READER subtracts it) — the shape
    * every high-churn 100 TB table uses because rewriting a 1 GB file to
    * drop 3 rows doesn't scale. The gate runs the MOR read path: scan the
    * immutable base with its metadata columns, broadcast-anti-join the
    * positional vector on (file_path, row_index) — the vector is tiny by
    * construction, so applying deletes costs no shuffle of the fact side —
    * and census what survives. Correctness hangs on parquet's stable
    * in-file row order (position N at delete-write time is position N at
    * read time); the oracle applies the delete PREDICATE logically to the
    * raw table, so any positional drift (wrong row dropped, an off-by-one,
    * a reordered scan) changes the content digests and breaks the hash.
    * The `require` pins the physical claim: not one base data file was
    * rewritten by the delete. */
  def morPositionalDeletes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (basePath, delPath) = morLayout(spark, dir)
    val dataFiles = new java.io.File(basePath).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    require(dataFiles.length == 8 && dataFiles.forall(_.length > 0),
      s"merge-on-read base drifted: ${dataFiles.length} data files — " +
        "a delete must never rewrite the base layout")
    val base = spark.read.parquet(basePath)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars",
        col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("row_index"))
    val deletes = spark.read.parquet(delPath)
    base.join(broadcast(deletes), Seq("file_path", "row_index"), "left_anti")
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        countDistinct(md5($"text")).as("n_uniq_texts"))
  }

  // ------------------------------------------------------------------
  // q205/q206: copy-on-write MERGE + snapshot reads over a generation-
  // pointer table (the q153/q180 `_CURRENT` machinery applied to DATA)
  // ------------------------------------------------------------------

  private val MergeBuckets = 16

  /** Generation-pointer root holding gen-000001 = customer, bucket-
    * partitioned by `c_custkey % 16`, built once per (JVM, dir). The
    * bucket IS the copy-on-write unit: an upsert rewrites only the bucket
    * directories its keys land in. */
  private def mergeRoot(spark: SparkSession, dir: String): String =
    mergeRootTagged(spark, dir, "q205")

  /** One bucketed generation-root per (dir, tag): q205/q206/q207/q209
    * share the "q205" root; the delete-carrying merge (q211/q212) gets
    * its own — its published generations would otherwise change what
    * `_CURRENT` means for the upsert-only oracles. */
  private def mergeRootTagged(spark: SparkSession, dir: String,
      tag: String): String =
    graft.Derived("source.mergeRoot", s"$dir#$tag") {
      import spark.implicits._
      val root = graft.Scratch.named(s"${tag}_${graft.Scratch.dirKey(dir)}").toString
      val gen = graft.operators.Ann.nextGenerationName(spark, root)
      Tables.customer(spark, dir)
        .withColumn("bucket", pmod($"c_custkey", lit(MergeBuckets)).cast("int"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$root/$gen")
      graft.operators.Ann.publishGeneration(spark, root, gen)
      root
    }

  /** The deterministic upsert delta: UPDATES (+100.00 to every account in
    * bucket 3) and INSERTS (bucket-7 keys re-keyed +1,000,000 — exactly
    * divisible by 16, so the inserts land back in bucket 7). Touches 2 of
    * 16 buckets by construction. */
  private def mergeDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    c.filter(pmod($"c_custkey", lit(MergeBuckets)) === 3)
      .withColumn("c_acctbal", $"c_acctbal" + lit(100.0))
      .unionByName(
        c.filter(pmod($"c_custkey", lit(MergeBuckets)) === 7)
          .withColumn("c_custkey", $"c_custkey" + lit(1000000L)))
  }

  /** COPY-ON-WRITE MERGE (q205) — the keyed-upsert maintenance op (MERGE
    * INTO semantics: update matched keys, insert new ones) executed the
    * way a 100 TB table must run it: the delta's keys are hashed to their
    * buckets, ONLY those bucket directories are rewritten
    * (anti-join out replaced keys, union the delta), every untouched
    * bucket rides into the new generation as a REFERENCE (symlink here —
    * the manifest-reuse model: no byte of the other 14/16 of the table is
    * read or written), and the `_CURRENT` pointer flips atomically last
    * (readers see the old or new snapshot, never a mix). The merge runs
    * inside the gate — it IS the timed claim — against the memoized base
    * generation, re-deriving CURRENT from gen-000001 each time
    * (idempotent; repeat invocations publish identical snapshots). The
    * oracle replays MERGE semantics over the raw table, so a lost update,
    * double-applied delta, or leaked old-version row breaks the hash; the
    * `require` pins the physical COW claim (2 of 16 buckets rewritten). */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val root = mergeRoot(spark, dir)
    cowMerge(spark, root, mergeDelta(spark, dir),
      deleteKeys = None, expectTouched = 2)
    mergedSummary(spark.read.parquet(
      graft.operators.Ann.currentGenerationPath(spark, root)))
  }

  /** The copy-on-write MERGE engine behind q205 and q211: `upserts`
    * replace matched keys / insert unmatched ones, `deleteKeys` vanish.
    * Only the union of the delta's buckets is rewritten (survivors =
    * touched-bucket rows anti-joined against EVERY delta key, unioned
    * with the upsert rows); every untouched bucket rides into the new
    * generation as a reference; the pointer flips last. */
  private def cowMerge(spark: SparkSession, root: String, upserts: DataFrame,
      deleteKeys: Option[DataFrame], expectTouched: Int,
      evolveSchema: Boolean = false): Unit = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val baseGen = s"$root/gen-000001"
    val up = upserts
      .withColumn("bucket", pmod($"c_custkey", lit(MergeBuckets)).cast("int"))
    val delKeys = deleteKeys.map(_.select($"c_custkey"))
      .getOrElse(spark.emptyDataset[Long].toDF("c_custkey"))
    val allKeys = up.select($"c_custkey").unionByName(delKeys)
      .withColumn("bucket", pmod($"c_custkey", lit(MergeBuckets)).cast("int"))
    val touched = allKeys.select($"bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    val gen = graft.operators.Ann.nextGenerationName(spark, root)
    val genPath = Paths.get(root, gen)
    Files.createDirectories(genPath)
    val base = spark.read.parquet(baseGen)
      .filter($"bucket".isin(touched.map(Int.box): _*))
    val rewritten = base
      .join(allKeys.select($"c_custkey"), Seq("c_custkey"), "left_anti")
      .unionByName(up, allowMissingColumns = evolveSchema)
    rewritten.write.mode("overwrite").partitionBy("bucket")
      .parquet(genPath.toString)
    // untouched buckets: referenced, never copied
    var linked = 0
    (0 until MergeBuckets).filterNot(touched.contains).foreach { b =>
      val link = genPath.resolve(s"bucket=$b")
      if (!Files.exists(link)) {
        Files.createSymbolicLink(link, Paths.get(baseGen, s"bucket=$b"))
        linked += 1
      }
    }
    require(touched.length == expectTouched &&
      linked == MergeBuckets - expectTouched,
      s"copy-on-write drifted: rewrote ${touched.length} buckets, " +
        s"linked $linked — the merge is no longer partial")
    graft.operators.Ann.publishGeneration(spark, root, gen)
  }

  /** MERGE WITH DELETES (q211) — the third verb of MERGE INTO, on its own
    * generation root so the upsert-only oracles (q205-q207/q209) keep
    * their `_CURRENT`: the combined delta updates bucket 3, inserts into
    * bucket 7, and DELETES every bucket-11 key — three buckets rewritten,
    * thirteen referenced. Deletion is just "anti-joined out and not
    * re-added", which is why it rides the same [[cowMerge]] engine; what
    * it breaks is downstream: a deleted key may carry a group's MAX, so
    * q209's retraction shortcut no longer applies (the oracle-checked
    * summary here recomputes from the merged table — the documented
    * recompute-on-delete fallback), and the CDC diff (q212) must report
    * `removed`. */
  def mergeDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = mergeRootTagged(spark, dir, "q211")
    val dels = Tables.customer(spark, dir)
      .filter(pmod($"c_custkey", lit(MergeBuckets)) === 11)
      .select($"c_custkey")
    cowMerge(spark, root, mergeDelta(spark, dir),
      deleteKeys = Some(dels), expectTouched = 3)
    mergedSummary(spark.read.parquet(
      graft.operators.Ann.currentGenerationPath(spark, root)))
  }

  /** SNAPSHOT METADATA TABLE (q241) — the `DESCRIBE SNAPSHOT` / files-
    * introspection surface every lakehouse exposes (Delta's DESCRIBE
    * HISTORY, Iceberg's metadata tables), over the q205 generation root:
    * for the base generation and for `_CURRENT`, how many bucket
    * directories are MATERIALIZED data vs borrowed REFERENCES (the
    * symlink census is the physical copy-on-write audit — 16/0 for the
    * base, 2/14 for any partial merge), whether the pointer names it,
    * and the distributed row count. Run-count independence by design:
    * repeated merges mint new generations but every partial merge has
    * the same shape, and the gate reads only the two stable snapshots —
    * so the report is deterministic however many times the engine ran.
    * The oracle derives both rows from the raw table and the delta rule;
    * a pointer pointing at a half-written generation, a reference
    * mis-census, or a leaked row breaks it. */
  def snapshotMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = mergeRoot(spark, dir)
    if (graft.operators.Ann.currentGenerationPath(spark, root)
        .endsWith("gen-000001")) mergeUpsert(spark, dir): Unit
    val current = graft.operators.Ann.currentGenerationPath(spark, root)
    def describe(label: String, path: String): DataFrame = {
      val buckets = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("bucket="))
      val (refs, mats) = buckets.partition(f =>
        Files.isSymbolicLink(Paths.get(f.getPath)))
      val n = spark.read.parquet(path).count()
      Seq((label, mats.length, refs.length, n, path == current))
        .toDF("snapshot", "n_buckets_materialized", "n_buckets_referenced",
          "n_rows", "is_current")
    }
    describe("base", s"$root/gen-000001")
      .unionByName(describe("current", current))
  }

  /** q316 fixture: a generation root with one PUBLISHED generation (the
    * customer table, `_CURRENT` → gen-000001), one STAGED-never-published
    * generation (the `c_custkey % 10 = 0` slice — a writer that died
    * before publish), and one STRAY temp file at the root (an aborted
    * task's leftover, 25 nation rows). Built once per (JVM, dir). */
  private def orphanRoot(spark: SparkSession, dir: String): String =
    graft.Derived("source.orphanRoot", dir) {
      import org.apache.spark.sql.functions.col
      val root = graft.Scratch.named(s"q316_${graft.Scratch.dirKey(dir)}").toString
      val cust = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      cust.write.mode("overwrite").parquet(s"$root/gen-000001")
      graft.operators.Ann.publishGeneration(spark, root, "gen-000001")
      cust.filter(col("c_custkey") % 10 === 0)
        .write.mode("overwrite").parquet(s"$root/gen-000002")
      Tables.nation(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/_tmp_orphan.parquet")
      root
    }

  /** ORPHAN-FILE AUDIT (q316) — the reconciliation pass that must run
    * BEFORE any vacuum deletes (q213 reclaims what this report flags):
    * walk the table root and classify every entry against the snapshot
    * pointer — `published` (reachable from `_CURRENT`), `staged` (a
    * gen-* directory no pointer ever blessed: a crashed writer or a
    * failed q242 audit candidate), `stray` (anything else: aborted-task
    * temp files). Each class reports entry and row counts — the row
    * counts come from READING the orphaned files, so the oracle (which
    * recomputes them from the source tables) proves the audit looked at
    * the right bytes, not just the right names. The listing is
    * O(entries-at-root) driver metadata — the same cost class as the
    * pointer reads every generation op already does.
    *
    * The entries have different schemas, and counting needs none: each is
    * read with the empty schema (no schema-inference job), tagged with its
    * name, and one grouped count over the union counts every entry's rows
    * in ONE job — a read + count per entry ran two jobs each. */
  def orphanFileAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = orphanRoot(spark, dir)
    val current = graft.operators.Ann.currentGeneration(spark, root)
    val entries = new java.io.File(root).listFiles().toSeq
      .filter(_.getName != "_CURRENT")
    val counts = entries
      .map(f => spark.read.schema(new org.apache.spark.sql.types.StructType())
        .parquet(f.getPath).select(lit(f.getName).as("entry")))
      .reduce(_ union _)
      .groupBy($"entry").count()
      .as[(String, Long)].collect().toMap
    val rows = entries.map { f =>
      val cls =
        if (f.getName.startsWith("gen-") && current.contains(f.getName))
          "published"
        else if (f.getName.startsWith("gen-")) "staged"
        else "stray"
      (cls, counts.getOrElse(f.getName, 0L))
    }
    rows.toDF("entry_class", "n_rows")
      .groupBy($"entry_class")
      .agg(count(lit(1)).as("n_entries"), sum($"n_rows").as("n_rows"))
  }

  private def wapRoot(spark: SparkSession, dir: String): String =
    graft.Derived("source.wapRoot", dir) {
      val root = graft.Scratch.named(s"q242_${graft.Scratch.dirKey(dir)}").toString
      val gen = graft.operators.Ann.nextGenerationName(spark, root)
      Tables.customer(spark, dir)
        .select(org.apache.spark.sql.functions.col("c_custkey"),
          org.apache.spark.sql.functions.col("c_mktsegment"),
          org.apache.spark.sql.functions.col("c_acctbal"))
        .write.mode("overwrite").parquet(s"$root/$gen")
      graft.operators.Ann.publishGeneration(spark, root, gen)
      root
    }

  /** WRITE-AUDIT-PUBLISH (q242) — the governance contract on top of the
    * snapshot model (Iceberg's WAP / staging-branch pattern): a writer
    * STAGES a candidate generation (files on disk, pointer untouched),
    * an AUDIT runs q232-style declared constraints against WHAT WAS
    * ACTUALLY WRITTEN (read back from the staged files — never against
    * the dataframe the writer intended to write), and only a passing
    * audit flips `_CURRENT`; a failing candidate stays quarantined on
    * disk, invisible to every reader. The gate drives both paths: a BAD
    * candidate (bucket-9 rows duplicated with a NULLed segment — key
    * uniqueness and completeness both violated) that must NOT publish,
    * then a GOOD candidate (the q205 upsert semantics) that must; the
    * closing `require` proves the pointer serves exactly the good
    * snapshot's rows. Readers meanwhile only ever saw published
    * generations — the whole point of WAP at 100 TB, where a bad load
    * must cost a quarantined directory, not a restore. The oracle
    * derives every audit counter and verdict from the delta rules. */
  def writeAuditPublish(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = wapRoot(spark, dir)
    val base = spark.read.parquet(s"$root/gen-000001")
    val bad = base.unionByName(
      base.filter(pmod($"c_custkey", lit(16)) === 9)
        .withColumn("c_mktsegment", lit(null).cast("string")))
    val good = base
      .withColumn("c_acctbal",
        when(pmod($"c_custkey", lit(16)) === 3, $"c_acctbal" + lit(100.0))
          .otherwise($"c_acctbal"))
      .unionByName(base.filter(pmod($"c_custkey", lit(16)) === 7)
        .withColumn("c_custkey", $"c_custkey" + lit(1000000L)))
    def stageAuditPublish(label: String, cand: DataFrame): DataFrame = {
      val gen = graft.operators.Ann.nextGenerationName(spark, root)
      cand.write.mode("overwrite").parquet(s"$root/$gen")
      val staged = spark.read.parquet(s"$root/$gen")
      val a = staged.agg(count(lit(1)).as("n_rows"),
        sum(when($"c_mktsegment".isNull, 1L).otherwise(0L)).as("n_null_segment"),
        (count(lit(1)) - countDistinct($"c_custkey")).as("n_dup_rows"))
        .collect().head
      val pass = a.getLong(1) == 0L && a.getLong(2) == 0L
      if (pass) graft.operators.Ann.publishGeneration(spark, root, gen)
      Seq((label, a.getLong(0), a.getLong(1), a.getLong(2),
        if (pass) "pass" else "fail", pass))
        .toDF("candidate", "n_rows", "n_null_segment", "n_dup_rows",
          "audit_status", "published")
    }
    val out = stageAuditPublish("bad", bad)
      .unionByName(stageAuditPublish("good", good))
    val served = spark.read.parquet(
      graft.operators.Ann.currentGenerationPath(spark, root)).count()
    val expected = base.count() +
      base.filter(pmod($"c_custkey", lit(16)) === 7).count()
    require(served == expected,
      s"WAP published the wrong snapshot: readers see $served rows, " +
        s"the good candidate carries $expected")
    out
  }

  /** THREE-WAY BRANCH MERGE (q231) — git-for-data on top of the snapshot
    * model: two writers branch from the same base snapshot, each produces
    * its own delta (the CDC diff q207 would extract from its branch), and
    * the merge reconciles BOTH deltas against the common ancestor — the
    * concurrent-writer story every multi-team 100 TB table eventually
    * needs. The algebra is one full-outer join of the two deltas on the
    * key: a key touched by one branch applies directly; a key touched by
    * both is a CONFLICT, classified update-update (resolved here
    * branch-B-wins, the documented last-writer rule) or delete-vs-update
    * (resolved update-wins — the row is resurrected), and the conflict
    * census rides the result so a merge is auditable, never silent.
    * Branch A updates buckets 3 and 5, deletes bucket 13, inserts re-keyed
    * bucket-1 copies; branch B updates buckets 5, 7 and 13 and inserts
    * re-keyed bucket-2 copies — so bucket 5 is the update-update conflict
    * and bucket 13 the delete-vs-update. Scale shape: deltas are
    * delta-sized (broadcastable), the base is touched by ONE anti-join on
    * the resolved key set; the base fact data is never rescanned per
    * branch. The oracle replays resolution by rule on the raw table —
    * a lost branch, double-applied delta, or misresolved conflict breaks
    * the segment cents. */
  def branchMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
    def m16(k: Int) = pmod($"c_custkey", lit(16)) === k
    def upd(k: Int, add: Double) = c.filter(m16(k))
      .select($"c_custkey", lit("U").as("op"), $"c_mktsegment",
        ($"c_acctbal" + lit(add)).as("bal"))
    def ins(k: Int, shift: Long) = c.filter(m16(k))
      .select(($"c_custkey" + lit(shift)).as("c_custkey"), lit("I").as("op"),
        $"c_mktsegment", $"c_acctbal".as("bal"))
    def del(k: Int) = c.filter(m16(k))
      .select($"c_custkey", lit("D").as("op"), $"c_mktsegment",
        lit(null).cast("double").as("bal"))
    val deltaA = upd(3, 100.0).unionByName(upd(5, 25.0))
      .unionByName(del(13)).unionByName(ins(1, 1000000L))
    val deltaB = upd(5, 200.0).unionByName(upd(7, 75.0))
      .unionByName(upd(13, 50.0)).unionByName(ins(2, 2000000L))
    val both = deltaA.select($"c_custkey", $"op".as("op_a"),
        $"c_mktsegment".as("seg_a"), $"bal".as("bal_a"))
      .join(deltaB.select($"c_custkey", $"op".as("op_b"),
        $"c_mktsegment".as("seg_b"), $"bal".as("bal_b")),
        Seq("c_custkey"), "full_outer")
    val resolved = both.select($"c_custkey",
      coalesce($"seg_b", $"seg_a").as("c_mktsegment"),
      // both branches touched the key: B's op wins update-update (last
      // writer) and delete-vs-update (the update resurrects the row);
      // otherwise whichever branch spoke
      when($"op_a".isNotNull && $"op_b".isNotNull, $"op_b")
        .otherwise(coalesce($"op_b", $"op_a")).as("op"),
      when($"op_a".isNotNull && $"op_b".isNotNull, $"bal_b")
        .otherwise(coalesce($"bal_b", $"bal_a")).as("bal"),
      when($"op_a" === "U" && $"op_b" === "U", 1L).otherwise(0L).as("uu"),
      when($"op_a" === "D" && $"op_b" === "U", 1L).otherwise(0L).as("du"))
    val survivors = c
      .join(resolved.select($"c_custkey"), Seq("c_custkey"), "left_anti")
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal".as("bal"))
    val merged = survivors.unionByName(
      resolved.filter($"op" =!= "D")
        .select($"c_custkey", $"c_mktsegment", $"bal"))
    val summary = merged.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(($"bal".cast("decimal(14,2)") * 100).cast("long")).as("total_cents"))
    val conflicts = resolved.groupBy($"c_mktsegment")
      .agg(sum($"uu").as("n_uu"), sum($"du").as("n_du"))
    summary.join(conflicts, Seq("c_mktsegment"), "left")
      .select($"c_mktsegment", $"n_customers", $"total_cents",
        coalesce($"n_uu", lit(0L)).as("n_uu_conflicts"),
        coalesce($"n_du", lit(0L)).as("n_du_conflicts"))
  }

  /** SNAPSHOT READS across generations (q206) — the time-travel contract
    * the pointer machinery exists for: after q205's merge, gen-000001
    * must still read back EXACTLY as the pre-merge table (no upsert may
    * disturb a published snapshot) while `_CURRENT` serves the merged
    * view — both snapshots summarized side by side, labeled, in one
    * result. The oracle computes both states from the raw table, so a
    * mutated old generation (the classic in-place-update bug) or a stale
    * pointer breaks the hash. */
  def snapshotRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = mergeRoot(spark, dir)
    // ensure the merged generation exists (idempotent; memoized base)
    if (graft.operators.Ann.currentGenerationPath(spark, root)
        .endsWith("gen-000001")) mergeUpsert(spark, dir): Unit
    val asOfBase = mergedSummary(spark.read.parquet(s"$root/gen-000001"))
      .withColumn("snapshot", lit("base"))
    val current = mergedSummary(spark.read.parquet(
      graft.operators.Ann.currentGenerationPath(spark, root)))
      .withColumn("snapshot", lit("current"))
    asOfBase.unionByName(current)
      .select($"snapshot", $"c_mktsegment", $"n_customers", $"total_cents",
        $"n_inserted", $"max_custkey")
  }

  /** CDC SNAPSHOT DIFF (q207) — change-data-capture between two published
    * generations, the audit a downstream consumer runs to see what an
    * upsert actually did: full-outer join of gen-000001 against `_CURRENT`
    * on the key, each row classified added / removed / changed / unchanged
    * by presence and an exact-cents value compare, then a (segment,
    * status) census. One key-partitioned shuffle join — at 100 TB both
    * sides are bucket-partitioned on the same key, so the join co-locates
    * per bucket and untouched buckets compare file-identical data. The
    * oracle derives the same census from the delta RULE on the raw table
    * (bucket-3 keys changed, re-keyed bucket-7 keys added, rest
    * unchanged), so a merge that leaked, dropped, or double-applied a row
    * surfaces as a misclassified status. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val root = mergeRoot(spark, dir)
    if (graft.operators.Ann.currentGenerationPath(spark, root)
        .endsWith("gen-000001")) mergeUpsert(spark, dir): Unit
    diffGenerations(spark, root)
  }

  /** CDC WITH REMOVALS (q212) — q207's diff over the delete-carrying
    * q211 root: the `removed` branch (a key present in the base snapshot
    * and absent from `_CURRENT`) must fire for exactly the bucket-11
    * population and nothing else — the full change-capture alphabet in
    * one census. */
  def cdcWithDeletes(spark: SparkSession, dir: String): DataFrame = {
    val root = mergeRootTagged(spark, dir, "q211")
    if (graft.operators.Ann.currentGenerationPath(spark, root)
        .endsWith("gen-000001")) mergeDelete(spark, dir): Unit
    diffGenerations(spark, root)
  }

  /** gen-000001 vs `_CURRENT`, classified per key by presence + an
    * exact-cents compare (shared by q207/q212). */
  private def diffGenerations(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    def state(path: String, side: String): DataFrame =
      spark.read.parquet(path)
        .select($"c_custkey", $"c_mktsegment".as(s"seg_$side"),
          (col("c_acctbal").cast("decimal(14,2)") * 100).cast("long")
            .as(s"cents_$side"))
    val a = state(s"$root/gen-000001", "a")
    val b = state(graft.operators.Ann.currentGenerationPath(spark, root), "b")
    a.join(b, Seq("c_custkey"), "full_outer")
      .select(coalesce($"seg_b", $"seg_a").as("c_mktsegment"),
        when($"cents_a".isNull, "added")
          .when($"cents_b".isNull, "removed")
          .when($"cents_a" =!= $"cents_b", "changed")
          .otherwise("unchanged").as("status"))
      .groupBy($"c_mktsegment", $"status")
      .agg(count(lit(1)).as("n_rows"))
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE (q209) — the materialized-view
    * delta-update a 100 TB ETL runs instead of recomputing: starting from
    * the BASE generation's per-segment summary, apply the upsert delta as
    * retractions + additions — fetch the OLD versions of matched keys
    * (one key join against the base), subtract their contribution, add
    * the delta rows' — and the result must equal the full aggregate of
    * the merged table (q205's oracle, shared on purpose: same final
    * state, incremental path). Per aggregate: counts cancel for updates
    * and grow for inserts; sums ride exact cents retraction; max is
    * monotone under insert/update (no deletes in this delta — a delete
    * would force the non-retractable max to recompute its group, the
    * documented limit of the method). Scale shape: the summary table is
    * O(segments); the delta passes are O(|delta|) with one broadcast-key
    * join — the whole maintenance never rescans the base fact data. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = mergeRoot(spark, dir)
    val gen1 = spark.read.parquet(s"$root/gen-000001")
    val base = mergedSummary(gen1)
    val delta = mergeDelta(spark, dir)
    // retractions: the base versions of every key the delta replaces
    val olds = gen1.join(delta.select($"c_custkey"), Seq("c_custkey"))
    def cents(df: DataFrame) = df.select($"c_mktsegment",
      (col("c_acctbal").cast("decimal(14,2)") * 100).cast("long").as("cents"),
      $"c_custkey")
    val retract = cents(olds).groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("r_n"), sum($"cents").as("r_cents"))
    val add = cents(delta).groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("a_n"), sum($"cents").as("a_cents"),
        sum(when($"c_custkey" >= 1000000L, 1L).otherwise(0L)).as("a_ins"),
        max($"c_custkey").as("a_max"))
    base
      .join(retract, Seq("c_mktsegment"), "left")
      .join(add, Seq("c_mktsegment"), "left")
      .select($"c_mktsegment",
        ($"n_customers" + coalesce($"a_n", lit(0L))
          - coalesce($"r_n", lit(0L))).as("n_customers"),
        ($"total_cents" + coalesce($"a_cents", lit(0L))
          - coalesce($"r_cents", lit(0L))).as("total_cents"),
        ($"n_inserted" + coalesce($"a_ins", lit(0L))).as("n_inserted"),
        greatest($"max_custkey", coalesce($"a_max", $"max_custkey"))
          .as("max_custkey"))
  }

  /** GENERATION VACUUM with reference reachability — the GC that
    * reference-based copy-on-write makes subtle: a COW generation
    * borrowed bucket directories from an ancestor, so "delete everything
    * but the newest k" would tear files out from under a LIVE snapshot.
    * Retention therefore starts from the newest `keep` generations plus
    * `_CURRENT`'s target and closes transitively over reference edges
    * (symlink targets here; manifest file-reuse in a warehouse): an
    * ancestor stays PINNED until every descendant that borrows from it is
    * itself vacuumed. Returns (deleted, kept) generation names. */
  private[graft] def vacuumGenerations(spark: SparkSession, root: String,
      keep: Int): (Seq[String], Seq[String]) = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    require(keep >= 1, s"keep must be >= 1: $keep")
    val rootP = Paths.get(root)
    val gens = Files.list(rootP).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gen-")).toSeq.sorted
    val current = graft.operators.Ann.currentGeneration(spark, root)
      .getOrElse(sys.error(s"no _CURRENT under $root"))
    def referencedBy(gen: String): Set[String] = {
      val d = rootP.resolve(gen)
      if (!Files.isDirectory(d)) Set.empty
      else Files.list(d).iterator().asScala
        .filter(Files.isSymbolicLink(_))
        .flatMap { l =>
          val target = Files.readSymbolicLink(l).toString
          "gen-\\d{6}".r.findFirstIn(target)
        }.toSet
    }
    var retained = (gens.takeRight(keep) :+ current).toSet
    var frontier = retained
    while (frontier.nonEmpty) {
      val pinned = frontier.flatMap(referencedBy).diff(retained)
      retained ++= pinned
      frontier = pinned
    }
    val doomed = gens.filterNot(retained)
    doomed.foreach { g =>
      val d = rootP.resolve(g)
      Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    (doomed, gens.filter(retained))
  }

  /** Spec hook: run the upsert COW merge against an arbitrary root and
    * return the merged row count. */
  private[graft] def mergeUpsertInto(spark: SparkSession, dir: String,
      root: String): Long = {
    cowMerge(spark, root, mergeDelta(spark, dir),
      deleteKeys = None, expectTouched = 2)
    spark.read.parquet(
      graft.operators.Ann.currentGenerationPath(spark, root)).count()
  }

  /** GENERATION VACUUM gate (q213) — the retention lifecycle end to end
    * on a per-invocation root (vacuum MUTATES, so nothing here can be a
    * shared fixture; the lifecycle IS the timed claim, the q184 rule):
    * gen-1 = base, gen-2 = COW merge borrowing 14 buckets from gen-1,
    * gen-3 = a full self-contained rewrite of the merged state. Vacuum
    * keep=1 must delete gen-1 AND gen-2 (nothing retained references
    * them once gen-3 stands alone) and the surviving snapshot must still
    * read oracle-exact — q205's merged oracle, because a vacuum may never
    * change the data a reader sees. The pinning branch (keep=1 while
    * `_CURRENT` is a COW generation → the ancestor must SURVIVE) is
    * pinned in MergeSnapshotSpec. */
  def generationVacuum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = graft.Scratch.fresh("q213_root_").toString
    val gen1 = graft.operators.Ann.nextGenerationName(spark, root)
    Tables.customer(spark, dir)
      .withColumn("bucket", pmod($"c_custkey", lit(MergeBuckets)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$root/$gen1")
    graft.operators.Ann.publishGeneration(spark, root, gen1)
    cowMerge(spark, root, mergeDelta(spark, dir),
      deleteKeys = None, expectTouched = 2)
    // gen-3: full rewrite — reads the COW view, writes every bucket real
    val gen3 = graft.operators.Ann.nextGenerationName(spark, root)
    spark.read.parquet(graft.operators.Ann.currentGenerationPath(spark, root))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$root/$gen3")
    graft.operators.Ann.publishGeneration(spark, root, gen3)
    val (deleted, kept) = vacuumGenerations(spark, root, keep = 1)
    require(deleted == Seq("gen-000001", "gen-000002") && kept == Seq(gen3),
      s"vacuum drifted: deleted=$deleted kept=$kept")
    mergedSummary(spark.read.parquet(
      graft.operators.Ann.currentGenerationPath(spark, root)))
  }

  /** The shared per-segment summary both snapshot gates emit: row count,
    * exact balance cents, insert census (merge keys live above 1,000,000
    * — far beyond any corpus key), max key. */
  private def mergedSummary(df: DataFrame): DataFrame =
    df.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum((col("c_acctbal").cast("decimal(14,2)") * 100).cast("long"))
          .as("total_cents"),
        sum(when(col("c_custkey") >= 1000000L, 1L).otherwise(0L))
          .as("n_inserted"),
        max(col("c_custkey")).as("max_custkey"))

  /** MERGE WITH SCHEMA EVOLUTION (q225) — the fourth MERGE dimension
    * after upsert (q205), delete (q211), and CDC (q207/q212): the delta
    * CARRIES A COLUMN THE TABLE DOES NOT HAVE (`c_tier`). The rewritten
    * buckets land with the widened schema (survivors take NULL via
    * `unionByName(allowMissingColumns)`), the 14 untouched buckets ride
    * in as references STILL ON THE OLD SCHEMA — schema evolution that
    * forces a table-wide rewrite is not evolution, it is a migration —
    * and the read side owes the reconciliation: a `mergeSchema` footer
    * union surfaces `c_tier` as NULL for every un-rewritten row (q189
    * proved that read path on flat layouts; here it runs against a LIVE
    * mixed-schema generation). Own generation root (the q211 rule). The
    * oracle replays update/insert/tier semantics on the raw table. */
  def mergeSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = mergeRootTagged(spark, dir, "q225")
    val c = Tables.customer(spark, dir)
    val delta = c.filter(pmod($"c_custkey", lit(MergeBuckets)) === 5)
      .withColumn("c_acctbal", $"c_acctbal" + lit(50.0))
      .withColumn("c_tier", lit("gold"))
      .unionByName(
        c.filter(pmod($"c_custkey", lit(MergeBuckets)) === 9)
          .withColumn("c_custkey", $"c_custkey" + lit(1000000L))
          .withColumn("c_tier", lit("new")))
    cowMerge(spark, root, delta, deleteKeys = None, expectTouched = 2,
      evolveSchema = true)
    spark.read.option("mergeSchema", "true")
      .parquet(graft.operators.Ann.currentGenerationPath(spark, root))
      .groupBy($"c_mktsegment", $"c_tier")
      .agg(count(lit(1)).as("n_customers"),
        sum(($"c_acctbal".cast("decimal(14,2)") * 100).cast("long"))
          .as("total_cents"))
  }

  /** q226's retention root, built once per (JVM, dir): gen-000001 is a
    * PURE REFERENCE generation — every ship_month directory of the q183
    * month-partitioned fact symlinked in, zero bytes copied. */
  private[graft] def retentionRoot(spark: SparkSession, dir: String): String =
    graft.Derived("source.retentionRoot", dir) {
      import java.nio.file.{Files, Paths}
      val (factPath, _) = dppTables(spark, dir)
      val root = graft.Scratch.named(s"q226_${graft.Scratch.dirKey(dir)}").toString
      val gen = Paths.get(root, "gen-000001")
      Files.createDirectories(gen)
      Files.list(Paths.get(factPath)).iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.startsWith("ship_month=") && !Files.exists(gen.resolve(n)))
          Files.createSymbolicLink(gen.resolve(n), p.toAbsolutePath)
      }
      graft.operators.Ann.publishGeneration(spark, root, "gen-000001")
      root
    }

  /** PARTITION-LEVEL RETENTION (q226) — TTL enforcement as the
    * maintenance op a partitioned time-series table actually runs:
    * "delete data older than the cutoff" is a PARTITION DROP, never a row
    * delete (a row-level delete would rewrite every old file to remove
    * 100% of its rows). The new generation references only the surviving
    * ship_month directories — like the COW merge's untouched buckets,
    * except here EVERY entry is a reference: enforcing retention writes
    * ZERO data bytes (RetentionSpec pins "no parquet file anywhere under
    * the root"). Expired months are simply absent from the published
    * snapshot, and q213's reachability vacuum can later reclaim them.
    * The retention run executes inside the gate (idempotent — each run
    * derives the same snapshot from gen-000001); the oracle applies the
    * equivalent date predicate to the raw table. */
  def partitionRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = retentionRoot(spark, dir)
    val cutoff = "1999-01"
    val gen1 = Paths.get(root, "gen-000001")
    val gen = graft.operators.Ann.nextGenerationName(spark, root)
    val genPath = Paths.get(root, gen)
    Files.createDirectories(genPath)
    Files.list(gen1).iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.startsWith("ship_month=") &&
          n.stripPrefix("ship_month=") >= cutoff &&
          !Files.exists(genPath.resolve(n)))
        Files.createSymbolicLink(genPath.resolve(n), Files.readSymbolicLink(p))
    }
    graft.operators.Ann.publishGeneration(spark, root, gen)
    spark.read.parquet(
        graft.operators.Ann.currentGenerationPath(spark, root))
      .groupBy($"ship_month")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("decimal(14,2)")).cast("double").as("sum_qty"))
  }

  // ------------------------------------------------ join-view maintenance

  /** q220's deterministic table splits — deltas are slices of the shipped
    * corpus (testdata is read-only, so "new arrivals" are simulated by
    * predicate): the order delta takes every 37th order key, the lineitem
    * delta takes parts ≡ 0 (mod 13). The two rules are INDEPENDENT on
    * purpose, so all three delta-join quadrants (ΔO⋈L, O⋈ΔL, ΔO⋈ΔL) are
    * populated — the quadrant a buggy maintenance job most often drops is
    * ΔO⋈ΔL, and an order-aligned lineitem split would leave it empty and
    * the bug invisible. */
  private def ivmSplits(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey",
      date_format($"o_orderdate", "yyyy-MM").as("ym"))
    val l = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey",
      (col("l_extendedprice").cast("decimal(14,2)") *
        (lit(1.0) - col("l_discount")).cast("decimal(4,2)")).as("rev"))
    (o.filter($"o_orderkey" % 37 =!= 0L), o.filter($"o_orderkey" % 37 === 0L),
      l.filter($"l_partkey" % 13 =!= 0L).drop("l_partkey"),
      l.filter($"l_partkey" % 13 === 0L).drop("l_partkey"))
  }

  /** The materialized base join-view (O_base ⋈ L_base, projected to the
    * view columns), checkpointed through parquet and memoized per
    * (JVM, dir) like the co-purchase edge fixture — the maintenance job
    * must SCAN this, never re-derive it. */
  private[ops] def ivmBasePath(spark: SparkSession, dir: String): String =
    graft.Derived("source.ivmBaseView", dir) {
      val (oBase, _, lBase, _) = ivmSplits(spark, dir)
      val out = graft.Scratch.fresh("q220_base_").resolve("view").toString
      oBase.join(lBase, col("o_orderkey") === col("l_orderkey"))
        .select(col("ym"), col("rev"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** INCREMENTAL JOIN-VIEW MAINTENANCE (q220) — the delta-join algebra
    * for a MATERIALIZED JOIN (q209 maintains an aggregate; this maintains
    * the join itself): with both sides receiving deltas,
    * ΔV = (ΔO ⋈ L_base) ∪ (O_base ⋈ ΔL) ∪ (ΔO ⋈ ΔL) — the three terms
    * partition the new join space exactly (no overlap: each term fixes
    * which side of each split its rows come from), so the maintained view
    * is scan(base checkpoint) ∪ ΔV with ZERO re-joining of base against
    * base. The oracle recomputes the full join from scratch — it has no
    * idea the engine went incremental, which is the whole claim. Scale
    * shape: the two mixed terms are delta-sized probes into base tables
    * (bucket both sides by the join key in a warehouse and they are
    * co-located map-side joins); base⋈base — the 100 TB term — is never
    * executed, only scanned. IvmSpec pins exactly 3 joins + the
    * checkpoint scan in the executed plan. */
  def ivmJoinView(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (oBase, oDelta, lBase, lDelta) = ivmSplits(spark, dir)
    val base = spark.read.parquet(ivmBasePath(spark, dir))
    def term(o: DataFrame, l: DataFrame) =
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("ym"), col("rev"))
    val maintained = base
      .unionAll(term(oDelta, lBase))
      .unionAll(term(oBase, lDelta))
      .unionAll(term(oDelta, lDelta))
    maintained.groupBy($"ym")
      .agg(count(lit(1)).as("n_items"),
        sum($"rev").cast("double").as("revenue"))
  }

  // ------------------------------------------------ hidden partitioning

  /** q221's bucket-transform layout (16 buckets of l_orderkey), memoized
    * per (JVM, dir) — write-once/look-up-many by contract. */
  private[graft] def hiddenLayout(spark: SparkSession, dir: String): String =
    graft.Derived("source.hiddenLayout", dir) {
      val out = graft.Scratch.fresh("q221_hidden_").resolve("li").toString
      graft.sources.Sources.writeKeyBucketed(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
        out, "l_orderkey", 16, "okey_bucket")
      out
    }

  /** HIDDEN-PARTITION POINT LOOKUP (q221) — Iceberg-style transform
    * partitioning ([[graft.sources.Sources.readKeyLookup]]): the layout
    * is bucketed by l_orderkey mod 16, the query only speaks l_orderkey,
    * and the reader injects the implied bucket predicate so the scan
    * prunes to the 3 matching directories out of 16 (DPP's q183 prunes on
    * a JOIN against a dim; this prunes on a POINT predicate the user
    * never phrased in layout terms — the other half of the scan-killer
    * story). The oracle runs the same lookup against the raw table — the
    * layout must be invisible to the result. HiddenPartitionSpec pins
    * "partitions read = 3 of 16" on the executed scan. */
  def hiddenPartitionLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = Seq(1L, 2L, 3L)
    graft.sources.Sources.readKeyLookup(spark, hiddenLayout(spark, dir),
      "l_orderkey", 16, "okey_bucket", keys)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum($"l_quantity".cast("decimal(14,2)")).cast("double").as("sum_qty"))
  }

  /** Bench fixture hook ([[graft.Fixtures]], VERDICT r8 #2): the bucketed
    * fact tables (write-once/join-many by contract), the q183
    * month-partitioned fact + dim, the q189 evolved layout, the q202
    * sorted/scrambled skipping pair, the q229 zone maps, the q230
    * merge-on-read base, the q220 base join-view checkpoint, the q221
    * hidden-partition layout, the q305 blobs, and the generation roots
    * (every merge tag, q316's orphan root, q242's WAP root, q226's
    * retention root). */
  private[graft] def prebuildFixtures(spark: SparkSession, dir: String): Unit = {
    bucketedTables(spark, dir): Unit
    dppTables(spark, dir): Unit
    evolvedLayout(spark, dir): Unit
    skipLayouts(spark, dir): Unit
    zoneMapLayout(spark, dir): Unit
    morLayout(spark, dir): Unit
    ivmBasePath(spark, dir): Unit
    hiddenLayout(spark, dir): Unit
    blobDir(spark, dir): Unit
    Seq("q205", "q211", "q225").foreach(tag => mergeRootTagged(spark, dir, tag): Unit)
    orphanRoot(spark, dir): Unit
    wapRoot(spark, dir): Unit
    retentionRoot(spark, dir): Unit
  }

  /** One blob file per document (`doc_<id>.txt`, UTF-8 of `text`), written
    * from the EXECUTORS (foreachPartition + java.nio — a distributed
    * object-store export, no driver collect), built once per (JVM, dir):
    * the q305 gate times the binaryFile SCAN it claims, not this export. */
  private def blobDir(spark: SparkSession, dir: String): String =
    graft.Derived("source.blobDir", dir) {
      import spark.implicits._
      val out = graft.Scratch.named(s"q305_${graft.Scratch.dirKey(dir)}")
        .resolve("blobs")
      java.nio.file.Files.createDirectories(out)
      val outS = out.toString
      Tables.documents(spark, dir).select($"doc_id", $"text")
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outS, s"doc_${r.getLong(0)}.txt"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
          }
        }
      outS
    }

  /** MULTIMODAL BLOB SOURCE (q305): scan a directory of opaque per-document
    * files with Spark's `binaryFile` source — the ingestion shape every
    * image/audio corpus starts from (one object per sample, metadata in the
    * path) — and reconcile it against the tabular twin: doc id parsed from
    * the filename, byte length from the source's `length` column (never a
    * content read for sizing), and an order-independent Σ of per-file
    * 48-bit md5 digests per bucket (q200's manifest rule applied to a file
    * store). The oracle computes the identical census from the documents
    * table, so a lost, duplicated, or bit-flipped blob breaks the hash.
    *
    * Scale: binaryFile lists + reads files in parallel tasks (maxPartitionBytes
    * batching); the census is one hash-agg on an 8-value key. */
  def binaryFileCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", "*.txt")
      .load(blobDir(spark, dir))
      .select(
        regexp_extract($"path", "doc_(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
        $"length",
        conv(substring(md5($"content"), 1, 12), 16, 10).cast("long").as("digest48"))
      .groupBy(($"doc_id" % 8).as("bucket"))
      .agg(count(lit(1)).as("n_files"), sum($"length").as("total_bytes"),
        sum($"digest48").as("content_sum48"))
  }

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (liT, orT) = bucketedTables(spark, dir)
    Bucketing.bucketedJoin(spark, liT, orT, "l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("decimal(14,2)")).cast("double").as("sum_qty"),
        countDistinct($"l_orderkey").as("n_orders"))
  }

  /** ANALYZE-STYLE COLUMN STATISTICS (q260) — the `ANALYZE TABLE`
    * census a cost-based optimizer and every data-quality dashboard
    * read: per column the row count, null count, EXACT NDV, and min/max
    * (rendered as strings under engine-identical rules: integers, dates
    * and exact cents only — no float formatting in sight). Counts and
    * min/max share ONE scan; each NDV runs as its own COLUMN-PRUNED
    * two-stage distinct agg (partial distinct map-side, tiny shuffle) —
    * measured 5× faster than the one-scan 6-way multi-distinct, whose
    * expand pushes 7× the rows through a single hash-agg, and the bytes
    * read are identical because each pruned scan reads one column. The
    * per-column one-row frames assemble by crossJoin and unpivot by
    * `stack`. */
  def analyzeTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .withColumn("l_shipdate", to_date($"l_shipdate"))
      .withColumn("l_extendedprice_cents",
        ($"l_extendedprice".cast("decimal(14,2)") * 100).cast("long"))
    val cols = Seq("l_orderkey", "l_partkey", "l_linenumber",
      "l_returnflag", "l_shipdate", "l_extendedprice_cents")
    val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      min(col(c)).cast("string").as(s"min_$c"),
      max(col(c)).cast("string").as(s"max_$c")))
    val wide = cols.foldLeft(li.agg(aggs.head, aggs.tail: _*)) { (df, c) =>
      df.crossJoin(li.agg(countDistinct(col(c)).as(s"ndv_$c")))
    }
    val rows = cols.map(c =>
      s"'$c', n, n - nn_$c, ndv_$c, min_$c, max_$c").mkString(", ")
    wide.selectExpr(s"stack(${cols.length}, $rows) AS " +
      "(column_name, n_rows, n_nulls, ndv, min_repr, max_repr)")
  }

  /** DICTIONARY-ENCODING ADVISOR (q261) — the layout decision behind
    * every columnar writer: per column the exact NDV (the same
    * column-pruned per-column distinct aggs as q260), the declared
    * plain width in bits, the dictionary code width `ceil(log2 ndv)`
    * computed WITHOUT logarithms as `length(bin(ndv − 1))` (0 for a
    * constant column), and the projected savings in floor basis
    * points — the integer-only form of "should this column be
    * dictionary-encoded". */
  def encodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val cols = Seq(("l_orderkey", 64), ("l_partkey", 64), ("l_suppkey", 64),
      ("l_linenumber", 32), ("l_returnflag", 8), ("l_linestatus", 8))
    val wide = cols.map { case (c, _) =>
      li.agg(countDistinct(col(c)).as(s"ndv_$c"))
    }.reduce(_ crossJoin _)
    val rows = cols.map { case (c, bits) => s"'$c', ndv_$c, $bits" }
      .mkString(", ")
    wide.selectExpr(s"stack(${cols.length}, $rows) AS " +
      "(column_name, ndv, plain_bits)")
      .withColumn("dict_bits",
        when($"ndv" <= 1, 0L)
          .otherwise(length(bin($"ndv" - 1)).cast("long")))
      .withColumn("plain_bits", $"plain_bits".cast("long"))
      .withColumn("savings_bp",
        when($"plain_bits" > $"dict_bits",
          expr("(10000 * (plain_bits - dict_bits)) div plain_bits"))
          .otherwise(0L))
  }

  /** ROLLUP MATERIALIZATION ADVISOR (q268) — which pre-aggregations are
    * worth materializing: for five candidate grains the EXACT group
    * count (distinct grouping-key tuples, via `countDistinct(struct)` in
    * ONE expand-based scan), the reduction ratio in floor basis points
    * (aggregate rows per 10⁴ fact rows), and a materialize/scan verdict
    * by integer comparison against a declared 100 bp (≥100×) reduction
    * floor — the summary-table decision a lakehouse platform makes per
    * dashboard query family. */
  def rollupAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grains = Seq(
      "l_returnflag" -> Seq("l_returnflag"),
      "l_returnflag,l_linestatus" -> Seq("l_returnflag", "l_linestatus"),
      "l_shipdate" -> Seq("l_shipdate"),
      "l_partkey" -> Seq("l_partkey"),
      "l_partkey,l_suppkey" -> Seq("l_partkey", "l_suppkey"))
    val li = Tables.lineitem(spark, dir)
      .withColumn("l_shipdate", to_date($"l_shipdate"))
    val aggs = count(lit(1)).as("n") +: grains.zipWithIndex.map {
      case ((_, cols), i) =>
        countDistinct(struct(cols.map(col): _*)).as(s"g_$i")
    }
    val wide = li.agg(aggs.head, aggs.tail: _*)
    val rows = grains.zipWithIndex
      .map { case ((name, _), i) => s"'$name', n, g_$i" }.mkString(", ")
    wide.selectExpr(s"stack(${grains.length}, $rows) AS " +
      "(grain, n_rows, n_groups)")
      .withColumn("reduction_bp",
        when($"n_rows" > 0, expr("(10000 * n_groups) div n_rows"))
          .otherwise(0L))
      .withColumn("advice",
        when($"reduction_bp" <= 100, "materialize").otherwise("scan"))
  }

  /** RANGE-PARTITION PLANNER (q271) — the boundary table behind
    * `repartitionByRange` / sorted-table writes, computed EXACTLY as the
    * audit target a sampling partitioner is judged against: orders
    * ranked by key, each row assigned slice `((rank−1)·k) div n` (the
    * even-slices rule, pure integer), then per slice its row count and
    * [lo, hi] key bounds, plus the global balance ratio
    * `10⁴·max_size·k div n` — 10000 = perfectly balanced. Production
    * range partitioners SAMPLE to get near these boundaries; this gate
    * pins what "ideal" means so the sampled version has a yardstick.
    * The global rank is [[graft.operators.Sweep.rowNumber]] — the
    * two-phase distributed prefix count, never a single-partition sort
    * of the key projection (the r12 `weak`: `row_number().over(
    * Window.orderBy(key))` moved every orders key through one task). */
  def rangePartitionPlanner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 8
    val keys = Tables.orders(spark, dir).select($"o_orderkey".as("key"))
    val n = keys.count()
    val ranked = graft.operators.Sweep.rowNumber(keys, Seq($"key"), "r")
      .withColumn("pid", expr(s"((r - 1) * $k) div $n"))
    ranked.groupBy($"pid")
      .agg(count(lit(1)).as("n_keys"),
        min($"key").as("lo_key"), max($"key").as("hi_key"))
      .withColumn("balance_bp",
        expr(s"(10000 * n_keys * $k) div $n"))
      .select($"pid".cast("long").as("pid"), $"n_keys", $"lo_key",
        $"hi_key", $"balance_bp")
  }

  /** LATE-ARRIVING DIMENSION BACKFILL (q286) — the orphan-quarantine
    * protocol for facts that reference dimension rows that haven't
    * landed yet: against dimension generation 1 (10% of parts withheld
    * by a modulus rule — the late arrivals), fact lines either match or
    * go to quarantine (left join, null probe); when generation 2 lands,
    * ONLY the quarantine is re-joined — never the already-matched bulk.
    * The census pins matched/orphan counts per phase and that the
    * backfill resolves every orphan. Both joins are plain equi-joins on
    * the part key; the quarantine is the only re-read data. */
  def lateArrivingDim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val facts = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
    val dimFull = Tables.part(spark, dir).select($"p_partkey")
    val dimGen1 = dimFull.filter(pmod($"p_partkey", lit(10)) =!= 3)
    val joined1 = facts.join(dimGen1, $"l_partkey" === $"p_partkey",
      "left")
    val quarantine = joined1.filter($"p_partkey".isNull)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
    val matched1 = joined1.filter($"p_partkey".isNotNull).count()
    val orphans1 = quarantine.count()
    val joined2 = quarantine.join(dimFull, $"l_partkey" === $"p_partkey",
      "left")
    val matched2 = joined2.filter($"p_partkey".isNotNull).count()
    val orphans2 = joined2.filter($"p_partkey".isNull).count()
    Seq(("initial", matched1, orphans1),
      ("backfill", matched2, orphans2))
      .toDF("phase", "n_matched", "n_orphan")
  }

  /** WORKING-SET COVERAGE (q289) — how cacheable is this key column?
    * Part keys ranked by row frequency (key tie-break); the census
    * reports the share of fact rows covered by the top-100 keys and the
    * smallest k reaching 50% coverage (the `2·cum ≥ n` crossing — the
    * q264 rule applied to frequency mass). The cache-sizing readout
    * behind every broadcast/hot-key decision. Rank + cumulative mass run
    * over the key-frequency frame, never the facts — but key cardinality
    * GROWS with the data, so both ride ONE
    * [[graft.operators.Sweep.prefixSums]] pass (two-phase distributed
    * prefix sum) instead of an unpartitioned window, and the grand
    * totals ride a broadcast 1-row cross join. */
  def workingSetCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey").agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum($"c").as("n"), count(lit(1)).as("n_keys"))
    val ranked = graft.operators.Sweep.prefixSums(
      freq.withColumn("one", lit(1L)),
      Seq($"c".desc, $"l_partkey"), Seq("one" -> "rk", "c" -> "cum"))
      .crossJoin(broadcast(tot))
    val top100 = ranked.filter($"rk" <= 100)
      .agg(max($"cum").as("top100_rows"))
    val k50 = ranked.filter($"cum" * 2 >= $"n")
      .agg(min($"rk").cast("long").as("k50"))
    tot.select($"n".as("n_rows"), $"n_keys")
      .crossJoin(top100).crossJoin(k50)
      .withColumn("top100_coverage_bp",
        when($"n_rows" > 0, expr("(10000 * top100_rows) div n_rows"))
          .otherwise(0L))
      .withColumn("k50_share_bp",
        when($"n_keys" > 0, expr("(10000 * k50) div n_keys"))
          .otherwise(0L))
      .select($"n_rows", $"n_keys", $"top100_coverage_bp", $"k50",
        $"k50_share_bp")
  }

  /** HASH-PARTITION BALANCE AUDIT (q290) — the shuffle-health readout
    * behind every `spark.sql.shuffle.partitions` choice: model the
    * 32-way hash partitioner as `pmod(key, 32)` (engine-identical,
    * unlike an engine's internal hash), census the per-partition row
    * counts, and report the balance ratio `10⁴·max·32 div n` (10000 =
    * perfect) with a skew verdict at a declared 1.2× tolerance. One
    * grouped count + one census agg. */
  def hashPartitionBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.lineitem(spark, dir)
      .groupBy(pmod($"l_orderkey", lit(32)).as("pid"))
      .agg(count(lit(1)).as("rows_p"))
    parts.agg(count(lit(1)).as("n_parts"),
      sum($"rows_p").as("n_rows"),
      min($"rows_p").as("min_rows"), max($"rows_p").as("max_rows"))
      .withColumn("balance_bp",
        when($"n_rows" > 0, expr("(10000 * max_rows * 32) div n_rows"))
          .otherwise(0L))
      .withColumn("verdict",
        when($"balance_bp" <= 12000, "balanced").otherwise("skewed"))
  }

  /** RUN-LENGTH ENCODING ADVISOR (q294) — the layout half of q261's
    * dictionary advisor: under the table's natural (orderkey,
    * linenumber) sort order, how many value RUNS does each column have?
    * `runs = Σ(run starts)`, run share in floor basis points, and an
    * rle/plain verdict at a declared 2000 bp floor. Exact global runs
    * are the yardstick a per-row-group production estimate is judged
    * against (q271's framing); all five columns ride the SAME sort.
    *
    * DISTRIBUTED run counting (the r12 `weak` ran one global-order lag
    * window — every lineitem row through a single partition): range-
    * partition on the sort key, count run starts per partition with a
    * partition-local lag (the first row of each partition counted as a
    * start), then STITCH at the O(partitions) boundaries — one run was
    * double-counted wherever a partition's first value equals its
    * predecessor partition's last value. For ANY contiguous split of
    * the sorted axis, Σ in-segment runs − #equal-valued boundaries =
    * the global run count exactly; the boundary frame (min_by/max_by
    * value structs per partition) is 32 rows, stitched by a triangular
    * broadcast join — driver-scale, never data. */
  def rleAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val cols = Seq("l_orderkey", "l_partkey", "l_returnflag",
      "l_linestatus", "l_shipdate")
    // sort key = (orderkey, linenumber) EXTENDED by the five counted
    // columns: the corpus ships duplicate (orderkey, linenumber) pairs
    // with differing values, under which "the natural order" is
    // tie-ambiguous (two engines can legally disagree by ±1 run per
    // dup). With the counted columns as tie-breaks the order is total
    // wherever it matters — any rows still tied are identical in every
    // counted column, so the run counts are tie-invariant.
    val sortKey = Seq($"l_orderkey", $"l_linenumber") ++
      cols.filterNot(_ == "l_orderkey").map(col)
    val li = Tables.lineitem(spark, dir)
      .withColumn("l_shipdate", to_date($"l_shipdate"))
      .select(($"l_linenumber" +: cols.map(col)): _*)
    val u = li.repartitionByRange(32, sortKey: _*)
      .withColumn("pid", spark_partition_id())
    val wIn = Window.partitionBy($"pid").orderBy(sortKey: _*)
    val flagged = cols.foldLeft(u) { (df, c) =>
      df.withColumn(s"chg_$c",
        when(lag(col(c), 1).over(wIn).isNull ||
          lag(col(c), 1).over(wIn) =!= col(c), 1L).otherwise(0L))
    }
    val vals = struct(cols.map(col): _*)
    val key = struct(sortKey: _*)
    val perPidAggs = count(lit(1)).as("n") +:
      (cols.map(c => sum(col(s"chg_$c")).as(s"runs_$c")) ++
        Seq(min_by(vals, key).as("first_vals"),
          max_by(vals, key).as("last_vals")))
    val perPid = flagged.groupBy($"pid")
      .agg(perPidAggs.head, perPidAggs.tail: _*)
    // O(partitions) boundary stitch: pid order IS sort order (range
    // partitioning), so each segment's predecessor is the largest
    // smaller pid — a triangular broadcast join + max_by over the ≤ 32²
    // pair frame (no unpartitioned window anywhere in this plan)
    val prevLast = perPid.join(
        broadcast(perPid.select($"pid".as("qid"), $"last_vals".as("q_last"))),
        $"qid" < $"pid", "left")
      .groupBy($"pid")
      .agg(max_by($"q_last", $"qid").as("prev_last"))
    val stitched = perPid.join(prevLast, "pid")
    val totalAggs = sum($"n").as("n") +: cols.map(c =>
      (sum(col(s"runs_$c")) -
        sum(when($"prev_last".isNotNull &&
          ($"prev_last".getField(c) <=> $"first_vals".getField(c)), 1L)
          .otherwise(0L))).as(s"runs_$c"))
    val wide = stitched.agg(totalAggs.head, totalAggs.tail: _*)
    val rows = cols.map(c => s"'$c', n, runs_$c").mkString(", ")
    wide.selectExpr(s"stack(${cols.length}, $rows) AS " +
      "(column_name, n_rows, n_runs)")
      .withColumn("run_share_bp",
        when($"n_rows" > 0, expr("(10000 * n_runs) div n_rows"))
          .otherwise(0L))
      .withColumn("advice",
        when($"run_share_bp" <= 2000, "rle").otherwise("plain"))
  }

  /** FUNCTIONAL-DEPENDENCY DISCOVERY (q296) — the schema-profiling
    * probe behind key inference and normalization advice: a candidate
    * FD `det → dep` holds iff `ndv(det) = ndv(det, dep)` (adding the
    * dependent creates no new groups). Five candidates spanning true
    * (the PK, a derived column) and false (attribute pairs) verdicts;
    * each NDV is its own column-pruned distinct agg (the q260 lesson —
    * never one giant multi-distinct expand), assembled by crossJoin and
    * unpivoted. `n_violating_groups = ndv_combo − ndv_det` quantifies
    * HOW broken a failed FD is. */
  def fdDiscovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .withColumn("l_orderbucket", expr("l_orderkey div 1000"))
    val cands = Seq(
      ("l_orderkey", "l_returnflag",
        Seq("l_orderkey"), Seq("l_orderkey", "l_returnflag")),
      ("l_orderkey", "l_shipdate",
        Seq("l_orderkey"), Seq("l_orderkey", "l_shipdate")),
      ("l_partkey", "l_suppkey",
        Seq("l_partkey"), Seq("l_partkey", "l_suppkey")),
      ("l_orderkey,l_linenumber", "l_partkey",
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_linenumber", "l_partkey")),
      ("l_orderkey", "l_orderbucket",
        Seq("l_orderkey"), Seq("l_orderkey", "l_orderbucket")))
    val wide = cands.zipWithIndex.map { case ((_, _, det, combo), i) =>
      li.agg(countDistinct(struct(det.map(col): _*)).as(s"d_$i"))
        .crossJoin(li.agg(
          countDistinct(struct(combo.map(col): _*)).as(s"c_$i")))
    }.reduce(_ crossJoin _)
    val rows = cands.zipWithIndex.map { case ((d, dep, _, _), i) =>
      s"'$d', '$dep', d_$i, c_$i"
    }.mkString(", ")
    wide.selectExpr(s"stack(${cands.length}, $rows) AS " +
      "(determinant, dependent, ndv_det, ndv_combo)")
      .withColumn("holds", $"ndv_det" === $"ndv_combo")
      .withColumn("n_violating_groups", $"ndv_combo" - $"ndv_det")
  }

  /** MERKLE-STYLE REPLICA RECONCILIATION (q326) — how two copies of a
    * 100 TB table are compared WITHOUT exchanging the table: each side
    * reduces every bucket (o_orderkey % 64) to a commutative digest
    * (count + bit_xor of per-row md5-derived BIGINTs — order-independent,
    * so it needs no sort and distributes as a plain hash-agg), the
    * 64-row digest frames are compared, and only the DIFFERING buckets'
    * rows are re-read for the row-level diff. The drifted replica is
    * derived deterministically in-query (status flipped where
    * o_orderkey % 1000 == 7), so the oracle replays both sides exactly.
    *
    * Scale shape: two digest hash-aggs (bucket-keyed, map-side
    * combinable, 64-row outputs), then the detail pass touches ONLY
    * differing buckets (broadcast semi-join prune on both sides) —
    * reconciliation cost scales with the DRIFT, not the table. The
    * row-level diff joins on o_orderkey within those buckets. */
  def merkleReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def digest(status: org.apache.spark.sql.Column) =
      conv(substring(md5(concat_ws("|",
      lit("mr:"), $"o_orderkey".cast("string"), status, $"o_orderpriority",
      $"o_orderdate".cast("date").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val base = Tables.orders(spark, dir).select($"o_orderkey",
      ($"o_orderkey" % 64).as("bucket"), digest($"o_orderstatus").as("h"))
    val drift = Tables.orders(spark, dir).select($"o_orderkey",
      ($"o_orderkey" % 64).as("bucket"),
      digest(when($"o_orderkey" % 1000 === 7, lit("X"))
        .otherwise($"o_orderstatus")).as("h"))
    val da = base.groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_a"))
    val db = drift.groupBy($"bucket").agg(expr("bit_xor(h)").as("xor_b"))
    val diff = da.join(db, "bucket").filter($"xor_a" =!= $"xor_b")
    val hot = diff.select($"bucket")
    val aR = base.join(broadcast(hot), Seq("bucket"), "left_semi")
      .select($"bucket", $"o_orderkey", $"h".as("h_a"))
    val bR = drift.join(broadcast(hot), Seq("bucket"), "left_semi")
      .select($"o_orderkey", $"h".as("h_b"))
    val changed = aR.join(bR, "o_orderkey").filter($"h_a" =!= $"h_b")
      .groupBy($"bucket").agg(count(lit(1)).as("n_changed"))
    diff.join(changed, Seq("bucket"), "left")
      .select($"bucket", $"n_rows", $"xor_a", $"xor_b",
        coalesce($"n_changed", lit(0L)).as("n_changed"))
  }

  /** SHARD-LAYOUT OVERLAP AUDIT (q337) — the zone-map/clustering-depth
    * metric behind every OPTIMIZE/Z-ORDER decision (q109 lays data out;
    * q229 proves pruning works; THIS gate quantifies why): for a
    * HASH-sharded and a RANGE-sharded 16-way layout of `documents`,
    * census each shard's doc_id zone (min, max) and report, per layout,
    * the pairwise zone overlaps, the worst per-shard overlap depth, and
    * the expected shards a point-lookup must probe — Σspan·100 div
    * keyspan, Iceberg's "clustering depth" as exact integers. Hash
    * shards each span ~the whole keyspace (probe ≈ 16×100), range shards
    * are disjoint (probe ≈ 100) — the measured certificate that hash
    * layout has zero pruning power at 100 TB while range/Z-order keeps
    * min-max skipping alive. The 16-row-per-layout zone frame makes the
    * pairwise self-join a bounded control-frame op; the only data-sized
    * work is one grouped min/max per layout. */
  def layoutOverlapAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select($"doc_id")
    val bounds = ids.agg(min($"doc_id").as("g_lo"), max($"doc_id").as("g_hi"))
    // one (layout, shard) tag pair per row via a 2-element explode, so the
    // zone census is ONE data-sized hash-agg covering both layouts; the
    // ≤32-row zone frame is then checkpointed so the pairwise self-join
    // below reads 32 materialized rows instead of re-aggregating the
    // corpus per side (12 scans/27 shuffles before, 3/5 after).
    val z = ids.crossJoin(broadcast(bounds))
      .select($"doc_id", $"g_lo", $"g_hi", explode(array(
        struct(lit("hash").as("layout"),
          conv(substring(md5(concat(lit("layout:"), $"doc_id".cast("string"))),
            1, 1), 16, 10).cast("long").as("shard")),
        struct(lit("range").as("layout"),
          expr("(doc_id - g_lo) div (((g_hi - g_lo) div 16) + 1)")
            .as("shard")))).as("t"))
      .groupBy($"t.layout".as("layout"), $"t.shard".as("shard"),
        $"g_lo", $"g_hi")
      .agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"),
        count(lit(1)).as("n_rows"))
      .localCheckpoint()
    val depth = z.as("a").join(z.as("b"),
        col("a.layout") === col("b.layout") &&
          col("a.shard") =!= col("b.shard") &&
          col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
      .groupBy(col("a.layout").as("layout"), col("a.shard").as("shard"))
      .agg(count(lit(1)).as("n_overlaps"))
    z.join(depth, Seq("layout", "shard"), "left_outer")
      .select($"layout", $"shard", $"n_rows", ($"hi" - $"lo" + 1L).as("span"),
        coalesce($"n_overlaps", lit(0L)).as("n_overlaps"),
        $"g_hi" - $"g_lo" + 1L as "keyspan")
      .groupBy($"layout")
      .agg(count(lit(1)).as("n_shards"), sum($"n_rows").as("n_rows"),
        expr("sum(n_overlaps) div 2").as("n_overlapping_pairs"),
        max($"n_overlaps").as("max_overlap_depth"),
        expr("sum(span) * 100L div max(keyspan)").as("expected_probe_x100"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q337_layout_overlap" -> (layoutOverlapAudit _),
    "q326_merkle_reconcile" -> (merkleReconcile _),
    "q296_fd_discovery" -> (fdDiscovery _),
    "q289_working_set_coverage" -> (workingSetCoverage _),
    "q290_hash_partition_balance" -> (hashPartitionBalance _),
    "q294_rle_advisor" -> (rleAdvisor _),
    "q286_late_arriving_dim" -> (lateArrivingDim _),
    "q271_range_partition_planner" -> (rangePartitionPlanner _),
    "q268_rollup_advisor" -> (rollupAdvisor _),
    "q260_analyze_stats" -> (analyzeTable _),
    "q261_encoding_advisor" -> (encodingAdvisor _),
    "q118_jsonl_roundtrip" -> (jsonlRoundtrip _),
    "q119_csv_roundtrip" -> (csvRoundtrip _),
    "q136_partitioned_roundtrip" -> (partitionedRoundtrip _),
    "q155_xml_roundtrip" -> (xmlRoundtrip _),
    "q156_bucketed_join" -> (bucketedJoin _),
    "q183_dynamic_partition_pruning" -> (dppJoin _),
    "q189_schema_evolution" -> (schemaEvolutionRead _),
    "q191_orc_roundtrip" -> (orcRoundtrip _),
    "q202_rowgroup_skipping" -> (rowGroupSkipping _),
    "q305_binaryfile_source" -> (binaryFileCensus _),
    "q312_csv_multiline" -> (csvMultilineRoundtrip _),
    "q316_orphan_file_audit" -> (orphanFileAudit _),
    "q229_zone_map_pruning" -> (zoneMapPrunedScan _),
    "q230_mor_positional_deletes" -> (morPositionalDeletes _),
    "q231_branch_merge" -> (branchMerge _),
    "q241_snapshot_metadata" -> (snapshotMetadata _),
    "q242_write_audit_publish" -> (writeAuditPublish _),
    "q205_merge_upsert" -> (mergeUpsert _),
    "q206_snapshot_read" -> (snapshotRead _),
    "q207_snapshot_diff" -> (snapshotDiff _),
    "q209_incremental_agg" -> (incrementalAgg _),
    "q211_merge_delete" -> (mergeDelete _),
    "q212_cdc_removals" -> (cdcWithDeletes _),
    "q213_generation_vacuum" -> (generationVacuum _),
    "q220_ivm_join_view" -> (ivmJoinView _),
    "q221_hidden_partitioning" -> (hiddenPartitionLookup _),
    "q225_merge_schema_evolution" -> (mergeSchemaEvolution _),
    "q226_partition_retention" -> (partitionRetention _))

  /** The q205/q206 oracle summary over a merged or base state: `src` is a
    * CTE name providing (c_custkey, c_mktsegment, bal); a non-empty
    * `label` adds q206's snapshot column. */
  private def mergeSummarySql(label: String, src: String): String =
    s"""SELECT ${if (label.isEmpty) "" else s"'$label' AS snapshot, "}c_mktsegment,
       |  count(*) AS n_customers,
       |  CAST(sum(CAST(CAST(bal AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
       |    AS total_cents,
       |  CAST(sum(CASE WHEN c_custkey >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_inserted,
       |  CAST(max(c_custkey) AS BIGINT) AS max_custkey
       |FROM $src GROUP BY c_mktsegment""".stripMargin

  /** MERGE semantics replayed on the raw table: bucket-3 keys updated
    * (+100.00 before the cents bridge — the engine adds the same exact
    * double), bucket-7 keys re-keyed +1,000,000 as inserts. */
  private val mergedStateSql: String =
    """m AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE WHEN c_custkey % 16 = 3 THEN c_acctbal + 100.0
      |         ELSE c_acctbal END AS bal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000 AS c_custkey, c_mktsegment,
      |    c_acctbal AS bal
      |  FROM customer WHERE c_custkey % 16 = 7
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    // q337: same salted md5 first-hex-digit hash shard (strpos
    // arithmetic), same fixed-width range shard, same zone/overlap/probe
    // algebra over the two 16-row zone frames.
    "q337_layout_overlap" ->
      """WITH b AS (
        |  SELECT CAST(min(doc_id) AS BIGINT) AS g_lo,
        |    CAST(max(doc_id) AS BIGINT) AS g_hi
        |  FROM documents
        |), t AS (
        |  SELECT doc_id,
        |    CAST(strpos('0123456789abcdef',
        |      substr(md5('layout:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1
        |      AS BIGINT) AS hash_shard,
        |    CAST((doc_id - g_lo) // (((g_hi - g_lo) // 16) + 1) AS BIGINT)
        |      AS range_shard,
        |    g_lo, g_hi
        |  FROM documents, b
        |), z AS (
        |  SELECT 'hash' AS layout, hash_shard AS shard, g_lo, g_hi,
        |    CAST(min(doc_id) AS BIGINT) AS lo,
        |    CAST(max(doc_id) AS BIGINT) AS hi,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM t GROUP BY 1, 2, 3, 4
        |  UNION ALL
        |  SELECT 'range', range_shard, g_lo, g_hi,
        |    CAST(min(doc_id) AS BIGINT), CAST(max(doc_id) AS BIGINT),
        |    CAST(count(*) AS BIGINT)
        |  FROM t GROUP BY 1, 2, 3, 4
        |), d AS (
        |  SELECT a.layout, a.shard, CAST(count(*) AS BIGINT) AS n_overlaps
        |  FROM z a JOIN z b ON a.layout = b.layout AND a.shard <> b.shard
        |    AND a.lo <= b.hi AND b.lo <= a.hi
        |  GROUP BY 1, 2
        |), f AS (
        |  SELECT z.layout, z.shard, z.n_rows, z.hi - z.lo + 1 AS span,
        |    coalesce(d.n_overlaps, 0) AS n_overlaps,
        |    z.g_hi - z.g_lo + 1 AS keyspan
        |  FROM z LEFT JOIN d ON d.layout = z.layout AND d.shard = z.shard
        |)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_shards,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(sum(n_overlaps) // 2 AS BIGINT) AS n_overlapping_pairs,
        |  CAST(max(n_overlaps) AS BIGINT) AS max_overlap_depth,
        |  CAST(sum(span) * 100 // max(keyspan) AS BIGINT)
        |    AS expected_probe_x100
        |FROM f GROUP BY layout""".stripMargin,
    // q326: same per-row digest ('0x'||hex)::BIGINT == Spark's
    // conv(...,16,10) on 15 hex chars (positive, < 2^60), same bucket
    // keying, same commutative bit_xor rollup, same drift rule.
    "q326_merkle_reconcile" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderkey % 64 AS bucket, o_orderstatus,
        |    o_orderpriority,
        |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS ds
        |  FROM orders
        |), a AS (
        |  SELECT o_orderkey, bucket,
        |    ('0x' || substr(md5('mr:' || '|' || CAST(o_orderkey AS VARCHAR)
        |      || '|' || o_orderstatus || '|' || o_orderpriority || '|' || ds),
        |      1, 15))::BIGINT AS h
        |  FROM o
        |), b AS (
        |  SELECT o_orderkey, bucket,
        |    ('0x' || substr(md5('mr:' || '|' || CAST(o_orderkey AS VARCHAR)
        |      || '|' ||
        |      CASE WHEN o_orderkey % 1000 = 7 THEN 'X' ELSE o_orderstatus END
        |      || '|' || o_orderpriority || '|' || ds), 1, 15))::BIGINT AS h
        |  FROM o
        |), da AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |    bit_xor(h) AS xor_a
        |  FROM a GROUP BY 1
        |), db AS (SELECT bucket, bit_xor(h) AS xor_b FROM b GROUP BY 1),
        |diff AS (
        |  SELECT da.bucket, n_rows, xor_a, xor_b
        |  FROM da JOIN db USING (bucket) WHERE xor_a <> xor_b
        |), ch AS (
        |  SELECT a.bucket, CAST(count(*) AS BIGINT) AS n_changed
        |  FROM a JOIN b USING (o_orderkey)
        |  WHERE a.h <> b.h AND a.bucket IN (SELECT bucket FROM diff)
        |  GROUP BY 1
        |)
        |SELECT diff.bucket, n_rows, CAST(xor_a AS BIGINT) AS xor_a,
        |  CAST(xor_b AS BIGINT) AS xor_b,
        |  coalesce(n_changed, CAST(0 AS BIGINT)) AS n_changed
        |FROM diff LEFT JOIN ch USING (bucket)""".stripMargin,
    // q316: the classes' row counts recomputed from the source tables —
    // equality proves the audit read the orphans' actual bytes.
    "q316_orphan_file_audit" ->
      """SELECT 'published' AS entry_class, CAST(1 AS BIGINT) AS n_entries,
        |  CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows
        |UNION ALL
        |SELECT 'staged', CAST(1 AS BIGINT),
        |  CAST((SELECT count(*) FROM customer WHERE c_custkey % 10 = 0)
        |    AS BIGINT)
        |UNION ALL
        |SELECT 'stray', CAST(1 AS BIGINT),
        |  CAST((SELECT count(*) FROM nation) AS BIGINT)""".stripMargin,
    // q312: the identical tricky-string derivation straight from the
    // table (regexp_replace needs 'g' to match Spark's replace-all).
    "q312_csv_multiline" -> {
      val dsum = (0 until 12).map { i =>
        s"(strpos('0123456789abcdef', substr(dh, ${i + 1}, 1)) - 1) * ${1L << (4 * (11 - i))}"
      }.mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_replace(substr(text, 1, 100), ' ', chr(10), 'g')
         |      || ',"x' AS tricky
         |  FROM documents
         |), d AS (
         |  SELECT doc_id, length(tricky) AS tlen,
         |    substr(md5(tricky), 1, 12) AS dh
         |  FROM t
         |)
         |SELECT CAST(doc_id % 4 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tlen) AS BIGINT) AS total_len,
         |  CAST(sum($dsum) AS BIGINT) AS content_sum48
         |FROM d GROUP BY 1""".stripMargin
    },
    // q305: identical census from the tabular twin — strlen (DuckDB's
    // byte length; octet_length only binds BLOB) for the blob's byte size
    // (text is written as UTF-8), the same 48-bit md5 prefix per bucket.
    "q305_binaryfile_source" -> {
      val dsum = (0 until 12).map { i =>
        s"(strpos('0123456789abcdef', substr(dh, ${i + 1}, 1)) - 1) * ${1L << (4 * (11 - i))}"
      }.mkString(" + ")
      s"""WITH d AS (
         |  SELECT doc_id, strlen(text) AS blen,
         |    substr(md5(text), 1, 12) AS dh
         |  FROM documents
         |)
         |SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(blen) AS BIGINT) AS total_bytes,
         |  CAST(sum($dsum) AS BIGINT) AS content_sum48
         |FROM d GROUP BY 1""".stripMargin
    },
    // q260: one union-per-column census; every min/max rendering rule is
    // engine-identical (BIGINT/INT/VARCHAR/DATE/cents — no floats).
    "q260_analyze_stats" -> {
      def c(name: String, e: String) =
        s"""SELECT '$name' AS column_name, count(*) AS n_rows,
           |  CAST(count(*) - count($e) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $e) AS BIGINT) AS ndv,
           |  CAST(min($e) AS VARCHAR) AS min_repr,
           |  CAST(max($e) AS VARCHAR) AS max_repr FROM li""".stripMargin
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey, l_linenumber, l_returnflag,
        |    CAST(l_shipdate AS DATE) AS l_shipdate,
        |    CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        |      AS l_extendedprice_cents
        |  FROM lineitem
        |)
        |""".stripMargin +
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag",
          "l_shipdate", "l_extendedprice_cents")
          .map(n => c(n, n)).mkString("\nUNION ALL\n")
    },
    // q261: same exact NDVs, same log-free `length(bin(ndv − 1))` code
    // width, same guarded floor-bp savings.
    "q261_encoding_advisor" -> {
      def row(name: String, bits: Int) =
        s"""SELECT '$name' AS column_name,
           |  CAST(count(DISTINCT $name) AS BIGINT) AS ndv,
           |  CAST($bits AS BIGINT) AS plain_bits FROM lineitem""".stripMargin
      "WITH w AS (\n" +
        Seq(("l_orderkey", 64), ("l_partkey", 64), ("l_suppkey", 64),
          ("l_linenumber", 32), ("l_returnflag", 8), ("l_linestatus", 8))
          .map { case (n, b) => row(n, b) }.mkString("\nUNION ALL\n") +
        """
          |)
          |SELECT column_name, ndv, plain_bits,
          |  CAST(CASE WHEN ndv <= 1 THEN 0
          |    ELSE length(bin(ndv - 1)) END AS BIGINT) AS dict_bits,
          |  CAST(CASE WHEN plain_bits > (CASE WHEN ndv <= 1 THEN 0
          |      ELSE length(bin(ndv - 1)) END)
          |    THEN (10000 * (plain_bits - (CASE WHEN ndv <= 1 THEN 0
          |      ELSE length(bin(ndv - 1)) END))) // plain_bits
          |    ELSE 0 END AS BIGINT) AS savings_bp
          |FROM w""".stripMargin
    },
    // q296: same ndv(det) = ndv(det∪dep) rule via scalar subqueries.
    "q296_fd_discovery" -> {
      def row(d: String, dep: String, det: String, combo: String) =
        s"""SELECT '$d' AS determinant, '$dep' AS dependent,
           |  CAST((SELECT count(*) FROM (SELECT DISTINCT $det FROM li))
           |    AS BIGINT) AS ndv_det,
           |  CAST((SELECT count(*) FROM (SELECT DISTINCT $combo FROM li))
           |    AS BIGINT) AS ndv_combo""".stripMargin
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    l_returnflag, l_shipdate, l_orderkey // 1000 AS l_orderbucket
        |  FROM lineitem
        |), u AS (
        |""".stripMargin +
        Seq(
          ("l_orderkey", "l_returnflag", "l_orderkey",
            "l_orderkey, l_returnflag"),
          ("l_orderkey", "l_shipdate", "l_orderkey",
            "l_orderkey, l_shipdate"),
          ("l_partkey", "l_suppkey", "l_partkey", "l_partkey, l_suppkey"),
          ("l_orderkey,l_linenumber", "l_partkey",
            "l_orderkey, l_linenumber",
            "l_orderkey, l_linenumber, l_partkey"),
          ("l_orderkey", "l_orderbucket", "l_orderkey",
            "l_orderkey, l_orderbucket"))
          .map { case (d, dep, det, combo) => row(d, dep, det, combo) }
          .mkString("\nUNION ALL\n") +
        """
          |)
          |SELECT determinant, dependent, ndv_det, ndv_combo,
          |  ndv_det = ndv_combo AS holds,
          |  ndv_combo - ndv_det AS n_violating_groups
          |FROM u""".stripMargin
    },
    // q289: same (freq desc, key) ranks, same 2·cum ≥ n crossing.
    "q289_working_set_coverage" ->
      """WITH f AS (
        |  SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1
        |), r AS (
        |  SELECT c,
        |    row_number() OVER (ORDER BY c DESC, l_partkey) AS rk,
        |    sum(c) OVER (ORDER BY c DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n, count(*) OVER () AS n_keys
        |  FROM f
        |)
        |SELECT CAST(max(n) AS BIGINT) AS n_rows,
        |  CAST(max(n_keys) AS BIGINT) AS n_keys,
        |  CAST(CASE WHEN max(n) > 0
        |    THEN (10000 * (SELECT max(cum) FROM r WHERE rk <= 100))
        |      // max(n)
        |    ELSE 0 END AS BIGINT) AS top100_coverage_bp,
        |  CAST((SELECT min(rk) FROM r WHERE cum * 2 >= n) AS BIGINT)
        |    AS k50,
        |  CAST(CASE WHEN max(n_keys) > 0
        |    THEN (10000 * (SELECT min(rk) FROM r WHERE cum * 2 >= n))
        |      // max(n_keys)
        |    ELSE 0 END AS BIGINT) AS k50_share_bp
        |FROM r""".stripMargin,
    // q290: same pmod-32 model, same max·32 cross-mult and 1.2× rule.
    "q290_hash_partition_balance" ->
      """WITH p AS (
        |  SELECT l_orderkey % 32 AS pid, count(*) AS rows_p
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT count(*) AS n_parts,
        |  CAST(sum(rows_p) AS BIGINT) AS n_rows,
        |  CAST(min(rows_p) AS BIGINT) AS min_rows,
        |  CAST(max(rows_p) AS BIGINT) AS max_rows,
        |  CAST(CASE WHEN sum(rows_p) > 0
        |    THEN (10000 * max(rows_p) * 32) // sum(rows_p)
        |    ELSE 0 END AS BIGINT) AS balance_bp,
        |  CASE WHEN (CASE WHEN sum(rows_p) > 0
        |      THEN (10000 * max(rows_p) * 32) // sum(rows_p)
        |      ELSE 0 END) <= 12000
        |    THEN 'balanced' ELSE 'skewed' END AS verdict
        |FROM p""".stripMargin,
    // q294: same shared (orderkey, linenumber) order, same
    // 1 + Σ(col ≠ lag) run counting per column.
    "q294_rle_advisor" -> {
      def runs(c: String) =
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN prev_$c IS NULL OR prev_$c <> $c
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
           |  FROM l""".stripMargin
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey, l_returnflag, l_linestatus,
        |    CAST(l_shipdate AS DATE) AS l_shipdate, l_linenumber
        |  FROM lineitem
        |), l AS (
        |  SELECT *,
        |    lag(l_orderkey) OVER w AS prev_l_orderkey,
        |    lag(l_partkey) OVER w AS prev_l_partkey,
        |    lag(l_returnflag) OVER w AS prev_l_returnflag,
        |    lag(l_linestatus) OVER w AS prev_l_linestatus,
        |    lag(l_shipdate) OVER w AS prev_l_shipdate
        |  FROM li WINDOW w AS (ORDER BY l_orderkey, l_linenumber,
        |    l_partkey, l_returnflag, l_linestatus, l_shipdate)
        |), u AS (
        |""".stripMargin +
        Seq("l_orderkey", "l_partkey", "l_returnflag", "l_linestatus",
          "l_shipdate").map(runs).mkString("\nUNION ALL\n") +
        """
          |)
          |SELECT column_name, n_rows, n_runs,
          |  CAST(CASE WHEN n_rows > 0 THEN (10000 * n_runs) // n_rows
          |    ELSE 0 END AS BIGINT) AS run_share_bp,
          |  CASE WHEN (CASE WHEN n_rows > 0
          |      THEN (10000 * n_runs) // n_rows ELSE 0 END) <= 2000
          |    THEN 'rle' ELSE 'plain' END AS advice
          |FROM u""".stripMargin
    },
    // q286: every census cell re-derived from the modulus rule (TPC-H
    // lineitem part keys always resolve in the full dimension).
    "q286_late_arriving_dim" ->
      """SELECT 'initial' AS phase,
        |  CAST((SELECT count(*) FROM lineitem JOIN part
        |    ON l_partkey = p_partkey WHERE p_partkey % 10 <> 3)
        |    AS BIGINT) AS n_matched,
        |  CAST((SELECT count(*) FROM lineitem
        |    WHERE l_partkey % 10 = 3) AS BIGINT) AS n_orphan
        |UNION ALL
        |SELECT 'backfill' AS phase,
        |  CAST((SELECT count(*) FROM lineitem JOIN part
        |    ON l_partkey = p_partkey WHERE l_partkey % 10 = 3)
        |    AS BIGINT) AS n_matched,
        |  CAST((SELECT count(*) FROM lineitem
        |    WHERE l_partkey % 10 = 3 AND l_partkey NOT IN
        |      (SELECT p_partkey FROM part)) AS BIGINT) AS n_orphan""".stripMargin,
    // q271: same global key rank, same even-slices integer assignment,
    // same balance cross-mult.
    "q271_range_partition_planner" ->
      """WITH n AS (SELECT count(*) AS n FROM orders),
        |r AS (
        |  SELECT o_orderkey AS key,
        |    row_number() OVER (ORDER BY o_orderkey) AS r
        |  FROM orders
        |), p AS (
        |  SELECT key, ((r - 1) * 8) // (SELECT n FROM n) AS pid FROM r
        |)
        |SELECT CAST(pid AS BIGINT) AS pid, count(*) AS n_keys,
        |  CAST(min(key) AS BIGINT) AS lo_key,
        |  CAST(max(key) AS BIGINT) AS hi_key,
        |  CAST((10000 * count(*) * 8) // (SELECT n FROM n) AS BIGINT)
        |    AS balance_bp
        |FROM p GROUP BY pid""".stripMargin,
    // q268: exact distinct-tuple counts per grain via scalar subqueries,
    // same guarded floor-bp reduction and 100 bp advice rule.
    "q268_rollup_advisor" -> {
      def row(name: String, cols: String) =
        s"""SELECT '$name' AS grain,
           |  (SELECT count(*) FROM lineitem) AS n_rows,
           |  CAST((SELECT count(*) FROM (SELECT DISTINCT $cols
           |    FROM li)) AS BIGINT) AS n_groups""".stripMargin
      """WITH li AS (
        |  SELECT l_returnflag, l_linestatus, CAST(l_shipdate AS DATE)
        |    AS l_shipdate, l_partkey, l_suppkey
        |  FROM lineitem
        |), w AS (
        |""".stripMargin +
        Seq("l_returnflag" -> "l_returnflag",
          "l_returnflag,l_linestatus" -> "l_returnflag, l_linestatus",
          "l_shipdate" -> "l_shipdate",
          "l_partkey" -> "l_partkey",
          "l_partkey,l_suppkey" -> "l_partkey, l_suppkey")
          .map { case (n, c) => row(n, c) }.mkString("\nUNION ALL\n") +
        """
          |)
          |SELECT grain, n_rows, n_groups,
          |  CAST(CASE WHEN n_rows > 0
          |    THEN (10000 * n_groups) // n_rows ELSE 0 END AS BIGINT)
          |    AS reduction_bp,
          |  CASE WHEN (CASE WHEN n_rows > 0
          |      THEN (10000 * n_groups) // n_rows ELSE 0 END) <= 100
          |    THEN 'materialize' ELSE 'scan' END AS advice
          |FROM w""".stripMargin
    },
    // q202: one aggregate over the raw table, emitted once per physical
    // layout — data skipping may prune I/O, never change numbers. UTC
    // session ⇒ Spark's to_date(ts) ≡ DuckDB's CAST(ts AS DATE).
    // q211: q205's MERGE semantics plus the delete verb — bucket-11 keys
    // vanish before the summary.
    "q211_merge_delete" -> {
      val mergedWithDeletes =
        """m AS (
          |  SELECT c_custkey, c_mktsegment,
          |    CASE WHEN c_custkey % 16 = 3 THEN c_acctbal + 100.0
          |         ELSE c_acctbal END AS bal
          |  FROM customer WHERE c_custkey % 16 <> 11
          |  UNION ALL
          |  SELECT c_custkey + 1000000 AS c_custkey, c_mktsegment,
          |    c_acctbal AS bal
          |  FROM customer WHERE c_custkey % 16 = 7
          |)""".stripMargin
      s"WITH $mergedWithDeletes\n${mergeSummarySql("", "m")}"
    },
    // q212: the full CDC alphabet from the combined delta's rule —
    // changed (bucket 3), removed (bucket 11), added (re-keyed bucket 7),
    // unchanged (everything else).
    "q212_cdc_removals" ->
      """SELECT c_mktsegment,
        |  CASE WHEN c_custkey % 16 = 3 THEN 'changed'
        |       WHEN c_custkey % 16 = 11 THEN 'removed'
        |       ELSE 'unchanged' END AS status,
        |  count(*) AS n_rows
        |FROM customer GROUP BY 1, 2
        |UNION ALL
        |SELECT c_mktsegment, 'added' AS status, count(*) AS n_rows
        |FROM customer WHERE c_custkey % 16 = 7 GROUP BY c_mktsegment""".stripMargin,
    // q207: the diff the delta RULE implies — +100.00 always moves the
    // cents (changed), re-keyed rows appear (added), nothing is removed,
    // the rest compare equal.
    "q207_snapshot_diff" ->
      """SELECT c_mktsegment,
        |  CASE WHEN c_custkey % 16 = 3 THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  count(*) AS n_rows
        |FROM customer GROUP BY 1, 2
        |UNION ALL
        |SELECT c_mktsegment, 'added' AS status, count(*) AS n_rows
        |FROM customer WHERE c_custkey % 16 = 7 GROUP BY c_mktsegment""".stripMargin,
    // q205: MERGE semantics on the raw table must equal the merged
    // snapshot the COW rewrite published.
    "q205_merge_upsert" ->
      s"WITH $mergedStateSql\n${mergeSummarySql("", "m")}",
    // q209: SAME final state as q205 by design (the q203/q200 precedent) —
    // the incremental retraction/addition path must land exactly where
    // the full recompute does.
    "q209_incremental_agg" ->
      s"WITH $mergedStateSql\n${mergeSummarySql("", "m")}",
    // q213: the vacuumed survivor is the merged state — a vacuum may
    // never change what a reader sees (q205's oracle again by design).
    "q213_generation_vacuum" ->
      s"WITH $mergedStateSql\n${mergeSummarySql("", "m")}",
    // q226: the retention predicate on the raw table — partition drop may
    // change what a reader sees ONLY at the cutoff boundary.
    "q226_partition_retention" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE strftime(l_shipdate, '%Y-%m') >= '1999-01'
        |GROUP BY 1""".stripMargin,
    // q225: MERGE + schema-evolution semantics on the raw table — bucket-5
    // keys updated (+50.00, tier 'gold'), bucket-9 keys re-keyed as
    // inserts (tier 'new'), everyone else NULL tier.
    "q225_merge_schema_evolution" ->
      """WITH m AS (
        |  SELECT c_mktsegment,
        |    CASE WHEN c_custkey % 16 = 5 THEN c_acctbal + 50.0
        |         ELSE c_acctbal END AS bal,
        |    CASE WHEN c_custkey % 16 = 5 THEN 'gold' ELSE NULL END AS c_tier
        |  FROM customer
        |  UNION ALL
        |  SELECT c_mktsegment, c_acctbal, 'new'
        |  FROM customer WHERE c_custkey % 16 = 9
        |)
        |SELECT c_mktsegment, c_tier, count(*) AS n_customers,
        |  CAST(sum(CAST(CAST(bal AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM m GROUP BY 1, 2""".stripMargin,
    // q221: the raw-table lookup — the bucket layout must be invisible
    // to the result.
    "q221_hidden_partitioning" ->
      """SELECT l_orderkey, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey IN (1, 2, 3)
        |GROUP BY 1""".stripMargin,
    // q220: the full join recomputed from scratch — the oracle has no
    // idea the engine maintained the view incrementally, which is the
    // claim under test.
    "q220_ivm_join_view" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
        |           * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    // q206: both snapshots from first principles — the base state must
    // match gen-000001 AFTER the merge ran (published snapshots are
    // immutable), the current state must match the pointer's target.
    "q206_snapshot_read" ->
      (s"WITH $mergedStateSql,\n" +
        """b AS (
          |  SELECT c_custkey, c_mktsegment, c_acctbal AS bal FROM customer
          |)
          |""".stripMargin +
        mergeSummarySql("base", "b") + "\nUNION ALL\n" +
        mergeSummarySql("current", "m")),
    // q242: audit counters and verdicts from the candidate rules — the
    // bad write duplicates bucket-9 keys with a NULL segment, the good
    // write is the q205 upsert (no nulls, no dups, bucket-7 inserts).
    "q242_write_audit_publish" ->
      """SELECT 'bad' AS candidate,
        |  CAST(count(*)
        |    + sum(CASE WHEN c_custkey % 16 = 9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rows,
        |  CAST(sum(CASE WHEN c_custkey % 16 = 9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_segment,
        |  CAST(sum(CASE WHEN c_custkey % 16 = 9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_rows,
        |  'fail' AS audit_status, FALSE AS published
        |FROM customer
        |UNION ALL
        |SELECT 'good',
        |  CAST(count(*)
        |    + sum(CASE WHEN c_custkey % 16 = 7 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'pass', TRUE
        |FROM customer""".stripMargin,
    // q241: both snapshot shapes from the rule — the base holds every
    // customer in 16 materialized buckets; any partial merge rewrites
    // buckets 3 and 7 (2 materialized, 14 references) and adds the
    // re-keyed bucket-7 inserts.
    "q241_snapshot_metadata" ->
      """SELECT 'base' AS snapshot,
        |  16 AS n_buckets_materialized, 0 AS n_buckets_referenced,
        |  CAST(count(*) AS BIGINT) AS n_rows, FALSE AS is_current
        |FROM customer
        |UNION ALL
        |SELECT 'current',
        |  2, 14,
        |  CAST(count(*)
        |    + sum(CASE WHEN c_custkey % 16 = 7 THEN 1 ELSE 0 END) AS BIGINT),
        |  TRUE
        |FROM customer""".stripMargin,
    // q231: resolution replayed by rule — bucket 5 takes B's +200
    // (update-update, B wins), bucket 13 takes B's +50 (delete-vs-update,
    // update wins), buckets 3/7 apply their single branch, both insert
    // sets land; the conflict census comes straight off the bucket rule.
    "q231_branch_merge" ->
      """WITH m AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 16 = 3 THEN c_acctbal + 100.0
        |         WHEN c_custkey % 16 = 5 THEN c_acctbal + 200.0
        |         WHEN c_custkey % 16 = 7 THEN c_acctbal + 75.0
        |         WHEN c_custkey % 16 = 13 THEN c_acctbal + 50.0
        |         ELSE c_acctbal END AS bal
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 16 = 1
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 16 = 2
        |), s AS (
        |  SELECT c_mktsegment, count(*) AS n_customers,
        |    CAST(sum(CAST(CAST(bal AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS total_cents
        |  FROM m GROUP BY c_mktsegment
        |), cf AS (
        |  SELECT c_mktsegment,
        |    CAST(sum(CASE WHEN c_custkey % 16 = 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_uu,
        |    CAST(sum(CASE WHEN c_custkey % 16 = 13 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_du
        |  FROM customer GROUP BY c_mktsegment
        |)
        |SELECT s.c_mktsegment, s.n_customers, s.total_cents,
        |  CAST(COALESCE(cf.n_uu, 0) AS BIGINT) AS n_uu_conflicts,
        |  CAST(COALESCE(cf.n_du, 0) AS BIGINT) AS n_du_conflicts
        |FROM s LEFT JOIN cf USING (c_mktsegment)""".stripMargin,
    // q230: the positional vector was derived from the doc_id % 7 = 3
    // predicate — applying it BY POSITION must equal applying it BY VALUE.
    "q230_mor_positional_deletes" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(DISTINCT md5(text)) AS n_uniq_texts
        |FROM documents WHERE NOT (doc_id % 7 = 3)
        |GROUP BY source, lang""".stripMargin,
    // q229: pruning may drop files, never rows — the month aggregate from
    // the raw table must match what the manifest-planned scan returns.
    "q229_zone_map_pruning" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-06-01'
        |  AND CAST(l_shipdate AS DATE) <= DATE '1997-06-30'
        |GROUP BY l_returnflag""".stripMargin,
    "q202_rowgroup_skipping" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-03-01'
        |    AND CAST(l_shipdate AS DATE) <= DATE '1998-03-31'
        |)
        |SELECT 'scrambled' AS layout, n_rows, sum_qty, sum_price FROM a
        |UNION ALL
        |SELECT 'sorted', n_rows, sum_qty, sum_price FROM a""".stripMargin,
    // The oracle reads the ORIGINAL parquet — equality proves the JSONL
    // hop was lossless.
    "q118_jsonl_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS total_text_len,
        |  count(DISTINCT md5(text)) AS n_uniq_texts
        |FROM documents GROUP BY source, lang""".stripMargin,
    "q119_csv_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS total_text_len,
        |  count(DISTINCT md5(text)) AS n_uniq_texts
        |FROM documents GROUP BY source, lang""".stripMargin,
    "q136_partitioned_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(DISTINCT md5(text)) AS n_uniq_texts
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY source, lang""".stripMargin,

    "q191_orc_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS total_text_len,
        |  count(DISTINCT md5(text)) AS n_uniq_texts
        |FROM documents GROUP BY source, lang""".stripMargin,
    "q155_xml_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS total_text_len,
        |  count(DISTINCT md5(text)) AS n_uniq_texts
        |FROM documents GROUP BY source, lang""".stripMargin,
    // plain join over the originals: equality proves the bucketed layout
    // (hash-bucketed, sorted, external path) carries every row
    "q156_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    // q183: the dim holds every distinct fact month, so the star join
    // with yr = '1996' ≡ a year filter on the raw table; strftime
    // '%Y-%m' mirrors Spark's date_format 'yyyy-MM' (both zero-padded).
    "q183_dynamic_partition_pruning" ->
      """SELECT ship_month, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |        l_quantity, l_extendedprice
        |      FROM lineitem)
        |WHERE substr(ship_month, 1, 4) = '1996'
        |GROUP BY ship_month""".stripMargin,
    // q189: even ids rode the pre-evolution writer (no source/n_chars),
    // so their columns read back NULL and coalesce to the sentinel/0.
    "q189_schema_evolution" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN '__pre_evolution__'
        |       ELSE source END AS source,
        |  lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE n_chars END) AS BIGINT)
        |    AS total_chars,
        |  count(DISTINCT md5(text)) AS n_uniq_texts
        |FROM documents
        |GROUP BY CASE WHEN doc_id % 2 = 0 THEN '__pre_evolution__'
        |         ELSE source END, lang""".stripMargin)
}
