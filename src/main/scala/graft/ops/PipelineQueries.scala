package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.BinaryType

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.operators.Dedup

/** Round-3 training-data-pipeline operators (q82+): the data-curation
  * surface between raw crawl and training shards — repetition-based quality
  * signals, deterministic content-hash dataset splits, weight-based epoch
  * upsampling, and token-budget sequence packing. Every query is a pure
  * Column dataflow (explode → hash-agg, window cumsum, sequence explode):
  * embarrassingly parallel or keyed-shuffle shapes that hold at 100 TB.
  *
  * Cross-engine exactness: every ratio here is an integer÷integer double
  * (one IEEE op — bit-stable on any engine), hash splits compare md5 hex
  * STRINGS (identical lowercase hex on both engines), and all counts are
  * pinned to BIGINT/INTEGER per ARCHITECTURE.md.
  */
object PipelineQueries {

  /** Gopher-style repetition signals: fraction of mass in the single most
    * frequent token, fraction of repeated tokens, fraction of repeated
    * word bigrams. High values mark boilerplate/spam for the quality
    * filter. One explode+two-level hash-agg per signal family — the
    * shuffle key is (doc_id, token), so token skew cannot hot-spot a
    * partition beyond a single document's mass. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tokAgg = docs.select($"doc_id", explode(tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_toks"),
        max($"c").as("top_c"),
        count(lit(1)).as("n_uniq"))
    val bgAgg = docs.select($"doc_id",
      explode(Dedup.wordShingles($"text", 2)).as("bg"))
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_bg"),
        countDistinct($"bg").as("n_uniq_bg"))
    tokAgg.join(bgAgg, "doc_id").select(
      $"doc_id",
      $"n_toks",
      ($"top_c".cast("double") / $"n_toks".cast("double")).as("top_tok_frac"),
      (($"n_toks" - $"n_uniq").cast("double") / $"n_toks".cast("double")).as("dup_tok_frac"),
      (($"n_bg" - $"n_uniq_bg").cast("double") / $"n_bg".cast("double")).as("dup_bigram_frac"))
  }

  /** SOURCE-DRIFT MONITOR: per-source total-variation distance between the
    * source's token distribution and the corpus-wide mix — the
    * observability query a pipeline watches to catch a feed that changed
    * character (new boilerplate, language shift, scraper bug) before it
    * poisons the next training shard. Pure integer end to end: per-token
    * probabilities are fixed-pointed at 1e-9 by BIGINT floor-division
    * (c·10⁹ div N — products ≤10¹⁷ stay in BIGINT), and the absent-token
    * mass is folded in algebraically (Σ_{t∉s} q_t = 1 − Σ_{t∈s} q_t), so
    * only (source, token) pairs that EXIST are materialized — never the
    * sources×vocabulary cross product. One token-keyed shuffle for the
    * counts; source totals and the corpus total are tiny broadcasts.
    * TV ∈ [0,1]: ½(Σ_{t∈s}|p̂−q̂| + (10⁹ − Σ_{t∈s}q̂)/10⁹). */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val occ = Tables.documents(spark, dir)
      .select($"source", explode(tokens($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c_st"))
      .cache() // reused by vocab, per-source totals, and the term pass
    val vocab = occ.groupBy($"tok").agg(sum($"c_st").as("c_t"))
    val ns = occ.groupBy($"source").agg(sum($"c_st").as("n_s"))
    val tot = vocab.agg(sum($"c_t").as("n"))
    val terms = occ.join(vocab, "tok")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .select($"source",
        expr("(c_st * 1000000000) div n_s").as("r1"),
        expr("(c_t * 1000000000) div n").as("r2"))
    terms.groupBy($"source")
      .agg(sum(abs($"r1" - $"r2")).as("sum_abs"), sum($"r2").as("sum_r2"))
      .join(broadcast(ns), "source")
      .select($"source", $"n_s".as("n_source_tokens"),
        ($"sum_abs" + (lit(1000000000L) - $"sum_r2")).as("tv_fp"))
      .select($"source", $"n_source_tokens", $"tv_fp",
        ($"tv_fp".cast("double") / lit(2000000000L).cast("double")).as("tv_distance"))
  }

  /** Gopher-style REPETITION-CHARACTER signals (Rae et al. 2021 §A1.1's
    * "fraction of characters in duplicate n-grams" family — q82 measures
    * token-level repetition; this weights by character mass, which is what
    * the published thresholds are defined over): per document, the char
    * mass of word bigrams that occur ≥2× and of the single most frequent
    * bigram, as fractions of all bigram chars. Two hash-aggs on
    * (doc_id, gram) — skew-safe (the key includes doc_id) — and integer
    * masses divide exactly; the repetitive flag is 5·dup ≥ total (1/5). */
  def repetitionChars(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the composite-argmax radix below requires mass < 2³¹; a violation
    // (a pathological multi-GB document) must fail LOUDLY here, not let
    // mass bleed into the count term — both engines would agree on the
    // corrupted value, so the oracle could never catch it (r9 review)
    val rawMass = $"c" * length($"gram").cast("long")
    val cnt = Tables.documents(spark, dir)
      .select($"doc_id", explode(Dedup.wordShingles($"text", 2)).as("gram"))
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
      .select($"doc_id", $"c",
        when(rawMass < lit(2147483648L), rawMass)
          .otherwise(raise_error(lit(
            "q176: gram char mass >= 2^31 — composite argmax radix too small")))
          .as("mass"))
    // top gram = the MOST FREQUENT bigram (what the Gopher metric defines)
    // — a rarer-but-longer gram must not win, so the argmax rides a
    // composite integer key c·2³¹+mass (mass < 2³¹ ⇒ lexicographic
    // (count, mass) order, exact in BIGINT) and the mass comes back out
    // via mod; equal (count, mass) ties yield the same mass whichever
    // gram wins, so the output is total
    cnt.groupBy($"doc_id")
      .agg(sum($"mass").as("total_gram_chars"),
        sum(when($"c" >= 2, $"mass").otherwise(0L)).as("dup_gram_chars"),
        (max($"c" * lit(2147483648L) + $"mass") % lit(2147483648L))
          .as("top_gram_chars"))
      .select($"doc_id", $"total_gram_chars", $"dup_gram_chars", $"top_gram_chars",
        ($"dup_gram_chars".cast("double") / $"total_gram_chars".cast("double"))
          .as("dup_char_frac"),
        ($"top_gram_chars".cast("double") / $"total_gram_chars".cast("double"))
          .as("top_char_frac"),
        ($"dup_gram_chars" * 5 >= $"total_gram_chars").as("is_repetitive"))
  }

  /** DATA CARD (q181) — the per-source release summary a dataset ships
    * ("Datasheets for Datasets", Gebru et al. 2021, arXiv:1803.09010):
    * volume (docs / tokens / chars), quality (q172-cascade pass count —
    * SAME verdict definition, [[TextQueries.funnelVerdict]], so the card
    * cannot drift from the funnel), redundancy (exact-duplicate copies
    * beyond each md5 group's first, and members of near-dup clusters from
    * the SHARED memoized component frame q105/q159/q161 consume), with
    * exact-division fractions. One corpus pass computes features + the
    * content hash; one md5-keyed window ranks exact copies (uniform
    * hash keys ⇒ no skew); the cluster frame joins on doc_id; one final
    * source-keyed agg. The composition query of the curation layer —
    * like q99, but reporting instead of filtering. */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val base = Tables.documents(spark, dir).select(
      $"doc_id", $"source", $"n_chars",
      size(toks).as("n_toks"),
      size(array_distinct(toks)).as("n_uniq"),
      graft.functions.TextFunctions.sumTokenLen(toks).as("sum_len"),
      graft.functions.TextFunctions.wordHits(toks, TextQueries.FunnelMarkers)
        .as("marker_hits"),
      md5($"text").as("h"))
    val flagged = base
      .withColumn("rn",
        row_number().over(Window.partitionBy($"h").orderBy($"doc_id")))
      .withColumn("verdict",
        TextQueries.funnelVerdict($"n_toks", $"n_uniq", $"sum_len", $"marker_hits"))
    val clustered = DedupQueries.components(spark, dir)
      .select($"doc_id", lit(1).as("in_cluster"))
    flagged.join(clustered, Seq("doc_id"), "left_outer")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks".cast("long")).as("total_tokens"),
        sum($"n_chars").as("total_chars"),
        sum(when($"verdict" === "pass", 1L).otherwise(0L)).as("n_quality_pass"),
        sum(when($"rn" > 1, 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when($"in_cluster".isNotNull, 1L).otherwise(0L)).as("n_near_dup_members"))
      .select($"source", $"n_docs", $"total_tokens", $"total_chars",
        $"n_quality_pass", $"n_exact_dup", $"n_near_dup_members",
        ($"n_quality_pass".cast("double") / $"n_docs".cast("double"))
          .as("quality_pass_frac"),
        ($"n_exact_dup".cast("double") / $"n_docs".cast("double"))
          .as("exact_dup_frac"))
  }

  /** Deterministic content-hash train/val/test split (~80/10/10): the split
    * is a pure function of the document id's salted md5, so it is stable
    * across runs, engines, partitionings, and corpus growth — the property
    * that makes held-out sets trustworthy. Comparing the first two hex
    * chars lexicographically ('cc' = 204/256 ≈ 79.7%, 'e6' = 230/256)
    * avoids any hex→int conversion divergence between engines. */
  /** The salted-md5 split rule, shared by q83 and q88 (and mirrored
    * verbatim in both oracles). */
  private def splitCol: Column = {
    val h = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
    when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
  }

  def hashSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"n_chars", splitCol.as("split"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
  }

  /** Benchmark decontamination: for every TEST-split document, the
    * fraction of its word 3-gram shingles that appear anywhere in the
    * TRAIN split — the standard check that held-out data has not leaked
    * into the training corpus. Overlap detection is a distinct-shingle
    * left join (shuffle on the shingle hash, cost tracks the shingle
    * vocabulary — never test×train doc pairs), the same join shape at
    * 100 TB with the benchmark side broadcast when small. */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shingled = Tables.documents(spark, dir)
      .select($"doc_id", splitCol.as("split"),
        explode(Dedup.wordShingles($"text", 3)).as("sh"))
    val trainSh = shingled.filter($"split" === "train")
      .select($"sh").distinct().withColumn("__hit", lit(1))
    val testSh = shingled.filter($"split" === "test")
      .select($"doc_id", $"sh").distinct()
    testSh.join(trainSh, Seq("sh"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce($"__hit", lit(0))).as("n_shared"))
      .select($"doc_id", $"n_shingles", $"n_shared",
        ($"n_shared".cast("double") / $"n_shingles".cast("double")).as("contamination_frac"),
        (($"n_shared".cast("double") / $"n_shingles".cast("double")) >= lit(0.5))
          .as("is_contaminated"))
  }

  /** Weight-based document repetition (epoch upsampling): each document is
    * emitted `1 + n_chars/100` times, capped at 3 — the "repeat the good
    * data" step of corpus mixing, as a sequence+explode (generated rows
    * stay on their source partition; no shuffle at all). */
  def weightedRepeat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        least(lit(3L), lit(1L) + expr("n_chars div 100")).as("n_rep"))
      .select($"doc_id", $"source",
        explode(sequence(lit(1L), $"n_rep")).as("copy_id"))
  }

  /** Sequence packing by token budget: documents stream per source in
    * doc_id order, and each lands in the pack where its RUNNING token
    * total (before itself) falls — pack_id = cum_before / 2048. The
    * batch formulation of greedy context-window packing: one window
    * cumsum per source partition, integer math only. */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .withColumn("n_toks", size(tokens($"text")).cast("long"))
      .withColumn("cum_before", coalesce(sum($"n_toks").over(w), lit(0L)))
      .select($"doc_id", $"source", $"n_toks".cast("int").as("n_toks"),
        expr("cum_before div 2048").cast("int").as("pack_id"))
  }

  /** Edit-distance near-dup pairs — the character-level dedup flavor
    * (catches small in-place edits that shingle-set Jaccard dilutes).
    * Candidates are blocked on the min-md5 3-gram shingle (1-hash MinHash
    * block, as q53): Levenshtein is O(|a|·|b|) per pair, so the block
    * bound — never all pairs — is what makes it runnable at corpus scale;
    * the distance itself is the classic integer DP, identical on any
    * engine. */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val blocks = docs.select($"doc_id",
      explode(Dedup.wordShingles($"text", 3)).as("s"))
      .groupBy($"doc_id").agg(min(md5($"s")).as("block"))
    val d = docs.join(blocks, "doc_id").select($"doc_id", $"text", $"block")
    val a = d.select($"doc_id".as("doc_a"), $"text".as("ta"), $"block")
    val b = d.select($"doc_id".as("doc_b"), $"text".as("tb"), $"block")
    a.join(b, "block").filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", levenshtein($"ta", $"tb").as("edit_distance"))
      .filter($"edit_distance" <= lit(20))
  }

  /** SymSpell deletion-neighborhood linkage: every customer-name pair at
    * edit distance ≤ 1, found via the 1-deletion key trick — two strings
    * are within one edit iff they share a key in {s} ∪ {s minus one char}
    * (complete for distance 1, unlike q89's min-shingle blocking which is
    * recall-best-effort). Candidates are verified with `levenshtein` and
    * reported as a neighbor-count census.
    *
    * Scale shape: key generation is a per-row array fan-out (length+1 keys
    * per name — linear in total characters), candidates come from ONE
    * equi-join on the deletion key, never an all-pairs compare; key-group
    * sizes are bounded by the alphabet (only substitutions at one position
    * share a key), so the join has no skew cliff. At 100 TB this is the
    * standard spell-correction / entity-resolution blocking layout:
    * dictionary keys partition by hash, probes stream against them. */
  def symspellLinkage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    symspellCensus(Tables.customer(spark, dir).select($"c_name".as("name")))
  }

  /** The blocking+verify core of q302, factored so the completeness
    * theorem is testable on crafted vocabularies (the gate's fixed-length
    * customer names only ever exercise SUBSTITUTION pairs; insert/delete
    * pairs — lengths differing by 1, caught by the identity key — are
    * covered by Round11eSpec's brute-force equivalence on mixed-length
    * strings). Input: one `name` column, distinct or not. */
  private[ops] def symspellCensus(names: DataFrame): DataFrame = {
    val spark = names.sparkSession
    import spark.implicits._
    val verified = symspellPairs(names)
    verified.select($"na".as("vtx")).unionAll(verified.select($"nb".as("vtx")))
      .groupBy($"vtx").agg(count(lit(1)).as("n_neighbors"))
      .groupBy($"n_neighbors").agg(count(lit(1)).as("n_customers"))
  }

  /** The verified distance-≤1 pair set of the SymSpell blocking core,
    * factored from [[symspellCensus]] so q329's survivorship reuses the
    * identical linkage graph. Input: one `name` column; output: distinct
    * (na, nb) with na < nb and levenshtein ≤ 1. */
  /** The distinct (name, blocking-key) frame of the SymSpell core —
    * key set = {name} ∪ 1-deletions(name): the identity key catches
    * insert/delete pairs (lengths differ by 1), the deletions catch
    * substitutions — together complete for distance ≤ 1. Factored from
    * [[symspellPairs]] so q334's blocking audit censuses the SAME key
    * frame the linkage actually blocks on. */
  private[ops] def symspellKeys(names: DataFrame): DataFrame = {
    val spark = names.sparkSession
    import spark.implicits._
    names
      .select($"name", explode(expr(
        """concat(array(name), transform(sequence(1, length(name)),
          |  i -> concat(substr(name, 1, i-1), substr(name, i+1))))""".stripMargin))
        .as("k"))
      .distinct()
  }

  private[ops] def symspellPairs(names: DataFrame): DataFrame = {
    val spark = names.sparkSession
    import spark.implicits._
    // r15 optimization, result-identical: (1) the candidate equi-join runs
    // on xxhash64(k) instead of the key STRING — an 8-byte shuffle key and
    // integer compares instead of ~18-char strings; a hash collision can
    // only ADD candidates (two names whose distinct keys collide), and a
    // colliding pair either is a true distance-≤1 pair (then the
    // completeness theorem says it already shared a real key — the
    // distinct absorbs the duplicate) or fails the exact levenshtein
    // verify below, so the verified pair set is unchanged. (2) the verify
    // uses the THRESHOLD levenshtein (early-exit banded DP, O(len) for
    // threshold 1 instead of the full O(len²) table; it returns -1 above
    // the threshold and the candidates are distinct names, so `≠ -1` is
    // the old `<= 1` in ONE evaluation — a between would evaluate the DP
    // twice inside the join condition Catalyst folds this filter into).
    val dels = symspellKeys(names)
    val cand = dels.select($"name".as("na"), xxhash64($"k").as("h"))
      .join(dels.select($"name".as("nb"), xxhash64($"k").as("h")), "h")
      .filter($"na" < $"nb")
      .select($"na", $"nb")
      .distinct()
    cand.filter(levenshtein($"na", $"nb", 1) =!= -1)
  }

  /** The verified distance-≤1 pair set as a memoized derived table — the
    * derived-table pattern (q105's cluster frame, gridIndex): q329 is a
    * downstream CONSUMER of the linkage decision, exactly as a production
    * MDM pipeline computes the match pairs once and feeds every policy
    * that needs them; it must not re-run the deletion-key blocking per
    * query. q302 itself keeps computing the pairs live — it is the gate
    * OF that machinery. Built once per (JVM, sf-dir); [[prebuildLinkage]]
    * lets Bench charge the build to `fixture_secs`. */
  private[ops] def linkagePairsFixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(graft.Derived("pipeline.linkagePairs", dir) {
      val p = graft.Scratch.named(s"linkage_${graft.Scratch.dirKey(dir)}")
        .resolve("pairs").toString
      symspellPairs(Tables.customer(spark, dir).select($"c_name".as("name")))
        .write.mode("overwrite").parquet(p)
      p
    })
  }

  /** Bench fixture hook ([[graft.Fixtures]]): q329's verified pair set —
    * the gate times the survivorship (components + election + merge), not
    * the q302 linkage it consumes. */
  private[graft] def prebuildLinkage(spark: SparkSession, dir: String): Unit =
    linkagePairsFixture(spark, dir): Unit

  /** GOLDEN-RECORD SURVIVORSHIP (q329) — the MDM step AFTER q302's
    * linkage: the verified distance-≤1 name pairs become entity
    * components via [[graft.operators.Connect.components]] (the
    * alternating-star MapReduce algorithm — entity = min member name, a
    * deterministic fixpoint), each multi-record entity elects a GOLDEN
    * record by the "most complete wins" rule (longest name, ties to the
    * lexicographically smallest), and the entity's customer rows merge
    * into one: distinct-name count, record count, and the exact summed
    * balance on the cents bridge. Names with no link never shuffle
    * (Connect drops isolated nodes — production passes them through
    * unmerged; the gate reports exactly the MERGED entities).
    *
    * Implemented and brute-force-proved in round 12 (Round12Spec:
    * independent all-pairs Levenshtein + union-find); registered in round
    * 13 together with the canary-accepted bench.json refresh the
    * committed-artifact rule requires (registration was deferred one
    * round because r12's round-end host never offered a canary-comparable
    * window — ARCHITECTURE's canary rule, enforced by Bench itself).
    *
    * Scale shape: the linkage graph is pair-bounded (q302's blocking),
    * components iterate on the tiny edge set, and the only data-sized
    * work is one join of customer rows to their name's entity + a
    * grouped agg. The pair set is the memoized [[linkagePairsFixture]]
    * (round 13): q329 gates the survivorship step, q302 gates (and keeps
    * timing) the linkage that produces its input. */
  def survivorship(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.customer(spark, dir)
      .select($"c_name".as("name"),
        ($"c_acctbal".cast("decimal(14,2)") * 100).cast("long").as("cents"))
    val pairs = linkagePairsFixture(spark, dir)
    val comp = graft.operators.Connect.components(pairs, "na", "nb")
      .select(col("node").as("name"), col("component").as("entity"))
    // Two n_names variants were measured and REJECTED in r16 (the
    // countDistinct below was suspected of costing an Expand pass over
    // the cust⋈comp frame): (a) a separate comp.groupBy(entity) count —
    // a third comp consumer, and the fixpoint's root-leg distinct
    // re-executes per consumer (5.4 → 5.8 s min-vs-min); (b) carrying
    // count(*) over the election window's partition — still 5.4 → 6.0 s.
    // The gate's cost is Connect's rounds, not this aggregation.
    val golden = comp
      .withColumn("rk", row_number().over(
        Window.partitionBy($"entity")
          .orderBy(length($"name").desc, $"name".asc)))
      .filter($"rk" === 1).select($"entity", $"name".as("golden_name"))
    cust.join(comp, "name")
      .groupBy($"entity")
      .agg(countDistinct($"name").as("n_names"),
        count(lit(1)).as("n_records"),
        sum($"cents").as("sum_acct_cents"))
      .join(golden, "entity")
      .select($"entity", $"golden_name", $"n_names", $"n_records",
        $"sum_acct_cents")
  }

  /** BLOCKING-EFFICIENCY AUDIT (q334) — the entity-resolution planning
    * report that justifies q302/q329's blocking scheme BEFORE a run at
    * scale: from the deletion-key frame ([[symspellKeys]] — the exact
    * frame the linkage blocks on), census the blocks and report the
    * standard ER metrics as exact integers — comparison count
    * Σ C(n_k, 2) (the work a block-join actually performs, counted per
    * shared key), blocks ≥ 2, the largest block (the skew bound: one
    * block is one join key's fanout), verified matches (from the
    * memoized [[linkagePairsFixture]] — q334 is a consumer of the
    * linkage decision, like q329), the reduction ratio vs all n(n−1)/2
    * pairs in floor basis points, and verified-per-comparison in bp.
    * A reduction ratio near 10000 with a bounded max block is precisely
    * the certificate that the linkage join survives 100 TB; both DIVs
    * are zero-guarded per the repo rule. Cost: one explode + two tiny
    * aggs — never materializes a candidate pair. */
  def blockingEfficiency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = Tables.customer(spark, dir)
      .select($"c_name".as("name")).distinct()
    val blocks = symspellKeys(names).groupBy($"k")
      .agg(count(lit(1)).as("nk"))
    val nn = names.agg(count(lit(1)).as("n_names"))
    val ver = linkagePairsFixture(spark, dir).agg(count(lit(1)).as("nv"))
    blocks.agg(
        count(lit(1)).as("n_keys"),
        sum(when($"nk" >= 2L, 1L).otherwise(0L)).as("n_blocks_ge2"),
        max($"nk").as("max_block"),
        sum(expr("nk * (nk - 1) div 2")).as("n_candidate_comparisons"))
      .crossJoin(broadcast(nn)).crossJoin(broadcast(ver))
      .select($"n_names", $"n_keys", $"n_blocks_ge2", $"max_block",
        $"n_candidate_comparisons", $"nv".as("n_verified_pairs"),
        when($"n_names" >= 2L,
          lit(10000L) - expr(
            "n_candidate_comparisons * 10000L div (n_names * (n_names - 1) div 2)"))
          .otherwise(10000L).as("reduction_ratio_bp"),
        when($"n_candidate_comparisons" > 0L,
          expr("nv * 10000L div n_candidate_comparisons"))
          .otherwise(0L).as("pairs_quality_bp"))
  }

  /** q329_survivorship's DuckDB oracle — same deletion-key linkage as
    * q302, components replayed by the recursive reachability walk
    * (entity = min member name, the Connect fixpoint), same (length
    * DESC, name ASC) golden pin, same cents bridge. */
  private[ops] val survivorshipOracle: String =
    """WITH RECURSIVE nm AS (SELECT DISTINCT c_name AS name FROM customer),
      |del0 AS (SELECT name, unnest(range(1, length(name)+1)) AS i FROM nm),
      |del AS (
      |  SELECT DISTINCT name, name AS k FROM nm
      |  UNION
      |  SELECT DISTINCT name, substr(name, 1, i-1) || substr(name, i+1)
      |  FROM del0
      |),
      |cand AS (
      |  SELECT DISTINCT a.name AS na, b.name AS nb
      |  FROM del a JOIN del b ON a.k = b.k AND a.name < b.name
      |),
      |ver AS (SELECT na, nb FROM cand WHERE levenshtein(na, nb) <= 1),
      |e AS (SELECT na AS u, nb AS v FROM ver UNION SELECT nb, na FROM ver),
      |walk(node, reach) AS (
      |  SELECT u, u FROM e
      |  UNION
      |  SELECT w.node, e2.v FROM walk w JOIN e e2 ON e2.u = w.reach
      |),
      |comp AS (SELECT node AS name, min(reach) AS entity FROM walk GROUP BY node),
      |golden AS (
      |  SELECT entity, name AS golden_name FROM (
      |    SELECT entity, name, row_number() OVER (PARTITION BY entity
      |      ORDER BY length(name) DESC, name ASC) AS rk FROM comp)
      |  WHERE rk = 1
      |),
      |cust AS (
      |  SELECT c_name AS name,
      |    CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      |  FROM customer
      |),
      |m AS (
      |  SELECT entity, CAST(count(DISTINCT name) AS BIGINT) AS n_names,
      |    CAST(count(*) AS BIGINT) AS n_records,
      |    CAST(sum(cents) AS BIGINT) AS sum_acct_cents
      |  FROM cust JOIN comp USING (name) GROUP BY entity
      |)
      |SELECT entity, golden_name, n_names, n_records, sum_acct_cents
      |FROM m JOIN golden USING (entity)""".stripMargin

  /** Systematic probability-proportional-to-size sampling: walk the
    * key-ordered weight axis (exact retail-price cents) and take every item
    * whose cumulative weight crosses a multiple of step = total/100 — the
    * deterministic, transcendental-free PPS design (complements q298's
    * quota sampler and q174's priority sampler: this one is
    * weight-proportional AND spacing-guaranteed).
    *
    * The cumulative sum is the scale problem: a single
    * `sum() OVER (ORDER BY key)` serializes the table through one task.
    * Here it is the classic TWO-PHASE distributed prefix sum — fixed key
    * blocks (`p_partkey div 1000`) cumsum WITHIN blocks (partitioned
    * window, parallel), block totals get their running offsets on a frame
    * 1000× smaller than the data (recurse the same trick for another
    * 1000× if that frame ever matters), and a broadcast join stitches the
    * two. Because blocks are key-monotone, block-offset + in-block cumsum
    * equals the global key-ordered cumsum exactly — which is what the
    * oracle computes with the plain single-node window. Every crossing
    * test is integer floor-div on both engines; step > 0 guards the
    * degenerate empty-table case. */
  def ppsSystematicSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, dir).select($"p_partkey", $"p_brand",
      ($"p_retailprice".cast("decimal(14,2)") * 100).cast("long").as("w"))
    val blocked = p.withColumn("blk", expr("p_partkey div 1000"))
    val blkSums = blocked.groupBy($"blk").agg(sum($"w").as("bw"))
    val wBlk = Window.orderBy($"blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blkSums
      .withColumn("off", coalesce(sum($"bw").over(wBlk), lit(0L)))
      .select($"blk", $"off")
    val wIn = Window.partitionBy($"blk").orderBy($"p_partkey")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = blocked.join(broadcast(offsets), "blk")
      .withColumn("cw", $"off" + sum($"w").over(wIn))
    val tot = p.agg(sum($"w").as("tw"))
    cum.crossJoin(broadcast(tot))
      .withColumn("step", expr("tw div 100"))
      .filter($"step" > 0 &&
        expr("(cw - w) div step") < expr("cw div step"))
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_selected"), sum($"w").as("sel_weight_cents"))
  }

  /** Leakage-free (out-of-fold) target encoding — the feature-engineering
    * staple for categorical columns: each (category, fold) cell's encoding
    * is the target mean computed from every OTHER fold, so a training row
    * never sees its own label. Folds are a salted-md5 hash of the order
    * key (deterministic, engine-exact); the target is exact order-total
    * cents; the mean is a guarded BIGINT floor-div.
    *
    * Scale shape: two hash-aggs over the same fact scan (per-cell and
    * per-category) + one broadcast join of the tiny per-category totals
    * back onto the cells — the encoding never shuffles the fact table
    * twice and never windows. The classic trap this formulation avoids:
    * computing each fold's complement with an anti-join per fold (k scans)
    * instead of complement-by-subtraction (one scan). */
  def oofTargetEncoding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select(
      $"o_custkey",
      ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long").as("cents"),
      (conv(substring(md5(concat(lit("oof:"), $"o_orderkey".cast("string"))),
        1, 8), 16, 10).cast("long") % 5).as("fold"))
    val c = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment".as("segment"))
    val j = o.join(c, $"o_custkey" === $"c_custkey")
      .select($"segment", $"fold", $"cents")
    val byCell = j.groupBy($"segment", $"fold")
      .agg(count(lit(1)).as("n_fold"), sum($"cents").as("sum_fold"))
    val bySeg = j.groupBy($"segment")
      .agg(count(lit(1)).as("n_seg"), sum($"cents").as("sum_seg"))
    byCell.join(broadcast(bySeg), "segment")
      .select($"segment", $"fold", $"n_fold",
        when($"n_seg" > $"n_fold",
          expr("(sum_seg - sum_fold) div (n_seg - n_fold)"))
          .otherwise(lit(0L)).as("oof_enc_cents"))
  }

  /** Temperature-based corpus mixing (α = 0.5): down-sample every source so
    * kept counts are proportional to n_i^α — the standard multi-corpus
    * rebalance that keeps big crawls from drowning small curated sets.
    * kept_i = n_i·sqrt(n_min/n_i) = sqrt(n_min·n_i) ∝ n_i^0.5.
    *
    * Exactness: α = 1/2 is deliberate — sqrt and division are the two IEEE
    * ops with REQUIRED correct rounding, so the rate is bit-identical on any
    * engine (a pow(x, 0.7) would ride each libm's private error bounds, the
    * q86 lesson). Membership is a pure function of the doc id: the salted
    * md5's first 4 hex chars compared against the rate scaled to 16 bits,
    * both sides uppercase (mixing md5's lowercase with hex()'s uppercase
    * digits would order A-F before a-f and break the numeric comparison).
    *
    * Scale: per-source counts are a tiny agg broadcast back onto the fan-out
    * scan; the doc-level pass is a scan + map-side filter + hash-agg — no
    * data-sized shuffle, no skew exposure. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    mixWithRate(spark, dir, salt = "mix:")(sqrt)

  /** Temperature mixing with a CONFIGURABLE dyadic α (here 3/4) — the
    * generalization the α=1/2 gate's comment promises: any α = k/2^m is
    * cross-engine exact through [[dyadicPow]] (a product of iterated square
    * roots), where an arbitrary α would ride pow()'s per-libm error bounds.
    * α = 3/4 is the mid-point between uniform (α=1) and q91's aggressive
    * rebalance: kept_i ∝ n_i^(3/4). */
  def temperatureMixAlpha34(spark: SparkSession, dir: String): DataFrame =
    mixWithRate(spark, dir, salt = "mix34:")(dyadicPow(_, 3, 2))

  /** x^(k / 2^m) (0 < k < 2^m) as a LEFT-TO-RIGHT product of iterated
    * square roots: bit j of k (counting from the high end) contributes
    * sqrt^j(x). sqrt, multiply, and divide are the IEEE ops with REQUIRED
    * correct rounding, so every engine evaluating this same expression tree
    * produces identical bits — pow/exp/ln do not have that guarantee (the
    * q86 lesson). The oracle mirrors the same product, in the same order. */
  private[ops] def dyadicPow(x: Column, k: Int, m: Int): Column = {
    require(k > 0 && k < (1 << m), s"need 0 < k < 2^m, got k=$k m=$m")
    val roots = Iterator.iterate(x)(sqrt).take(m + 1).toSeq // roots(j) = x^(1/2^j)
    (1 to m).filter(j => (k & (1 << (m - j))) != 0).map(roots)
      .reduceLeft(_ * _)
  }

  private def mixWithRate(spark: SparkSession, dir: String, salt: String)(
      rateOf: Column => Column): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // Per-source counts are a tiny grouped result (one row per corpus
    // source) — materialize them driver-side, the q77 centroid pattern:
    // left lazy, every re-reference to the counts frame re-derives its
    // lineage and the corpus gets scanned five times instead of two
    // (counts + filter).
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .as[(String, Long)].collect()
    val nMin = counts.map(_._2).min
    val rates = counts.toSeq.toDF("source", "n_docs")
      .withColumn("sample_rate", rateOf(lit(nMin).cast("double") / $"n_docs".cast("double")))
      .withColumn("thr", lpad(hex(floor($"sample_rate" * lit(65536)).cast("long")), 4, "0"))
    val kept = docs.join(broadcast(rates), "source")
      .filter($"sample_rate" >= lit(1.0) ||
        upper(substring(md5(concat(lit(salt), $"doc_id".cast("string"))), 1, 4)) < $"thr")
      .groupBy($"source").agg(count(lit(1)).as("n_kept"))
    rates.join(broadcast(kept), Seq("source"), "left_outer")
      .select($"source", $"n_docs", coalesce($"n_kept", lit(0L)).as("n_kept"),
        $"sample_rate")
  }

  /** Deterministic global shuffle + shard assignment — the training-export
    * step: every document gets a pseudo-random but reproducible position
    * (salted-md5 sort key), sharded by the key's leading hex digits so each
    * shard is an independent, internally-ordered unit. The scalable
    * formulation: NO global row_number (a total order would serialize onto
    * one partition); instead the window partitions BY SHARD, so the sorts
    * run shard-parallel and each shard's ordered rows stream straight into
    * its export file. `nibbles` sets the shard count (16^nibbles): the gate
    * runs 2 → 256 shards, so the sort parallelism exceeds any plausible
    * core count (VERDICT r3 #5 — 16 shards meant 16 sorting tasks); widening
    * further never changes the plan shape. */
  def shardAssignment(spark: SparkSession, dir: String): DataFrame =
    shardAssignment(spark, dir, nibbles = 2)

  def shardAssignment(spark: SparkSession, dir: String, nibbles: Int): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"shard_id").orderBy($"shuffle_key", $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id",
        md5(concat(lit("shuffle:"), $"doc_id".cast("string"))).as("shuffle_key"))
      .withColumn("shard_id",
        conv(substring($"shuffle_key", 1, nibbles), 16, 10).cast("int"))
      .withColumn("pos_in_shard", row_number().over(w))
  }

  /** SHARD INTEGRITY MANIFEST (q200) — the artifact a training job
    * actually consumes next to q94's shard assignment: per shard, the row
    * count, character volume, and an ORDER-INDEPENDENT content checksum
    * (Σ of each member's 48-bit md5-prefix digest — a plain BIGINT sum,
    * so writers can emit shard files in any partition order and the
    * manifest still reconciles; 500 docs × 2⁴⁸ ≲ 2⁶³, and at corpus
    * scale the sum rides DECIMAL(38) headroom). A lost, duplicated, or
    * corrupted document flips its shard's n_docs or content_sum48 —
    * exactly the check the consumer runs before trusting an export. The
    * shard rule is [[shardAssignment]] itself (single-sourced, never a
    * re-derivation); one hash-keyed join + one shard-keyed agg. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val assign = shardAssignment(spark, dir, nibbles = 2)
      .select($"doc_id", $"shard_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars",
        conv(substring(md5($"text"), 1, 12), 16, 10).cast("long").as("digest48"))
      .join(assign, "doc_id")
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum($"digest48").as("content_sum48"))
  }

  /** Many-small-files copy of `documents` for the q203 compaction gate,
    * built once per (JVM, dir): 64 part files — the shape a per-batch
    * streaming sink (q140/q184/q194) leaves behind after a day of
    * micro-batches. */
  private def fragmentedDocs(spark: SparkSession, dir: String): String =
    graft.Derived("pipeline.fragmentedDocs", dir) {
      val out = graft.Scratch.named(s"q203_${graft.Scratch.dirKey(dir)}")
        .resolve("docs_fragmented").toString
      Tables.documents(spark, dir).repartition(64)
        .write.mode("overwrite").parquet(out)
      out
    }

  /** DATA-FILE COMPACTION with manifest reconciliation (q203, VERDICT r10
    * #4) — the maintenance op the engine's own streaming sinks create the
    * need for: a 64-file fragment of `documents` is bin-packed by
    * [[graft.sources.Sources.compactParquet]] (sizing from on-disk bytes,
    * `coalesce` so NO shuffle — compaction is an I/O rewrite, not a
    * re-cluster), and the gate then recomputes q200's shard integrity
    * manifest FROM THE COMPACTED FILES, joined against the single-sourced
    * [[shardAssignment]] rule. The oracle is q200's manifest SQL verbatim
    * over the raw table, so a document lost, duplicated, or corrupted by
    * the rewrite flips its shard's n_docs/total_chars/content_sum48 and
    * breaks the hash — exactly the reconciliation a production compactor
    * runs before swapping the table pointer. The `require` pins the
    * physical claim (file count actually dropped ≥ 4×); the compaction
    * itself runs inside the gate — it IS the timed claim — while the
    * fragmented input is a memoized fixture. */
  def compactionManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frag = fragmentedDocs(spark, dir)
    val out = graft.Scratch.fresh("q203_compact_").resolve("docs").toString
    val (nIn, nOut, _) = graft.sources.Sources.compactParquet(
      spark, frag, out, targetBytes = 16L * 1024 * 1024)
    require(nOut * 4 <= nIn,
      s"compaction did not pack: $nIn files in, $nOut out")
    val assign = shardAssignment(spark, dir, nibbles = 2)
      .select($"doc_id", $"shard_id")
    spark.read.parquet(out)
      .select($"doc_id", $"n_chars",
        conv(substring(md5($"text"), 1, 12), 16, 10).cast("long").as("digest48"))
      .join(assign, "doc_id")
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum($"digest48").as("content_sum48"))
  }

  /** Bench fixture hook ([[graft.Fixtures]]): the q203 fragmented input —
    * the gate times the compaction, not the fragment write. */
  private[graft] def prebuildFixtures(spark: SparkSession, dir: String): Unit =
    fragmentedDocs(spark, dir): Unit

  /** REFERENTIAL-INTEGRITY AUDIT (q214) — the data-quality sweep a
    * warehouse runs before promoting a load: for every foreign-key edge,
    * the child row count, the distinct-parent count, and the count of
    * ORPHANS (child keys with no parent — each edge one left-anti join;
    * dimension parents broadcast, the one fact-fact edge shuffles on its
    * key). Zero orphans on this corpus is itself the audited fact; the
    * counts stay meaningful when a bad load breaks it. */
  def referentialIntegrity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def edge(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String, broadcastParent: Boolean): DataFrame = {
      val p = parent.select(col(pkey))
      val orphans = child.select(col(key))
        .join(if (broadcastParent) broadcast(p) else p,
          col(key) === col(pkey), "left_anti")
      val stats = child.agg(count(lit(1)).as("n_child"),
        countDistinct(col(key)).as("n_child_keys"))
      stats.crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
        .select(lit(name).as("edge"), $"n_child", $"n_child_keys", $"n_orphans")
    }
    val li = Tables.lineitem(spark, dir)
    val or = Tables.orders(spark, dir)
    val cu = Tables.customer(spark, dir)
    val na = Tables.nation(spark, dir)
    Seq(
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", or, "o_orderkey",
        broadcastParent = false),
      edge("orders.o_custkey->customer", or, "o_custkey", cu, "c_custkey",
        broadcastParent = true),
      edge("customer.c_nationkey->nation", cu, "c_nationkey", na, "n_nationkey",
        broadcastParent = true),
      edge("nation.n_regionkey->region", na, "n_regionkey",
        Tables.region(spark, dir), "r_regionkey", broadcastParent = true)
    ).reduce(_ unionByName _)
  }

  /** PARTITION COMPLETENESS AUDIT (q215) — the freshness/gap check over a
    * time-partitioned fact: per ship YEAR, how many month partitions the
    * span [first shipped month, last shipped month] expects, how many
    * hold rows, and the row volume — a silent one-month ingestion gap is
    * exactly what this surfaces. The month spine generates from the
    * corpus' own bounds (broadcast 1-row aggregate → `sequence()` — never
    * a hard-coded calendar), left-joins the per-month counts, and rolls
    * up per year; everything integer. */
  def partitionGapAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val months = Tables.lineitem(spark, dir)
      .select(date_trunc("month", $"l_shipdate").cast("date").as("m"))
      .groupBy($"m").agg(count(lit(1)).as("n_rows"))
    val bounds = months.agg(min($"m").as("mn"), max($"m").as("mx"))
    val spine = bounds
      .select(explode(expr("sequence(mn, mx, interval 1 month)")).as("m"))
    spine.join(months, Seq("m"), "left")
      .groupBy(year($"m").as("ship_year"))
      .agg(count(lit(1)).as("n_months_expected"),
        sum(when($"n_rows".isNotNull, 1L).otherwise(0L)).as("n_months_present"),
        sum(when($"n_rows".isNull, 1L).otherwise(0L)).as("n_gap_months"),
        sum(coalesce($"n_rows", lit(0L))).as("n_rows"))
  }

  /** CASCADING ERASURE AUDIT (q251) — the right-to-be-forgotten drill a
    * 100 TB warehouse must be able to run and PROVE: given a subject set
    * (customers with custkey % 97 = 3 — ~1%), erase them and everything
    * that references them transitively (their orders, those orders'
    * lineitems — the FK graph q214 audits is exactly the graph an
    * erasure must walk), and emit the auditable census: rows before,
    * rows removed, rows after, and — the part regulators actually ask
    * for — a RESIDUAL count proving zero surviving rows still reference
    * a subject. Erasure is left-anti joins keyed on each hop (subject
    * keys broadcast; the order-key hop shuffles on its own key at scale);
    * the residual check re-joins the survivors against the subject set,
    * so a leaked row is a nonzero cell, not a silent success. The oracle
    * recomputes every cell from the modulus rule. */
  def cascadingErasure(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val subjects = cust.filter(pmod($"c_custkey", lit(97)) === 3)
      .select($"c_custkey")
    // localCheckpoint: the doomed-order key set feeds the lineitem
    // anti-join AND the residual re-probe — uncheckpointed, the
    // orders⋈subjects derivation ran once per reader (r15, the q132
    // repeated-subtree rule; tiny ~1% key frame)
    val doomedOrders = orders
      .join(broadcast(subjects), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey")
      .localCheckpoint()
    /** One aggregate pass over the erased survivors computes n_after AND
      * the regulator's residual proof together: the residual re-probe is
      * a LEFT join of the anti-join's output back against the subject
      * keys (an honest recheck of the erasure — a leaked survivor row
      * matches and counts), where the r15 shape change is only that the
      * count rides the same scan as n_after instead of re-executing the
      * whole anti-join lineage a second time (each `after` subtree used
      * to run twice: once under count(), once under the residual join). */
    def census(table: String, nb: Long, after: DataFrame,
        probeKey: String, keys: DataFrame, keyCol: String): DataFrame = {
      val r = after
        .join(broadcast(keys.select(col(keyCol).as("__doomed"))),
          col(probeKey) === col("__doomed"), "left")
        .agg(count(lit(1)).as("na"),
          coalesce(sum(when(col("__doomed").isNotNull, 1L).otherwise(0L)),
            lit(0L)).as("resid"))
        .head()
      val (na, resid) = (r.getLong(0), r.getLong(1))
      Seq((table, nb, nb - na, na, resid))
        .toDF("table_name", "n_before", "n_removed", "n_after", "n_residual")
    }
    val custAfter = cust.join(broadcast(subjects), Seq("c_custkey"), "left_anti")
    val ordAfter = orders
      .join(broadcast(subjects), $"o_custkey" === $"c_custkey", "left_anti")
    val liAfter = li
      .join(doomedOrders, $"l_orderkey" === $"o_orderkey", "left_anti")
    census("customer", cust.count(), custAfter, "c_custkey", subjects, "c_custkey")
      .unionByName(census("orders", orders.count(), ordAfter,
        "o_custkey", subjects, "c_custkey"))
      .unionByName(census("lineitem", li.count(), liAfter,
        "l_orderkey", doomedOrders, "o_orderkey"))
  }

  /** DECLARED-CONSTRAINT AUDIT SUITE (q232) — the Deequ-style contract
    * check a warehouse runs per load, completing the q214/q215 quality
    * family: a SUITE of named constraints (completeness, key uniqueness,
    * two range checks, set membership, a cross-field comparison, plus a
    * deliberately tight bound that FAILS so both statuses are exercised)
    * evaluated in ONE aggregate pass over the fact table — every
    * constraint is a conditional count inside the same hash-agg, and
    * uniqueness rides `count − countDistinct(key struct)` in that pass
    * rather than a second self-join — then unpivoted to one row per
    * constraint with its violation count and pass/fail verdict. At 100 TB
    * this is the difference between one scan for the whole suite and one
    * scan per check; the map-side partials are a handful of counters. The
    * oracle recomputes every counter independently, so a miscounted
    * violation (filter drift, null-handling slip) flips a status and
    * breaks the hash. */
  def constraintSuite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    def viol(c: Column) = sum(when(c, 1L).otherwise(0L))
    val a = li.agg(
      count(lit(1)).as("n"),
      viol($"l_linestatus".isNull).as("v_complete"),
      (count(lit(1)) -
        countDistinct(struct($"l_orderkey", $"l_linenumber"))).as("v_unique"),
      viol($"l_quantity" < 1 || $"l_quantity" > 50).as("v_range"),
      viol(!$"l_returnflag".isin("R", "A", "N")).as("v_set"),
      viol($"l_discount" < 0.0 || $"l_discount" > 0.1).as("v_disc"),
      viol($"l_extendedprice" < $"l_quantity").as("v_cross"),
      viol($"l_quantity" > 30).as("v_tight"))
    a.select(expr(
      """stack(7,
        |  'completeness(l_linestatus)', v_complete,
        |  'uniqueness(l_orderkey,l_linenumber)', v_unique,
        |  'range(l_quantity,1,50)', v_range,
        |  'isin(l_returnflag,R|A|N)', v_set,
        |  'range(l_discount,0,0.1)', v_disc,
        |  'cross(l_extendedprice>=l_quantity)', v_cross,
        |  'bound(l_quantity<=30)', v_tight) AS (check_name, n_violations)
        |""".stripMargin), $"n".as("n_checked"))
      .select($"check_name", $"n_checked", $"n_violations",
        when($"n_violations" === 0L, "pass").otherwise("fail").as("status"))
  }

  /** MULTI-EPOCH TRAINING SHUFFLE (q239) — the reshuffle-every-epoch
    * contract of a training data loader, as a deterministic distributed
    * op: epoch e orders and shards the corpus by md5("e:doc_id"), so
    * each epoch is a fresh pseudorandom permutation (no epoch sees the
    * previous epoch's order — the generalization hygiene reason loaders
    * reshuffle at all) while staying bit-reproducible across reruns and
    * engines — seeded randomness as hashing, the q94/q174 rule, never an
    * RNG. The census per (epoch, shard) pins membership (every doc in
    * exactly one shard per epoch, counts and char totals conserved) and
    * the ORDER ITSELF via lead_doc — the document that opens the shard,
    * extracted from the min (hash ‖ zero-padded id) string key, a total
    * tie-free order both engines agree on. At 100 TB each epoch is one
    * hash-partitioned write with no coordination; the three epochs here
    * ride one crossJoin against a 3-row literal. */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val epochs = spark.range(3).select($"id".cast("int").as("epoch"))
    Tables.documents(spark, dir).select($"doc_id", $"n_chars")
      .crossJoin(broadcast(epochs))
      .select($"epoch", $"doc_id", $"n_chars",
        md5(concat($"epoch".cast("string"), lit(":"),
          $"doc_id".cast("string"))).as("h"))
      .select($"epoch",
        (conv(substring($"h", 1, 1), 16, 10).cast("long") % 8).as("shard"),
        $"n_chars",
        concat($"h", lpad($"doc_id".cast("string"), 12, "0")).as("ord"))
      .groupBy($"epoch", $"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        substring(min($"ord"), 33, 12).cast("long").as("lead_doc"))
  }

  /** Exact-k stratified sample (eval-set construction): the k docs with the
    * smallest salted-hash keys per source — deterministic, reproducible,
    * uniformly random within each stratum. Selection runs through the
    * k-bounded [[graft.functions.TopK]] heap aggregate, NOT a per-stratum
    * row_number window: partial states carry ≤ k entries, so the shuffle is
    * k·sources·partitions rows — a hot 99%-of-corpus stratum costs the same
    * exchange as a tiny one. The ranking key is the hash's first 12 hex
    * chars as an exact 48-bit double (ties broken by doc_id), mirrored
    * verbatim in the oracle's ORDER BY. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pfx = conv(substring(
      md5(concat(lit("strat:"), $"doc_id".cast("string"))), 1, 12), 16, 10)
      .cast("double")
    Tables.documents(spark, dir)
      .select($"source", $"doc_id", (-pfx).as("neg_key"))
      .groupBy($"source")
      .agg(graft.functions.TopK.scoredTopK($"neg_key", $"doc_id", 20).as("top"))
      .select($"source", posexplode($"top").as(Seq("pos", "s")))
      .select($"source", $"s.cand_id".as("doc_id"),
        ($"pos" + 1).cast("int").as("sample_rank"))
  }

  /** Bigram language-model counts — the n-gram statistics pass of a
    * data-quality/perplexity pipeline: top-20 word bigrams with their
    * conditional probability P(w2|w1) = c(w1,w2)/c(w1). One explode →
    * hash-agg for pair counts, one w1-keyed window for the denominator;
    * the probability is a single integer-ratio IEEE division, exact on any
    * engine. Top-20 is fully tie-broken (count desc, w1, w2). */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.documents(spark, dir)
      .select(explode(Dedup.wordShingles($"text", 2)).as("bg"))
      .select(split($"bg", " ").as("p"))
      .filter(size($"p") === 2)
      .select($"p".getItem(0).as("w1"), $"p".getItem(1).as("w2"))
    val counts = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c_ab"))
    counts
      .withColumn("c_a", sum($"c_ab").over(Window.partitionBy($"w1")))
      .select($"w1", $"w2", $"c_ab", $"c_a",
        ($"c_ab".cast("double") / $"c_a".cast("double")).as("cond_prob"))
      .orderBy($"c_ab".desc, $"w1".asc, $"w2".asc)
      .limit(20)
  }

  /** COLLOCATION MINING (q245) — "which word pairs belong together",
    * the phrase-induction pass of a tokenizer/vocab pipeline, ranked by
    * LIFT with the ln-free integer rule: lift_bp =
    * 10⁴·c(w1,w2)·N div (c(w1)·c(w2)) — the same association strength
    * PMI orders by (PMI = log lift, and log is monotone, so the integer
    * ratio ranks identically without a transcendental in sight; the
    * q86/q150 determinism trade). One token pass feeds the unigram
    * counts and total, one shingle pass the bigram counts; a ≥20
    * occurrence floor keeps the noise out, the unigram table broadcasts
    * (vocab-bounded), and the top-20 is fully tie-broken
    * (lift desc, w1, w2). */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val uni = docs.select(
      explode(graft.functions.TextFunctions.tokens($"text")).as("w"))
    val uc = uni.groupBy($"w").agg(count(lit(1)).as("c_w"))
    val nt = uni.agg(count(lit(1)).as("n_tokens"))
    val bc = docs.select(explode(Dedup.wordShingles($"text", 2)).as("bg"))
      .select(split($"bg", " ").as("p")).filter(size($"p") === 2)
      .select($"p".getItem(0).as("w1"), $"p".getItem(1).as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c_ab"))
    bc.filter($"c_ab" >= 20)
      .crossJoin(broadcast(nt))
      .join(broadcast(uc.select($"w".as("w1"), $"c_w".as("c_a"))), Seq("w1"))
      .join(broadcast(uc.select($"w".as("w2"), $"c_w".as("c_b"))), Seq("w2"))
      .withColumn("lift_bp",
        when($"c_a" * $"c_b" > 0,
          expr("(10000 * c_ab * n_tokens) div (c_a * c_b)")).otherwise(0L))
      .select($"w1", $"w2", $"c_ab", $"c_a", $"c_b", $"lift_bp")
      .orderBy($"lift_bp".desc, $"w1".asc, $"w2".asc)
      .limit(20)
  }

  /** Per-document SURPRISAL under the corpus's own bigram LM — the
    * perplexity-style quality signal of a pretraining pipeline (rare-
    * bigram-heavy gibberish scores high, templated boilerplate scores
    * low), made ENGINE-EXACT by an integer surprisal: each bigram
    * occurrence contributes s = floor(log2(c(w1·) div c(w1,w2))),
    * computed as `length(bin(q)) - 1` — pure integer ops that hash
    * identically on any engine, where a float ln()/log2() diverges in
    * ULPs and breaks the oracle (the same determinism trade as q86's
    * ln-free tf-idf and q130's integer PageRank). Dataflow: ONE cached
    * shingle pass feeds both the LM build (bigram hash-agg + w1-keyed
    * window denominator — vocab²-bounded, never doc-bounded) and the
    * occurrence-scoring join (shuffle keyed on the bigram); the per-doc
    * rollup is a plain hash-agg. Nothing corpus-sized is broadcast or
    * collected; at 100 TB the LM is the (auto-broadcast-able) small side. */
  def surprisalScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val occ = Tables.documents(spark, dir)
      .select($"doc_id", explode(Dedup.wordShingles($"text", 2)).as("bg"))
      .select($"doc_id", split($"bg", " ").as("p"))
      .filter(size($"p") === 2)
      .select($"doc_id", $"p".getItem(0).as("w1"), $"p".getItem(1).as("w2"))
      .cache()
    val lm = occ.groupBy($"w1", $"w2").agg(count(lit(1)).as("c_ab"))
      .withColumn("c_a", sum($"c_ab").over(Window.partitionBy($"w1")))
    occ.join(lm, Seq("w1", "w2"))
      .select($"doc_id", (length(bin(expr("c_a div c_ab"))) - 1).as("s"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"s").as("total_surprisal"))
      .select($"doc_id", $"n_bigrams", $"total_surprisal",
        ($"total_surprisal".cast("double") / $"n_bigrams".cast("double"))
          .as("avg_surprisal"))
  }

  /** Per-document N-GRAM NOVELTY: the fraction of a document's DISTINCT
    * word 3-gram shingles that appear in no other document — q88's
    * contamination lens inverted into a keep-priority signal (when a
    * near-dup cluster or token budget forces drops, keep the novel docs).
    * Within-doc dedup happens BEFORE the explode (`array_distinct` on the
    * shingle array — the cheap set operation runs pre-shuffle), document
    * frequency is a shingle-keyed hash-agg whose cost tracks the shingle
    * VOCABULARY (never doc×doc pairs), and the scoring join is keyed on
    * the shingle — the exact join shape of decontamination, so the same
    * 100 TB argument holds. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = Tables.documents(spark, dir)
      .select($"doc_id",
        explode(array_distinct(Dedup.wordShingles($"text", 3))).as("sh"))
      .cache()
    // sh is distinct per (doc_id, sh), so count-per-shingle IS doc freq
    val df = sh.groupBy($"sh").agg(count(lit(1)).as("doc_freq"))
    sh.join(df, "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"doc_freq" === 1, 1L).otherwise(0L)).as("n_unique"))
      .select($"doc_id", $"n_shingles", $"n_unique",
        ($"n_unique".cast("double") / $"n_shingles".cast("double"))
          .as("novelty_frac"))
  }

  /** End-to-end curation capstone — the operators composed the way a real
    * pretraining pipeline chains them: quality gate (≥ 20 tokens) →
    * exact dedup (min-doc_id survivor per content fingerprint) →
    * deterministic hash split → per-(split, source) shard statistics.
    * Every stage is a keyed dataflow: the dedup window partitions on the
    * md5 fingerprint (uniform — input skew cannot hot-spot it), and the
    * final rollup is an ordinary hash-agg. One scan feeds the whole chain. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byFp = Window.partitionBy($"fp").orderBy($"doc_id")
    Tables.documents(spark, dir)
      .withColumn("n_toks", size(tokens($"text")))
      .filter($"n_toks" >= 20)
      .withColumn("fp", md5($"text"))
      .withColumn("rn", row_number().over(byFp))
      .filter($"rn" === 1)
      .select($"source", $"n_toks", splitCol.as("split"))
      .groupBy($"split", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("total_toks"))
  }

  /** CDC merge (SCD type-1 upsert): apply a change feed — updates, deletes,
    * inserts, several versions per key — onto a base snapshot, latest
    * version wins. The feed here is derived deterministically from the base
    * (doc_id % 5 → update, % 10 → a later delete of half of those, % 7 →
    * insert under a fresh key), so the gate needs no side table; the
    * operator shape is the real one: latest-per-key is a BOUNDED `max_by`
    * aggregate (no row_number sort over the whole feed), and the apply is
    * ONE full-outer join on the key. At 100 TB both sides shuffle hash-on-
    * key (or the feed broadcasts when small) — the exact MERGE INTO
    * dataflow of a lakehouse table format. */
  /** The deterministic change feed (several versioned updates / deletes /
    * inserts derived from the base snapshot, so the gate needs no side
    * table) shared by q106's SCD1 merge and q111's SCD2 history build.
    * Columns: (doc_id, seq, op, src, nc). */
  private def changeFeed(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val updates = base.filter($"doc_id" % 5 === 0)
      .select($"doc_id", lit(1L).as("seq"), lit("U").as("op"),
        upper($"source").as("src"), ($"n_chars" + 1L).as("nc"))
    val deletes = base.filter($"doc_id" % 10 === 0)
      .select($"doc_id", lit(2L).as("seq"), lit("D").as("op"),
        lit(null).cast("string").as("src"), lit(null).cast("long").as("nc"))
    val inserts = base.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"), lit(1L).as("seq"),
        lit("I").as("op"), lit("backfill").as("src"), $"n_chars".as("nc"))
    updates.union(deletes).union(inserts)
  }

  def cdcMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars")
    val latest = changeFeed(base)
      .groupBy($"doc_id")
      .agg(max_by(struct($"op", $"src", $"nc"), $"seq").as("c"))
      .select($"doc_id", $"c.op".as("op"), $"c.src".as("src"), $"c.nc".as("nc"))
    base.join(latest, Seq("doc_id"), "full_outer")
      .filter($"op".isNull || $"op" =!= "D")
      .select($"doc_id",
        coalesce($"src", $"source").as("source"),
        coalesce($"nc", $"n_chars").as("n_chars"),
        coalesce($"op", lit("K")).as("last_op"))
  }

  /** SCD TYPE-2 history build — the versioned complement of q106's
    * latest-wins merge: every key's attribute timeline becomes closed
    * [valid_from_seq, valid_to_seq) intervals with an `is_current` flag,
    * exactly the slowly-changing-dimension table a lakehouse time-travel
    * query reads. The base snapshot is version 0, the change feed's
    * updates/inserts open new versions, and a delete CLOSES the last
    * version without emitting a row of its own. One keyed window
    * (partitionBy doc_id, orderBy seq) computes every interval end via
    * `lead` — per-key state is the version count (tiny), the shuffle is
    * hash-on-key, and no global ordering exists anywhere, so the shape is
    * unchanged at 100 TB. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars")
    val v0 = base.select($"doc_id", lit(0L).as("seq"), lit("B").as("op"),
      $"source".as("src"), $"n_chars".as("nc"))
    val w = Window.partitionBy($"doc_id").orderBy($"seq")
    v0.union(changeFeed(base))
      .withColumn("valid_to_seq", lead($"seq", 1).over(w))
      .filter($"op" =!= "D")
      .select($"doc_id", $"seq".as("valid_from_seq"), $"valid_to_seq",
        $"src".as("source"), $"nc".as("n_chars"),
        $"valid_to_seq".isNull.as("is_current"))
  }

  /** INCREMENTAL aggregate maintenance — the materialized-view delta-update
    * pattern that makes standing rollups affordable at 100 TB: the per-source
    * (count, char-volume) aggregate is updated from the CHANGE FEED alone
    * (retract the replaced row's contribution, add the new row's), never by
    * rescanning the base. Every frame here is feed-sized except the one
    * standing aggregate (tiny: one row per group) and the old-row lookup
    * join — which is keyed on doc_id, the exact point lookup a lakehouse
    * serves from the MV's base-table index; updates that MOVE a row across
    * groups retract from the old group and add to the new one, the case
    * naive "just re-agg the changed groups" formulations get wrong. The
    * oracle recomputes the aggregate FROM the merged state (q106's SQL),
    * so hash equality is precisely the MV-maintenance correctness theorem:
    * incremental(old, Δ) = recompute(apply(old, Δ)). */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars")
    val oldAgg = base.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
    // net latest change per key, with the key's OLD attributes alongside
    val latest = changeFeed(base)
      .groupBy($"doc_id")
      .agg(max_by(struct($"op", $"src", $"nc"), $"seq").as("c"))
      .select($"doc_id", $"c.op".as("op"), $"c.src".as("src"), $"c.nc".as("nc"))
    val joined = latest.join(base, Seq("doc_id"), "left_outer")
    val retract = joined.filter($"op".isin("U", "D"))
      .select($"source", lit(-1L).as("dn"), (-$"n_chars").as("dc"))
    val add = joined.filter($"op".isin("U", "I"))
      .select(coalesce($"src", $"source").as("source"),
        lit(1L).as("dn"), coalesce($"nc", $"n_chars").as("dc"))
    val delta = retract.union(add)
      .groupBy($"source").agg(sum($"dn").as("dn"), sum($"dc").as("dc"))
    oldAgg.join(delta, Seq("source"), "full_outer")
      .select($"source",
        (coalesce($"n_docs", lit(0L)) + coalesce($"dn", lit(0L))).as("n_docs"),
        (coalesce($"total_chars", lit(0L)) + coalesce($"dc", lit(0L))).as("total_chars"))
      .filter($"n_docs" > 0)
  }

  /** TOKEN-BUDGET SAMPLING (q162) — the data-mixing primitive q91/q102's
    * rate-based mixing does not cover: each source gets a fixed TOKEN
    * budget (not a keep-rate), and documents are admitted in a
    * deterministic salted-hash order until the source's running token
    * total would stay within budget — how a training run pins its exact
    * per-domain token counts. Admission is `cumsum ≤ B` over the salted
    * order (a pure function of doc_id, so the sample is stable across
    * runs, engines, and corpus growth — documents later in hash order
    * never displace earlier ones). One window cumsum per source partition;
    * the per-source sort is the unavoidable cost of a deterministic
    * priority order and distributes by source key. */
  def tokenBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val TokenBudget = 400L
    val w = Window.partitionBy($"source")
      .orderBy(md5(concat(lit("budget:"), $"doc_id".cast("string"))), $"doc_id")
    Tables.documents(spark, dir)
      .select($"source", $"doc_id", size(tokens($"text")).as("n_toks"))
      .withColumn("cum", sum($"n_toks".cast("long")).over(w))
      .filter($"cum" <= lit(TokenBudget))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs_kept"),
        sum($"n_toks".cast("long")).as("n_tokens_kept"))
  }

  /** Bloom-accelerated decontamination FILTER (q88 is the audit REPORT;
    * this is the production filter shape for a corpus that dwarfs the
    * benchmark): build a bloom filter over the TRAIN split's distinct
    * word 5-gram shingle hashes (one aggregation pass; the filter itself
    * is O(bits) ≈ 1.2 MB — driver-safe at any corpus size), pre-filter
    * TEST shingles through Spark's native codegen'd
    * `BloomFilterMightContain` (the same Catalyst expression Spark's
    * runtime row-level join filtering injects — not a Scala UDF), then
    * exact-verify only the survivors with a left-semi join. Bloom false
    * positives die at the semi join, and blooms have NO false negatives,
    * so the output is byte-identical to the unfiltered join's — which is
    * exactly what the oracle replays (it knows nothing about the bloom).
    * At 100 TB the bloom turns the test×train-vocabulary exchange into a
    * scan-side prune: only the few % of shingles that MIGHT be in train
    * reach the shuffle. 5-grams (vs q88's 3-grams) because overlap at
    * n=5 isolates true leaked spans on this corpus (3-gram overlap is
    * near-total under its tiny vocabulary); the drop rule is the integer
    * predicate 2·shared ≥ total at threshold ½. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shingled = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", splitCol.as("split"),
        explode(Dedup.wordShingles($"text", 5)).as("sh"))
    // cached: the distinct train vocabulary feeds THREE consumers — the
    // sizing count, the bloom-build aggregation, and the exact-verify
    // semi join
    val trainSh = shingled.filter($"split" === "train").select($"sh").distinct()
      .cache()
    // capacity from the ACTUAL vocabulary (the count also materializes the
    // cache): a fixed constant would silently saturate the filter on a
    // larger corpus — fpp → 1 and the scan-side prune degrades to a no-op
    // exactly at the scale it exists for (results stay correct via the
    // semi join, but the bandwidth win is the point)
    val vocabSize = math.max(trainSh.count(), 1000L)
    val bloom = trainSh.select(xxhash64($"sh").as("h"))
      .stat.bloomFilter("h", vocabSize, 0.01)
    val bloomBytes = {
      val os = new java.io.ByteArrayOutputStream()
      bloom.writeTo(os)
      os.toByteArray
    }
    val mightContain = bridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), bridge.expression(xxhash64($"sh"))))
    // cached for the same reason: testSh feeds the totals census AND the
    // bloom→semi-join branch — uncached, each would re-shingle the corpus.
    // Both caches here are the q112 per-invocation pattern (derived from
    // the whole corpus, so NOT a per-dir fixture like the q160 delta
    // checkpoint): the bench clears the cache after every timed query and
    // Verify executes each gate once, which bounds their lifetime.
    val testSh = shingled.filter($"split" === "test")
      .select($"doc_id", $"lang", $"sh").distinct()
      .cache()
    val totals = testSh.groupBy($"doc_id")
      .agg(first($"lang").as("lang"), count(lit(1)).as("n_shingles"))
    val shared = testSh.filter(mightContain)
      .join(trainSh, Seq("sh"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    totals.join(shared, Seq("doc_id"), "left_outer")
      .select($"lang", $"n_shingles", coalesce($"n_shared", lit(0L)).as("n_shared"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_test_docs"),
        sum(when($"n_shared" * 2 >= $"n_shingles", 1L).otherwise(0L)).as("n_dropped"),
        sum(when($"n_shared" * 2 >= $"n_shingles", 0L).otherwise(1L)).as("n_kept"))
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169):
    * score every document by how much its hashed-bigram distribution
    * resembles the TARGET slice (lang='en') versus the RAW corpus.
    * Features are 256 md5-prefix buckets; the per-bucket Laplace-smoothed
    * importance ratio P̂_target/P̂_raw is computed ONCE on the 256-row
    * count frame and fixed-pointed to 1e-6 — a fixed 5-op IEEE sequence
    * (two exact int→double casts per operand, three correctly-rounded
    * ops, one floor), bit-stable on any IEEE engine. Per-doc weights are
    * then pure BIGINT sums of those per-bucket integers —
    * order-independent, so Spark's partial aggregation cannot perturb
    * them. DSIR's paper formulation sums LOG-ratios; we sum the ratios
    * themselves because cross-engine libm `ln` is not bit-stable (the
    * same deviation q86/q150 document) — for filtering/resampling the
    * signal is interchangeable. Two corpus passes (bucket counts, per-doc
    * sum) + a 256-row broadcast back: at 100 TB only bucket counts cross
    * the wire. */
  def dsirImportance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val occ = Tables.documents(spark, dir)
      .filter(size(tokens($"text")) >= 2)
      .select($"doc_id", $"lang", explode(Dedup.wordShingles($"text", 2)).as("bg"))
      .select($"doc_id", $"lang",
        substring(md5(concat(lit("dsir:"), $"bg")), 1, 2).as("bucket"))
    val counts = occ.groupBy($"bucket").agg(
      count(lit(1)).as("r"),
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("t"))
    val tot = counts.agg(sum($"t").as("tt"), sum($"r").as("rr"))
    val score = counts.crossJoin(broadcast(tot)).select($"bucket",
      floor(lit(1000000.0) *
        (($"t" + 1).cast("double") / ($"tt" + 256).cast("double")) /
        (($"r" + 1).cast("double") / ($"rr" + 256).cast("double"))).as("s"))
    occ.join(broadcast(score), "bucket")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"s").as("dsir_fp"))
      .select($"doc_id", $"n_bigrams", $"dsir_fp",
        ($"dsir_fp".cast("double") / ($"n_bigrams" * 1000000L).cast("double"))
          .as("avg_ratio"))
  }

  /** PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM 54(6) 2007): a
    * weighted WITHOUT-replacement sample of k docs, weight = n_chars,
    * with the Horvitz–Thompson threshold that makes downstream subset-sum
    * estimates unbiased (max(w, τ) where τ is the (k+1)-th priority).
    * u_i is a 32-bit md5-derived uniform, priority = w·2³²/(m+1): ONE
    * exact integer product (≤ 2^53, exactly representable) and ONE
    * correctly-rounded IEEE division — bit-identical on any IEEE-754
    * engine, so the ranking needs no rounding slop; doc_id still
    * tie-breaks (unreachable short of an md5 collision). The top-(k+1)
    * runs as TakeOrderedAndProject — per-partition bounded heaps merged
    * once, never a global sort — the shape that holds at 100 TB. τ comes
    * from a 1-row aggregate crossJoin (coalesce 0 when the corpus has
    * ≤ k docs, per the estimator's definition). */
  def prioritySample(spark: SparkSession, dir: String): DataFrame =
    prioritySampleK(spark, dir, 100)

  private[ops] def prioritySampleK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    val pr = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars",
        conv(substring(md5(concat(lit("psamp:"), $"doc_id".cast("string"))), 1, 8),
          16, 10).cast("long").as("mval"))
      .select($"doc_id", $"n_chars",
        ($"n_chars".cast("double") * lit(4294967296.0) / ($"mval" + 1).cast("double"))
          .as("priority"))
    val top = pr.orderBy($"priority".desc, $"doc_id".asc).limit(k + 1)
      .withColumn("rank",
        row_number().over(Window.orderBy($"priority".desc, $"doc_id".asc)).cast("int"))
    val tau = top.agg(
      coalesce(min(when($"rank" === k + 1, $"priority")), lit(0.0)).as("tau"))
    top.filter($"rank" <= k).crossJoin(broadcast(tau))
      .select($"rank", $"doc_id", $"n_chars".cast("long").as("weight"), $"priority",
        greatest($"n_chars".cast("double"), $"tau").as("ht_weight"))
  }

  /** CHANGELOG COMPACTION (q228) — CDC minimization, the normalization a
    * changelog consumer (or a Flink/Debezium-style upsert sink) runs
    * before applying a multi-op feed: collapse each key's op sequence to
    * its NET effect. The algebra needs only the FIRST and LAST op per key
    * (one hash-agg with min_by/max_by — never a per-key sort): last=D
    * with first=I cancels to nothing (the key never existed downstream),
    * last=D otherwise nets to D, first=I nets to I carrying the last
    * values, anything else nets to U — including the D-then-I
    * resurrection, which MUST surface as U (the key existed before the
    * feed), the case naive last-op-wins compaction gets wrong. The feed
    * exercises all six op-sequence classes on disjoint key slices; the
    * oracle replays the same first/last algebra in SQL. At 100 TB this is
    * one key-hashed shuffle over the feed, independent of table size. */
  def changelogCompaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id", $"source", $"n_chars")
    def slice(k: Int) = d.filter($"doc_id" % 11 === k)
    def row(df: DataFrame, seq: Long, op: String, keyShift: Long,
        src: Column, nc: Column) =
      df.select(($"doc_id" + keyShift).as("doc_id"), lit(seq).as("seq"),
        lit(op).as("op"), src.as("src"), nc.as("nc"))
    val nulls = (lit(null).cast("string"), lit(null).cast("long"))
    val feed =
      row(slice(1), 1, "U", 0, upper($"source"), $"n_chars" + 1) // U,U → U
        .unionByName(row(slice(1), 2, "U", 0, lit("vA"), $"n_chars" + 2))
        .unionByName(row(slice(2), 1, "U", 0, upper($"source"), $"n_chars" + 1)) // U,D → D
        .unionByName(row(slice(2), 2, "D", 0, nulls._1, nulls._2))
        .unionByName(row(slice(3), 1, "I", 20000000L, lit("ins"), $"n_chars")) // I,U → I
        .unionByName(row(slice(3), 2, "U", 20000000L, lit("insU"), $"n_chars" + 5))
        .unionByName(row(slice(4), 1, "I", 20000000L, lit("tmp"), $"n_chars")) // I,D → ∅
        .unionByName(row(slice(4), 2, "D", 20000000L, nulls._1, nulls._2))
        .unionByName(row(slice(5), 1, "D", 0, nulls._1, nulls._2)) // D,I → U
        .unionByName(row(slice(5), 2, "I", 0, lit("reborn"), $"n_chars" + 7))
        .unionByName(row(slice(6), 1, "U", 0, lit("only"), $"n_chars" + 9)) // U → U
    feed.groupBy($"doc_id")
      .agg(min_by($"op", $"seq").as("first_op"),
        max_by(struct($"op", $"src", $"nc"), $"seq").as("l"))
      .select($"doc_id", $"first_op",
        $"l.op".as("last_op"), $"l.src".as("src"), $"l.nc".as("nc"))
      .withColumn("net_op",
        when($"last_op" === "D" && $"first_op" === "I", lit(null).cast("string"))
          .when($"last_op" === "D", lit("D"))
          .when($"first_op" === "I", lit("I"))
          .otherwise(lit("U")))
      .filter($"net_op".isNotNull)
      .select($"doc_id", $"net_op", $"src".as("source"), $"nc".as("n_chars"))
  }

  /** POINT-IN-TIME JOIN against the SCD2 dimension (q222) — the temporal
    * lookup every feature store / training-label pipeline runs: "what did
    * this dimension row say AS OF this observation's time?" (q45's as-of
    * join aligns two event streams; this joins a probe against CLOSED
    * VERSION INTERVALS, the warehouse formulation). Probes are the full
    * key universe × as_of ∈ {0,1,2} — before the update, after it, after
    * the delete — so every temporal edge is exercised: pre-insert probes
    * and post-delete probes must find NOTHING (the left join's null
    * group), not leak an adjacent version. The join is EQUI on the key
    * with the interval predicate as a residual filter — per-key version
    * counts are tiny, so this stays a hash join on the key at 100 TB
    * (never a blind range join); the 3-row as_of spine is a bounded
    * literal frame (the q-hours×types precedent). Output aggregates to
    * (as_of, source) census cells, NULL source = the no-match group. */
  def pitJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = scd2History(spark, dir).alias("d")
    val keys = Tables.documents(spark, dir).select($"doc_id")
      .union(Tables.documents(spark, dir)
        .filter($"doc_id" % 7 === 0).select(($"doc_id" + 10000000L).as("doc_id")))
      .distinct()
    val probes = keys.crossJoin(Seq(0L, 1L, 2L).toDF("as_of")).alias("p")
    probes.join(dim,
        col("p.doc_id") === col("d.doc_id") &&
          col("d.valid_from_seq") <= col("p.as_of") &&
          (col("d.valid_to_seq").isNull ||
            col("p.as_of") < col("d.valid_to_seq")),
        "left")
      .groupBy(col("p.as_of").as("as_of"), col("d.source").as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("d.n_chars")).as("sum_nc"))
  }

  /** QUOTA APPORTIONMENT (q270) — the largest-remainder (Hamilton)
    * method every sampling/budgeting stage needs when a FIXED total
    * (here a declared 1,000,000-example budget) must be split across
    * strata EXACTLY proportionally to their counts and still sum to the
    * total: base quota `(B·cᵢ) div N`, then the leftover seats go to the
    * largest remainders `(B·cᵢ) mod N` (stratum-name tie-break). Every
    * step is BIGINT arithmetic over a strata-count-sized frame — the
    * only fact-sized work is one grouped count — and Σ final_quota = B
    * by construction, which the oracle re-derives independently. */
  def quotaApportionment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 1000000L
    val counts = Tables.events(spark, dir)
      .groupBy($"event_type").agg(count(lit(1)).as("n_events"))
    val tot = counts.agg(sum($"n_events").as("n_total"))
    val based = counts.crossJoin(broadcast(tot))
      .withColumn("base_quota", expr(s"($budget * n_events) div n_total"))
      .withColumn("remainder", expr(s"($budget * n_events) % n_total"))
    val leftover = based
      .withColumn("leftover",
        lit(budget) - sum($"base_quota").over(Window.partitionBy()))
      .withColumn("rk", row_number().over(Window.orderBy($"remainder".desc,
        $"event_type")))
    leftover
      .withColumn("extra", when($"rk" <= $"leftover", 1L).otherwise(0L))
      .withColumn("final_quota", $"base_quota" + $"extra")
      .select($"event_type", $"n_events", $"base_quota", $"remainder",
        $"extra", $"final_quota")
  }

  /** NEYMAN ALLOCATION (q315) — q270 splits a budget by POPULATION share;
    * the survey-sampling optimum splits it by N_h·σ_h, so high-variance
    * strata get proportionally more of the sample. Engine-exactness: the
    * per-stratum variance NUMERATOR V_h = n·Σx² − (Σx)² is exact BIGINT
    * (quantity is integral; magnitudes stay < 2⁶³ at gate scale —
    * production sums would ride DECIMAL(38)), and the weight is
    * floor(sqrt(V_h)): sqrt is one of the two IEEE ops with REQUIRED
    * correct rounding (the q91 rule), so both engines floor the identical
    * double to the identical integer — note N_h·σ_h = n·√V/n = √V, which
    * is why V alone suffices. The integer weights then ride q270's
    * largest-remainder machinery verbatim: Σalloc == budget EXACTLY, no
    * float shares anywhere. Guarded for the all-constant corpus (Σw = 0).
    * One grouped scan + stratum-count-sized window work. */
  def neymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 10000L
    val st = Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_linestatus",
        $"l_quantity".cast("long").as("q"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"), sum($"q").as("sx"),
        sum($"q" * $"q").as("sx2"))
      .withColumn("var_num", $"n_rows" * $"sx2" - $"sx" * $"sx")
      .withColumn("w", floor(sqrt($"var_num".cast("double"))).cast("long"))
    val tot = st.agg(sum($"w").as("wtot"))
    st.crossJoin(broadcast(tot))
      .withColumn("base_alloc",
        expr(s"CASE WHEN wtot > 0 THEN ($budget * w) div wtot ELSE 0 END"))
      .withColumn("remainder",
        expr(s"CASE WHEN wtot > 0 THEN ($budget * w) % wtot ELSE 0 END"))
      .withColumn("leftover",
        lit(budget) - sum($"base_alloc").over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.orderBy($"remainder".desc, $"l_returnflag", $"l_linestatus")))
      .withColumn("alloc",
        $"base_alloc" + when($"rk" <= $"leftover", 1L).otherwise(0L))
      .select($"l_returnflag", $"l_linestatus", $"n_rows", $"var_num",
        $"w", $"alloc")
  }

  /** K-ANONYMITY AUDIT (q285) — q251's erasure proves deletion; this
    * measures RE-IDENTIFIABILITY before release: group the fact table
    * by a quasi-identifier tuple (priority, order month, status —
    * attributes an adversary plausibly knows), and report the group
    * count, the k-anonymity level (the minimum group size), how many
    * rows sit in groups below the declared k=5, and that share in
    * guarded floor basis points. One grouped count plus one census agg
    * over the group-size frame. */
  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val groups = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", date_trunc("month", $"o_orderdate")
        .cast("date").as("om"), $"o_orderstatus")
      .agg(count(lit(1)).as("sz"))
    groups.agg(
      count(lit(1)).as("n_groups"),
      sum($"sz").as("n_rows"),
      min($"sz").as("k_anonymity"),
      sum(when($"sz" < 5, $"sz").otherwise(0L)).as("n_rows_at_risk"))
      .withColumn("risk_bp",
        when($"n_rows" > 0,
          expr("(10000 * n_rows_at_risk) div n_rows")).otherwise(0L))
  }

  /** L-DIVERSITY + T-CLOSENESS AUDIT (q336) — the two privacy metrics
    * past k-anonymity (q285): a group can be k-anonymous and still leak
    * everything if all k rows share one SENSITIVE value. Quasi-identifier
    * = (priority, order-month) — q285's QI minus the sensitive attribute,
    * which here is o_orderstatus. Per group: l = distinct sensitive
    * values present (l = 1 ⇒ full disclosure), and t-closeness as the
    * TOTAL VARIATION distance between the group's status distribution
    * and the global one, in exact floor basis points via integer
    * cross-multiplication — Σ|cnt_gs·N − cnt_s·N_g| · 10⁴ div (2·N_g·N),
    * never a float ratio (the repo DIV rule; magnitudes < 2⁴⁵ at gate
    * scale, DECIMAL(38) headroom in production). Groups missing a status
    * contribute a zero count via the (group × status) spine. Census rows
    * per l: group count, row count, worst TV distance.
    *
    * Scale shape: one grouped count over the fact, a 3-row broadcast
    * status spine, group-frame arithmetic — the q285 shape. */
  def lDiversityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.orders(spark, dir).select($"o_orderpriority".as("pri"),
      date_trunc("month", $"o_orderdate").cast("date").as("om"),
      $"o_orderstatus".as("s"))
    val gs = rows.groupBy($"pri", $"om", $"s").agg(count(lit(1)).as("cnt_gs"))
    val g = gs.groupBy($"pri", $"om").agg(sum($"cnt_gs").as("n_g"),
      count(lit(1)).as("l"))
    val sTot = rows.groupBy($"s").agg(count(lit(1)).as("cnt_s"))
    val tot = rows.agg(count(lit(1)).as("n"))
    val spine = g.select($"pri", $"om", $"n_g", $"l")
      .crossJoin(broadcast(sTot)).crossJoin(broadcast(tot))
    val tv = spine
      .join(gs, Seq("pri", "om", "s"), "left_outer")
      .select($"pri", $"om", $"n_g", $"l", $"n",
        abs(coalesce($"cnt_gs", lit(0L)) * $"n" - $"cnt_s" * $"n_g").as("dev"))
      .groupBy($"pri", $"om", $"n_g", $"l", $"n")
      .agg(sum($"dev").as("sum_dev"))
      .select($"pri", $"om", $"n_g", $"l",
        expr("sum_dev * 10000L div (2L * n_g * n)").as("tv_bp"))
    tv.groupBy($"l")
      .agg(count(lit(1)).as("n_groups"), sum($"n_g").as("n_rows"),
        max($"tv_bp").as("max_tv_bp"))
  }

  /** QUOTA-EXACT STRATIFIED SAMPLER (q298) — q270's apportionment put
    * to work: a 10% budget (`N div 10`) is Hamilton-split across
    * event-type strata, then each stratum takes EXACTLY its quota by
    * deterministic md5 rank (salted hash order, event-id tie-break) —
    * the sampler that hits its stratum counts to the row, unlike any
    * Bernoulli sampler. The census pins quota = taken per stratum and
    * carries the Σ event_id checksum of the selected set, so a
    * different selection (not just a different count) breaks the
    * oracle. Ranks are windows per stratum; everything else is
    * stratum-frame arithmetic. */
  def stratifiedQuotaSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"event_type", $"event_id")
    val counts = e.groupBy($"event_type").agg(count(lit(1)).as("n_events"))
    val tot = counts.agg(sum($"n_events").as("n_total"))
    val based = counts.crossJoin(broadcast(tot))
      .withColumn("budget", expr("n_total div 10"))
      .withColumn("base_quota", expr("(budget * n_events) div n_total"))
      .withColumn("remainder", expr("(budget * n_events) % n_total"))
    val quotas = based
      .withColumn("leftover",
        $"budget" - sum($"base_quota").over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.orderBy($"remainder".desc, $"event_type")))
      .withColumn("final_quota",
        $"base_quota" + when($"rk" <= $"leftover", 1L).otherwise(0L))
      .select($"event_type", $"n_events", $"final_quota")
    val ranked = e
      .withColumn("hk", md5(concat(lit("sq:"), $"event_id".cast("string"))))
      .withColumn("rn", row_number().over(Window.partitionBy($"event_type")
        .orderBy($"hk", $"event_id")))
    ranked.join(broadcast(quotas), Seq("event_type"))
      .filter($"rn" <= $"final_quota")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_taken"), sum($"event_id").as("sum_taken_ids"))
      .join(broadcast(quotas), Seq("event_type"))
      .select($"event_type", $"n_events", $"final_quota", $"n_taken",
        $"sum_taken_ids")
  }

  /** DATA-HEALTH SCORECARD (q300) — the one-row governance readout that
    * composes five of the engine's audits into integer subscores
    * (0-100) and one overall health score: content duplication (q283's
    * head fingerprints), source freshness (q266's 24 h SLA), grid
    * completeness (q273), k-anonymity (q285's QI groups), and shuffle
    * balance (q290's pmod model). Every subscore is a guarded integer
    * expression over a tiny census agg; the overall score is their
    * floor mean. The scorecard is deliberately derived from the SAME
    * rules as the underlying gates, so it can never disagree with
    * them. */
  def healthScorecard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(md5(substring($"text", 1, 32)).as("fp"))
    val dup = docs.agg(count(lit(1)).as("n_docs"),
      countDistinct($"fp").as("ndv_fp"))
      .select(when($"n_docs" > 0,
        expr("(100 * ndv_fp) div n_docs")).otherwise(100L)
        .as("dup_score"))
    val ev = Tables.events(spark, dir)
      .select($"event_type", unix_micros($"ts").as("tu"),
        to_date($"ts").as("d"))
    val fresh = ev.groupBy($"event_type").agg(max($"tu").as("mx"))
      .crossJoin(broadcast(ev.agg(max($"tu").as("cm"))))
      .agg(count(lit(1)).as("n_types"),
        sum(when(expr("(cm - mx) div 3600000000") < 24, 1L).otherwise(0L))
          .as("n_fresh"))
      .select(when($"n_types" > 0,
        expr("(100 * n_fresh) div n_types")).otherwise(100L)
        .as("freshness_score"))
    val present = ev.select($"d", $"event_type").distinct()
    val complete = present.groupBy($"d")
      .agg(count(lit(1)).as("n_types"))
      .crossJoin(broadcast(present.select($"event_type").distinct()
        .agg(count(lit(1)).as("t"))))
      .agg(count(lit(1)).as("n_days"),
        sum(when($"n_types" === $"t", 1L).otherwise(0L)).as("n_complete"))
      .select(when($"n_days" > 0,
        expr("(100 * n_complete) div n_days")).otherwise(100L)
        .as("completeness_score"))
    val anon = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", date_trunc("month", $"o_orderdate")
        .cast("date").as("om"), $"o_orderstatus")
      .agg(count(lit(1)).as("sz"))
      .agg(min($"sz").as("k"))
      .select(least(lit(100L), $"k" * 20).as("anonymity_score"))
    val bal = Tables.lineitem(spark, dir)
      .groupBy(pmod($"l_orderkey", lit(32)).as("pid"))
      .agg(count(lit(1)).as("rows_p"))
      .agg(sum($"rows_p").as("n"), max($"rows_p").as("mx"))
      .select(when($"mx" * 32 > 0,
        least(lit(100L), expr("(100 * n) div (mx * 32)"))).otherwise(0L)
        .as("balance_score"))
    dup.crossJoin(fresh).crossJoin(complete).crossJoin(anon).crossJoin(bal)
      .withColumn("health_score",
        expr("(dup_score + freshness_score + completeness_score + " +
          "anonymity_score + balance_score) div 5"))
  }

  /** GREEDY MAX-COVERAGE SOURCE SELECTION (q342) — "which k sources buy
    * the most corpus content?": the classic greedy set-cover / max-coverage
    * heuristic (1−1/e-optimal, Nemhauser et al.) over the distinct
    * (source, 3-token-shingle) incidence frame (shingles, not unigrams:
    * single-token vocabularies nest almost fully across same-generator
    * sources, so one source would cover everything and kill rounds 2..k).
    *
    * Execution (r15 optimization — same greedy trajectory, a fraction of
    * the passes): the distinct (source, shingle) incidence collapses to a
    * per-shingle SOURCE BITMASK (`bit_or(1L << source_bit)` — source
    * cardinality is checked ≤ 62), then to the tiny (mask, n_shingles)
    * census, checkpointed once. Each greedy round is ONE aggregate over
    * that census — marginal(s) = Σ n over masks holding bit s and no
    * picked bit — so the k rounds cost k tiny jobs instead of k
    * (anti-join + per-source count + distinct + checkpoint) passes over
    * the full incidence. Driver state is O(2^sources) longs at most (in
    * practice the handful of realized masks), same
    * documented-O(k)-driver-rounds contract as q323's Gonzalez loop.
    * Tie-breaks are unchanged: max marginal, ties to the
    * lexicographically first source (bits are assigned in sorted source
    * order, the scan keeps the first strict max); a round with nothing
    * left to cover stops the loop on both engines (the SQL's empty CTE
    * drops the row the same way). The curation read: rounds' n_new is the
    * marginal vocabulary each additional source is worth — the submodular
    * diminishing-returns curve a data-mixing budget negotiates against. */
  def greedySetCover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 3
    val srcs = Tables.documents(spark, dir)
      .select($"source").distinct().orderBy($"source")
      .collect().map(_.getString(0))
    require(srcs.length <= 62,
      s"greedySetCover bitmask path supports ≤ 62 sources, got ${srcs.length}")
    val srcBits = srcs.zipWithIndex.toSeq.toDF("source", "bit")
    val masks = Tables.documents(spark, dir)
      .select($"source", explode(Dedup.wordShingles($"text", 3)).as("tok"))
      .distinct()
      .join(broadcast(srcBits), "source")
      .groupBy($"tok")
      .agg(sum(expr("shiftleft(1L, bit)")).as("mask"))
      .groupBy($"mask").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // sum(1L << bit) == bit_or over DISTINCT (source, tok) rows: each
    // source contributes its bit at most once per shingle, so the per-tok
    // sum IS the union mask (and stays < 2^62 — no overflow under ANSI)
    val rows = Vector.newBuilder[(Int, String, Long, Long)]
    var picked = 0L
    var cum = 0L
    var done = false
    (1 to k).foreach { round =>
      if (!done) {
        // one tiny job: every source's marginal coverage in one pass over
        // the uncovered slice of the mask census
        val aggCols = srcs.indices.map(i =>
          sum(when($"mask".bitwiseAND(lit(1L << i)) =!= 0L, $"n")
            .otherwise(0L)).as(s"m$i"))
        val r = masks.filter($"mask".bitwiseAND(lit(picked)) === 0L)
          .agg(aggCols.head, aggCols.tail: _*).head()
        // first strict max in bit (= sorted source) order — identical to
        // the old orderBy(n_new DESC, source ASC).limit(1) pick
        var best = -1
        var bestN = 0L
        srcs.indices.foreach { i =>
          val v = if (r.isNullAt(i)) 0L else r.getLong(i)
          if (v > bestN) { best = i; bestN = v }
        }
        if (best < 0) done = true // nothing left to cover — stop, as before
        else {
          picked |= 1L << best
          cum += bestN
          rows += ((round, srcs(best), bestN, cum))
        }
      }
    }
    spark.createDataFrame(rows.result())
      .toDF("round", "source", "n_new", "n_cum")
  }

  /** K-ANONYMITY GENERALIZATION LADDER (q345) — the Samarati-style
    * "generalize until k" walk q285's audit implies: four pre-declared
    * generalization levels of the order quasi-identifier
    * (nation×month×$1000-bucket → nation×quarter×$5000 → nation×year×
    * $25000 → region×year×$25000), each scored by its equivalence-class
    * census, and the FIRST level whose minimum class size reaches k=5
    * marked chosen — the release policy a privacy pipeline actually
    * ships. ALL four levels ride ONE scan: a 4-way level/QI explode into
    * a single (level, qi) hash-agg (never four passes over the fact
    * table), then a 4-row summary; dimension joins are broadcast.
    * Exactness: buckets are non-negative cents floor-divs, QI strings
    * are concat_ws renders of integers (identical on both engines), the
    * chosen flag is a null-guarded integer min over the 4-row frame. */
  def generalizationLadder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderdate",
        ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long").as("cents"))
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)
        .select($"r_regionkey", $"r_name")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_name", $"r_name",
        (year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"),
        (year($"o_orderdate") * 10 + quarter($"o_orderdate")).as("yq"),
        year($"o_orderdate").as("yy"), $"cents")
    val lv = base.select(explode(array(
      struct(lit(0).as("level"),
        concat_ws("|", $"n_name", $"ym", expr("cents div 100000")).as("qi")),
      struct(lit(1).as("level"),
        concat_ws("|", $"n_name", $"yq", expr("cents div 500000")).as("qi")),
      struct(lit(2).as("level"),
        concat_ws("|", $"n_name", $"yy", expr("cents div 2500000")).as("qi")),
      struct(lit(3).as("level"),
        concat_ws("|", $"r_name", $"yy", expr("cents div 2500000")).as("qi"))
    )).as("x")).select($"x.level".as("level"), $"x.qi".as("qi"))
    // localCheckpoint: the 4-row level summary feeds BOTH the output and
    // the chosen-level agg below — uncheckpointed, the crossJoin's two
    // legs each re-ran the whole orders-scan + explode + two-agg lineage
    // (r15, the q132/q278 repeated-subtree rule; 8 scans → 4 in PLANS.md)
    val perLevel = lv.groupBy($"level", $"qi").agg(count(lit(1)).as("cls"))
      .groupBy($"level").agg(count(lit(1)).as("n_classes"),
        min($"cls").as("min_class_size"))
      .withColumn("meets_k", $"min_class_size" >= 5L)
      .localCheckpoint()
    val firstPass = perLevel
      .agg(min(when($"meets_k", $"level")).as("chosen_level"))
    perLevel.crossJoin(broadcast(firstPass))
      .select($"level", $"n_classes", $"min_class_size", $"meets_k",
        coalesce($"level" === $"chosen_level", lit(false)).as("chosen"))
  }

  /** QUANTILE NORMALIZATION (q358) — the cross-batch distribution
    * alignment step (microarray-born, now standard batch-effect
    * removal): every document's length maps onto the GLOBAL length
    * distribution at its own within-source relative rank, so each
    * source's histogram becomes the corpus histogram exactly. Rank
    * plumbing is fully distributed: the global rank and the
    * (source-major) rank are TWO [[graft.operators.Sweep.rowNumber]]
    * passes; the within-source rank is the source-major global rank
    * minus the source's prefix offset (a triangular broadcast join over
    * the bounded source frame — the same no-window trick Sweep itself
    * uses for partition offsets); the mapped rank
    * `1 + ((r−1)·(N−1)) div (nₛ−1)` (midpoint for singleton sources) is
    * pure integer floor arithmetic; and the value lookup is a keyed
    * equi-join on rank. The gate reports the per-source before/after
    * census (Σ original vs Σ mapped chars, worst single shift). */
  def quantileNormalization(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars".cast("long").as("nc"))
    val g = graft.operators.Sweep
      .rowNumber(docs, Seq($"nc".asc, $"doc_id".asc), "g")
    val g2 = graft.operators.Sweep
      .rowNumber(docs, Seq($"source".asc, $"nc".asc, $"doc_id".asc), "g2")
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("ns"))
    val offs = counts
      .join(broadcast(counts.select($"source".as("s2"), $"ns".as("ns2"))),
        $"s2" < $"source", "left")
      .groupBy($"source", $"ns")
      .agg(coalesce(sum($"ns2"), lit(0L)).as("off"))
    val nTot = docs.agg(count(lit(1)).as("n"))
    g2.join(broadcast(offs), Seq("source"))
      .crossJoin(broadcast(nTot))
      .select($"source", $"nc", ($"g2" - $"off").as("rs"), $"ns", $"n")
      .withColumn("gm", when($"ns" > 1L,
          lit(1L) + expr("((rs - 1) * (n - 1)) div (ns - 1)"))
        .otherwise(expr("(n + 1) div 2")))
      .join(g.select($"g".as("gm"), $"nc".as("mapped_nc")), Seq("gm"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nc").as("sum_orig_chars"),
        sum($"mapped_nc").as("sum_mapped_chars"),
        max(abs($"nc" - $"mapped_nc")).as("max_shift"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q358_quantile_normalization" -> (quantileNormalization _),
    "q345_generalization_ladder" -> (generalizationLadder _),
    "q342_set_cover" -> (greedySetCover _),
    "q298_stratified_quota_sample" -> (stratifiedQuotaSample _),
    "q300_health_scorecard" -> (healthScorecard _),
    "q285_k_anonymity" -> (kAnonymityAudit _),
    "q270_quota_apportionment" -> (quotaApportionment _),
    "q222_pit_join" -> (pitJoin _),
    "q228_changelog_compaction" -> (changelogCompaction _),
    "q170_bloom_decontaminate" -> (bloomDecontaminate _),
    "q171_dsir_importance" -> (dsirImportance _),
    "q174_priority_sample" -> (prioritySample _),
    "q175_source_drift" -> (sourceDrift _),
    "q176_repetition_chars" -> (repetitionChars _),
    "q181_data_card" -> (dataCard _),
    "q162_token_budget_mix" -> (tokenBudgetMix _),
    "q106_cdc_merge" -> (cdcMerge _),
    "q111_scd2_history" -> (scd2History _),
    "q117_incremental_agg" -> (incrementalAgg _),
    "q82_repetition_signals" -> (repetitionSignals _),
    "q83_hash_split" -> (hashSplit _),
    "q84_weighted_repeat" -> (weightedRepeat _),
    "q85_sequence_packing" -> (sequencePacking _),
    "q88_decontamination" -> (decontamination _),
    "q89_edit_distance_pairs" -> (editDistancePairs _),
    "q302_symspell_linkage" -> (symspellLinkage _),
    "q329_survivorship" -> (survivorship _),
    "q334_blocking_efficiency" -> (blockingEfficiency _),
    "q336_l_diversity" -> (lDiversityAudit _),
    "q303_oof_target_encoding" -> (oofTargetEncoding _),
    "q306_pps_systematic_sample" -> (ppsSystematicSample _),
    "q315_neyman_allocation" -> (neymanAllocation _),
    "q91_temperature_mix" -> (temperatureMix _),
    "q102_temperature_mix_alpha34" -> (temperatureMixAlpha34 _),
    "q94_shard_assignment" -> (shardAssignment _),
    "q200_shard_manifest" -> (shardManifest _),
    "q203_compaction_manifest" -> (compactionManifest _),
    "q214_referential_integrity" -> (referentialIntegrity _),
    "q215_partition_gap_audit" -> (partitionGapAudit _),
    "q232_constraint_suite" -> (constraintSuite _),
    "q239_epoch_shuffle" -> (epochShuffle _),
    "q245_collocations" -> (collocations _),
    "q251_cascading_erasure" -> (cascadingErasure _),
    "q95_stratified_sample" -> (stratifiedSample _),
    "q96_bigram_lm" -> (bigramLm _),
    "q99_curation_pipeline" -> (curationPipeline _),
    "q150_surprisal_score" -> (surprisalScore _),
    "q151_ngram_novelty" -> (ngramNovelty _))

  private val toksSql = DedupQueries.toksSql
  private val bigramsSql =
    """CASE WHEN len(tk) >= 2
      | THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
      | ELSE [array_to_string(tk, ' ')] END""".stripMargin

  /** q200's manifest SQL — single-sourced because q203 must reconcile
    * against the IDENTICAL expectation. */
  private lazy val manifestOracleSql: String = {
    val dsum = (0 until 12).map { i =>
      s"(strpos('0123456789abcdef', substr(dh, ${i + 1}, 1)) - 1) * ${1L << (4 * (11 - i))}"
    }.mkString("\n       + ")
    s"""WITH h AS (
       |  SELECT doc_id, n_chars,
       |    md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       |    substr(md5(text), 1, 12) AS dh
       |  FROM documents
       |), a AS (
       |  SELECT doc_id, n_chars,
       |    CAST((instr('0123456789abcdef', substr(shuffle_key, 1, 1)) - 1) * 16
       |       + (instr('0123456789abcdef', substr(shuffle_key, 2, 1)) - 1) AS INTEGER) AS shard_id,
       |    CAST($dsum AS BIGINT) AS digest48
       |  FROM h
       |)
       |SELECT shard_id, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  CAST(sum(digest48) AS BIGINT) AS content_sum48
       |FROM a GROUP BY shard_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // q358: the oracle's global + partitioned row_numbers are its
    // single-node privilege; identical mapped-rank arithmetic and the
    // same (nc, doc_id) total orders.
    "q358_quantile_normalization" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS nc FROM documents
        |), g AS (
        |  SELECT nc, row_number() OVER (ORDER BY nc, doc_id) AS g FROM d
        |), rs AS (
        |  SELECT doc_id, source, nc,
        |    row_number() OVER (PARTITION BY source ORDER BY nc, doc_id) AS rs,
        |    count(*) OVER (PARTITION BY source) AS ns
        |  FROM d
        |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |mr AS (
        |  SELECT source, nc,
        |    CASE WHEN ns > 1
        |      THEN 1 + ((rs - 1) * ((SELECT n FROM nn) - 1)) // (ns - 1)
        |      ELSE ((SELECT n FROM nn) + 1) // 2 END AS gm
        |  FROM rs
        |), m AS (
        |  SELECT mr.source, mr.nc, g.nc AS mnc FROM mr JOIN g ON g.g = mr.gm
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_orig_chars,
        |  CAST(sum(mnc) AS BIGINT) AS sum_mapped_chars,
        |  CAST(max(abs(nc - mnc)) AS BIGINT) AS max_shift
        |FROM m GROUP BY 1""".stripMargin,
    // q345: identical 4-level QI renders (concat_ws of integer renders),
    // identical class census and first-meets-k pick; booleans compare
    // natively on both engines (the q27 rule).
    "q345_generalization_ladder" ->
      """WITH base AS (
        |  SELECT n_name, r_name,
        |    year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        |    year(o_orderdate) * 10 + quarter(o_orderdate) AS yq,
        |    year(o_orderdate) AS yy,
        |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |), lv AS (
        |  SELECT 0 AS level, concat_ws('|', n_name, ym, cents // 100000) AS qi
        |  FROM base
        |  UNION ALL
        |  SELECT 1, concat_ws('|', n_name, yq, cents // 500000) FROM base
        |  UNION ALL
        |  SELECT 2, concat_ws('|', n_name, yy, cents // 2500000) FROM base
        |  UNION ALL
        |  SELECT 3, concat_ws('|', r_name, yy, cents // 2500000) FROM base
        |), census AS (
        |  SELECT level, qi, count(*) AS cls FROM lv GROUP BY 1, 2
        |), pl AS (
        |  SELECT level, CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(min(cls) AS BIGINT) AS min_class_size
        |  FROM census GROUP BY 1
        |), fp AS (
        |  SELECT min(CASE WHEN min_class_size >= 5 THEN level END) AS cl
        |  FROM pl
        |)
        |SELECT CAST(level AS INTEGER) AS level, n_classes, min_class_size,
        |  min_class_size >= 5 AS meets_k,
        |  coalesce(level = (SELECT cl FROM fp), false) AS chosen
        |FROM pl""".stripMargin,
    // q342: the same three greedy rounds unrolled — identical
    // (n DESC, source ASC) argmax, identical covered-set anti-join; an
    // exhausted round's empty CTE drops its output row exactly like the
    // engine's stopped loop.
    "q342_set_cover" ->
      s"""WITH tkk AS (
         |  SELECT source, $toksSql AS tk FROM documents
         |), p AS (
         |  SELECT DISTINCT source, tok FROM (
         |    SELECT source, unnest(${DedupQueries.shinglesSqlN(3)}) AS tok
         |    FROM tkk)
         |), c1 AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY source
         |), s1 AS (SELECT source, n FROM c1 ORDER BY n DESC, source ASC LIMIT 1),
         |cov1 AS (SELECT DISTINCT p.tok FROM p JOIN s1 USING (source)),
         |p2 AS (
         |  SELECT p.source, p.tok FROM p LEFT JOIN cov1 ON p.tok = cov1.tok
         |  WHERE cov1.tok IS NULL
         |), c2 AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM p2 GROUP BY source
         |), s2 AS (SELECT source, n FROM c2 ORDER BY n DESC, source ASC LIMIT 1),
         |cov2 AS (
         |  SELECT tok FROM cov1
         |  UNION SELECT p2.tok FROM p2 JOIN s2 USING (source)
         |), p3 AS (
         |  SELECT p.source, p.tok FROM p LEFT JOIN cov2 ON p.tok = cov2.tok
         |  WHERE cov2.tok IS NULL
         |), c3 AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM p3 GROUP BY source
         |), s3 AS (SELECT source, n FROM c3 ORDER BY n DESC, source ASC LIMIT 1)
         |SELECT CAST(1 AS INTEGER) AS round, source,
         |  CAST(n AS BIGINT) AS n_new, CAST(n AS BIGINT) AS n_cum FROM s1
         |UNION ALL SELECT CAST(2 AS INTEGER), s2.source,
         |  CAST(s2.n AS BIGINT), CAST(s1.n + s2.n AS BIGINT) FROM s2, s1
         |UNION ALL SELECT CAST(3 AS INTEGER), s3.source,
         |  CAST(s3.n AS BIGINT), CAST(s1.n + s2.n + s3.n AS BIGINT)
         |  FROM s3, s1, s2""".stripMargin,
    // q298: same Hamilton split of N div 10, same salted-md5 rank
    // order, same Σ-id checksum of the selected set.
    "q298_stratified_quota_sample" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS n_events FROM events GROUP BY 1
        |), t AS (SELECT sum(n_events) AS n_total FROM c),
        |b AS (
        |  SELECT event_type, n_events,
        |    (SELECT n_total FROM t) // 10 AS budget,
        |    (((SELECT n_total FROM t) // 10) * n_events)
        |      // (SELECT n_total FROM t) AS base_quota,
        |    (((SELECT n_total FROM t) // 10) * n_events)
        |      % (SELECT n_total FROM t) AS remainder
        |  FROM c
        |), q AS (
        |  SELECT event_type, n_events,
        |    base_quota + CASE WHEN row_number() OVER
        |        (ORDER BY remainder DESC, event_type)
        |      <= budget - sum(base_quota) OVER () THEN 1 ELSE 0 END
        |      AS final_quota
        |  FROM b
        |), r AS (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5('sq:' || CAST(event_id AS VARCHAR)), event_id)
        |      AS rn
        |  FROM events
        |), s AS (
        |  SELECT r.event_type, count(*) AS n_taken,
        |    CAST(sum(r.event_id) AS BIGINT) AS sum_taken_ids
        |  FROM r JOIN q ON r.event_type = q.event_type
        |  WHERE r.rn <= q.final_quota
        |  GROUP BY 1
        |)
        |SELECT q.event_type, CAST(q.n_events AS BIGINT) AS n_events,
        |  CAST(q.final_quota AS BIGINT) AS final_quota,
        |  s.n_taken, s.sum_taken_ids
        |FROM q JOIN s ON q.event_type = s.event_type""".stripMargin,
    // q300: every subscore replayed from the same rule as its source
    // gate, composed by scalar subqueries.
    "q300_health_scorecard" ->
      """WITH dup AS (
        |  SELECT CASE WHEN count(*) > 0
        |    THEN (100 * count(DISTINCT md5(substr(text, 1, 32))))
        |      // count(*)
        |    ELSE 100 END AS dup_score
        |  FROM documents
        |), fr AS (
        |  SELECT CASE WHEN count(*) > 0
        |    THEN (100 * sum(CASE WHEN ((SELECT max(epoch_us(ts))
        |        FROM events) - mx) // 3600000000 < 24 THEN 1 ELSE 0 END))
        |      // count(*)
        |    ELSE 100 END AS freshness_score
        |  FROM (SELECT event_type, max(epoch_us(ts)) AS mx
        |    FROM events GROUP BY 1)
        |), cp AS (
        |  SELECT CASE WHEN count(*) > 0
        |    THEN (100 * sum(CASE WHEN n_types = (SELECT
        |        count(DISTINCT event_type) FROM events) THEN 1 ELSE 0
        |      END)) // count(*)
        |    ELSE 100 END AS completeness_score
        |  FROM (SELECT CAST(ts AS DATE) AS d,
        |      count(DISTINCT event_type) AS n_types
        |    FROM events GROUP BY 1)
        |), an AS (
        |  SELECT least(100, min(sz) * 20) AS anonymity_score FROM (
        |    SELECT o_orderpriority,
        |      CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
        |      o_orderstatus, count(*) AS sz
        |    FROM orders GROUP BY 1, 2, 3)
        |), ba AS (
        |  SELECT CASE WHEN max(rows_p) * 32 > 0
        |    THEN least(100, (100 * sum(rows_p)) // (max(rows_p) * 32))
        |    ELSE 0 END AS balance_score
        |  FROM (SELECT l_orderkey % 32 AS pid, count(*) AS rows_p
        |    FROM lineitem GROUP BY 1)
        |)
        |SELECT CAST(dup_score AS BIGINT) AS dup_score,
        |  CAST(freshness_score AS BIGINT) AS freshness_score,
        |  CAST(completeness_score AS BIGINT) AS completeness_score,
        |  CAST(anonymity_score AS BIGINT) AS anonymity_score,
        |  CAST(balance_score AS BIGINT) AS balance_score,
        |  CAST((dup_score + freshness_score + completeness_score +
        |    anonymity_score + balance_score) // 5 AS BIGINT)
        |    AS health_score
        |FROM dup, fr, cp, an, ba""".stripMargin,
    // q285: same quasi-identifier tuple (month via date_trunc), same
    // k=5 rule and guarded share.
    "q285_k_anonymity" ->
      """WITH g AS (
        |  SELECT o_orderpriority,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
        |    o_orderstatus, count(*) AS sz
        |  FROM orders GROUP BY 1, 2, 3
        |)
        |SELECT count(*) AS n_groups,
        |  CAST(sum(sz) AS BIGINT) AS n_rows,
        |  CAST(min(sz) AS BIGINT) AS k_anonymity,
        |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk,
        |  CAST(CASE WHEN sum(sz) > 0
        |    THEN (10000 * sum(CASE WHEN sz < 5 THEN sz ELSE 0 END))
        |      // sum(sz)
        |    ELSE 0 END AS BIGINT) AS risk_bp
        |FROM g""".stripMargin,
    // q270: same BIGINT base/remainder split, same (remainder desc,
    // stratum) seat order, leftover re-derived from the base sum.
    "q270_quota_apportionment" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS n_events FROM events GROUP BY 1
        |), t AS (SELECT sum(n_events) AS n_total FROM c),
        |b AS (
        |  SELECT event_type, n_events,
        |    (1000000 * n_events) // (SELECT n_total FROM t) AS base_quota,
        |    (1000000 * n_events) % (SELECT n_total FROM t) AS remainder
        |  FROM c
        |), l AS (
        |  SELECT *, 1000000 - sum(base_quota) OVER () AS leftover,
        |    row_number() OVER (ORDER BY remainder DESC, event_type) AS rk
        |  FROM b
        |)
        |SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(base_quota AS BIGINT) AS base_quota,
        |  CAST(remainder AS BIGINT) AS remainder,
        |  CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS extra,
        |  CAST(base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS final_quota
        |FROM l""".stripMargin,
    // q162: same salted-hash admission order (md5 hex strings compare
    // byte-identically) and integer cumsum-≤-budget rule.
    "q162_token_budget_mix" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, len($toksSql) AS n_toks FROM documents
         |), c AS (
         |  SELECT source, n_toks,
         |    sum(n_toks) OVER (PARTITION BY source
         |      ORDER BY md5('budget:' || CAST(doc_id AS VARCHAR)), doc_id) AS cum
         |  FROM t
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens_kept
         |FROM c WHERE cum <= 400 GROUP BY source""".stripMargin,
    // Recompute-from-merged-state: q106's merge CTEs, then a plain rollup.
    // Hash equality against the incremental path IS the MV-maintenance
    // correctness statement.
    "q117_incremental_agg" ->
      """WITH base AS (
        |  SELECT doc_id, source, n_chars FROM documents
        |), changes AS (
        |  SELECT doc_id, 1 AS seq, 'U' AS op, upper(source) AS src,
        |    n_chars + 1 AS nc
        |  FROM base WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'D', NULL, NULL FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, 1, 'I', 'backfill', n_chars
        |  FROM base WHERE doc_id % 7 = 0
        |), latest AS (
        |  SELECT doc_id, op, src, nc FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM changes) WHERE rn = 1
        |), merged AS (
        |  SELECT coalesce(l.src, b.source) AS source,
        |    coalesce(l.nc, b.n_chars) AS n_chars
        |  FROM base b FULL OUTER JOIN latest l ON b.doc_id = l.doc_id
        |  WHERE l.op IS NULL OR l.op <> 'D'
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM merged GROUP BY source""".stripMargin,
    // q228: the same first/last-op net algebra over the six-class feed.
    "q228_changelog_compaction" ->
      """WITH base AS (
        |  SELECT doc_id, source, n_chars FROM documents
        |), feed AS (
        |  SELECT doc_id, 1 AS seq, 'U' AS op, upper(source) AS src,
        |    n_chars + 1 AS nc FROM base WHERE doc_id % 11 = 1
        |  UNION ALL SELECT doc_id, 2, 'U', 'vA', n_chars + 2
        |    FROM base WHERE doc_id % 11 = 1
        |  UNION ALL SELECT doc_id, 1, 'U', upper(source), n_chars + 1
        |    FROM base WHERE doc_id % 11 = 2
        |  UNION ALL SELECT doc_id, 2, 'D', NULL, NULL
        |    FROM base WHERE doc_id % 11 = 2
        |  UNION ALL SELECT doc_id + 20000000, 1, 'I', 'ins', n_chars
        |    FROM base WHERE doc_id % 11 = 3
        |  UNION ALL SELECT doc_id + 20000000, 2, 'U', 'insU', n_chars + 5
        |    FROM base WHERE doc_id % 11 = 3
        |  UNION ALL SELECT doc_id + 20000000, 1, 'I', 'tmp', n_chars
        |    FROM base WHERE doc_id % 11 = 4
        |  UNION ALL SELECT doc_id + 20000000, 2, 'D', NULL, NULL
        |    FROM base WHERE doc_id % 11 = 4
        |  UNION ALL SELECT doc_id, 1, 'D', NULL, NULL
        |    FROM base WHERE doc_id % 11 = 5
        |  UNION ALL SELECT doc_id, 2, 'I', 'reborn', n_chars + 7
        |    FROM base WHERE doc_id % 11 = 5
        |  UNION ALL SELECT doc_id, 1, 'U', 'only', n_chars + 9
        |    FROM base WHERE doc_id % 11 = 6
        |), g AS (
        |  SELECT doc_id, min_by(op, seq) AS first_op, max_by(op, seq) AS last_op,
        |         max_by(src, seq) AS src, max_by(nc, seq) AS nc
        |  FROM feed GROUP BY doc_id
        |), net AS (
        |  SELECT doc_id,
        |    CASE WHEN last_op = 'D' AND first_op = 'I' THEN NULL
        |         WHEN last_op = 'D' THEN 'D'
        |         WHEN first_op = 'I' THEN 'I'
        |         ELSE 'U' END AS net_op,
        |    src AS source, CAST(nc AS BIGINT) AS n_chars
        |  FROM g
        |)
        |SELECT doc_id, net_op,
        |  CASE WHEN net_op = 'D' THEN NULL ELSE source END AS source,
        |  CASE WHEN net_op = 'D' THEN NULL ELSE n_chars END AS n_chars
        |FROM net WHERE net_op IS NOT NULL""".stripMargin,
    // q222: q111's version CTE chain + the probe grid — unmatched probes
    // (pre-insert, post-delete) land in the NULL-source census cell.
    "q222_pit_join" ->
      """WITH base AS (
        |  SELECT doc_id, source, n_chars FROM documents
        |), versions AS (
        |  SELECT doc_id, 0 AS seq, 'B' AS op, source AS src, n_chars AS nc
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 1, 'U', upper(source), n_chars + 1
        |  FROM base WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'D', NULL, NULL FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, 1, 'I', 'backfill', n_chars
        |  FROM base WHERE doc_id % 7 = 0
        |), v AS (
        |  SELECT *, lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS vt
        |  FROM versions
        |), dim AS (SELECT * FROM v WHERE op <> 'D'),
        |probes AS (
        |  SELECT p.doc_id, s.as_of
        |  FROM (SELECT DISTINCT doc_id FROM versions) p,
        |       (SELECT unnest(generate_series(0, 2)) AS as_of) s
        |)
        |SELECT p.as_of AS as_of, d.src AS source,
        |  count(*) AS n_docs, CAST(sum(d.nc) AS BIGINT) AS sum_nc
        |FROM probes p LEFT JOIN dim d
        |  ON d.doc_id = p.doc_id AND d.seq <= p.as_of
        |  AND (d.vt IS NULL OR p.as_of < d.vt)
        |GROUP BY 1, 2""".stripMargin,
    "q111_scd2_history" ->
      """WITH base AS (
        |  SELECT doc_id, source, n_chars FROM documents
        |), versions AS (
        |  SELECT doc_id, 0 AS seq, 'B' AS op, source AS src, n_chars AS nc
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 1, 'U', upper(source), n_chars + 1
        |  FROM base WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'D', NULL, NULL FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, 1, 'I', 'backfill', n_chars
        |  FROM base WHERE doc_id % 7 = 0
        |), v AS (
        |  SELECT *, lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS vt
        |  FROM versions
        |)
        |SELECT doc_id, CAST(seq AS BIGINT) AS valid_from_seq,
        |  CAST(vt AS BIGINT) AS valid_to_seq,
        |  src AS source, CAST(nc AS BIGINT) AS n_chars,
        |  vt IS NULL AS is_current
        |FROM v WHERE op <> 'D'""".stripMargin,
    "q106_cdc_merge" ->
      """WITH base AS (
        |  SELECT doc_id, source, n_chars FROM documents
        |), changes AS (
        |  SELECT doc_id, 1 AS seq, 'U' AS op, upper(source) AS src,
        |    n_chars + 1 AS nc
        |  FROM base WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'D', NULL, NULL FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, 1, 'I', 'backfill', n_chars
        |  FROM base WHERE doc_id % 7 = 0
        |), latest AS (
        |  SELECT doc_id, op, src, nc FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM changes) WHERE rn = 1
        |)
        |SELECT coalesce(b.doc_id, l.doc_id) AS doc_id,
        |  coalesce(l.src, b.source) AS source,
        |  CAST(coalesce(l.nc, b.n_chars) AS BIGINT) AS n_chars,
        |  coalesce(l.op, 'K') AS last_op
        |FROM base b FULL OUTER JOIN latest l ON b.doc_id = l.doc_id
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,
    "q82_repetition_signals" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), tc AS (
         |  SELECT doc_id, t, count(*) AS c
         |  FROM (SELECT doc_id, unnest(tk) AS t FROM toks) GROUP BY doc_id, t
         |), agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
         |    CAST(max(c) AS BIGINT) AS top_c, CAST(count(*) AS BIGINT) AS n_uniq
         |  FROM tc GROUP BY doc_id
         |), bgx AS (
         |  SELECT doc_id, unnest(bgs) AS b
         |  FROM (SELECT doc_id, $bigramsSql AS bgs FROM toks)
         |), bga AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
         |    CAST(count(DISTINCT b) AS BIGINT) AS n_uniq_bg
         |  FROM bgx GROUP BY doc_id
         |)
         |SELECT a.doc_id, a.n_toks,
         |  CAST(a.top_c AS DOUBLE) / CAST(a.n_toks AS DOUBLE) AS top_tok_frac,
         |  CAST(a.n_toks - a.n_uniq AS DOUBLE) / CAST(a.n_toks AS DOUBLE) AS dup_tok_frac,
         |  CAST(bga.n_bg - bga.n_uniq_bg AS DOUBLE) / CAST(bga.n_bg AS DOUBLE) AS dup_bigram_frac
         |FROM agg a JOIN bga ON a.doc_id = bga.doc_id""".stripMargin,
    "q83_hash_split" ->
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars,
        |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |)
        |SELECT lang, split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM s GROUP BY lang, split""".stripMargin,
    "q84_weighted_repeat" ->
      """SELECT doc_id, source, CAST(unnest(range(1, n_rep + 1)) AS BIGINT) AS copy_id
        |FROM (SELECT doc_id, source, least(3, 1 + n_chars // 100) AS n_rep
        |      FROM documents)""".stripMargin,
    // q315: same exact variance numerator, same floor(sqrt) weight
    // (correctly-rounded IEEE sqrt of an exact integer double), same
    // largest-remainder integer apportionment as q270.
    "q315_neyman_allocation" ->
      """WITH st AS (
        |  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS sx2
        |  FROM lineitem GROUP BY 1, 2
        |), w AS (
        |  SELECT l_returnflag, l_linestatus, n_rows,
        |    n_rows * sx2 - sx * sx AS var_num,
        |    CAST(floor(sqrt(CAST(n_rows * sx2 - sx * sx AS DOUBLE)))
        |      AS BIGINT) AS w
        |  FROM st
        |), t AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM w),
        |b AS (
        |  SELECT w.*,
        |    CAST(CASE WHEN wtot > 0 THEN (10000 * w) // wtot ELSE 0 END
        |      AS BIGINT) AS base_alloc,
        |    CAST(CASE WHEN wtot > 0 THEN (10000 * w) % wtot ELSE 0 END
        |      AS BIGINT) AS remainder
        |  FROM w, t
        |), lo AS (
        |  SELECT *, 10000 - sum(base_alloc) OVER () AS leftover,
        |    row_number() OVER (ORDER BY remainder DESC, l_returnflag,
        |      l_linestatus) AS rk
        |  FROM b
        |)
        |SELECT l_returnflag, l_linestatus, n_rows,
        |  CAST(var_num AS BIGINT) AS var_num, w,
        |  CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM lo""".stripMargin,
    // q306: the oracle's single-node global cumsum equals the engine's
    // two-phase blocked prefix sum exactly (blocks are key-monotone).
    "q306_pps_systematic_sample" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand,
        |    CAST(CAST(p_retailprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS w
        |  FROM part
        |), c AS (
        |  SELECT p_partkey, p_brand, w,
        |    CAST(sum(w) OVER (ORDER BY p_partkey ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cw
        |  FROM p
        |), t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM p),
        |sel AS (
        |  SELECT p_brand, w FROM c, t
        |  WHERE (tw // 100) > 0
        |    AND ((cw - w) // (tw // 100)) < (cw // (tw // 100))
        |)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_selected,
        |  CAST(sum(w) AS BIGINT) AS sel_weight_cents
        |FROM sel GROUP BY p_brand""".stripMargin,
    // q303: identical salted-md5 fold, exact cents, complement-by-
    // subtraction with the same guarded floor-div.
    "q303_oof_target_encoding" -> {
      val msum = (0 until 8).map { i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}"
      }.mkString(" + ")
      s"""WITH o AS (
         |  SELECT o_custkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
         |    substr(md5('oof:' || CAST(o_orderkey AS VARCHAR)), 1, 8) AS hx
         |  FROM orders
         |), j AS (
         |  SELECT c.c_mktsegment AS segment,
         |    CAST(($msum) % 5 AS BIGINT) AS fold, cents
         |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey
         |), cell AS (
         |  SELECT segment, fold, CAST(count(*) AS BIGINT) AS n_fold,
         |    CAST(sum(cents) AS BIGINT) AS sum_fold
         |  FROM j GROUP BY segment, fold
         |), seg AS (
         |  SELECT segment, CAST(count(*) AS BIGINT) AS n_seg,
         |    CAST(sum(cents) AS BIGINT) AS sum_seg
         |  FROM j GROUP BY segment
         |)
         |SELECT cell.segment, fold, n_fold,
         |  CAST(CASE WHEN n_seg > n_fold
         |    THEN (sum_seg - sum_fold) // (n_seg - n_fold)
         |    ELSE 0 END AS BIGINT) AS oof_enc_cents
         |FROM cell JOIN seg ON cell.segment = seg.segment""".stripMargin
    },
    // q302: identical key set ({name} ∪ 1-deletions) via unnest(range),
    // same candidate equi-join + levenshtein verify, same census.
    "q302_symspell_linkage" ->
      """WITH nm AS (SELECT c_name AS name FROM customer),
        |del0 AS (SELECT name, unnest(range(1, length(name)+1)) AS i FROM nm),
        |del AS (
        |  SELECT DISTINCT name, name AS k FROM nm
        |  UNION
        |  SELECT DISTINCT name, substr(name, 1, i-1) || substr(name, i+1)
        |  FROM del0
        |),
        |cand AS (
        |  SELECT DISTINCT a.name AS na, b.name AS nb
        |  FROM del a JOIN del b ON a.k = b.k AND a.name < b.name
        |),
        |ver AS (SELECT na, nb FROM cand WHERE levenshtein(na, nb) <= 1),
        |nbr AS (
        |  SELECT vtx, count(*) AS n_neighbors
        |  FROM (SELECT na AS vtx FROM ver UNION ALL SELECT nb AS vtx FROM ver)
        |  GROUP BY vtx
        |)
        |SELECT CAST(n_neighbors AS BIGINT) AS n_neighbors,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM nbr GROUP BY n_neighbors""".stripMargin,
    // q329: q302's linkage replayed, components via the recursive
    // reachability walk (entity = min member name — the Connect fixpoint),
    // (length DESC, name ASC) golden pin, exact cents merge.
    "q329_survivorship" -> survivorshipOracle,
    // q336: same QI/sensitive split, same (group × status) spine with
    // zero-filled misses, same cross-multiplied TV distance in floor bp.
    "q336_l_diversity" ->
      """WITH rows_ AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
        |    o_orderstatus AS s
        |  FROM orders
        |), gs AS (
        |  SELECT pri, om, s, CAST(count(*) AS BIGINT) AS cnt_gs
        |  FROM rows_ GROUP BY 1, 2, 3
        |), g AS (
        |  SELECT pri, om, CAST(sum(cnt_gs) AS BIGINT) AS n_g,
        |    CAST(count(*) AS BIGINT) AS l
        |  FROM gs GROUP BY 1, 2
        |), st AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt_s
        |          FROM rows_ GROUP BY s),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rows_),
        |tv AS (
        |  SELECT g.pri, g.om, g.n_g, g.l,
        |    CAST(sum(abs(coalesce(gs.cnt_gs, 0) * tot.n - st.cnt_s * g.n_g))
        |         * 10000 // (2 * g.n_g * tot.n) AS BIGINT) AS tv_bp
        |  FROM g CROSS JOIN st CROSS JOIN tot
        |  LEFT JOIN gs ON gs.pri = g.pri AND gs.om = g.om AND gs.s = st.s
        |  GROUP BY g.pri, g.om, g.n_g, g.l, tot.n
        |)
        |SELECT l, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(n_g) AS BIGINT) AS n_rows,
        |  CAST(max(tv_bp) AS BIGINT) AS max_tv_bp
        |FROM tv GROUP BY l""".stripMargin,
    // q334: same deletion-key frame (the q329 oracle's del CTE), same
    // Σ C(n_k,2) comparison census, same levenshtein-verified pair count,
    // both bp DIVs zero-guarded identically.
    "q334_blocking_efficiency" ->
      """WITH nm AS (SELECT DISTINCT c_name AS name FROM customer),
        |del0 AS (SELECT name, unnest(range(1, length(name)+1)) AS i FROM nm),
        |del AS (
        |  SELECT DISTINCT name, name AS k FROM nm
        |  UNION
        |  SELECT DISTINCT name, substr(name, 1, i-1) || substr(name, i+1)
        |  FROM del0
        |),
        |blocks AS (SELECT k, CAST(count(*) AS BIGINT) AS nk FROM del GROUP BY k),
        |cand AS (
        |  SELECT DISTINCT a.name AS na, b.name AS nb
        |  FROM del a JOIN del b ON a.k = b.k AND a.name < b.name
        |),
        |ver AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM cand
        |        WHERE levenshtein(na, nb) <= 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_names FROM nm),
        |b AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(CASE WHEN nk >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_blocks_ge2,
        |    CAST(max(nk) AS BIGINT) AS max_block,
        |    CAST(sum(nk * (nk - 1) // 2) AS BIGINT) AS n_candidate_comparisons
        |  FROM blocks
        |)
        |SELECT n_names, n_keys, n_blocks_ge2, max_block,
        |  n_candidate_comparisons, nv AS n_verified_pairs,
        |  CAST(CASE WHEN n_names >= 2
        |    THEN 10000 - (n_candidate_comparisons * 10000)
        |           // (n_names * (n_names - 1) // 2)
        |    ELSE 10000 END AS BIGINT) AS reduction_ratio_bp,
        |  CAST(CASE WHEN n_candidate_comparisons > 0
        |    THEN (nv * 10000) // n_candidate_comparisons
        |    ELSE 0 END AS BIGINT) AS pairs_quality_bp
        |FROM b, nn, ver""".stripMargin,
    "q89_edit_distance_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), shx AS (
         |  SELECT doc_id, unnest(${DedupQueries.shinglesSql}) AS s FROM toks
         |), b AS (
         |  SELECT doc_id, min(md5(s)) AS block FROM shx GROUP BY doc_id
         |), d AS (
         |  SELECT b.doc_id, b.block, documents.text AS text
         |  FROM b JOIN documents USING (doc_id)
         |)
         |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |  CAST(levenshtein(a.text, c.text) AS INTEGER) AS edit_distance
         |FROM d a JOIN d c ON a.block = c.block AND a.doc_id < c.doc_id
         |WHERE levenshtein(a.text, c.text) <= 20""".stripMargin,
    "q88_decontamination" ->
      s"""WITH tagged AS (
         |  SELECT doc_id, text,
         |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
         |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), toks AS (
         |  SELECT doc_id, split, $toksSql AS tk FROM tagged
         |), sh AS (
         |  SELECT doc_id, split, unnest(${DedupQueries.shinglesSql}) AS s FROM toks
         |), train_sh AS (
         |  SELECT DISTINCT s FROM sh WHERE split = 'train'
         |), test_sh AS (
         |  SELECT DISTINCT doc_id, s FROM sh WHERE split = 'test'
         |), agg AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(sum(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |  FROM test_sh t LEFT JOIN train_sh tr ON t.s = tr.s
         |  GROUP BY t.doc_id
         |)
         |SELECT doc_id, n_shingles, n_shared,
         |  CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination_frac,
         |  CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= CAST(0.5 AS DOUBLE) AS is_contaminated
         |FROM agg""".stripMargin,
    "q99_curation_pipeline" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, text,
         |    CAST(len(${DedupQueries.toksSql}) AS INTEGER) AS n_toks
         |  FROM documents
         |), q AS (
         |  SELECT * FROM t WHERE n_toks >= 20
         |), d AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM q
         |), s AS (
         |  SELECT source, n_toks,
         |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
         |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM d WHERE rn = 1
         |)
         |SELECT split, source, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS total_toks
         |FROM s GROUP BY split, source""".stripMargin,
    "q95_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 12) AS pfx
        |  FROM documents
        |), r AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY pfx, doc_id)
        |      AS INTEGER) AS sample_rank
        |  FROM h
        |)
        |SELECT source, doc_id, sample_rank FROM r WHERE sample_rank <= 20""".stripMargin,
    // Integer surprisal mirror: DuckDB `//` floors and Spark `div`
    // truncates, identical on the positive c_a/c_ab ratio; bin() is
    // unpadded binary in BOTH engines, so length(bin(q))-1 = floor(log2 q)
    // exactly — no float log anywhere.
    "q150_surprisal_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), bg AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
         |), counts AS (
         |  SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2
         |), lm AS (
         |  SELECT w1, w2, c_ab,
         |    CAST(sum(c_ab) OVER (PARTITION BY w1) AS BIGINT) AS c_a
         |  FROM counts
         |), sc AS (
         |  SELECT b.doc_id, length(bin(l.c_a // l.c_ab)) - 1 AS s
         |  FROM bg b JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(s) AS BIGINT) AS total_surprisal,
         |  CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_surprisal
         |FROM sc GROUP BY doc_id""".stripMargin,
    "q151_ngram_novelty" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(${DedupQueries.shinglesSql})) AS s FROM toks
         |), df AS (
         |  SELECT s, count(*) AS doc_freq FROM sh GROUP BY s
         |)
         |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN df.doc_freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique,
         |  CAST(sum(CASE WHEN df.doc_freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS novelty_frac
         |FROM sh JOIN df ON sh.s = df.s GROUP BY sh.doc_id""".stripMargin,
    "q96_bigram_lm" ->
      s"""WITH toks AS (
         |  SELECT ${DedupQueries.toksSql} AS tk FROM documents
         |), bg AS (
         |  SELECT tk[i] AS w1, tk[i + 1] AS w2
         |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks)
         |), counts AS (
         |  SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2
         |), tot AS (
         |  SELECT w1, w2, c_ab,
         |    CAST(sum(c_ab) OVER (PARTITION BY w1) AS BIGINT) AS c_a
         |  FROM counts
         |)
         |SELECT w1, w2, c_ab, c_a,
         |  CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE) AS cond_prob
         |FROM tot ORDER BY c_ab DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    // q200: q94's shard rule verbatim + the 48-bit digest rebuilt via
    // strpos digit arithmetic (Spark uses conv; the values agree exactly),
    // summed order-independently per shard.
    "q200_shard_manifest" -> manifestOracleSql,
    // q251: every census cell from the modulus rule; residuals are zero
    // by construction of a correct cascade — a leak breaks the hash.
    "q251_cascading_erasure" ->
      """WITH s AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 3
        |), od AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM s)
        |)
        |SELECT 'customer' AS table_name,
        |  CAST(count(*) AS BIGINT) AS n_before,
        |  CAST((SELECT count(*) FROM s) AS BIGINT) AS n_removed,
        |  CAST(count(*) - (SELECT count(*) FROM s) AS BIGINT) AS n_after,
        |  CAST(0 AS BIGINT) AS n_residual
        |FROM customer
        |UNION ALL
        |SELECT 'orders', CAST(count(*) AS BIGINT),
        |  CAST((SELECT count(*) FROM od) AS BIGINT),
        |  CAST(count(*) - (SELECT count(*) FROM od) AS BIGINT),
        |  CAST(0 AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem', CAST(count(*) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem
        |        WHERE l_orderkey IN (SELECT o_orderkey FROM od)) AS BIGINT),
        |  CAST(count(*) - (SELECT count(*) FROM lineitem
        |        WHERE l_orderkey IN (SELECT o_orderkey FROM od)) AS BIGINT),
        |  CAST(0 AS BIGINT)
        |FROM lineitem""".stripMargin,
    // q245: same unigram/bigram passes and the identical integer lift;
    // ORDER BY (lift DESC, w1, w2) is total, so LIMIT 20 is exact.
    "q245_collocations" ->
      s"""WITH tk0 AS (
         |  SELECT $toksSql AS tk FROM documents
         |), u AS (
         |  SELECT unnest(tk) AS w FROM tk0
         |), uc AS (
         |  SELECT w, count(*) AS c_w FROM u GROUP BY 1
         |), nt AS (
         |  SELECT count(*) AS n_tokens FROM u
         |), bp AS (
         |  SELECT p[1] AS w1, p[2] AS w2
         |  FROM (SELECT string_split(bg, ' ') AS p
         |        FROM (SELECT unnest($bigramsSql) AS bg FROM tk0))
         |  WHERE len(p) = 2
         |), bc AS (
         |  SELECT w1, w2, count(*) AS c_ab FROM bp GROUP BY 1, 2
         |)
         |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
         |  CAST(ca.c_w AS BIGINT) AS c_a, CAST(cb.c_w AS BIGINT) AS c_b,
         |  CAST(CASE WHEN ca.c_w * cb.c_w > 0
         |    THEN (10000 * c_ab * (SELECT n_tokens FROM nt))
         |         // (ca.c_w * cb.c_w)
         |    ELSE 0 END AS BIGINT) AS lift_bp
         |FROM bc JOIN uc ca ON ca.w = w1 JOIN uc cb ON cb.w = w2
         |WHERE c_ab >= 20
         |ORDER BY lift_bp DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    // q239: same md5("e:id") permutation; the first hex digit mod 8 is
    // the shard, the min (hash ‖ padded id) string is the shard opener.
    "q239_epoch_shuffle" ->
      """WITH e AS (
        |  SELECT CAST(unnest(generate_series(0, 2)) AS INTEGER) AS epoch
        |), a AS (
        |  SELECT epoch, doc_id, n_chars,
        |    md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents, e
        |), s AS (
        |  SELECT epoch,
        |    CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1) % 8
        |      AS BIGINT) AS shard,
        |    n_chars,
        |    h || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS ord
        |  FROM a
        |)
        |SELECT epoch, shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(substr(min(ord), 33, 12) AS BIGINT) AS lead_doc
        |FROM s GROUP BY epoch, shard""".stripMargin,
    // q232: every counter recomputed independently; the pair-uniqueness
    // counter uses the injective integer encoding key*8+linenumber
    // (linenumber ∈ 1..7) — same distinct-pair count as the engine's
    // struct distinct.
    "q232_constraint_suite" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_complete,
        |    CAST(count(*) - count(DISTINCT l_orderkey * 8 + l_linenumber)
        |      AS BIGINT) AS v_unique,
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_range,
        |    CAST(sum(CASE WHEN l_returnflag NOT IN ('R','A','N') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_set,
        |    CAST(sum(CASE WHEN l_discount < CAST(0.0 AS DOUBLE)
        |      OR l_discount > CAST(0.1 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_disc,
        |    CAST(sum(CASE WHEN l_extendedprice < l_quantity THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_cross,
        |    CAST(sum(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_tight
        |  FROM lineitem
        |), u AS (
        |  SELECT 'completeness(l_linestatus)' AS check_name, n, v_complete AS v FROM a
        |  UNION ALL SELECT 'uniqueness(l_orderkey,l_linenumber)', n, v_unique FROM a
        |  UNION ALL SELECT 'range(l_quantity,1,50)', n, v_range FROM a
        |  UNION ALL SELECT 'isin(l_returnflag,R|A|N)', n, v_set FROM a
        |  UNION ALL SELECT 'range(l_discount,0,0.1)', n, v_disc FROM a
        |  UNION ALL SELECT 'cross(l_extendedprice>=l_quantity)', n, v_cross FROM a
        |  UNION ALL SELECT 'bound(l_quantity<=30)', n, v_tight FROM a
        |)
        |SELECT check_name, n AS n_checked, v AS n_violations,
        |  CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM u""".stripMargin,
    // q214: the same four FK anti-joins.
    "q214_referential_integrity" -> {
      def edge(name: String, child: String, key: String, parent: String,
          pkey: String): String =
        s"""SELECT '$name' AS edge,
           |  (SELECT count(*) FROM $child) AS n_child,
           |  (SELECT count(DISTINCT $key) FROM $child) AS n_child_keys,
           |  (SELECT count(*) FROM $child
           |   WHERE $key NOT IN (SELECT $pkey FROM $parent)) AS n_orphans""".stripMargin
      Seq(
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edge("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edge("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        edge("nation.n_regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey")).mkString("\nUNION ALL\n")
    },
    // q215: identical month spine from the corpus' own bounds.
    "q215_partition_gap_audit" ->
      """WITH mo AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
        |    count(*) AS n_rows
        |  FROM lineitem GROUP BY 1
        |), b AS (
        |  SELECT min(m) AS mn, max(m) AS mx FROM mo
        |), spine AS (
        |  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS DATE) AS m
        |  FROM b
        |)
        |SELECT CAST(year(spine.m) AS INTEGER) AS ship_year,
        |  count(*) AS n_months_expected,
        |  CAST(sum(CASE WHEN mo.n_rows IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_months_present,
        |  CAST(sum(CASE WHEN mo.n_rows IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gap_months,
        |  CAST(coalesce(sum(mo.n_rows), 0) AS BIGINT) AS n_rows
        |FROM spine LEFT JOIN mo USING (m)
        |GROUP BY 1""".stripMargin,
    // q203: the SAME manifest over the raw table — the compacted files
    // must reconcile to it exactly or the rewrite lost/duplicated/
    // corrupted a document.
    "q203_compaction_manifest" -> manifestOracleSql,
    "q94_shard_assignment" ->
      """WITH h AS (
        |  SELECT doc_id, md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents
        |)
        |SELECT doc_id, shuffle_key,
        |  CAST((instr('0123456789abcdef', substr(shuffle_key, 1, 1)) - 1) * 16
        |     + (instr('0123456789abcdef', substr(shuffle_key, 2, 1)) - 1) AS INTEGER) AS shard_id,
        |  CAST(row_number() OVER (
        |    PARTITION BY substr(shuffle_key, 1, 2)
        |    ORDER BY shuffle_key, doc_id) AS INTEGER) AS pos_in_shard
        |FROM h""".stripMargin,
    "q102_temperature_mix_alpha34" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        |), m AS (
        |  SELECT min(n_docs) AS n_min FROM c
        |), r AS (
        |  SELECT source, n_docs,
        |    sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |      * sqrt(sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))) AS sample_rate,
        |    lpad(to_hex(CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |      * sqrt(sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))) * 65536) AS BIGINT)), 4, '0') AS thr
        |  FROM c CROSS JOIN m
        |), k AS (
        |  SELECT d.source, count(*) AS n_kept
        |  FROM documents d JOIN r USING (source)
        |  WHERE r.sample_rate >= CAST(1.0 AS DOUBLE)
        |     OR upper(substr(md5('mix34:' || CAST(d.doc_id AS VARCHAR)), 1, 4)) < r.thr
        |  GROUP BY d.source
        |)
        |SELECT r.source, r.n_docs, CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  r.sample_rate
        |FROM r LEFT JOIN k USING (source)""".stripMargin,
    "q91_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        |), m AS (
        |  SELECT min(n_docs) AS n_min FROM c
        |), r AS (
        |  SELECT source, n_docs,
        |    sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS sample_rate,
        |    lpad(to_hex(CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |      * 65536) AS BIGINT)), 4, '0') AS thr
        |  FROM c CROSS JOIN m
        |), k AS (
        |  SELECT d.source, count(*) AS n_kept
        |  FROM documents d JOIN r USING (source)
        |  WHERE r.sample_rate >= CAST(1.0 AS DOUBLE)
        |     OR upper(substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4)) < r.thr
        |  GROUP BY d.source
        |)
        |SELECT r.source, r.n_docs, CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  r.sample_rate
        |FROM r LEFT JOIN k USING (source)""".stripMargin,
    "q85_sequence_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_toks FROM documents
         |), c AS (
         |  SELECT doc_id, source, n_toks,
         |    coalesce(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM t
         |)
         |SELECT doc_id, source, CAST(n_toks AS INTEGER) AS n_toks,
         |  CAST(cb // 2048 AS INTEGER) AS pack_id FROM c""".stripMargin,
    // q170: the oracle replays the EXACT decontamination join — it knows
    // nothing about the bloom. Hash-equality therefore proves the bloom
    // pre-filter is a pure optimization (no false negatives reached the
    // result). Same split rule as q83/q88; 5-gram shingles; integer ½
    // threshold.
    "q170_bloom_decontaminate" ->
      s"""WITH tagged AS (
         |  SELECT doc_id, lang, text,
         |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
         |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), toks AS (
         |  SELECT doc_id, lang, split, $toksSql AS tk FROM tagged
         |), sh AS (
         |  SELECT doc_id, lang, split, unnest(${DedupQueries.shinglesSqlN(5)}) AS s FROM toks
         |), train_sh AS (
         |  SELECT DISTINCT s FROM sh WHERE split = 'train'
         |), test_sh AS (
         |  SELECT DISTINCT doc_id, lang, s FROM sh WHERE split = 'test'
         |), agg AS (
         |  SELECT t.doc_id, any_value(t.lang) AS lang,
         |    CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(sum(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |  FROM test_sh t LEFT JOIN train_sh tr ON t.s = tr.s
         |  GROUP BY t.doc_id
         |)
         |SELECT lang, count(*) AS n_test_docs,
         |  CAST(sum(CASE WHEN 2 * n_shared >= n_shingles THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN 2 * n_shared >= n_shingles THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
         |FROM agg GROUP BY lang""".stripMargin,
    // q171: per-bucket fixed-point score replayed with the identical 5-op
    // IEEE sequence (literal-for-literal), per-doc sums as BIGINT.
    "q171_dsir_importance" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, $toksSql AS tk FROM documents
         |), bg AS (
         |  SELECT doc_id, lang, unnest($bigramsSql) AS b FROM toks WHERE len(tk) >= 2
         |), bucketed AS (
         |  SELECT doc_id, lang, substr(md5('dsir:' || b), 1, 2) AS bucket FROM bg
         |), counts AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS r,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t
         |  FROM bucketed GROUP BY bucket
         |), tot AS (
         |  SELECT CAST(sum(t) AS BIGINT) AS tt, CAST(sum(r) AS BIGINT) AS rr FROM counts
         |), score AS (
         |  SELECT bucket,
         |    CAST(floor(1000000.0 * (CAST(t + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE))
         |      / (CAST(r + 1 AS DOUBLE) / CAST(rr + 256 AS DOUBLE))) AS BIGINT) AS s
         |  FROM counts CROSS JOIN tot
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(s) AS BIGINT) AS dsir_fp,
         |  CAST(sum(s) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE) AS avg_ratio
         |FROM bucketed JOIN score USING (bucket)
         |GROUP BY doc_id""".stripMargin,
    // q174: priorities are single exact-int-product / IEEE-division
    // doubles — replayed literal-for-literal (the 32-bit uniform is
    // rebuilt from md5 hex via strpos digit arithmetic; Spark uses conv,
    // the VALUES agree exactly).
    "q174_priority_sample" -> {
      val msum = (0 until 8).map { i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}"
      }.mkString(" + ")
      s"""WITH h AS (
         |  SELECT doc_id, n_chars,
         |    substr(md5('psamp:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, n_chars, CAST($msum AS BIGINT) AS mval FROM h
         |), pr AS (
         |  SELECT doc_id, n_chars,
         |    CAST(n_chars AS DOUBLE) * 4294967296.0 / CAST(mval + 1 AS DOUBLE) AS priority
         |  FROM m
         |), r AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY priority DESC, doc_id) AS INTEGER) AS rank
         |  FROM pr
         |), tau AS (
         |  SELECT coalesce(min(CASE WHEN rank = 101 THEN priority END), CAST(0.0 AS DOUBLE)) AS tau
         |  FROM r
         |)
         |SELECT rank, doc_id, CAST(n_chars AS BIGINT) AS weight, priority,
         |  greatest(CAST(n_chars AS DOUBLE), tau) AS ht_weight
         |FROM r CROSS JOIN tau WHERE rank <= 100""".stripMargin
    },
    // q181: the curation layer's pieces replayed in one report — the
    // recursive cluster walk (q105's CTE), the q172 cascade (shared
    // funnelFeatureItemsSql/funnelVerdictSql — one definition), the md5
    // first-copy rank, grouped per source.
    "q181_data_card" ->
      s"""${DedupQueries.clusterCteSql},
         |comp AS (
         |  SELECT DISTINCT node AS doc_id FROM walk
         |), feat AS (
         |  SELECT t.doc_id, d.source, d.n_chars,
         |    ${TextQueries.funnelFeatureItemsSql}
         |  FROM toks t JOIN documents d USING (doc_id)
         |), vd AS (
         |  SELECT doc_id, source, n_chars, n_toks,
         |    ${TextQueries.funnelVerdictSql} AS verdict
         |  FROM feat
         |), dd AS (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM documents
         |), agg AS (
         |  SELECT v.source,
         |    count(*) AS n_docs,
         |    CAST(sum(v.n_toks) AS BIGINT) AS total_tokens,
         |    CAST(sum(v.n_chars) AS BIGINT) AS total_chars,
         |    CAST(sum(CASE WHEN v.verdict = 'pass' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
         |    CAST(sum(CASE WHEN dd.rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |    CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup_members
         |  FROM vd v JOIN dd USING (doc_id) LEFT JOIN comp c ON c.doc_id = v.doc_id
         |  GROUP BY v.source
         |)
         |SELECT source, n_docs, total_tokens, total_chars, n_quality_pass,
         |  n_exact_dup, n_near_dup_members,
         |  CAST(n_quality_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS quality_pass_frac,
         |  CAST(n_exact_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS exact_dup_frac
         |FROM agg""".stripMargin,
    // q175: pure-integer fixed-point probabilities (BIGINT floor-division
    // on both engines) — the absent-token mass folded in algebraically, so
    // only existing (source, token) pairs are touched.
    "q175_source_drift" ->
      s"""WITH occ AS (
         |  SELECT source, t AS tok, CAST(count(*) AS BIGINT) AS c_st
         |  FROM (SELECT source, unnest($toksSql) AS t FROM documents)
         |  GROUP BY source, t
         |), vocab AS (
         |  SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM occ GROUP BY tok
         |), ns AS (
         |  SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM occ GROUP BY source
         |), tot AS (
         |  SELECT CAST(sum(c_t) AS BIGINT) AS n FROM vocab
         |), terms AS (
         |  SELECT o.source,
         |    (o.c_st * 1000000000) // ns.n_s AS r1,
         |    (v.c_t * 1000000000) // tot.n AS r2
         |  FROM occ o JOIN vocab v USING (tok) JOIN ns ON o.source = ns.source
         |  CROSS JOIN tot
         |), agg AS (
         |  SELECT source, CAST(sum(abs(r1 - r2)) AS BIGINT) AS sum_abs,
         |    CAST(sum(r2) AS BIGINT) AS sum_r2
         |  FROM terms GROUP BY source
         |)
         |SELECT a.source, ns.n_s AS n_source_tokens,
         |  CAST(a.sum_abs + (1000000000 - a.sum_r2) AS BIGINT) AS tv_fp,
         |  CAST(a.sum_abs + (1000000000 - a.sum_r2) AS DOUBLE)
         |    / CAST(2000000000 AS DOUBLE) AS tv_distance
         |FROM agg a JOIN ns ON a.source = ns.source""".stripMargin,
    // q176: integer char masses; single exact divisions for the fractions;
    // flag by integer cross-multiplication.
    "q176_repetition_chars" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), g AS (
         |  SELECT doc_id, unnest($bigramsSql) AS gram FROM toks
         |), cnt AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS c,
         |    CAST(count(*) AS BIGINT) * CAST(length(gram) AS BIGINT) AS mass
         |  FROM g GROUP BY doc_id, gram
         |), agg AS (
         |  SELECT doc_id,
         |    CAST(sum(mass) AS BIGINT) AS total_gram_chars,
         |    CAST(sum(CASE WHEN c >= 2 THEN mass ELSE 0 END) AS BIGINT) AS dup_gram_chars,
         |    CAST(max(c * 2147483648 + mass) % 2147483648 AS BIGINT) AS top_gram_chars
         |  FROM cnt GROUP BY doc_id
         |)
         |SELECT doc_id, total_gram_chars, dup_gram_chars, top_gram_chars,
         |  CAST(dup_gram_chars AS DOUBLE) / CAST(total_gram_chars AS DOUBLE) AS dup_char_frac,
         |  CAST(top_gram_chars AS DOUBLE) / CAST(total_gram_chars AS DOUBLE) AS top_char_frac,
         |  dup_gram_chars * 5 >= total_gram_chars AS is_repetitive
         |FROM agg""".stripMargin)
}
