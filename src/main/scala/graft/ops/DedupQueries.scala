package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Connect, Dedup}

/** Gate queries for the near-dup family (MinHash+LSH, SimHash) with full
  * DuckDB oracle parity. Parameters are pinned here (the library API in
  * [[graft.operators.Dedup]] generalizes them).
  */
object DedupQueries {

  private[ops] val ShingleSize = 3
  private val NumHashes = 12
  private val Bands = 6 // → 2 rows/band, Jaccard capture threshold ≈ (1/6)^(1/2)

  /** MinHash + LSH candidate pairs, verified with exact shingle Jaccard. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(Tables.documents(spark, dir), "doc_id", "text",
      ShingleSize, NumHashes, Bands, threshold = 0.3)

  /** 16-bit SimHash signature + scale-out banding bucket per document. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashSignatures(Tables.documents(spark, dir), "doc_id", "text")

  /** MinHash accuracy audit — the q64 pattern (sketch vs exact, in-query)
    * applied to the dedup family: for every LSH candidate pair, the
    * signature-estimated Jaccard (matching hashes / 12) next to the exact
    * shingle-set Jaccard and their absolute error. This is the number that
    * justifies sizing the signature at 12 hashes: at 100 TB the exact
    * column is dropped and decisions ride the estimate, so its error must
    * be measured — on candidates, where it matters — not assumed.
    * All ratios are integer/integer doubles; the error is one IEEE
    * subtraction — both engine-exact. */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      ShingleSize, NumHashes, Bands, threshold = 0.3)
      .select($"doc_a", $"doc_b", $"jaccard")
    // cached: referenced once per pair side — uncached, each side re-runs
    // the full shingle+min-agg pass (Bench/Verify clearCache() drops it)
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", ShingleSize, NumHashes)
      .cache()
    val sa = sigs.toDF("doc_a" +: (0 until NumHashes).map(i => s"a$i"): _*)
    val sb = sigs.toDF("doc_b" +: (0 until NumHashes).map(i => s"b$i"): _*)
    val matches = (0 until NumHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .select($"doc_a", $"doc_b", $"jaccard",
        (matches.cast("double") / lit(NumHashes).cast("double")).as("est_jaccard"))
      .withColumn("abs_err", abs($"jaccard" - $"est_jaccard"))
  }

  /** Near-dup CLUSTER resolution — the decision step the pair queries stop
    * short of: q27's verified pairs become per-document cluster labels via
    * [[Connect.components]] (alternating large-star/small-star), and the
    * cluster minimum is the canonical survivor. The oracle computes the
    * same fixpoint with a recursive CTE (min reachable id per node), which
    * is unique, so iteration order cannot cause drift. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Dedup.minhashNearDups(Tables.documents(spark, dir),
      "doc_id", "text", ShingleSize, NumHashes, Bands, threshold = 0.3)
      .filter($"is_near_dup")
      .select($"doc_a", $"doc_b")
    Connect.dedupDecisions(pairs, "doc_a", "doc_b")
      .select($"node".as("doc_id"), $"component", $"is_canonical")
  }

  /** EXACT set-similarity join via prefix filtering (AllPairs/PPJoin) — the
    * deterministic complement of q27's probabilistic MinHash+LSH: all pairs
    * with shingle-set Jaccard ≥ 0.3, with NO false negatives by theorem
    * rather than by banding probability. Tokens get a global canonical
    * order (document frequency asc, shingle asc — rarest first); each doc
    * indexes only its PREFIX, the first |d| − ⌈0.3·|d|⌉ + 1 shingles of
    * that order. PPJoin Lemma 1: two sets with J ≥ t share their
    * smallest-in-order common shingle inside BOTH prefixes, so the
    * prefix-on-prefix equi-join is a complete candidate set — and it is the
    * SCALE lever: candidates pair only within a (rare) prefix token's
    * bucket, never within the high-frequency tokens that make a naive
    * share-any-token join quadratic. Verification counts shared shingles
    * per candidate (join bounded by candidate count) and keeps
    * J ≥ 0.3 via the INTEGER cross-multiplication 13·c ≥ 3·(|a|+|b|)
    * (⟺ 10c ≥ 3(|a|+|b|−c)) — no float compare at the boundary. The
    * oracle is the brute-force all-pairs join: equality proves the filter
    * lost nothing. ⌈0.3n⌉ = (3n+9) div 10 — integer math on both sides.
    *
    * STABILITY (r15, VERDICT r14 #4): the three reused frames are
    * FILE-BACKED Scratch checkpoints, not `.cache()`. This gate was the
    * suite's declared measurement-noise ceiling (SCALING.md: 4.39 / 10.22
    * / 7.07 s within one day) because under suite memory pressure the
    * cached docArr/prefixes partitions were evicted mid-verify-join and
    * the whole shingle→df-order build re-ran per lost partition — the
    * parquet hop pins the build cost once per invocation, gives the
    * verify join real file statistics + full AQE (the coPurchaseEdges
    * rationale), and removes the eviction-recompute noise source. The
    * scratch dir is named per sf-dir, so bench trials overwrite one
    * directory and each timed pass still pays the full build it claims
    * to time. */
  def prefixFilterJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val run = graft.Scratch.named(s"q112_${graft.Scratch.dirKey(dir)}")
    // distinct shingle rows, materialized ONCE (localCheckpoint — block
    // store, not a parquet hop: the frame is consumed exactly twice
    // within this invocation and spills to disk under pressure instead
    // of recomputing): the dictionary build below runs eagerly inside
    // Sweep.rowNumber's own checkpoint, so without this the docArr join
    // leg would re-execute the docs scan + shingle explode + distinct a
    // second time (the r15 "+1.5 s parquet ckpt for nothing" note
    // predates the dictionary — back then sh had ONE plan and the
    // distinct's exchange was reused within it)
    val sh = Tables.documents(spark, dir)
      .select($"doc_id", explode(Dedup.wordShingles($"text", ShingleSize)).as("s"))
      .distinct()
      .localCheckpoint()
    val dfreq = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    // DICTIONARY-RANK ENCODING (r16): every shingle is replaced by its
    // dense global rank in the canonical (df asc, s asc) order — the
    // PPJoin order itself — via one distributed-exact Sweep.rowNumber
    // pass over the (tiny relative to sh) distinct-shingle frame. The
    // rank is a COLLISION-FREE 8-byte surrogate (unlike the xxhash64 key
    // this replaces, which was provably safe but could add spurious
    // candidates), so from here on every frame the gate shuffles carries
    // longs instead of multi-word shingle STRINGS: the verify arrays
    // shrink by the string width (smaller docarr parquet, narrower verify
    // shuffle — the byte volume the r15 stability note blamed for the
    // spill noise), array_intersect compares longs, and sort_array orders
    // a plain long array. Rank order ≡ (df, s) order, so the sorted rank
    // array IS the df-order shingle array and the prefix slice is
    // unchanged; |intersection| is exact because the encoding is a
    // bijection.
    val dict = graft.operators.Sweep.rowNumber(
      dfreq, Seq($"df".asc, $"s".asc), "rank")
    // ONE dict-join + per-doc sort pass feeds BOTH the prefix index and
    // the verify arrays (r6: a second groupBy+collect_list over sh for the
    // verify sets re-shuffled and re-sorted the same 250k shingle rows)
    val docArr = graft.Scratch.hop(sh.join(dict.select($"s", $"rank"), "s")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"rank")).as("sarr"))
      .select($"doc_id", $"sarr", size($"sarr").as("sz")), run, "docarr")
    // both sides of the candidate self-join read this frame: the explode
    // re-runs per side, but off the checkpointed docArr parquet it is a
    // cheap columnar scan + explode (re-measured r15), not a rebuild.
    // The join key is the dictionary rank itself — already an 8-byte
    // integer, no hashing needed, and exactly complete (two docs share a
    // prefix shingle iff they share its rank).
    val prefixes = docArr
      .select($"doc_id", $"sz",
        explode(slice($"sarr", lit(1),
          ($"sz" - expr("(3 * sz + 9) div 10") + 1).cast("int"))).as("ps"))
    // candidates: same prefix shingle + PPJoin's LENGTH filter (J ≥ t needs
    // t·|larger| ≤ |smaller|, i.e. 10·min ≥ 3·max — integer, prunes pairs
    // whose sizes alone forbid the threshold before any verification)
    val cands = prefixes.select($"doc_id".as("doc_a"), $"sz".as("sa"), $"ps")
      .join(prefixes.select($"doc_id".as("doc_b"), $"sz".as("sb"), $"ps"), "ps")
      .filter($"doc_a" < $"doc_b" &&
        $"sa" * 10 >= $"sb" * 3 && $"sb" * 10 >= $"sa" * 3)
      .select($"doc_a", $"doc_b").distinct()
    // verify per PAIR against the materialized shingle arrays (df-order —
    // array_intersect hashes one side, so element order is irrelevant):
    // one hash-set probe per element, O(|a|+|b|) per candidate in place,
    // versus the explode-to-shingle-rows join that re-shuffles
    // candidates×|doc| rows (measured 8.1 s → this shape at sf0.1; the
    // arrays table is doc-keyed and broadcasts when small)
    cands
      .join(docArr.select($"doc_id".as("doc_a"), $"sarr".as("seta"), $"sz".as("sa")), "doc_a")
      .join(docArr.select($"doc_id".as("doc_b"), $"sarr".as("setb"), $"sz".as("sb")), "doc_b")
      .select($"doc_a", $"doc_b", $"sa", $"sb",
        size(array_intersect($"seta", $"setb")).cast("long").as("c"))
      .filter($"c" * 13 >= ($"sa" + $"sb") * 3)
      .select($"doc_a", $"doc_b",
        ($"c".cast("double") / ($"sa" + $"sb" - $"c").cast("double")).as("jaccard"))
  }

  /** Exact CONTAINMENT similarity join — the asymmetric near-SUBSET
    * relation symmetric Jaccard (q53/q112) structurally misses: emit
    * ordered pairs (a, b) where ≥ 60 % of a's distinct 3-gram shingles
    * occur in b, regardless of how much bigger b is (boilerplate wrappers,
    * quoted excerpts, truncated re-crawls). Candidate generation is
    * provably complete, not heuristic: order a's shingles by md5; if b
    * covers 60 % of a then a misses at most ⌊0.4·|a|⌋ shingles, so at
    * least one of a's first ⌊0.4·|a|⌋+1 hash-ordered shingles is shared —
    * probing only that prefix against the FULL inverted index finds every
    * qualifying pair (the prefix-filter bound of Chaudhuri/Ganti/Kaushik,
    * ICDE 2006; unlike q112 there is no length filter — containment admits
    * arbitrarily large containers). One groupBy materializes the
    * md5-sorted shingle array that serves BOTH the prefix slice and the
    * array_intersect verify (the q112 r6 lesson). Accept predicate is the
    * integer cross-multiplication 10·shared ≥ 6·|a| — no float compare at
    * the boundary. Cost tracks prefix×posting-list volume, never doc
    * pairs; at 100 TB the md5 ordering spreads prefixes uniformly over
    * the shingle vocabulary, so no posting list hot-spots beyond true
    * boilerplate (which IS the signal). */
  def containmentJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ex = Tables.documents(spark, dir)
      .select($"doc_id", explode(Dedup.wordShingles($"text", ShingleSize)).as("s"))
      .distinct()
    // one shuffle: the (md5, shingle)-sorted array per doc feeds the
    // prefixes, the b-side inverted index, AND the verify sets.
    // A q112-style dictionary-rank encoding (rank the distinct shingles
    // in (md5, s) order, carry long arrays) was measured and REJECTED in
    // r16: isolated A/B 2.00 → 3.96 s min-vs-min — unlike q112 there is
    // no df-order prefix to piggyback on, so the dictionary is a PURE
    // ADDITION here (an ex localCheckpoint + a Sweep range exchange + a
    // dict join before the one groupBy), and q173's verify arrays are
    // 3-gram shingles over a small doc set — the string-width saving
    // never pays back the three extra passes at any measured margin.
    val docArr = ex
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct(md5($"s").as("h"), $"s"))).as("ord"))
      .select($"doc_id", transform($"ord", x => x.getField("s")).as("sarr"),
        size($"ord").as("sz"))
      .cache()
    val prefixes = docArr.select($"doc_id".as("doc_a"), $"sz".as("sz_a"),
      explode(slice($"sarr", lit(1),
        ($"sz" - expr("(6 * sz + 9) div 10") + 1).cast("int"))).as("s"))
    // b-side inverted index carries |b| so the LOSSLESS size prune
    // 10·|b| ≥ 6·|a| (b must hold ≥ ⌈0.6·|a|⌉ of a's shingles, so smaller
    // containers are impossible) kills candidates before the distinct —
    // the output is unchanged, which is why the oracle needn't mirror it.
    val bIndex = docArr.select($"doc_id".as("doc_b"), $"sz".as("sz_b"),
      explode($"sarr").as("s"))
    val cands = prefixes
      .join(bIndex, "s")
      .filter($"doc_a" =!= $"doc_b" && $"sz_b" * 10 >= $"sz_a" * 6)
      .select($"doc_a", $"doc_b").distinct()
    cands
      .join(docArr.select($"doc_id".as("doc_a"), $"sarr".as("set_a"), $"sz".as("sza")), "doc_a")
      .join(docArr.select($"doc_id".as("doc_b"), $"sarr".as("set_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"set_a", $"set_b")).cast("long").as("n_shared"),
        $"sza".cast("long").as("sz_a"))
      .filter($"n_shared" * 10 >= $"sz_a" * 6)
      .select($"doc_a", $"doc_b", $"n_shared",
        ($"n_shared".cast("double") / $"sz_a".cast("double")).as("containment"),
        ($"n_shared" === $"sz_a").as("is_exact_subset"))
  }

  /** The (doc_id, component) cluster frame as a per-dir parquet checkpoint
    * — the derived-table pattern (gridIndex, coPurchaseEdges): q159 and
    * q161 are downstream CONSUMERS of the clustering decision, exactly as
    * a production pipeline computes clusters once and feeds every policy
    * that needs them; they must not re-run the shingle/minhash/fixpoint
    * machinery per query. q105 itself keeps computing the fixpoint live —
    * it is the gate OF that machinery. */
  private[ops] def components(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = graft.Derived("dedup.components", dir) {
      val pairs = Dedup.minhashNearDups(Tables.documents(spark, dir),
        "doc_id", "text", ShingleSize, NumHashes, Bands, threshold = 0.3)
        .filter($"is_near_dup")
        .select($"doc_a", $"doc_b")
      val p = graft.Scratch.named(s"clusters_${graft.Scratch.dirKey(dir)}")
        .resolve("components").toString
      Connect.dedupDecisions(pairs, "doc_a", "doc_b")
        .select($"node".as("doc_id"), $"component")
        .write.mode("overwrite").parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  /** LEAKAGE-SAFE train/val/test split (q159) — q83's deterministic
    * salted-md5 split rule applied to the near-dup CLUSTER representative
    * instead of the raw document id: every document carries its
    * connected-component minimum (q105's fixpoint; documents in no
    * near-dup pair are their own singleton component), and the split is a
    * pure function of that component id — so a whole near-dup cluster
    * lands in ONE split BY CONSTRUCTION and near-identical documents can
    * never straddle train and held-out sets (the leakage q88's
    * decontamination gate would otherwise have to detect after the fact).
    * Singletons get exactly q83's assignment (component = doc_id, same
    * salt), so the two splits disagree only where leakage safety demands
    * it. Scale shape: the component frame is bounded by documents-in-pairs
    * (broadcast when small); everything else is q105's machinery. */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val h = substring(
      md5(concat(lit("split:"), col("component").cast("string"))), 1, 2)
    docs.select($"doc_id")
      .join(components(spark, dir), Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"component", $"doc_id").as("component"))
      .withColumn("split",
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
  }

  private def sigsAndSets(slice: DataFrame): DataFrame = {
    import slice.sparkSession.implicits._
    slice.select($"doc_id",
      explode(Dedup.wordShingles($"text", ShingleSize)).as("shingle"))
      .groupBy($"doc_id")
      .agg(collect_set($"shingle").as("shset"),
        (0 until NumHashes).map(i => Dedup.minhash($"shingle", i).as(s"h$i")): _*)
  }

  /** PERSISTED LSH dedup index probed by a DELTA (q160) — the dedup
    * analog of the q152/q157 IVF index lifecycle, and the shape an
    * incremental ingestion pipeline actually runs: "is today's batch a
    * near-dup of ANYTHING already in the corpus?" must not re-shingle the
    * corpus per batch. The base slice's band keys (doc_id, band, bkey)
    * and verification shingle sets are written ONCE (partitionBy("band")
    * parquet, published through [[graft.operators.Ann.publishGeneration]]'s
    * atomic `_CURRENT` pointer — the generation protocol is
    * index-agnostic), then each delta batch shingles ONLY itself, computes
    * its own band keys, equi-joins them against the persisted band table,
    * and exact-Jaccard-verifies candidates against the persisted sets —
    * per-batch cost tracks |delta| and its true near-dups, never corpus
    * size. Growing the index is the same append-into-partition-dirs write
    * the IVF lifecycle proves (q153), with compaction/publication via the
    * shared generation pointer (q157). Base = doc_id % 10 ≠ 0, delta =
    * doc_id % 10 = 0; output is the verified delta-vs-base near-dup
    * pairs. */
  private def lshRootFor(spark: SparkSession, dir: String): String =
    graft.Derived("dedup.lshRoot", dir) {
      import spark.implicits._
      val base = sigsAndSets(
        Tables.documents(spark, dir).filter($"doc_id" % 10 =!= 0)).cache()
      val r = graft.Scratch.named(s"q160_${graft.Scratch.dirKey(dir)}").toString
      val gen = graft.operators.Ann.nextGenerationName(spark, r)
      Dedup.bandKeys(base, "doc_id", Bands, NumHashes / Bands)
        .write.mode("overwrite").partitionBy("band").parquet(s"$r/$gen/bands")
      base.select($"doc_id", $"shset")
        .write.mode("overwrite").parquet(s"$r/$gen/sets")
      base.unpersist(blocking = false)
      graft.operators.Ann.publishGeneration(spark, r, gen)
      r
    }

  /** Delta-batch signatures+sets checkpoint per dir (ADVICE r8): the delta
    * frame feeds BOTH the band-key probe and the verification join, so it
    * must be materialized once — but the previous `.cache()` per invocation
    * pinned it in executor memory for the JVM lifetime (never unpersisted,
    * re-cache warnings per bench pass, 2× footprint on a second sf dir). A
    * parquet checkpoint in [[graft.Scratch]] gives the same one-shingling
    * guarantee with file-backed reads instead of a leaked cache entry. */
  private def lshDeltaFor(spark: SparkSession, dir: String): String =
    graft.Derived("dedup.lshDelta", dir) {
      import spark.implicits._
      val p = graft.Scratch.named(s"q160_delta_${graft.Scratch.dirKey(dir)}")
        .resolve("delta").toString
      sigsAndSets(Tables.documents(spark, dir).filter($"doc_id" % 10 === 0))
        .write.mode("overwrite").parquet(p)
      p
    }

  def lshIndexPersisted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = lshRootFor(spark, dir)
    val genPath = graft.operators.Ann.currentGenerationPath(spark, root)
    val idxBands = spark.read.parquet(s"$genPath/bands")
    val idxSets = spark.read.parquet(s"$genPath/sets")
    // delta side: shingled once per (JVM, dir), feeds its band keys and its
    // verify sets from the checkpoint
    val delta = spark.read.parquet(lshDeltaFor(spark, dir))
    val cands = Dedup.bandKeys(delta, "doc_id", Bands, NumHashes / Bands)
      .select($"doc_id".as("doc_a"), $"band", $"bkey")
      .join(idxBands.select($"doc_id".as("doc_b"), $"band", $"bkey"),
        Seq("band", "bkey"))
      .select($"doc_a", $"doc_b").distinct()
    val inter = size(array_intersect($"set_a", $"set_b"))
    cands
      .join(delta.select($"doc_id".as("doc_a"), $"shset".as("set_a")), "doc_a")
      .join(idxSets.select($"doc_id".as("doc_b"), $"shset".as("set_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        (inter.cast("double") /
          (size($"set_a") + size($"set_b") - inter).cast("double")).as("jaccard"))
      .filter($"jaccard" >= lit(0.3))
  }

  /** LSH-INDEX COMPACTION (q180) — the lifecycle step q160 leaves open,
    * completing base/delta parity with the IVF family (q154/q157): merge
    * the delta batch INTO the index as a new generation (bands ∪ bands,
    * sets ∪ sets, rewritten `partitionBy("band")`), published through the
    * same atomic `_CURRENT` pointer, then probe the COMPACTED generation
    * with the same delta batch. The payoff compaction exists for:
    * intra-delta duplicate pairs become visible — q160's delta-vs-base
    * probe structurally cannot see them (the index held only base), and
    * after compaction every probe sees the whole corpus. Own index ROOT
    * (q160's root and its `_CURRENT` are untouched — compacting in place
    * would change q160's gate output). Build memoized per (JVM, dir) and
    * bench-fixtured; the gate times pointer-read + probe, not the
    * rewrite. Oracle: the full-corpus band-candidate replay restricted to
    * probe-side doc_a (%10 = 0), a ≠ b — both orders of an intra-delta
    * pair appear, exactly as the engine's probe emits them.
    *
    * Source generation = q160's PUBLISHED index (read-only — its root and
    * pointer are untouched); destination = this root's first generation.
    * That is exactly [[graft.operators.Ann.compactIndex]]'s source→dest
    * shape (q154), and it means the base corpus is shingled/minhashed
    * ONCE per (JVM, dir) — the compaction reads the persisted gen-parquet
    * instead of re-deriving signatures (r9 review finding: the previous
    * version rebuilt the full base index a second time, ~3 s of
    * duplicated fixture work at sf0.1). */
  private def lshCompactedRootFor(spark: SparkSession, dir: String): String =
    graft.Derived("dedup.lshCompactRoot", dir) {
      import spark.implicits._
      val srcGen = graft.operators.Ann.currentGenerationPath(
        spark, lshRootFor(spark, dir))
      val delta = spark.read.parquet(lshDeltaFor(spark, dir))
      val r = graft.Scratch.named(s"q180_${graft.Scratch.dirKey(dir)}").toString
      val gen = graft.operators.Ann.nextGenerationName(spark, r)
      spark.read.parquet(s"$srcGen/bands")
        .unionByName(Dedup.bandKeys(delta, "doc_id", Bands, NumHashes / Bands))
        .write.mode("overwrite").partitionBy("band").parquet(s"$r/$gen/bands")
      spark.read.parquet(s"$srcGen/sets")
        .unionByName(delta.select($"doc_id", $"shset"))
        .write.mode("overwrite").parquet(s"$r/$gen/sets")
      graft.operators.Ann.publishGeneration(spark, r, gen)
      r
    }

  def lshIndexCompacted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = lshCompactedRootFor(spark, dir)
    val genPath = graft.operators.Ann.currentGenerationPath(spark, root)
    val idxBands = spark.read.parquet(s"$genPath/bands")
    val idxSets = spark.read.parquet(s"$genPath/sets")
    val probe = spark.read.parquet(lshDeltaFor(spark, dir))
    val cands = Dedup.bandKeys(probe, "doc_id", Bands, NumHashes / Bands)
      .select($"doc_id".as("doc_a"), $"band", $"bkey")
      .join(idxBands.select($"doc_id".as("doc_b"), $"band", $"bkey"),
        Seq("band", "bkey"))
      .filter($"doc_a" =!= $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    val inter = size(array_intersect($"set_a", $"set_b"))
    cands
      .join(probe.select($"doc_id".as("doc_a"), $"shset".as("set_a")), "doc_a")
      .join(idxSets.select($"doc_id".as("doc_b"), $"shset".as("set_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        (inter.cast("double") /
          (size($"set_a") + size($"set_b") - inter).cast("double")).as("jaccard"))
      .filter($"jaccard" >= lit(0.3))
  }

  /** CANONICAL SELECTION BY QUALITY (q161) — the "which duplicate do we
    * keep?" policy, upgraded from q105's arbitrary min-id rule to the one
    * production pipelines actually want: within each near-dup cluster keep
    * the HIGHEST-QUALITY member (here: most content, `n_chars`; ties break
    * to the smaller id, keeping the rule total). One max-of-struct
    * aggregate per component (struct max plans as a partial+final
    * SortAggregate — still combiner-style, carrying one row per component
    * across the exchange; no per-component window pass); the survivor
    * column set rides inside the struct. */
  def clusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    components(spark, dir)
      .join(docs.select($"doc_id", $"n_chars"), "doc_id")
      .groupBy($"component")
      .agg(count(lit(1)).as("n_members"),
        max(struct($"n_chars", (-$"doc_id").as("neg_id"))).as("best"))
      .select($"component", $"n_members",
        (-$"best.neg_id").as("survivor_id"),
        $"best.n_chars".as("survivor_chars"))
  }

  /** Bench fixture hook ([[graft.Fixtures]], VERDICT r8 #2): the component
    * frame and the persisted LSH index + delta checkpoint. */
  private[graft] def prebuildFixtures(spark: SparkSession, dir: String): Unit = {
    components(spark, dir): Unit
    lshRootFor(spark, dir): Unit
    lshDeltaFor(spark, dir): Unit
    lshCompactedRootFor(spark, dir): Unit
    sweepDenominator(spark, dir): Unit
  }

  /** q188's exact-pair denominator per (JVM, sf-dir) — see the fixture
    * note inside [[lshBandSweep]]. */
  private def sweepDenominator(spark: SparkSession, dir: String): Long =
    graft.Derived("dedup.sweepDenominator", dir)(prefixFilterJoin(spark, dir).count())

  /** The banding configs of the q188 sweep: every divisor split of the
    * 12-hash signature from aggressive (12 bands × 1 row — catches
    * everything, candidates explode) to conservative (2 × 6 — candidates
    * vanish, recall with them). */
  private[ops] val SweepConfigs: Seq[(Int, Int)] =
    Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6))

  /** LSH BAND/ROW S-CURVE SWEEP (q188) — q186's "trade-off as a number"
    * idea applied to the text-dedup side: the SAME 12-hash signature
    * table is banded at every [[SweepConfigs]] split, each config's
    * candidate pairs are exact-verified (integer cross-mult 13·c ≥
    * 3·(|a|+|b|) ⟺ J ≥ 0.3), and the gate emits integer candidate/true
    * counts plus basis-point recall and precision against the
    * theorem-complete exact join (q112's prefix filter — no false
    * negatives, so its pair count IS the denominator). This is the table
    * that justifies the production (6, 2) choice: more bands buy recall
    * at candidate-volume cost, and at 100 TB candidate volume is the
    * whole bill. One shingle pass feeds signatures and verify sets
    * (cached); each config's banding is an equi-join on the band key —
    * never all-pairs; the exact denominator is one prefix-filtered join.
    * Emitted ratios are floor basis points (integer DIV) — engine-exact. */
  def lshBandSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val sigsAndSets = docs
      .select($"doc_id", explode(Dedup.wordShingles($"text", ShingleSize)).as("shingle"))
      .groupBy($"doc_id")
      .agg(collect_set($"shingle").as("shset"),
        (0 until NumHashes).map(i => Dedup.minhash(col("shingle"), i).as(s"h$i")): _*)
      .cache()
    val sets = sigsAndSets.select($"doc_id", $"shset",
      size($"shset").cast("long").as("sz"))
    // the exact-pair denominator is a pure function of the corpus —
    // memoized per (JVM, dir) like every derived input a gate reuses
    // (CLAUDE.md fixture rule), so the sweep times the BANDING trade-off
    // it claims to gate, not a per-pass rebuild of q112's exact join
    val nTrueCount = sweepDenominator(spark, dir)
    val nTrue = spark.range(1).select(lit(nTrueCount).as("n_exact_true"))
    // r16 optimization, result-identical: the five configs' candidate sets
    // overlap heavily (a divisor split's pairs are largely a subset of the
    // finer splits'), and the old shape exact-verified each config's
    // candidates INDEPENDENTLY — Σ|C_j| verify-join probes plus one
    // distinct exchange per config. Now every config's raw band-join hits
    // union into ONE frame tagged by config index, a single (doc_a, doc_b)
    // hash-agg both DEDUPS (absorbing the five per-config distincts —
    // within-config multiplicity collapses under max(when)) and records
    // per-config MEMBERSHIP flags, and the shingle-set verify join runs
    // ONCE over |∪C_j| distinct pairs. Per-config counts are recovered as
    // flag sums (n_candidates_j = Σ in_j; n_true_j = Σ in_j·verified) —
    // the identical integers, since membership and the per-pair verify
    // verdict are both deterministic. The 5-row readout is a stack of the
    // 1-row aggregate (coalesce(0): a no-candidate corpus aggregates over
    // zero rows), emitted in SweepConfigs order as before.
    val cand = SweepConfigs.zipWithIndex.map { case ((b, r), ci) =>
      val bk = Dedup.bandKeys(sigsAndSets, "doc_id", b, r)
      bk.select($"doc_id".as("doc_a"), $"band", $"bkey")
        .join(bk.select($"doc_id".as("doc_b"), $"band", $"bkey"),
          Seq("band", "bkey"))
        .filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b", lit(ci).as("cfg"))
    }.reduce(_ unionByName _)
    val flags = SweepConfigs.indices.map(ci =>
      max(when($"cfg" === ci, 1L).otherwise(0L)).as(s"in$ci"))
    val uniq = cand.groupBy($"doc_a", $"doc_b").agg(flags.head, flags.tail: _*)
    val verified = uniq
      .join(sets.select($"doc_id".as("doc_a"), $"shset".as("seta"), $"sz".as("sa")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"shset".as("setb"), $"sz".as("sb")), "doc_b")
      .withColumn("t",
        when(size(array_intersect($"seta", $"setb")).cast("long") * 13 >=
          ($"sa" + $"sb") * 3, 1L).otherwise(0L))
    val aggs = SweepConfigs.indices.flatMap(ci => Seq(
      coalesce(sum(col(s"in$ci")), lit(0L)).as(s"nc$ci"),
      coalesce(sum(col(s"in$ci") * $"t"), lit(0L)).as(s"nt$ci")))
    val wide = verified.agg(aggs.head, aggs.tail: _*)
    val per = wide.select(explode(array(
        SweepConfigs.zipWithIndex.map { case ((b, r), ci) =>
          struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
            col(s"nc$ci").as("n_candidates"),
            col(s"nt$ci").as("n_true_candidates"))
        }: _*)).as("x"))
      .select($"x.bands".as("bands"), $"x.rows_per_band".as("rows_per_band"),
        $"x.n_candidates".as("n_candidates"),
        $"x.n_true_candidates".as("n_true_candidates"))
    per.crossJoin(broadcast(nTrue))
      .select($"bands", $"rows_per_band", $"n_candidates", $"n_true_candidates",
        $"n_exact_true",
        when($"n_exact_true" > 0,
          expr("(10000 * n_true_candidates) DIV n_exact_true"))
          .otherwise(0L).as("recall_bp"),
        when($"n_candidates" > 0,
          expr("(10000 * n_true_candidates) DIV n_candidates"))
          .otherwise(0L).as("precision_bp"))
  }

  /** The banding configs of the q360 hot-band readout: the nested
    * coarse→fine divisor splits of the 12-hash signature (each 6-row or
    * 4-row band is a concatenation of whole 2-row bands, so the
    * candidate sets are provably nested C(2) ⊆ C(3) ⊆ C(6) — the
    * monotonicity Round15Spec asserts). */
  private[ops] val HotBandConfigs: Seq[(Int, Int)] = Seq((2, 6), (3, 4), (6, 2))

  /** LSH RECALL UNDER HOT-BUCKET DOCUMENT SKEW (q360, VERDICT r14 #7) —
    * q359's hot-cell audit translated to the text-dedup side: q188's
    * band sweep reports corpus-average recall, but dedup traffic is not
    * average — boilerplate-heavy near-dup clusters pile into ONE band
    * bucket, and that bucket is exactly where banding coarseness can
    * hide true pairs (a boilerplate doc's true near-dups are the ones
    * most likely to differ in just the hashes a coarse band concatenates).
    * The query set is therefore the 10 lowest-id documents in the
    * MOST-OCCUPIED (band, bkey) bucket of the production 6×2 banding
    * (n-desc, band-asc, bkey-asc election — a total order), and the
    * readout is per banding config (2×6, 3×4, 6×2): candidate count,
    * hits against the exact ground truth, floor-bp recall AND floor-bp
    * precision, plus the hot bucket's identity and occupancy so the
    * artifact shows WHICH worst case was measured. Both ratios matter
    * because a hot bucket comes in two kinds and the audit must expose
    * either: a true near-dup cluster (recall says whether banding keeps
    * it — the sf0.01 corpus) or a pure min-hash COLLISION cluster
    * (n_true = 0, recall vacuously guarded to 0, and precision shows
    * the candidate volume is all wasted verify work — the sf0.1 corpus,
    * where the 12-member hot bucket yields 115 candidates and 0 true
    * pairs). Ground truth is the brute-force yardstick
    * (q359 rule): 10 broadcast query shingle-sets against the corpus set
    * table — designed-linear, never all-pairs — with J ≥ 0.3 decided by
    * the integer cross-mult 13c ≥ 3(|q|+|d|) (threshold rule, no
    * doubles). Candidate generation stays band-keyed (equi-join on
    * (band, bkey)) at every config; the hot-bucket election is one tiny
    * census + a 1-row broadcast. */
  def lshHotBandRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // one shingle pass feeds signatures, band keys, and verify sets
    val sigsAndSets = docs
      .select($"doc_id", explode(Dedup.wordShingles($"text", ShingleSize)).as("shingle"))
      .groupBy($"doc_id")
      .agg(collect_set($"shingle").as("shset"),
        (0 until NumHashes).map(i => Dedup.minhash(col("shingle"), i).as(s"h$i")): _*)
      .cache()
    val banded6 = Dedup.bandKeys(sigsAndSets, "doc_id", Bands, NumHashes / Bands)
    val hot = banded6.groupBy($"band", $"bkey")
      .agg(count(lit(1)).as("n_hot"))
      .orderBy($"n_hot".desc, $"band".asc, $"bkey".asc).limit(1)
      .select($"band".as("hot_band"), $"bkey".as("hot_bkey"), $"n_hot")
    val queries = banded6
      .join(broadcast(hot), $"band" === $"hot_band" && $"bkey" === $"hot_bkey")
      .orderBy($"doc_id").limit(10)
      .select($"doc_id".as("query_id"))
    val sets = sigsAndSets.select($"doc_id", $"shset",
      size($"shset").cast("long").as("sz"))
    val qsets = sets.join(broadcast(queries), $"doc_id" === $"query_id")
      .select($"query_id", $"shset".as("qset"), $"sz".as("qsz"))
    // cached: the true-pair frame feeds the per-config hit join three
    // times AND the n_true count (the q186/q359 rule)
    val truePairs = sets
      .crossJoin(broadcast(qsets))
      .filter($"doc_id" =!= $"query_id")
      .select($"query_id", $"doc_id".as("cand_id"),
        size(array_intersect($"qset", $"shset")).cast("long").as("c"),
        $"qsz", $"sz")
      .filter($"c" * 13 >= ($"qsz" + $"sz") * 3)
      .select($"query_id", $"cand_id")
      .cache()
    val nTrue = truePairs.agg(count(lit(1)).as("n_true"))
    val per = HotBandConfigs.map { case (b, r) =>
      val qb = Dedup.bandKeys(
          sigsAndSets.join(broadcast(queries), $"doc_id" === $"query_id"),
          "doc_id", b, r)
        .select($"doc_id".as("query_id"), $"band", $"bkey")
      val cands = qb
        .join(Dedup.bandKeys(sigsAndSets, "doc_id", b, r), Seq("band", "bkey"))
        .filter($"query_id" =!= $"doc_id")
        .select($"query_id", $"doc_id".as("cand_id"))
        .distinct()
      // global agg (no groupBy): a config with zero candidates still
      // emits its row, matching the oracle's per-config aggregate
      cands
        .join(truePairs.withColumn("hit", lit(1L)), Seq("query_id", "cand_id"), "left")
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(coalesce($"hit", lit(0L))), lit(0L)).as("n_hits"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          $"n_candidates", $"n_hits")
    }.reduce(_ unionByName _)
    per.crossJoin(broadcast(nTrue))
      .crossJoin(broadcast(hot))
      .select($"bands", $"rows_per_band",
        $"hot_band", $"hot_bkey", $"n_hot",
        $"n_candidates", $"n_hits", $"n_true",
        when($"n_true" > 0, expr("(10000 * n_hits) DIV n_true"))
          .otherwise(0L).as("recall_bp"),
        when($"n_candidates" > 0, expr("(10000 * n_hits) DIV n_candidates"))
          .otherwise(0L).as("precision_bp"))
  }

  /** CROSS-SOURCE DUPLICATION MATRIX (q283) — where is shared
    * content leaking BETWEEN sources? Fingerprint = md5 of the first 32
    * characters (the head fingerprint that catches shared templates and
    * boilerplate leads — whole-document digests collide too rarely to
    * audit); per source pair the number of distinct fingerprints
    * present in both (the contamination matrix a multi-crawl corpus
    * audit opens with), and per single source its internally-repeated
    * fingerprint count on the diagonal. Everything runs on the distinct
    * (digest, source) frame — corpus-sized work is one fingerprint
    * projection; the pair join is keyed on the digest. */
  def crossSourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = Tables.documents(spark, dir)
      .select(md5(substring($"text", 1, 32)).as("digest"), $"source")
    val distinctDs = ds.distinct()
    val cross = distinctDs.as("a").join(distinctDs.as("b"),
        col("a.digest") === col("b.digest") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val internal = ds.groupBy($"digest", $"source")
      .agg(count(lit(1)).as("n"))
      .filter($"n" > 1)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_shared"))
      .select($"source".as("source_a"), $"source".as("source_b"),
        $"n_shared")
    cross.unionByName(internal)
  }

  /** SOURCE-PAIR CONTAMINATION MATRIX (q322) — the n-gram-level overlap
    * report behind train/eval decontamination decisions: for every source
    * pair, how many distinct word 8-grams do the two sources SHARE, and
    * what is the Jaccard of their 8-gram sets (integer floor bp)? q283
    * answers "which sources carry byte-identical documents"; this answers
    * the subtler "which sources carry the same CONTENT" (quotes,
    * templates, syndicated spans) — 8-gram spans are the standard
    * contamination unit (long enough that coincidence is negligible).
    *
    * Scale shape: one distinct pass over (source, shingle) — shingle-
    * keyed, uniform — then a shingle-keyed self-join whose per-key fanout
    * is bounded by sources-per-shingle (≤ S, so ≤ S²/2 pairs per key —
    * never row-count-quadratic; a corpus-wide boilerplate shingle costs
    * S²/2 rows, not n²). Set sizes ride a broadcast. At 100 TB you'd
    * hash-sample the shingle space first; the pair algebra is unchanged. */
  def contaminationMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: the set-size agg and BOTH self-join sides read the
    // distinct (source, shingle) frame — uncached, the corpus would
    // shingle + distinct-shuffle three times (the q195 persist rule);
    // released by the harness's per-query clearCache (the result is
    // lazy, an in-function unpersist would fire before execution)
    val sh = Tables.documents(spark, dir)
      .select($"source", explode(Dedup.wordShingles($"text", 8)).as("s"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy($"source").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select($"source".as("src_a"), $"n_sh".as("n_a"))),
        "src_a")
      .join(broadcast(sizes.select($"source".as("src_b"), $"n_sh".as("n_b"))),
        "src_b")
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_common",
        expr("(10000 * n_common) div (n_a + n_b - n_common)").as("jaccard_bp"))
  }

  /** DUPLICATED-SPAN EXTRACTION (q332) — the exact-substring dedup report
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): find every fixed-width character window (40 chars, stride
    * 10) that appears in ≥ 2 DISTINCT documents, then merge each
    * document's duplicated windows into maximal spans (adjacent kept
    * positions ≤ 40 apart overlap or touch) — the passage-level view that
    * paragraph dedup (q158, exact-block) and shingle contamination (q322,
    * set-overlap) both miss: q332 localizes WHERE the duplication sits
    * and HOW LONG it runs. Census per source: affected docs, duplicated
    * windows, merged spans, duplicated chars, longest span.
    *
    * Scale shape: windows shuffle by 60-bit content digest (15 md5 hex
    * chars — wide enough that the window census at 10⁸ windows has
    * ~10⁻⁵ collision odds, and IDENTICAL md5 arithmetic on both engines
    * so even a collision cannot diverge the gate); the dup filter is a
    * digest-keyed count-distinct + semi-join (never doc×doc); span
    * merging runs in windows PARTITIONED BY doc — bounded per-doc frames.
    * The window frame is persisted: the census and the semi-join probe
    * both read it (the q322 precedent). */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val win = Tables.documents(spark, dir)
      .filter(length($"text") >= 40)
      .select($"doc_id", $"source", $"text",
        explode(expr("sequence(0, length(text) - 40, 10)")).as("p0"))
      .select($"doc_id", $"source", $"p0".cast("long").as("p"),
        conv(substring(md5(substring($"text", ($"p" + 1).cast("int"), lit(40))), 1, 15),
          16, 10).cast("long").as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = win.groupBy($"d")
      .agg(countDistinct($"doc_id").as("nd")).filter($"nd" >= 2).select($"d")
    val kept = win.join(dup, Seq("d"), "left_semi")
    val byDoc = Window.partitionBy($"doc_id").orderBy($"p")
    val spans = kept
      .withColumn("lp", lag($"p", 1).over(byDoc))
      .withColumn("is_new",
        when($"lp".isNull || $"p" - $"lp" > 40L, 1L).otherwise(0L))
      .withColumn("span", sum($"is_new").over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"source", $"span")
      .agg(min($"p").as("f"), max($"p").as("l"), count(lit(1)).as("nw"))
    spans.groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_docs_affected"),
        sum($"nw").as("n_dup_windows"),
        count(lit(1)).as("n_spans"),
        sum($"l" - $"f" + 40L).as("sum_dup_chars"),
        max($"l" - $"f" + 40L).as("max_span_chars"))
  }

  /** ROBUST WINNOWING FINGERPRINTS (q339) — the MOSS fingerprint-selection
    * scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03): over each document's
    * POSITIONAL 5-token shingle stream, slide a w=4 window and keep the
    * window's minimum hash, breaking ties to the RIGHTMOST occurrence —
    * the guarantee is that any shared run of ≥ w+k−1 = 8 tokens between
    * two documents shares at least one selected fingerprint, at ~2/(w+1)
    * of full-shingle storage. The "min hash, rightmost position" pick is
    * ONE lexicographic string min: key = 8 md5 hex chars ‖ zero-padded
    * (2²⁰ − pos), so the window `min` picks the smallest hash and, on
    * hash ties, the largest position — no custom aggregate, identical in
    * DuckDB. Documents shorter than one window keep their final
    * (partial-frame) window only, so every non-empty doc emits ≥ 1
    * fingerprint. Everything is partitioned by doc_id (positions are
    * unique within a doc — the window order is total), so the 100 TB
    * shape is embarrassingly parallel; positions are capped by the 2²⁰
    * pad (a 1M-token document would need a wider pad, not a new plan).
    * Output: per-doc selection census (windows, distinct fingerprints,
    * distinct hashes, floor-bp selection density). */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = 5
    val W = 4
    val tk = graft.functions.TextFunctions.tokens($"text")
    val sh = Tables.documents(spark, dir)
      .select($"doc_id",
        when(size(tk) >= K,
          transform(sequence(lit(0), size(tk) - K),
            i => array_join(slice(tk, i + 1, lit(K)), " ")))
          .otherwise(array(array_join(tk, " "))).as("shs"))
      // n_sh rides from the ARRAY size (r16): it used to be a second
      // whole-partition count window next to the rolling min — same
      // exchange, but an extra full-partition buffering pass for a number
      // the pre-explode array already knows
      .select($"doc_id", size($"shs").cast("long").as("n_sh"),
        posexplode($"shs").as(Seq("pos", "sh")))
    val key = concat(substring(md5($"sh"), 1, 8),
      lpad((lit(1048576) - $"pos").cast("string"), 7, "0"))
    val winFrame = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(-(W - 1), 0)
    val scored = sh.select($"doc_id", $"pos", $"n_sh",
      min(key).over(winFrame).as("winmin"))
    // full windows only — except short docs, whose single partial final
    // window stands in for the whole doc (the MOSS short-input rule).
    // Pre-group by (doc_id, winmin) first (r16): the final census needs
    // TWO distinct counts (fingerprints, 8-hex hashes), and a mixed
    // two-distinct aggregate plans as an Expand — every window row
    // triplicated through the exchange. Grouping to the distinct
    // fingerprints first shrinks the frame BEFORE the census, whose one
    // remaining countDistinct takes the no-Expand single-distinct path.
    scored.filter($"pos" >= least(lit(W - 1), $"n_sh" - 1))
      .groupBy($"doc_id", $"winmin")
      .agg(count(lit(1)).as("nw"), max($"n_sh").as("n_sh"))
      .groupBy($"doc_id")
      .agg(max($"n_sh").as("n_shingles"),
        sum($"nw").as("n_windows"),
        count(lit(1)).as("n_fingerprints"),
        countDistinct(substring($"winmin", 1, 8)).as("n_distinct_hashes"))
      .withColumn("density_bp",
        expr("(10000 * n_fingerprints) div n_windows"))
  }

  /** B-BIT MINHASH AUDIT (q349) — Li & König's storage-collapse trick
    * (b=1: keep ONE BIT per minhash, 1/32 of the 8-hex slice) audited
    * in-query against exact Jaccard, the q100 pattern at the compressed
    * extreme: for every LSH candidate pair, the 12 per-hash parity bits
    * (low bit of the minhash's first hex digit) agree on a fraction A,
    * and the unbiased b=1 estimator Ĵ = 2A − 1 is reported in floor bp —
    * GUARDED to agree ≥ 6 (A ≥ ½) so the dividend stays non-negative
    * (the negative-estimate region clamps to 0: Spark `div` truncates
    * and DuckDB `//` floors, so a signed dividend would diverge — the
    * q324 rule). Exact Jaccard rides the shared shingle-set frame as an
    * integer cross-multiplication. The audit column is the absolute
    * estimator error in bp — what a capacity-planning decision for a
    * 1-bit signature store actually needs. Same banded candidate
    * generation as q27 (never all-pairs). */
  def bbitMinhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
      ShingleSize, NumHashes).cache()
    val cands = Dedup.candidatePairs(
      Dedup.bandKeys(sigs, "doc_id", Bands, NumHashes / Bands), "doc_id")
    val bit = (c: org.apache.spark.sql.Column) =>
      conv(substring(c, 1, 1), 16, 10).cast("int") % 2
    val sa = sigs.toDF("doc_a" +: (0 until NumHashes).map(i => s"a$i"): _*)
    val sb = sigs.toDF("doc_b" +: (0 until NumHashes).map(i => s"b$i"): _*)
    val agree = (0 until NumHashes)
      .map(i => when(bit(col(s"a$i")) === bit(col(s"b$i")), 1L).otherwise(0L))
      .reduce(_ + _)
    val sets = Dedup.shingleSets(docs, "doc_id", "text", ShingleSize)
    val ea = sets.select($"doc_id".as("doc_a"), $"shset".as("set_a"))
    val eb = sets.select($"doc_id".as("doc_b"), $"shset".as("set_b"))
    val inter = size(array_intersect($"set_a", $"set_b")).cast("long")
    val uni = (size($"set_a") + size($"set_b")).cast("long") - inter
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select($"doc_a", $"doc_b", agree.as("n_agree"))
      .join(ea, "doc_a").join(eb, "doc_b")
      .withColumn("i", inter).withColumn("u", uni)
      .select($"doc_a", $"doc_b", $"n_agree",
        when($"n_agree" >= NumHashes / 2,
          expr(s"((2 * n_agree - $NumHashes) * 10000) div $NumHashes"))
          .otherwise(0L).as("est_bp"),
        when($"u" > 0L, expr("(10000 * i) div u")).otherwise(0L).as("exact_bp"))
      .withColumn("err_bp", abs($"est_bp" - $"exact_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q349_bbit_minhash" -> (bbitMinhash _),
    "q339_winnowing" -> (winnowing _),
    "q332_dup_spans" -> (dupSpans _),
    "q322_contamination_matrix" -> (contaminationMatrix _),
    "q283_cross_source_dup" -> (crossSourceDupMatrix _),
    "q188_lsh_band_sweep" -> (lshBandSweep _),
    "q173_containment_join" -> (containmentJoin _),
    "q161_cluster_keep_best" -> (clusterKeepBest _),
    "q112_similarity_join_prefix" -> (prefixFilterJoin _),
    "q27_dedup_minhash_lsh" -> (minhashLsh _),
    "q28_dedup_simhash" -> (simhash _),
    "q100_minhash_accuracy" -> (minhashAccuracy _),
    "q105_dup_clusters" -> (dupClusters _),
    "q159_cluster_safe_split" -> (clusterSafeSplit _),
    "q160_lsh_index_persisted" -> (lshIndexPersisted _),
    "q180_lsh_index_compact" -> (lshIndexCompacted _))

  // ---- oracle SQL (programmatically assembled to keep the 12-hash /
  // ---- 6-band structure in one place) ----

  private[ops] val toksSql = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

  /** DuckDB replay of [[Dedup.wordShingles]] for any n (q170 uses 5-grams;
    * the dedup family's gates use [[ShingleSize]]). */
  private[ops] def shinglesSqlN(n: Int): String =
    s"""CASE WHEN len(tk) >= $n
       | THEN list_transform(range(1, len(tk) - ${n - 2}), i -> array_to_string(tk[i:i+${n - 1}], ' '))
       | ELSE [array_to_string(tk, ' ')] END""".stripMargin

  private[ops] val shinglesSql = shinglesSqlN(ShingleSize)

  // slice-derived hash family: salt i/4 picks the md5, slice i%4 picks 8 hex
  // chars — mirrors Dedup.minhash exactly
  private val sigCols = (0 until NumHashes)
    .map(i => s"min(substr(md5('${i / 4}:' || s), ${(i % 4) * 8 + 1}, 8)) AS h$i")
    .mkString(",\n    ")

  private lazy val bandSelects = bandSelectsFor(Bands, NumHashes / Bands)

  /** [[bandSelects]] for any (bands, rowsPerBand) split — q188's sweep. */
  private def bandSelectsFor(bands: Int, rows: Int): String =
    (0 until bands).map { b =>
      val hs = (0 until rows).map(r => s"h${b * rows + r}")
      s"SELECT doc_id, $b AS band, md5(${hs.mkString(" || ")}) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")

  // q188: one signature CTE, banded at every sweep config; candidates
  // exact-verified with the integer cross-mult; denominator = brute-force
  // all-pairs (the oracle's privilege — the ENGINE's denominator is the
  // prefix-filtered exact join, complete by theorem, so the counts match).
  private lazy val lshBandSweepOracle = {
    val cfgCtes = SweepConfigs.map { case (b, r) =>
      s"""bands$b AS (
         |  ${bandSelectsFor(b, r)}
         |), cand$b AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands$b a JOIN bands$b b ON a.band = b.band AND a.bkey = b.bkey
         |    AND a.doc_id < b.doc_id
         |), stat$b AS (
         |  SELECT $b AS bands, $r AS rows_per_band,
         |    count(*) AS n_candidates,
         |    coalesce(sum(CASE WHEN c * 13 >= (sa + sb) * 3 THEN 1 ELSE 0 END), 0)
         |      AS n_true_candidates
         |  FROM (
         |    SELECT CAST(len(list_intersect(x.shset, y.shset)) AS BIGINT) AS c,
         |      x.sz AS sa, y.sz AS sb
         |    FROM cand$b JOIN szs x ON cand$b.doc_a = x.doc_id
         |    JOIN szs y ON cand$b.doc_b = y.doc_id
         |  )
         |)""".stripMargin
    }.mkString(",\n")
    val unions = SweepConfigs.map { case (b, _) => s"SELECT * FROM stat$b" }
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM ex GROUP BY doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(list(s)) AS shset FROM ex GROUP BY doc_id
       |), szs AS (
       |  SELECT doc_id, shset, CAST(len(shset) AS BIGINT) AS sz FROM sets
       |), tp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_exact_true
       |  FROM szs a JOIN szs b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.shset, b.shset)) AS BIGINT) * 13
       |    >= (a.sz + b.sz) * 3
       |),
       |$cfgCtes,
       |u AS (
       |  $unions
       |)
       |SELECT CAST(bands AS INTEGER) AS bands,
       |  CAST(rows_per_band AS INTEGER) AS rows_per_band,
       |  CAST(n_candidates AS BIGINT) AS n_candidates,
       |  CAST(n_true_candidates AS BIGINT) AS n_true_candidates,
       |  tp.n_exact_true,
       |  CAST(CASE WHEN tp.n_exact_true > 0
       |    THEN (10000 * n_true_candidates) // tp.n_exact_true ELSE 0 END
       |    AS BIGINT) AS recall_bp,
       |  CAST(CASE WHEN n_candidates > 0
       |    THEN (10000 * n_true_candidates) // n_candidates ELSE 0 END AS BIGINT)
       |    AS precision_bp
       |FROM u, tp""".stripMargin
  }

  // q360: full independent replay — same shingle/signature CTEs, the 6×2
  // banding elects the hot bucket (count desc, band asc, bkey asc — the
  // engine's total order), its 10 lowest doc_ids become the query set,
  // ground truth is the 10-query × corpus brute force with the 13c ≥
  // 3(|q|+|d|) cross-mult, and each config's candidates come from its own
  // banded equi-join. Per-config aggregates are global (no GROUP BY), so
  // a zero-candidate config still emits its row, matching the engine's
  // per-config agg-union. `//` on non-negative BIGINTs = Spark's DIV.
  private lazy val hotBandRecallOracle = {
    val cfgCtes = HotBandConfigs.map { case (b, r) =>
      val bandsCte =
        if (b == Bands) "" // the 6×2 config reuses the election banding
        else s"""hb$b AS (
                 |  ${bandSelectsFor(b, r)}
                 |), """.stripMargin
      val src = if (b == Bands) "bands6" else s"hb$b"
      s"""${bandsCte}cnd$b AS (
         |  SELECT DISTINCT q.doc_id AS query_id, c.doc_id AS cand_id
         |  FROM $src q JOIN qs ON q.doc_id = qs.query_id
         |  JOIN $src c ON c.band = q.band AND c.bkey = q.bkey
         |    AND c.doc_id <> q.doc_id
         |), st$b AS (
         |  SELECT $b AS bands, $r AS rows_per_band,
         |    CAST(count(*) AS BIGINT) AS n_candidates,
         |    coalesce(sum(CASE WHEN tp.cand_id IS NOT NULL THEN 1 ELSE 0 END), 0)
         |      AS n_hits
         |  FROM cnd$b LEFT JOIN tp
         |    ON cnd$b.query_id = tp.query_id AND cnd$b.cand_id = tp.cand_id
         |)""".stripMargin
    }.mkString(",\n")
    val unions = HotBandConfigs.map { case (b, _) => s"SELECT * FROM st$b" }
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM ex GROUP BY doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(list(s)) AS shset FROM ex GROUP BY doc_id
       |), szs AS (
       |  SELECT doc_id, shset, CAST(len(shset) AS BIGINT) AS sz FROM sets
       |), bands6 AS (
       |  $bandSelects
       |), hot AS (
       |  SELECT band AS hot_band, bkey AS hot_bkey,
       |    CAST(count(*) AS BIGINT) AS n_hot
       |  FROM bands6 GROUP BY 1, 2
       |  ORDER BY n_hot DESC, hot_band ASC, hot_bkey ASC LIMIT 1
       |), qs AS (
       |  SELECT doc_id AS query_id FROM bands6 JOIN hot
       |    ON band = hot_band AND bkey = hot_bkey
       |  ORDER BY doc_id LIMIT 10
       |), qsz AS (
       |  SELECT query_id, shset AS qset, sz AS qsz
       |  FROM qs JOIN szs ON szs.doc_id = qs.query_id
       |), tp AS (
       |  SELECT q.query_id, s.doc_id AS cand_id
       |  FROM qsz q JOIN szs s ON s.doc_id <> q.query_id
       |  WHERE CAST(len(list_intersect(q.qset, s.shset)) AS BIGINT) * 13
       |    >= (q.qsz + s.sz) * 3
       |), ntp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_true FROM tp
       |),
       |$cfgCtes,
       |u AS (
       |  $unions
       |)
       |SELECT CAST(bands AS INTEGER) AS bands,
       |  CAST(rows_per_band AS INTEGER) AS rows_per_band,
       |  CAST(hot.hot_band AS INTEGER) AS hot_band,
       |  hot.hot_bkey AS hot_bkey,
       |  hot.n_hot AS n_hot,
       |  n_candidates,
       |  CAST(n_hits AS BIGINT) AS n_hits,
       |  ntp.n_true AS n_true,
       |  CAST(CASE WHEN ntp.n_true > 0 THEN (10000 * n_hits) // ntp.n_true
       |    ELSE 0 END AS BIGINT) AS recall_bp,
       |  CAST(CASE WHEN n_candidates > 0 THEN (10000 * n_hits) // n_candidates
       |    ELSE 0 END AS BIGINT) AS precision_bp
       |FROM u, ntp, hot""".stripMargin
  }

  // q349: identical parity bit (low bit of the first hex digit via
  // strpos arithmetic), identical ≥6 clamp and bp divisions.
  private lazy val bbitOracle = {
    val agreeSql = (0 until NumHashes).map { i =>
      s"""CASE WHEN (strpos('0123456789abcdef', substr(x.h$i, 1, 1)) - 1) % 2
         | = (strpos('0123456789abcdef', substr(y.h$i, 1, 1)) - 1) % 2
         | THEN 1 ELSE 0 END""".stripMargin.replaceAll("\n", " ")
    }.mkString(" + ")
    val estSql =
      s"CASE WHEN n_agree >= ${NumHashes / 2} " +
        s"THEN ((2 * n_agree - $NumHashes) * 10000) // $NumHashes ELSE 0 END"
    val exactSql = "CASE WHEN u > 0 THEN (10000 * i) // u ELSE 0 END"
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(list(s)) AS shset FROM ex GROUP BY doc_id
       |), ag AS (
       |  SELECT cand.doc_a, cand.doc_b, CAST($agreeSql AS BIGINT) AS n_agree
       |  FROM cand JOIN sig x ON cand.doc_a = x.doc_id
       |  JOIN sig y ON cand.doc_b = y.doc_id
       |), exj AS (
       |  SELECT ag.doc_a, ag.doc_b, ag.n_agree,
       |    CAST(len(list_intersect(x.shset, y.shset)) AS BIGINT) AS i,
       |    CAST(len(x.shset) + len(y.shset)
       |      - len(list_intersect(x.shset, y.shset)) AS BIGINT) AS u
       |  FROM ag JOIN sets x ON ag.doc_a = x.doc_id
       |  JOIN sets y ON ag.doc_b = y.doc_id
       |)
       |SELECT doc_a, doc_b, n_agree,
       |  CAST($estSql AS BIGINT) AS est_bp,
       |  CAST($exactSql AS BIGINT) AS exact_bp,
       |  CAST(abs(($estSql) - ($exactSql)) AS BIGINT) AS err_bp
       |FROM exj""".stripMargin
  }

  private val minhashOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(list(s)) AS shset FROM ex GROUP BY doc_id
       |)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(x.shset, y.shset)) AS INTEGER) AS n_shared,
       |  CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
       |    / CAST(len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset)) AS DOUBLE) AS jaccard,
       |  (CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
       |    / CAST(len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset)) AS DOUBLE))
       |    >= CAST(0.3 AS DOUBLE) AS is_near_dup
       |FROM cand
       |JOIN sets x ON cand.doc_a = x.doc_id
       |JOIN sets y ON cand.doc_b = y.doc_id""".stripMargin

  // q161: per-component survivor = first row ordered by n_chars desc, then
  // doc_id asc — the exact total order Spark's max(struct(n_chars, -doc_id))
  // aggregate encodes.
  private lazy val keepBestOracle =
    s"""$clusterCteSql,
       |comp AS (
       |  SELECT node AS doc_id, min(reach) AS component FROM walk GROUP BY node
       |), m AS (
       |  SELECT c.component, d.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY c.component) AS n_members
       |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
       |)
       |SELECT component, CAST(n_members AS BIGINT) AS n_members,
       |  doc_id AS survivor_id, n_chars AS survivor_chars
       |FROM m WHERE rn = 1""".stripMargin

  // q160: the delta-probe replay — same hash family / bands as q27, but
  // candidates pair a delta doc (doc_id % 10 = 0) against a BASE doc only
  // (the persisted index holds just the base slice), and only verified
  // pairs at or above the threshold are emitted. Signatures are
  // split-independent, so one full-corpus sig CTE serves both sides.
  private val lshIndexOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
       |), sets AS (
       |  SELECT doc_id, list_distinct(list(s)) AS shset FROM ex GROUP BY doc_id
       |), j AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
       |      / CAST(len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset)) AS DOUBLE) AS jaccard
       |  FROM cand
       |  JOIN sets x ON cand.doc_a = x.doc_id
       |  JOIN sets y ON cand.doc_b = y.doc_id
       |)
       |SELECT doc_a, doc_b, jaccard FROM j
       |WHERE jaccard >= CAST(0.3 AS DOUBLE)""".stripMargin

  // q180: same banded replay, but the index now holds the WHOLE corpus
  // (post-compaction), so candidates are probe-side (a % 10 = 0) against
  // ANY other doc — both orders of an intra-delta pair appear.
  private val lshCompactedOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.doc_id % 10 = 0 AND a.doc_id <> b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(list(s)) AS shset FROM ex GROUP BY doc_id
       |), j AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
       |      / CAST(len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset)) AS DOUBLE) AS jaccard
       |  FROM cand
       |  JOIN sets x ON cand.doc_a = x.doc_id
       |  JOIN sets y ON cand.doc_b = y.doc_id
       |)
       |SELECT doc_a, doc_b, jaccard FROM j
       |WHERE jaccard >= CAST(0.3 AS DOUBLE)""".stripMargin

  private[ops] val voteCols = (1 to 16)
    .map(k => s"sum(CASE WHEN substr(md5(t), $k, 1) >= '8' THEN 1 ELSE -1 END) AS s$k")
    .mkString(",\n    ")
  private[ops] val bitSum = (1 to 16)
    .map(k => s"CASE WHEN s$k >= 0 THEN ${1 << (16 - k)} ELSE 0 END")
    .mkString(" + ")

  private val simhashOracle =
    s"""WITH ex AS (
       |  SELECT doc_id, unnest($toksSql) AS t FROM documents
       |), votes AS (
       |  SELECT doc_id,
       |    $voteCols
       |  FROM ex GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($bitSum AS INTEGER) AS simhash,
       |  CAST(($bitSum) // 256 AS INTEGER) AS bucket
       |FROM votes""".stripMargin

  private val estMatches = (0 until NumHashes)
    .map(i => s"CASE WHEN x.h$i = y.h$i THEN 1 ELSE 0 END")
    .mkString(" + ")

  private val minhashAccuracyOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(list(s)) AS shset FROM ex GROUP BY doc_id
       |), scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(sx.shset, sy.shset)) AS DOUBLE)
       |      / CAST(len(sx.shset) + len(sy.shset)
       |             - len(list_intersect(sx.shset, sy.shset)) AS DOUBLE) AS jaccard,
       |    CAST($estMatches AS DOUBLE) / CAST($NumHashes AS DOUBLE) AS est_jaccard
       |  FROM cand c
       |  JOIN sets sx ON c.doc_a = sx.doc_id
       |  JOIN sets sy ON c.doc_b = sy.doc_id
       |  JOIN sig x ON c.doc_a = x.doc_id
       |  JOIN sig y ON c.doc_b = y.doc_id
       |)
       |SELECT doc_a, doc_b, jaccard, est_jaccard,
       |  abs(jaccard - est_jaccard) AS abs_err
       |FROM scored""".stripMargin

  // Connected components as a recursive CTE: reach = every node reachable
  // from `node` (self seeded), component = min(reach). UNION (not UNION
  // ALL) is the fixpoint's termination guarantee.
  /** Shared recursive-CTE replay of the near-dup clustering — the minhash
    * band candidates, exact-Jaccard verification, and min-reachable-id
    * fixpoint — consumed by the q105 cluster gate and the q159
    * cluster-safe split (which appends its own CTEs after `walk`). */
  private[ops] val clusterCteSql =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(list(s)) AS shset FROM ex GROUP BY doc_id
       |), dup AS (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN sets x ON cand.doc_a = x.doc_id
       |  JOIN sets y ON cand.doc_b = y.doc_id
       |  WHERE CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
       |    / CAST(len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset)) AS DOUBLE)
       |    >= CAST(0.3 AS DOUBLE)
       |), e AS (
       |  SELECT doc_a AS u, doc_b AS v FROM dup
       |  UNION
       |  SELECT doc_b, doc_a FROM dup
       |), walk(node, reach) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT w.node, e2.v FROM walk w JOIN e e2 ON e2.u = w.reach
       |)""".stripMargin

  private val dupClustersOracle =
    s"""$clusterCteSql
       |SELECT node AS doc_id, min(reach) AS component,
       |  node = min(reach) AS is_canonical
       |FROM walk GROUP BY node""".stripMargin

  private val clusterSplitOracle =
    s"""$clusterCteSql,
       |comp AS (
       |  SELECT node AS doc_id, min(reach) AS component FROM walk GROUP BY node
       |), lab AS (
       |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
       |)
       |SELECT doc_id, component,
       |  CASE WHEN substr(md5('split:' || CAST(component AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
       |       WHEN substr(md5('split:' || CAST(component AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM lab""".stripMargin

  // Brute-force all-pairs oracle for the prefix-filtered join: every pair
  // sharing ANY shingle, exact Jaccard, same integer threshold — hash
  // equality proves the prefix filter generated a complete candidate set.
  private val prefixFilterOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), shx AS (
       |  SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh
       |), sz AS (
       |  SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id
       |), shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |  CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
       |FROM shared
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE 13 * c >= 3 * (sa.n + sb.n)""".stripMargin

  // q173: the prefix filter is COMPLETE (Scaladoc proof), so the oracle can
  // replay the same prefix rule directly — candidate-set equality is part of
  // what hash-equality then proves. Same (md5, shingle) order, same integer
  // prefix length sz − ⌈0.6·sz⌉ + 1, same 10·shared ≥ 6·|a| accept rule.
  private val containmentOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM toks
       |), ex AS (
       |  SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh
       |), sized AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ex GROUP BY doc_id
       |), ordered AS (
       |  SELECT doc_id, s,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY md5(s), s) AS rn
       |  FROM ex
       |), pref AS (
       |  SELECT o.doc_id, o.s FROM ordered o JOIN sized z USING (doc_id)
       |  WHERE o.rn <= z.sz - ((6 * z.sz + 9) // 10) + 1
       |), cand AS (
       |  SELECT DISTINCT p.doc_id AS doc_a, e.doc_id AS doc_b
       |  FROM pref p JOIN ex e ON p.s = e.s AND p.doc_id <> e.doc_id
       |), inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM cand c
       |  JOIN ex ea ON ea.doc_id = c.doc_a
       |  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
       |  GROUP BY c.doc_a, c.doc_b
       |)
       |SELECT i.doc_a, i.doc_b, i.n_shared,
       |  CAST(i.n_shared AS DOUBLE) / CAST(za.sz AS DOUBLE) AS containment,
       |  i.n_shared = za.sz AS is_exact_subset
       |FROM inter i JOIN sized za ON za.doc_id = i.doc_a
       |WHERE 10 * i.n_shared >= 6 * za.sz""".stripMargin

  val oracle: Map[String, String] = Map(
    // q339: identical positional 5-shingles (range is end-exclusive, so
    // range(1, len−3) = Spark's sequence(0, len−5) shifted), identical
    // hash‖(2²⁰−pos) string key, identical 4-row window min and
    // short-doc final-window rule.
    "q339_winnowing" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents
         |), sh0 AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 5
         |      THEN list_transform(range(1, len(tk) - 3),
         |             i -> {'pos': i - 1, 'sh': array_to_string(tk[i:i+4], ' ')})
         |      ELSE [{'pos': CAST(0 AS BIGINT), 'sh': array_to_string(tk, ' ')}]
         |    END AS lst
         |  FROM toks
         |), sh AS (
         |  SELECT doc_id, u.pos AS pos, u.sh AS sh
         |  FROM (SELECT doc_id, unnest(lst) AS u FROM sh0)
         |), keyed AS (
         |  SELECT doc_id, pos,
         |    substr(md5(sh), 1, 8) ||
         |      lpad(CAST(1048576 - pos AS VARCHAR), 7, '0') AS k
         |  FROM sh
         |), scored AS (
         |  SELECT doc_id, pos,
         |    min(k) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS winmin,
         |    count(*) OVER (PARTITION BY doc_id) AS n_sh
         |  FROM keyed
         |)
         |SELECT doc_id,
         |  CAST(max(n_sh) AS BIGINT) AS n_shingles,
         |  CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(count(DISTINCT winmin) AS BIGINT) AS n_fingerprints,
         |  CAST(count(DISTINCT substr(winmin, 1, 8)) AS BIGINT)
         |    AS n_distinct_hashes,
         |  CAST((10000 * count(DISTINCT winmin)) // count(*) AS BIGINT)
         |    AS density_bp
         |FROM scored
         |WHERE pos >= least(3, n_sh - 1)
         |GROUP BY doc_id""".stripMargin,
    // q322: same distinct (source, 8-gram) frame, same a<b pair keying,
    // same guarded integer floor-bp Jaccard (denominator = |A∪B| ≥ 1
    // whenever a pair row exists, so no zero guard is needed).
    // q332: identical 40/10 window grid (range's exclusive end = the
    // engine's inclusive sequence(0, len−40, 10)), identical 60-bit md5
    // digest via strpos digit arithmetic, same >40-gap island merge.
    "q332_dup_spans" -> {
      val hsum = (0 until 15).map { i =>
        s"(strpos('0123456789abcdef', substr(dh, ${i + 1}, 1)) - 1) * ${1L << (4 * (14 - i))}"
      }.mkString("\n       + ")
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |    CAST(unnest(range(0, length(text) - 39, 10)) AS BIGINT) AS p, text
         |  FROM documents WHERE length(text) >= 40
         |), wd AS (
         |  SELECT doc_id, source, p,
         |    substr(md5(substr(text, CAST(p + 1 AS INTEGER), 40)), 1, 15) AS dh
         |  FROM w
         |), v AS (
         |  SELECT doc_id, source, p, CAST($hsum AS BIGINT) AS d FROM wd
         |), dup AS (
         |  SELECT d FROM v GROUP BY d HAVING count(DISTINCT doc_id) >= 2
         |), k AS (
         |  SELECT v.doc_id, v.source, v.p FROM v JOIN dup USING (d)
         |), isl AS (
         |  SELECT *, CASE WHEN lp IS NULL OR p - lp > 40 THEN 1 ELSE 0 END
         |    AS is_new
         |  FROM (SELECT *, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS lp
         |        FROM k)
         |), sp AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY doc_id ORDER BY p
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
         |  FROM isl
         |), spans AS (
         |  SELECT doc_id, source, span, min(p) AS f, max(p) AS l,
         |    CAST(count(*) AS BIGINT) AS nw
         |  FROM sp GROUP BY 1, 2, 3
         |)
         |SELECT source,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_affected,
         |  CAST(sum(nw) AS BIGINT) AS n_dup_windows,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(l - f + 40) AS BIGINT) AS sum_dup_chars,
         |  CAST(max(l - f + 40) AS BIGINT) AS max_span_chars
         |FROM spans GROUP BY source""".stripMargin
    },
    "q322_contamination_matrix" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT source, s FROM (
         |    SELECT source, unnest(${shinglesSqlN(8)}) AS s FROM (
         |      SELECT source, $toksSql AS tk FROM documents))
         |), sizes AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
         |), inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT src_a, src_b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_common,
         |  CAST((10000 * n_common) // (sa.n_sh + sb.n_sh - n_common)
         |    AS BIGINT) AS jaccard_bp
         |FROM inter
         |JOIN sizes sa ON sa.source = inter.src_a
         |JOIN sizes sb ON sb.source = inter.src_b""".stripMargin,
    // q283: same distinct (digest, source) frame, same a<b pair keying,
    // same >1-copy diagonal rule.
    "q283_cross_source_dup" ->
      """WITH ds AS (
        |  SELECT md5(substr(text, 1, 32)) AS digest, source
        |  FROM documents
        |), dd AS (SELECT DISTINCT digest, source FROM ds)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared
        |FROM dd a JOIN dd b
        |  ON a.digest = b.digest AND a.source < b.source
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT source AS source_a, source AS source_b,
        |  count(*) AS n_shared
        |FROM (
        |  SELECT digest, source, count(*) AS n FROM ds GROUP BY 1, 2
        |) WHERE n > 1 GROUP BY 1, 2""".stripMargin,
    "q173_containment_join" -> containmentOracle,
    "q112_similarity_join_prefix" -> prefixFilterOracle,
    "q349_bbit_minhash" -> bbitOracle,
    "q27_dedup_minhash_lsh" -> minhashOracle,
    "q28_dedup_simhash" -> simhashOracle,
    "q100_minhash_accuracy" -> minhashAccuracyOracle,
    "q188_lsh_band_sweep" -> lshBandSweepOracle,
    "q105_dup_clusters" -> dupClustersOracle,
    "q159_cluster_safe_split" -> clusterSplitOracle,
    "q160_lsh_index_persisted" -> lshIndexOracle,
    "q180_lsh_index_compact" -> lshCompactedOracle,
    "q161_cluster_keep_best" -> keepBestOracle)
}
