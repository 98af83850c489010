package graft

/** Benchmark main (driver contract): times every SparkEntry query on
  * `$SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * Protocol: fixtures → warm-up → timed trials.
  *  1. FIXTURES ([[Fixtures.prebuild]], VERDICT r8 #2): every memoized
  *     derived input (indexes, bucketed tables, cluster frames) is built
  *     before any timed work; the artifact reports `fixture_secs` plus a
  *     per-fixture breakdown so a reader sees that cost explicitly.
  *  2. WARM-UP: one untimed pass over the JIT-heavy FAMILIES only
  *     (streaming/ANN/graph — VERDICT r9 #6; a full-suite pass cost more
  *     than a timed trial while the per-query min across trials already
  *     absorbs ordinary plans' first-pass JIT), TIME-BOXED by
  *     `SPARK_GRAFT_BENCH_WARMUP_SECS` (default 600); the artifact records
  *     the count actually run.
  *  3. TRIALS: `SPARK_GRAFT_BENCH_TRIALS` (default 3) timed suite passes in
  *     sorted name order with per-query min — so per-query numbers measure
  *     steady-state plan execution, not first-query session warm-up or
  *     whichever query a GC pause happened to land on.
  * Every gate executes through [[GateRunner]] (noop sink, cache cleared
  * after each gate, on production plans).
  *
  * TIMEOUT-ROBUSTNESS (VERDICT r8 #1 — two driver runs in a row lost all
  * timing data to host contention): the artifact is persisted after EVERY
  * completed trial (trial 1 alone is a valid min-of-1 artifact, with
  * `trials_completed` recording how many ran), a SHORT total line prints
  * per trial so any log tail carries usable numbers, and an overall
  * wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET` seconds, default 1200,
  * measured from main() entry) skips remaining trials when exceeded —
  * a driver kill at any point now leaves parseable data behind.
  */
object Bench {

  /** Lower median (exact for odd n, mean-of-middle-two for even). */
  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    require(n > 0, "medianOf on empty seq")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Canary acceptance decision for a bench.json refresh — pure and
    * unit-tested (BenchCanarySpec) because it guards a committed artifact.
    *
    * Two guards, BOTH must pass (VERDICT r13 #2 — the anchor-ratchet):
    *  1. single-step: |canary/latest − 1| ≤ 0.15 (the original r11 rule;
    *     `committedCanary` is the anchor at run start);
    *  2. median-of-history: |canary/median(last ≤5 accepted canaries) − 1|
    *     ≤ 0.15. The single-step rule alone lets the anchor RATCHET: a
    *     chain of +14% acceptances walked r13's anchor 0.794 → 0.953 with
    *     no step tripping the gate. The median of the last 3–5 accepted
    *     canaries moves at half the chain's speed, so a drift chain trips
    *     guard 2 by its second or third step (see the spec's chain test).
    *
    * `history` is the committed artifact's append-only `canary_history`
    * (most recent LAST; bootstrapped from `canary_secs` for artifacts
    * that predate the field). Returns Some(reason) to refuse. */
  def canaryRefusal(canary: Double, committedCanary: Option[Double],
      history: Seq[Double]): Option[String] = {
    def f3(v: Double): String = f"$v%.3f"
    committedCanary match {
      case None => None // first-ever commit: nothing to compare against
      case Some(c) if canary <= 0 =>
        // r12 ADVICE: a failed canary query (canary = -1) means the
        // anchor is unusable, NOT that the host is comparable
        Some("canary queries failed (canary subtotal unavailable) — " +
          "cannot establish host comparability against the committed " +
          s"artifact's ${f3(c)} s anchor")
      case Some(c) if math.abs(canary / c - 1) > 0.15 =>
        Some(s"canary ${f3(canary)} s deviates >15% from the " +
          s"committed artifact's ${f3(c)} s — host not comparable " +
          "(CLAUDE.md canary rule); re-run on a quiet host")
      case Some(_) =>
        val recent = history.filter(_ > 0).takeRight(5)
        if (recent.isEmpty) None
        else {
          val med = medianOf(recent)
          if (med > 0 && math.abs(canary / med - 1) > 0.15)
            Some(s"canary ${f3(canary)} s deviates >15% from the median " +
              s"${f3(med)} s of the last ${recent.size} accepted canaries — " +
              "anchor-ratchet guard (CLAUDE.md): a chain of within-15% " +
              "single steps cannot migrate the anchor past this; re-run " +
              "on a quiet host or re-baseline per the documented protocol")
          else None
        }
    }
  }

  /** What the committed `canary_history` becomes if THIS artifact is
    * accepted — pure and unit-tested (BenchCanarySpec) because a reader
    * may promote any written artifact to bench.json and its history must
    * then be valid as-is (r14 ADVICE: the old unconditional append let a
    * REFUSED run's bench.out.json seed the anchor-ratchet median with a
    * never-accepted canary). Append gating mirrors persist's acceptance
    * rules: a subset run or a canary-refused run carries the committed
    * history UNCHANGED; a re-baseline RESTARTS the history at this run's
    * canary; an ordinary accepted run appends. Most recent last, ≤8 kept. */
  def nextHistory(canary: Double, committedCanary: Option[Double],
      committedHistory: Seq[Double], rebaseline: Boolean,
      isSubset: Boolean): Seq[Double] = {
    val kept = committedHistory.filter(_ > 0)
    (if (isSubset) kept
     else if (rebaseline) Seq(canary)
     else if (canaryRefusal(canary, committedCanary, committedHistory).isEmpty)
       kept :+ canary
     else kept).takeRight(8)
  }

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - tStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SUBSET RUNS (VERDICT r11 #1 — cross-round A/B adjudication): the
    // shared-query comparison against a prior round's artifact needs a run
    // of EXACTLY that round's query set, alone, on a quiet host.
    // SPARK_GRAFT_BENCH_ONLY = a file of query names (one per line) or a
    // comma-separated list filters the suite; a subset artifact can never
    // replace the committed full artifact (enforced in persist below).
    val onlySet: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map { v =>
        val p = java.nio.file.Paths.get(v)
        if (java.nio.file.Files.isRegularFile(p))
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(p)).asScala
            .map(_.trim).filter(_.nonEmpty).toSet
        else v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      }
    val ordered = onlySet.fold(GateRunner.all)(GateRunner.select)
    onlySet.foreach { s =>
      System.err.println(s"[bench] SUBSET run: ${ordered.size}/" +
        s"${GateRunner.all.size} queries (${s.size} requested)")
    }
    // q148 (exact O(n²) mutual-kNN) is a yardstick like q64's exact twins
    // (which GateRunner.production switches off) — it exists only as
    // q149's recall baseline (AnnQueries.mutualKnn doc). It stays in the
    // bench because at the gate corpus it is cheap (~1.4 s at sf0.1), but
    // it must NOT be scaled with the corpus — and that is ENFORCED, not
    // just documented (VERDICT r6 #3): mutualKnn fails fast past
    // AnnQueries.MutualKnnExactCap rows with a pointer at q149.
    val spark = LocalSession.fromEnv()

    // 3-decimal timings: millisecond precision is all the measurement
    // carries, and shorter lines are likelier to survive the driver's
    // log-tail intact (r2 AND r3 both head-truncated full-precision lines).
    def r3d(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    // ---- phase 0: fixtures (steady-state contract — see object doc) ----
    val fixtures = Fixtures.prebuild(spark, sfDir)
    val fixtureSecs = fixtures.map(_._2).sum
    System.err.println(s"[bench] fixtures built in ${r3d(fixtureSecs)} s (" +
      fixtures.map { case (n, s) => s"$n=${r3d(s)}" }.mkString(", ") + ")")

    // ---- phase 1: time-boxed FAMILY warm-up (VERDICT r9 #6) ----
    // A full-suite warm-up pass cost ~142 s — more than a timed trial —
    // while most scan/agg/join plans reach steady state after trial 1
    // anyway (the per-query MIN across 3 trials absorbs their first-pass
    // JIT). What genuinely needs pre-trial warming is the heavy-machinery
    // families whose first execution pays costs later passes never see
    // again: streaming (state-store provider load + micro-batch engine),
    // ANN (index probe paths), graph (iterative frames).
    val warmFamilies: Set[String] =
      ops.EventQueries.queries.keySet ++ ops.AnnQueries.queries.keySet ++
        ops.GraphQueries.queries.keySet
    // only the (possibly subset) suite's members, so the warmed/size
    // accounting and the budget message stay truthful under BENCH_ONLY
    val warmupGates = ordered.filter(g => warmFamilies.contains(g.name))
    val warmupBudget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP_SECS", "600").toDouble
    val tWarm = System.nanoTime()
    var warmed = 0
    GateRunner.production(warmupGates.foreach { g =>
      if ((System.nanoTime() - tWarm) / 1e9 < warmupBudget &&
          GateRunner.run(spark, g, sfDir, GateRunner.Noop).ok)
        warmed += 1
    })
    val warmupSecs = (System.nanoTime() - tWarm) / 1e9
    System.err.println(s"[bench] warm-up (families): $warmed/" +
      s"${warmupGates.size} queries in ${r3d(warmupSecs)} s")
    if (warmed < warmupGates.size)
      System.err.println(s"[bench] warm-up budget ($warmupBudget s) hit after " +
        s"$warmed/${warmupGates.size} queries")

    // ---- phase 2: timed trials, artifact persisted per trial ----
    // Per-query MIN across passes (r3 finding #2): four adjacent
    // memory-heavy queries drifted 2.9-4.2× in-suite while their isolated
    // times were unchanged — single-JVM GC/fragmentation noise, not plan
    // regressions. The min across suite passes is the steady-state plan
    // cost; a GC hit lands on different queries each pass. Default 3
    // trials (r4: back-to-back identical runs measured 125 s vs 181 s on a
    // shared host — a third pass materially tightens the min).
    val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "3").toInt.max(1)
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1200").toDouble
    // failed queries report -1 (never a fake positive time) and are
    // excluded from the total
    def timedPass(): Map[String, Double] = GateRunner.production(ordered.map { g =>
      val o = GateRunner.run(spark, g, sfDir, GateRunner.Noop)
      g.name -> (if (o.ok) o.secs else -1.0)
    }.toMap)
    // Per query, `pick` over its non-failed times across passes (-1 when
    // every pass failed): the artifact's min and max columns.
    def acrossPasses(passes: Seq[Map[String, Double]],
        pick: Seq[Double] => Double): Seq[(String, Double)] =
      ordered.map { g =>
        val ts = passes.map(_(g.name)).filter(_ >= 0)
        g.name -> (if (ts.nonEmpty) pick(ts) else -1.0)
      }

    // CANARY ANCHOR (VERDICT r11 #2): the intra-run spread rule (≤1.3×)
    // cannot catch a UNIFORMLY slow host — r11's two committed artifacts,
    // one commit apart, disagreed 11% on identical queries. These four
    // sub-0.3 s pure-compute queries (no fixtures, no streaming, no
    // caches) form an absolute cross-round anchor: their subtotal is
    // plan-stable across rounds, so a >15% canary deviation from the
    // committed artifact means the HOST is not comparable and the run
    // must not replace bench.json (enforced in persist).
    val CanaryQueries = Seq("q02_filter_project", "q36_date_features",
      "q41_string_funcs", "q73_date_arithmetic")
    def canaryOf(results: Seq[(String, Double)]): Double = {
      val m = results.toMap
      val ts = CanaryQueries.flatMap(m.get).filter(_ >= 0)
      if (ts.size == CanaryQueries.size) ts.sum else -1.0
    }

    // The committed artifact's canary + append-only canary HISTORY, if it
    // records them (read before the trials so artifactLine can
    // self-adjudicate against them). History is most-recent-LAST;
    // artifacts predating the field bootstrap from their canary_secs.
    val committedText: Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench.json")), "UTF-8"))
      catch { case _: Throwable => None }
    val committedCanary: Option[Double] = committedText.flatMap { txt =>
      """"canary_secs":([0-9.]+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble).filter(_ > 0)
    }
    val committedHistory: Seq[Double] = committedText.flatMap { txt =>
      """"canary_history":\[([0-9.,\s]*)\]""".r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty)
          .map(_.toDouble).toSeq)
    }.getOrElse(committedCanary.toSeq)

    def artifactLine(passes: Seq[Map[String, Double]]): String = {
      val results = acrossPasses(passes, _.min)
      val maxima = acrossPasses(passes, _.max)
      // Self-adjudication (VERDICT r4 #1): alongside the per-query min, the
      // artifact records each trial's full-suite total and every query's max
      // across trials, so a reader can see the spread (a quiet run shows
      // trial totals within ~1.3×; a contended one does not) and which
      // queries absorbed the noise — without re-running anything.
      val trialTotals = passes.map(_.values.filter(_ >= 0).sum)
      val qs = results.map { case (k, v) => "\"" + k + "\":" + r3d(v) }
        .mkString("{", ",", "}")
      val qsMax = maxima.map { case (k, v) => "\"" + k + "\":" + r3d(v) }
        .mkString("{", ",", "}")
      val totals = trialTotals.map(r3d).mkString("[", ",", "]")
      val fx = fixtures.map { case (k, v) => "\"" + k + "\":" + r3d(v) }
        .mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      // SELF-ADJUDICATION FIELDS (VERDICT r12 #7): the two numbers a
      // reader needs to accept or reject this artifact without
      // re-deriving anything — the intra-run spread (max/min trial total,
      // ≤1.3× = quiet run) and this run's canary relative to the artifact
      // committed at run START (|delta| ≤ 0.15 = host comparable; null
      // when no committed canary existed, or when this run IS a subset
      // that never timed the canary queries → canary -1).
      val canary = canaryOf(results)
      val spread =
        if (trialTotals.size >= 2 && trialTotals.min > 0)
          r3d(trialTotals.max / trialTotals.min)
        else "null"
      val canaryDelta = committedCanary match {
        // signed, so not r3d (which clamps negatives to -1): a FASTER
        // host is a legitimately negative delta
        case Some(c) if canary > 0 => BigDecimal(canary / c - 1)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
        case _ => "null"
      }
      val rebaseline =
        sys.env.get("SPARK_GRAFT_BENCH_REBASELINE").contains("1")
      val rebaselined = if (rebaseline) """"rebaselined":true,""" else ""
      // APPEND-ONLY CANARY HISTORY (VERDICT r13 #2): the last ≤8 accepted
      // canaries plus this run's IF this run would be accepted, most
      // recent last. The append is gated on the SAME acceptance rules
      // persist enforces (r14 ADVICE: the old unconditional append meant a
      // REFUSED run's bench.out.json carried the never-accepted canary, so
      // manually promoting it would have seeded the anchor-ratchet median
      // with the refused value) — a refused or subset artifact carries the
      // committed history UNCHANGED, so any artifact's history is valid to
      // promote as-is. A re-baseline RESTARTS the history at this run's
      // canary (the old regime's anchors would otherwise refuse every
      // post-re-baseline refresh via the median rule and deadlock it
      // again; the full chain stays readable in git history). The gating
      // itself is the pure, unit-tested nextHistory above.
      val newHistory = nextHistory(canary, committedCanary,
        committedHistory, rebaseline, onlySet.nonEmpty)
      val historyJson = newHistory.map(r3d).mkString("[", ",", "]")
      // MEMOIZED-FIXTURE HEAP (VERDICT r13 #7): bytes pinned by the
      // per-(JVM, sf-dir) memoized derived tables (localCheckpoint RDDs —
      // catalog.clearCache does NOT release them, by design: a gate times
      // the operation it claims to gate, not its fixture build). Two
      // rounds of adjudication attributed shared-query drift to "in-suite
      // interference from the grown suite"; this makes that heap
      // measurable per artifact instead of inferred.
      val storage = spark.sparkContext.getRDDStorageInfo
      val cachedBytes = storage.map(r => r.memSize + r.diskSize).sum
      // The r14 refresh measured cached_bytes = 0: every memoized fixture
      // is file-backed (Scratch parquet) or driver-collected rows, so the
      // FILE side is the number that actually grows with the suite.
      val scratchBytes = Scratch.totalBytes
      s"""{"metric":"total","value":${r3d(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","trials":$trials,"trials_completed":${passes.size},"trial_totals":$totals,"spread":$spread,$rebaselined"canary_delta_vs_committed":$canaryDelta,"queries_max":$qsMax,"fixture_secs":${r3d(fixtureSecs)},"fixtures":$fx,"warmup_secs":${r3d(warmupSecs)},"warmup_queries":$warmed,"warmup_mode":"families","cached_bytes":$cachedBytes,"cached_rdds":${storage.length},"scratch_bytes":$scratchBytes,"canary_queries":${CanaryQueries.map("\"" + _ + "\"").mkString("[", ",", "]")},"canary_secs":${r3d(canary)},"canary_history":$historyJson}"""
    }

    // ARTIFACT DECOUPLING (VERDICT r9 #1): the repo-root `bench.json` is a
    // COMMITTED adjudication artifact — DocsConsistencySpec pins
    // ARCHITECTURE's headline to it — so an out-of-band bench run (the
    // driver's per-round run, a curiosity run on a loud host) must never
    // overwrite it and leave `sbt test` red in a dirty tree. Default
    // writes go to the gitignored `bench.out.json`; refreshing the
    // committed artifact is an EXPLICIT act: SPARK_GRAFT_BENCH_OUT=
    // bench.json (done only for a quiet-host run whose trial spread
    // passes the ≤1.3× adjudication rule). /tmp/bench.json is always
    // written as the machine-readable copy for harnesses that read a
    // fixed path.
    // CANARY ENFORCEMENT (VERDICT r11 #2): an explicit
    // SPARK_GRAFT_BENCH_OUT=bench.json refresh is REFUSED — redirected to
    // bench.out.json with a loud message — when (a) this is a subset run
    // (a partial artifact must never replace the full committed one), or
    // (b) the committed artifact records a canary and this run's canary
    // subtotal deviates from it by >15% (uniformly-slow-host guard that
    // the intra-run ≤1.3× spread rule cannot provide). First-ever commit
    // (no canary in bench.json yet) is allowed.
    // Path-normalized "is this the committed artifact?" test (r12 ADVICE:
    // SPARK_GRAFT_BENCH_OUT=./bench.json or an absolute path used to
    // bypass both refusal guards via the exact-string compare).
    val committedPath =
      java.nio.file.Paths.get("bench.json").toAbsolutePath.normalize
    def isCommitted(out: String): Boolean =
      java.nio.file.Paths.get(out).toAbsolutePath.normalize == committedPath
    // Pre-run committed artifact, for restore-on-late-refusal below.
    val committedSnapshot: Option[Array[Byte]] =
      try Some(java.nio.file.Files.readAllBytes(committedPath))
      catch { case _: Throwable => None }
    var acceptedRefresh = false
    def persist(line: String, canary: Double): Unit = {
      def write(path: String): Unit =
        try java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (line + "\n").getBytes("UTF-8"))
        catch { case e: Throwable =>
          System.err.println(s"[bench] write $path failed: ${e.getMessage}") }
      write("/tmp/bench.json")
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.out.json")
      // RE-BASELINE escape hatch (r13): the canary gate assumes a
      // comparable host window recurs; when the allocation durably
      // changes speed (r13: committed canary 0.794 from a quiet morning,
      // every evening full run 0.94-1.3 — two full-precision attempts
      // refused hours apart), a registration that REQUIRES a same-commit
      // refresh would deadlock. SPARK_GRAFT_BENCH_REBASELINE=1 lets a
      // full, spread-clean run replace bench.json anyway — explicitly,
      // and labeled: the artifact already records
      // canary_delta_vs_committed, and a "rebaselined":true stamp is
      // appended so every later reader knows cross-round ratios over
      // this boundary must be canary-normalized (CLAUDE.md rule; subset
      // refusal is NOT bypassable).
      val rebaseline = sys.env.get("SPARK_GRAFT_BENCH_REBASELINE")
        .contains("1")
      val refuse: Option[String] =
        if (!isCommitted(out)) None
        else if (onlySet.nonEmpty)
          Some("subset run (SPARK_GRAFT_BENCH_ONLY) cannot replace the " +
            "full committed artifact")
        else if (rebaseline) None
        // Both canary guards — single-step vs the run-start anchor AND
        // median-of-history (r13 #2 anchor-ratchet) — live in the pure,
        // unit-tested canaryRefusal above.
        else canaryRefusal(canary, committedCanary, committedHistory)
      refuse match {
        case Some(why) =>
          System.err.println(s"[bench] REFUSING bench.json refresh: $why; " +
            "wrote bench.out.json instead")
          write("bench.out.json")
          // r12 ADVICE: persist runs after EVERY trial, so an earlier
          // trial of THIS run may already have replaced bench.json before
          // a later trial's tightened min tripped the canary gate — never
          // leave that partial artifact in place; restore the pre-run one.
          if (acceptedRefresh) {
            committedSnapshot match {
              case Some(bytes) =>
                try {
                  java.nio.file.Files.write(committedPath, bytes)
                  System.err.println("[bench] restored pre-run bench.json " +
                    "(an earlier trial of this run had replaced it)")
                } catch { case e: Throwable =>
                  System.err.println("[bench] WARNING: failed to restore " +
                    s"pre-run bench.json: ${e.getMessage} — bench.json " +
                    "holds a PARTIAL artifact from an earlier trial") }
              case None =>
                System.err.println("[bench] WARNING: bench.json holds a " +
                  "PARTIAL artifact from an earlier trial of this run " +
                  "(no pre-run artifact existed to restore)")
            }
            acceptedRefresh = false
          }
        case None =>
          write(out)
          if (isCommitted(out)) acceptedRefresh = true
      }
    }

    var passes = Vector.empty[Map[String, Double]]
    var t = 0
    while (t < trials && (t == 0 || elapsed < budget)) {
      passes :+= timedPass()
      t += 1
      // persist + short line after EVERY trial: a kill from here on still
      // leaves a valid artifact with `trials_completed` = what actually ran
      persist(artifactLine(passes), canaryOf(acrossPasses(passes, _.min)))
      val tot = passes.last.values.filter(_ >= 0).sum
      println(s"""{"metric":"trial","trial":$t,"of":$trials,"total":${r3d(tot)},"unit":"sec","sf":"$sfDir"}""")
      System.out.flush()
    }
    if (t < trials)
      System.err.println(s"[bench] wall budget ($budget s) hit after $t/$trials " +
        s"trials (${r3d(elapsed)} s elapsed) — artifact records trials_completed=$t")

    // Artifact robustness (VERDICT r2 #4, r3 #3, r8 #1), belt and braces:
    //  1. the full line below (complete per-query map, if the tail holds);
    //  2. a SHORT total-only line that fits any log tail;
    //  3. the full JSON in bench.json + $SPARK_GRAFT_BENCH_OUT, already
    //     written once per completed trial above.
    val line = artifactLine(passes)
    println(line)
    val totalsShort = passes.map(p => r3d(p.values.filter(_ >= 0).sum))
      .mkString("[", ",", "]")
    val totalShort = r3d(acrossPasses(passes, _.min).map(_._2).filter(_ >= 0).sum)
    println(s"""{"metric":"total","value":$totalShort,"unit":"sec","nq":${ordered.size},"sf":"$sfDir","trial_totals":$totalsShort}""")
    spark.stop()
  }
}
