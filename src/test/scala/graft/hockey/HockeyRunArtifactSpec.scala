package graft.hockey

import graft.SparkSpec

/** Re-derives the committed end-to-end run artifact `hockey_run.json`
  * (VERDICT r11 #6 — the §2 port was unit/e2e tested, but no committed
  * artifact pinned the full Experiment CLI run the way bench.json pins the
  * gates; this closes the loop on the reference's golden-log practice,
  * ref README.md:153-253 / output.txt).
  *
  * Since r13 the artifact runs on the committed SYNTHETIC fixture
  * (`fixtures/hockey/`, 3 seasons × 10 teams × 360 games from
  * [[FixtureGen]] — VERDICT r12 #3): the reference's 5-game sample CSVs
  * left a 2-row test set where every model scored 0.000 and the metric
  * assertions were vacuous. On the fixture the temporal split is real
  * (240 train / 120 test) and the latent team strengths make the rolling
  * features genuinely predictive, so this spec pins the reference's
  * BEHAVIORAL invariants (output.txt:23-30, ref README.md:159-165), not
  * just counts: every model beats the majority baseline, majority ≥
  * coin-flip.
  *
  * The artifact is produced by the CLI itself:
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.hockey.Experiment
  *     --events fixtures/hockey/events.csv
  *     --results fixtures/hockey/results.csv
  *     --fast --json hockey_run.json"
  * The seeded fits see one input layout whatever the session's cores or
  * shuffle partitions: `Pipeline.temporalSplit` hands them one partition
  * sorted on GameID. So the whole report — counts AND metrics — is
  * bit-reproducible, not range-checked, and the layout-independence tests
  * below re-derive it under other shuffle-partition counts and with AQE
  * off after the cache is dropped.
  */
class HockeyRunArtifactSpec extends SparkSpec {

  private val eventsCsv = "fixtures/hockey/events.csv"
  private val resultsCsv = "fixtures/hockey/results.csv"

  private lazy val json = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("hockey_run.json")), "UTF-8")

  private def field(json: String, key: String): String = {
    val m = ("\"" + key + "\":([0-9.eE+-]+)").r.findFirstMatchIn(json)
    assert(m.nonEmpty, s"hockey_run.json missing field $key")
    m.get.group(1)
  }

  private def fastRun(): Experiment.RunReport =
    Experiment.run(spark, Experiment.Opts(eventsCsv, resultsCsv, fast = true))

  /** `report`'s counts, every model's five scores and the baselines equal
    * the artifact's, the scores to its 6-dp precision. */
  private def assertMatchesArtifact(report: Experiment.RunReport): Unit = {
    for ((key, got) <- Seq("game_team_rows" -> report.gameTeamRows,
        "matchups" -> report.matchups, "train_rows" -> report.trainRows,
        "test_rows" -> report.testRows, "test_season" -> report.testSeason.toLong))
      assert(field(json, key).toLong == got, s"$key: artifact ${field(json, key)}, run $got")
    val metricsBlock = json.substring(json.indexOf("\"models\""))
    def recorded(model: String, metric: String): Double = {
      val seg = metricsBlock.substring(metricsBlock.indexOf("\"" + model + "\""))
      field(seg, metric).toDouble
    }
    for ((name, m) <- report.metrics; (metric, v) <- Seq(
        "accuracy" -> m.accuracy, "auc" -> m.auc, "precision" -> m.precision,
        "recall" -> m.recall, "f1" -> m.f1)) {
      assert(v >= 0.0 && v <= 1.0, s"$name $metric out of range: $v")
      assert(math.abs(recorded(name, metric) - v) <= 5e-7 + 1e-9,
        s"$name $metric drifted: artifact ${recorded(name, metric)}, run $v")
    }
    assert(math.abs(field(json, "majority_class").toDouble -
      report.baselines.majorityClass) <= 5e-7 + 1e-9)
    assert(math.abs(field(json, "weighted_random").toDouble -
      report.baselines.weightedRandom) <= 5e-7 + 1e-9)
  }

  test("the committed fixture CSVs regenerate byte-identically") {
    val tmp = java.nio.file.Files.createTempDirectory("hockeyfix").toString
    FixtureGen.write(tmp)
    for (f <- Seq("events.csv", "results.csv")) {
      val committed = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"fixtures/hockey/$f"))
      val fresh = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tmp/$f"))
      assert(java.util.Arrays.equals(committed, fresh),
        s"fixtures/hockey/$f is not what FixtureGen.write produces — " +
          "regenerate with: sbt \"runMain graft.hockey.FixtureGen " +
          "fixtures/hockey\"")
    }
  }

  test("the committed hockey_run.json is re-derived by a fresh Experiment.run") {
    val report = fastRun()

    // golden counts, exact: one row per (game, team), two per game, a
    // REAL temporal split (the sample CSVs used to degenerate to 3/2)
    assertMatchesArtifact(report)
    assert(field(json, "rows_per_game").toInt == 2)
    assert(report.gameTeamRows == 2 * report.matchups)
    assert(report.matchups == 360L)
    assert(report.testRows >= 100,
      s"test set degenerated to ${report.testRows} rows — metric " +
        "assertions below would be vacuous again")
    assert(report.testSeason == 20132014)
    assert(report.trainRows + report.testRows == report.matchups)

    // the artifact covers all four model pipelines
    for (name <- Seq("Random Forest", "Logistic Regression",
        "Gradient Boosted Trees", "Multilayer Perceptron"))
      assert(report.metrics.contains(name), s"run lost model $name")
    for ((name, m) <- report.metrics)
      assert(m.confusion.values.sum == report.testRows,
        s"$name confusion matrix does not cover the test set")

    // the reference's behavioral invariants (output.txt:23-30): the
    // models LEARN — every one beats the majority baseline by a real
    // margin on the 120-game held-out season, and majority ≥ coin-flip
    assert(field(json, "coin_flip").toDouble == 0.5)
    assert(report.baselines.majorityClass >= 0.5,
      s"majority baseline ${report.baselines.majorityClass} below coin-flip")
    for ((name, m) <- report.metrics) {
      assert(m.accuracy >= report.baselines.majorityClass + 0.05,
        s"$name accuracy ${m.accuracy} does not beat the majority " +
          s"baseline ${report.baselines.majorityClass} — no learning")
      assert(m.auc >= 0.6, s"$name auc ${m.auc} at chance level")
    }
  }

  // The fits must not depend on how the upstream plan was partitioned or
  // whether its cache survived. Each case drops the cache first: the cache
  // manager would otherwise serve the matchups an earlier run built under
  // the default layout, and the conf would change nothing.
  for ((what, confs) <- Seq(
      "shuffle partitions 1" -> Seq("spark.sql.shuffle.partitions" -> "1"),
      "shuffle partitions 7" -> Seq("spark.sql.shuffle.partitions" -> "7"),
      "AQE off, after clearCache" -> Seq("spark.sql.adaptive.enabled" -> "false")))
    test(s"hockey_run.json re-derives under $what") {
      spark.catalog.clearCache()
      try assertMatchesArtifact(graft.LocalSession.withConfs(spark, confs: _*)(fastRun()))
      finally spark.catalog.clearCache()
    }
}
