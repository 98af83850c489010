package graft.hockey

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Schemas.Defaults

/** The pre-game-prediction ETL: scans → per-game rollup → results join →
  * leakage-safe rolling features → home/away matchup assembly → temporal
  * split. Faithful to the reference semantics (window frames, null
  * defaults, tie-breaking — SURVEY §2), restructured as composable
  * DataFrame→DataFrame stages.
  *
  * Scale notes vs the reference:
  *  - explicit schemas: one CSV pass, not inferSchema's two
  *    (ref code/experiment.py:283,325);
  *  - the window pass shares one (TeamCode, Season) exchange across all
  *    eleven rolling features + row_number (identical partitioning/order);
  *  - at 100 TB the only data-sized shuffles are the rollup hash-agg, the
  *    3-key join, the window exchange, and the 2-key self-join — all keyed
  *    on (GameID|TeamCode, Season), which are high-cardinality and unskewed.
  */
object Pipeline {

  /** S1/P1/P2/F1 + X1-X3 (ref code/experiment.py:280-316): results scan,
    * typed, season/game floors, team-code normalization. */
  def loadResults(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.results)
      .option("header", "true")
      .option("dateFormat", "M/d/yyyy")
      .option("nullValue", "\\N")
      .csv(path)
      .withColumnRenamed("Game Id", "GameID")
      .withColumnRenamed("Ev_Team", "Ev_Team_raw")
      .filter(col("Season") >= Schemas.MinSeason &&
        col("GameID") >= Schemas.MinGameId)
      .withColumn("Is_Home", col("Is_Home").cast("int"))
      .withColumn("Goal", col("Goal").cast("int"))
      .withColumn("Win", col("Win").cast("int"))
      .withColumn("Points", col("Points").cast("int"))
      .withColumn("TeamCode", TeamNames.teamCode(col("Ev_Team_raw")))

  /** S2/P3/F1 + X1-X3 (ref code/experiment.py:322-356): events scan. */
  def loadEvents(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.events)
      .option("header", "true")
      .option("nullValue", "\\N")
      .csv(path)
      .filter(col("Season") >= Schemas.MinSeason &&
        col("GameID") >= Schemas.MinGameId)
      .withColumn("TeamCode", TeamNames.teamCode(col("EventTeam")))

  /** A1 (ref code/experiment.py:359-366): event → per-(game, team) rollup.
    * Catalyst plans partial+final HashAggregate, so the shuffle carries six
    * aggregates per (game, team), not raw events. */
  def aggregateEvents(events: DataFrame): DataFrame =
    events.groupBy("GameID", "Season", "TeamCode").agg(
      sum("Corsi").as("game_corsi"),
      sum("Fenwick").as("game_fenwick"),
      sum("Shot").as("game_shots"),
      avg("ShotDistance").as("game_avg_shot_dist"),
      avg("ShotAngle").as("game_avg_shot_angle"),
      sum("xG_F").as("game_xg"))

  /** J1/P5/F2 (ref code/experiment.py:372-402): 3-key inner join of results
    * to the rollup, projected to the 15 pipeline columns, null-label rows
    * dropped. */
  def gameData(results: DataFrame, aggEvents: DataFrame): DataFrame =
    results.as("r")
      .join(aggEvents.as("e"),
        col("r.GameID") === col("e.GameID") &&
          col("r.Season") === col("e.Season") &&
          col("r.TeamCode") === col("e.TeamCode"),
        "inner")
      .select(
        col("r.GameID").as("GameID"),
        col("r.Season").as("Season"),
        col("r.Date").as("Date"),
        col("r.TeamCode").as("TeamCode"),
        col("r.Is_Home").as("Is_Home"),
        col("r.Goal").as("Goals"),
        col("r.Win").as("Win"),
        col("r.Points").as("Points"),
        col("r.xG").as("xG_result"),
        col("game_corsi"), col("game_fenwick"), col("game_shots"),
        col("game_avg_shot_dist"), col("game_avg_shot_angle"), col("game_xg"))
      .filter(col("Points").isNotNull && col("Date").isNotNull)

  /** W1-W4 + X4 (ref code/experiment.py:416-494): leakage-safe rolling
    * features. One exchange on (TeamCode, Season) + one intra-partition sort
    * on (Date, GameID) serves the expanding frame, the 5-game sliding frame,
    * and row_number — the specs are object-identical so Catalyst runs a
    * single Window pass per frame over the same sorted partitions.
    *
    * Frame semantics preserved verbatim: current row excluded (upper bound
    * −1 ⇒ no target leakage; first game null → league default), recent
    * frame literally rows −5..−1 (SURVEY §2.6: do not "fix" to −4). */
  def withRollingFeatures(gameData: DataFrame): DataFrame = {
    val ordered = Window.partitionBy("TeamCode", "Season").orderBy("Date", "GameID")
    val history = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val recent = ordered.rowsBetween(-5, -1)
    gameData
      .withColumn("team_game_num", row_number().over(ordered))
      .withColumn("hist_goals_avg",
        coalesce(avg("Goals").over(history), lit(Defaults.GoalsAvg)))
      .withColumn("hist_win_pct",
        coalesce(avg(col("Win").cast("double")).over(history), lit(Defaults.WinPct)))
      .withColumn("hist_points_avg",
        coalesce(avg(col("Points").cast("double")).over(history), lit(Defaults.PointsAvg)))
      .withColumn("hist_corsi_avg",
        coalesce(avg("game_corsi").over(history), lit(Defaults.CorsiAvg)))
      .withColumn("hist_fenwick_avg",
        coalesce(avg("game_fenwick").over(history), lit(Defaults.FenwickAvg)))
      .withColumn("hist_shots_avg",
        coalesce(avg("game_shots").over(history), lit(Defaults.ShotsAvg)))
      .withColumn("hist_xg_avg",
        coalesce(avg("game_xg").over(history), lit(Defaults.XgAvg)))
      .withColumn("hist_shot_dist_avg",
        coalesce(avg("game_avg_shot_dist").over(history), lit(Defaults.ShotDistAvg)))
      .withColumn("hist_shot_angle_avg",
        coalesce(avg("game_avg_shot_angle").over(history), lit(Defaults.ShotAngleAvg)))
      .withColumn("recent_win_pct",
        coalesce(avg(col("Win").cast("double")).over(recent), lit(Defaults.RecentWinPct)))
      .withColumn("recent_goals_avg",
        coalesce(avg("Goals").over(recent), lit(Defaults.RecentGoalsAvg)))
  }

  /** F3/J2/P6/X7/F6 (ref code/experiment.py:502-555): home×away self-join on
    * (GameID, Season) → one matchup row per game with both teams' pre-game
    * features, differential features, and the home-points label. The input
    * should be cached by the caller — the self-join consumes it twice. */
  def matchups(featured: DataFrame): DataFrame = {
    val home = featured.filter(col("Is_Home") === 1).as("home")
    val away = featured.filter(col("Is_Home") === 0).as("away")
    val joined = home.join(away,
      col("home.GameID") === col("away.GameID") &&
        col("home.Season") === col("away.Season"),
      "inner")
      .select(
        col("home.GameID").as("GameID"),
        col("home.Season").as("Season"),
        col("home.Date").as("Date"),
        col("home.TeamCode").as("home_team"),
        col("away.TeamCode").as("away_team"),
        col("home.hist_goals_avg").as("home_goals_avg"),
        col("home.hist_win_pct").as("home_win_pct"),
        col("home.hist_points_avg").as("home_points_avg"),
        col("home.hist_corsi_avg").as("home_corsi_avg"),
        col("home.hist_fenwick_avg").as("home_fenwick_avg"),
        col("home.hist_shots_avg").as("home_shots_avg"),
        col("home.hist_xg_avg").as("home_xg_avg"),
        col("home.recent_win_pct").as("home_recent_form"),
        col("home.recent_goals_avg").as("home_recent_goals"),
        col("home.team_game_num").as("home_games_played"),
        col("away.hist_goals_avg").as("away_goals_avg"),
        col("away.hist_win_pct").as("away_win_pct"),
        col("away.hist_points_avg").as("away_points_avg"),
        col("away.hist_corsi_avg").as("away_corsi_avg"),
        col("away.hist_fenwick_avg").as("away_fenwick_avg"),
        col("away.hist_shots_avg").as("away_shots_avg"),
        col("away.hist_xg_avg").as("away_xg_avg"),
        col("away.recent_win_pct").as("away_recent_form"),
        col("away.recent_goals_avg").as("away_recent_goals"),
        col("away.team_game_num").as("away_games_played"),
        col("home.Points").as("label"))
    joined
      .withColumn("win_pct_diff", col("home_win_pct") - col("away_win_pct"))
      .withColumn("goals_avg_diff", col("home_goals_avg") - col("away_goals_avg"))
      .withColumn("xg_diff", col("home_xg_avg") - col("away_xg_avg"))
      .withColumn("corsi_diff", col("home_corsi_avg") - col("away_corsi_avg"))
      .withColumn("recent_form_diff", col("home_recent_form") - col("away_recent_form"))
      .na.drop()
  }

  /** A2/F4/C2 (ref code/experiment.py:564-572): temporal split — latest
    * season is the test set; random 80/20 (seed 42) fallback when either
    * side would be empty (single-season inputs). Returns (train, test,
    * testSeason).
    *
    * One aggregate job decides: the test side holds the max season, so it
    * is never empty, and the train side is empty exactly when the min
    * season equals the max. */
  def temporalSplit(matchups: DataFrame): (DataFrame, DataFrame, Int) = {
    val seasons = matchups.agg(min("Season"), max("Season")).head()
    require(!seasons.isNullAt(1), "no matchups to split — check the input data")
    val maxSeason = seasons.getInt(1)
    if (seasons.getInt(0) == maxSeason) {
      val Array(tr, te) = matchups.randomSplit(Array(0.8, 0.2), seed = 42)
      (tr, te, maxSeason)
    } else
      (matchups.filter(col("Season") < maxSeason), matchups.filter(col("Season") === maxSeason),
        maxSeason)
  }

  /** X6 (ref code/experiment.py:628-633): Win (2 points) vs Not-Win. */
  def withBinaryLabel(df: DataFrame): DataFrame =
    df.withColumn("label_binary", when(col("label") === 2, 1.0).otherwise(0.0))

  /** P4 (ref code/experiment.py:613-615): cast all 25 feature columns to
    * double before assembly (games-played ordinals are int; the reference
    * casts explicitly rather than relying on assembler widening). */
  def castFeatures(df: DataFrame): DataFrame =
    Schemas.featureCols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("double")))

  /** Full ETL: paths → cached matchups (the reference materializes
    * game_data and matchups with cache()+count() — C1 — because the
    * self-join and the four model fits re-consume them). */
  def buildMatchups(spark: SparkSession, eventsPath: String, resultsPath: String): DataFrame = {
    val results = loadResults(spark, resultsPath)
    val agg = aggregateEvents(loadEvents(spark, eventsPath))
    val featured = withRollingFeatures(gameData(results, agg)).cache()
    matchups(featured).cache()
  }
}
