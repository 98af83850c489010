package graft.hockey

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{avg, col, sum}
import org.apache.spark.sql.types._

/** Explicit input schemas (ref infers them at double scan cost —
  * code/experiment.py:283,325 — then casts; we pin them so the CSV is read
  * once with the right types and malformed cells become nulls in PERMISSIVE
  * mode, reproducing the reference's failed-cast→null semantics).
  *
  * Column order matches the physical files (FIXTURES.md §A1/§A2); with an
  * explicit schema Spark binds CSV columns by position, and the CSV parser's
  * column pruning means only referenced columns are ever parsed.
  */
object Schemas {

  /** events CSV: 54 physical columns (header at
    * reference data/Sample_NHL_EventData.csv:1); the 11 the pipeline uses are
    * typed, the rest load as strings and are pruned at parse time. Null
    * sentinel: literal `\N` (plus empty string). */
  val events: StructType = {
    val names = Seq(
      "GameID", "Season", "SeasonState", "Venue", "Period", "GameTime",
      "StrengthState", "TypeCode", "Event", "x", "y", "Zone", "Reason",
      "ShotType", "SecondaryReason", "TypeCode2", "PEN_Duration", "EventTeam",
      "Goalie_ID", "Goalie", "Player1_ID", "Player1", "Player2_ID", "Player2",
      "Player3_ID", "Player3", "Corsi", "Fenwick", "Shot", "Goal",
      "EventIndex", "ShiftIndex", "ScoreState", "Home_Forwards_ID",
      "Home_Forwards", "Home_Defenders_ID", "Home_Defenders", "Home_Goalie_ID",
      "Home_Goalie", "Away_Forwards_ID", "Away_Forwards", "Away_Defenders_ID",
      "Away_Defenders", "Away_Goalie_ID", "Away_Goalie", "BoxID", "BoxID_rev",
      "BoxSize", "ShotDistance", "ShotAngle", "Position", "Shoots", "xG_F", "xG_S")
    val typed: Map[String, DataType] = Map(
      "GameID" -> LongType, "Season" -> IntegerType, "GameTime" -> IntegerType,
      "Corsi" -> DoubleType, "Fenwick" -> DoubleType, "Shot" -> DoubleType,
      "Goal" -> DoubleType, "ShotDistance" -> DoubleType,
      "ShotAngle" -> DoubleType, "xG_F" -> DoubleType, "xG_S" -> DoubleType)
    StructType(names.map(n => StructField(n, typed.getOrElse(n, StringType))))
  }

  /** results CSV: 25 physical columns (header at
    * reference data/Sample_results.csv:1), named as in the file (`Game Id`,
    * `Ev_Team` — renamed in loadResults, ref code/experiment.py:286-288).
    * `Date` parses as DateType with the reader's dateFormat=M/d/yyyy.
    * Betting-odds tail columns are unused. */
  val results: StructType = {
    val names = Seq(
      "Game Id", "Type", "Season", "Date", "Ev_Team", "Is_Home", "Goal",
      "xG", "G+/-", "RW", "OTW", "SOW", "SOL", "OTL", "RL", "Win",
      "Points", "Favorite", "American Odds", "Decimal Odds", "Market_Prob.",
      "Log loss", "OU", "OU_American Odds", "OU_Decimal Odds")
    // Is_Home/Goal/Win/Points are int-valued but float-FORMATTED in the CSV
    // ("0.0"): parse as double (an IntegerType field would null them out),
    // then loadResults casts to int — reproducing the reference's
    // inferSchema→cast path (code/experiment.py:291-296) in one scan.
    val typed: Map[String, DataType] = Map(
      "Game Id" -> LongType, "Season" -> IntegerType, "Date" -> DateType,
      "Is_Home" -> DoubleType, "Goal" -> DoubleType, "xG" -> DoubleType,
      "Win" -> DoubleType, "Points" -> DoubleType)
    StructType(names.map(n => StructField(n, typed.getOrElse(n, StringType))))
  }

  /** League-average defaults for teams with no history yet (first games of a
    * season). These eleven constants are part of the reference contract
    * (ref code/experiment.py:476-494; README.md:120). */
  object Defaults {
    val GoalsAvg = 2.8
    val WinPct = 0.5
    val PointsAvg = 1.0
    val CorsiAvg = 30.0
    val FenwickAvg = 25.0
    val ShotsAvg = 30.0
    val XgAvg = 2.5
    val ShotDistAvg = 35.0
    val ShotAngleAvg = 20.0
    val RecentWinPct = 0.5
    val RecentGoalsAvg = 2.8
  }

  /** Season/GameID floor filters (ref code/experiment.py:301-302,341-342). */
  val MinSeason = 20072008
  val MinGameId = 2007020001L

  // ---- The feature spec: the one table every stage of the job reads ----

  /** A rolling frame: rows `start`..−1 of the team's season, so a game
    * never sees itself (no target leakage) and a season's first game
    * averages nothing and takes the default. */
  sealed abstract class Frame(val start: Long)
  case object History extends Frame(Window.unboundedPreceding)
  case object Recent extends Frame(-5) // literally −5..−1 (SURVEY §2.6: not −4)

  /** A rolling average: its window column, the expression it averages, its
    * frame, its league default (X4) and its matchup suffix
    * (`home_<suffix>`/`away_<suffix>`; None: computed, but no model input). */
  final case class Rolling(column: String, input: Column, frame: Frame, default: Double,
      suffix: Option[String])

  /** The six per-(game, team) event aggregates (ref code/experiment.py:359-366). */
  val eventAggregates: Seq[(String, Column)] = Seq(
    "game_corsi" -> sum("Corsi"), "game_fenwick" -> sum("Fenwick"), "game_shots" -> sum("Shot"),
    "game_avg_shot_dist" -> avg("ShotDistance"), "game_avg_shot_angle" -> avg("ShotAngle"),
    "game_xg" -> sum("xG_F"))

  /** The eleven rolling features in window-pass order (ref
    * code/experiment.py:416-494); matchup rows carry the suffixed ones in
    * this order. */
  val rolling: Seq[Rolling] = {
    import Defaults._
    val (goals, win, points) = (col("Goals"), col("Win").cast("double"), col("Points").cast("double"))
    Seq(
      Rolling("hist_goals_avg", goals, History, GoalsAvg, Some("goals_avg")),
      Rolling("hist_win_pct", win, History, WinPct, Some("win_pct")),
      Rolling("hist_points_avg", points, History, PointsAvg, Some("points_avg")),
      Rolling("hist_corsi_avg", col("game_corsi"), History, CorsiAvg, Some("corsi_avg")),
      Rolling("hist_fenwick_avg", col("game_fenwick"), History, FenwickAvg, Some("fenwick_avg")),
      Rolling("hist_shots_avg", col("game_shots"), History, ShotsAvg, Some("shots_avg")),
      Rolling("hist_xg_avg", col("game_xg"), History, XgAvg, Some("xg_avg")),
      Rolling("hist_shot_dist_avg", col("game_avg_shot_dist"), History, ShotDistAvg, None),
      Rolling("hist_shot_angle_avg", col("game_avg_shot_angle"), History, ShotAngleAvg, None),
      Rolling("recent_win_pct", win, Recent, RecentWinPct, Some("recent_form")),
      Rolling("recent_goals_avg", goals, Recent, RecentGoalsAvg, Some("recent_goals")))
  }

  /** The season game ordinal (row_number) and its matchup suffix, which
    * follows the rolling features in the matchup row. */
  val gameOrdinal: (String, String) = ("team_game_num", "games_played")

  /** The five home − away differentials (X7) as (name, matchup suffix). */
  val differentials: Seq[(String, String)] = Seq("win_pct_diff" -> "win_pct",
    "goals_avg_diff" -> "goals_avg", "xg_diff" -> "xg_avg", "corsi_diff" -> "corsi_avg",
    "recent_form_diff" -> "recent_form")

  /** Per side, each matchup feature's window column and suffix. */
  val matchupFeatures: Seq[(String, String)] =
    rolling.flatMap(r => r.suffix.map(r.column -> _)) :+ gameOrdinal

  /** The 25 model features: home, away, then the differentials (ref
    * code/experiment.py:581-610; README.md:124-142). */
  val featureCols: Seq[String] = Seq("home", "away").flatMap(side =>
    matchupFeatures.map { case (_, suffix) => s"${side}_$suffix" }) ++ differentials.map(_._1)
}
