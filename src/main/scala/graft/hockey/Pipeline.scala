package graft.hockey

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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

  /** `df` with each named column set to its expression, in ONE projection:
    * an existing column is replaced in place and a new one is appended, in
    * `cols` order — the result of the same `withColumn` chain, without
    * analysing the whole plan again for every column (Spark's `withColumn`
    * doc warns against calling it in a loop). Each expression reads `df`'s
    * own columns, never another entry of `cols`. */
  private def setColumns(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    val set = cols.toMap
    val names = df.columns.toSeq
    df.select(names.map(n => set.get(n).fold(col(s"`$n`"))(_.as(n))) ++
      cols.collect { case (n, e) if !names.contains(n) => e.as(n) }: _*)
  }

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
      .transform(setColumns(_,
        Seq("Is_Home", "Goal", "Win", "Points").map(c => c -> col(c).cast("int")) :+
          ("TeamCode" -> TeamNames.teamCode(col("Ev_Team_raw")))))

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
    * Catalyst plans partial+final HashAggregate, so the shuffle carries
    * the six [[Schemas.eventAggregates]] per (game, team), not raw events. */
  def aggregateEvents(events: DataFrame): DataFrame = {
    val aggs = Schemas.eventAggregates.map { case (name, agg) => agg.as(name) }
    events.groupBy("GameID", "Season", "TeamCode").agg(aggs.head, aggs.tail: _*)
  }

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
      .select(Seq("GameID", "Season", "Date", "TeamCode", "Is_Home").map(c => col(s"r.$c").as(c)) ++
        Seq(col("r.Goal").as("Goals"), col("r.Win").as("Win"), col("r.Points").as("Points"),
          col("r.xG").as("xG_result")) ++
        Schemas.eventAggregates.map { case (name, _) => col(name) }: _*)
      .filter(col("Points").isNotNull && col("Date").isNotNull)

  /** W1-W4 + X4 (ref code/experiment.py:416-494): the leakage-safe
    * [[Schemas.rolling]] features plus the season game ordinal. One
    * exchange on (TeamCode, Season) + one intra-partition sort on
    * (Date, GameID) serves every frame and row_number — the specs share
    * partitioning and order, so Catalyst runs a single Window pass per
    * frame over the same sorted partitions. A null average (no earlier
    * game in the frame) takes the feature's league default. */
  def withRollingFeatures(gameData: DataFrame): DataFrame = {
    val ordered = Window.partitionBy("TeamCode", "Season").orderBy("Date", "GameID")
    setColumns(gameData, (Schemas.gameOrdinal._1 -> row_number().over(ordered)) +:
      Schemas.rolling.map(f => f.column ->
        coalesce(avg(f.input).over(ordered.rowsBetween(f.frame.start, -1)), lit(f.default))))
  }

  /** F3/J2/P6/X7/F6 (ref code/experiment.py:502-555): home×away self-join on
    * (GameID, Season) → one matchup row per game with both teams' pre-game
    * [[Schemas.matchupFeatures]], the [[Schemas.differentials]], and the
    * home-points label. The input should be cached by the caller — the
    * self-join consumes it twice. */
  def matchups(featured: DataFrame): DataFrame = {
    val home = featured.filter(col("Is_Home") === 1).as("home")
    val away = featured.filter(col("Is_Home") === 0).as("away")
    val sides = Seq("home", "away").flatMap(side => Schemas.matchupFeatures.map {
      case (column, suffix) => col(s"$side.$column").as(s"${side}_$suffix") })
    val joined = home.join(away,
      col("home.GameID") === col("away.GameID") && col("home.Season") === col("away.Season"),
      "inner")
      .select(Seq("GameID", "Season", "Date").map(c => col(s"home.$c").as(c)) ++
        Seq(col("home.TeamCode").as("home_team"), col("away.TeamCode").as("away_team")) ++
        sides :+ col("home.Points").as("label"): _*)
    setColumns(joined, Schemas.differentials.map { case (name, suffix) =>
      name -> (col(s"home_$suffix") - col(s"away_$suffix")) }).na.drop()
  }

  /** A2/F4/C2 (ref code/experiment.py:564-572): temporal split — latest
    * season is the test set; random 80/20 (seed 42) fallback when either
    * side would be empty (single-season inputs). Returns (train, test,
    * testSeason).
    *
    * One aggregate job decides: the test side holds the max season, so it
    * is never empty, and the train side is empty exactly when the min
    * season equals the max.
    *
    * Both sides come back as ONE partition sorted on `GameID` (unique per
    * matchup row), in either branch. The fits then see one row order
    * whatever the core count, shuffle partitions, AQE or cache eviction
    * did upstream — Random Forest's bootstrap and MLP's block stacking are
    * seeded per partition, so a 4-way layout made their scores depend on
    * it. It is also the fast layout at this size (thousands of rows): each
    * MLlib job over the fit input runs one task, so the concurrent fits in
    * [[Experiment.run]] each keep one core busy instead of queueing behind
    * each other's 4–8-task jobs. `coalesce(1)` adds no shuffle; in the
    * fallback it keeps `randomSplit`'s per-partition samples as they were. */
  def temporalSplit(matchups: DataFrame): (DataFrame, DataFrame, Int) = {
    val seasons = matchups.agg(min("Season"), max("Season")).head()
    require(!seasons.isNullAt(1), "no matchups to split — check the input data")
    val maxSeason = seasons.getInt(1)
    val (train, test) =
      if (seasons.getInt(0) == maxSeason) {
        val Array(tr, te) = matchups.randomSplit(Array(0.8, 0.2), seed = 42)
        (tr, te)
      } else
        (matchups.filter(col("Season") < maxSeason), matchups.filter(col("Season") === maxSeason))
    def fitLayout(df: DataFrame) = df.coalesce(1).sortWithinPartitions("GameID")
    (fitLayout(train), fitLayout(test), maxSeason)
  }

  /** X6 (ref code/experiment.py:628-633): Win (2 points) vs Not-Win. */
  def withBinaryLabel(df: DataFrame): DataFrame =
    df.withColumn("label_binary", when(col("label") === 2, 1.0).otherwise(0.0))

  /** P4 (ref code/experiment.py:613-615): cast all 25 feature columns to
    * double before assembly (games-played ordinals are int; the reference
    * casts explicitly rather than relying on assembler widening). */
  def castFeatures(df: DataFrame): DataFrame =
    setColumns(df, Schemas.featureCols.map(c => c -> col(c).cast("double")))

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
