package graft.hockey

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Deterministic multi-season synthetic fixture for the hockey pipeline
  * (VERDICT r12 #3): the committed `hockey_run.json` used to be derived
  * from the reference's 5-game sample CSVs, where the temporal split
  * leaves a 2-row test set and all four models score 0.000 — the artifact
  * pinned pipeline SHAPE, not model behavior. This generator writes a
  * 3-season, 10-team, 360-game corpus (committed)
  * under `fixtures/hockey/` (`events.csv`, `results.csv`) with a REAL
  * learnable signal:
  *
  *  - teams carry latent strengths (0.20..0.74); game outcomes are drawn
  *    from a strength-difference + home-advantage probability, so the
  *    rolling win/corsi/xG history features genuinely predict the label;
  *  - per-team event streams (corsi attempts, shot/goal flags, distances,
  *    xG) are sampled AROUND the team's strength, so the event-rollup
  *    features carry the same signal through `aggregateEvents`;
  *  - seasons 20112012/20122013 train, 20132014 tests (the reference's
  *    temporal-split contract, ref code/experiment.py:564-572) — 240
  *    train / 120 test matchups instead of 3/2.
  *
  * Everything is seeded (`java.util.Random(42)`) and schedule/date
  * assembly is arithmetic, so regeneration is byte-identical; the
  * committed CSVs + `hockey_run.json` + HockeyRunArtifactSpec form a
  * closed loop (regenerate → rerun → same artifact). Team codes are
  * pure uppercase letters ("AAA".."JJJ") so TeamNames' regex-upper
  * fallback maps them to themselves.
  *
  * Usage: `runMain graft.hockey.FixtureGen [outDir] [--large|--sample]`
  * (default `fixtures/hockey`, committed config).
  *
  * Three configs, one generator. [[Sample]] is a 5-game corpus shaped
  * like the reference's sample CSVs, committed as `fixtures/hockey_sample`
  * for HockeySpec's end-to-end tests. The COMMITTED
  * 360-game fixture is sized for the `--fast` artifact and the always-on
  * spec loop, but the reference's FULL hyperparameters (GBT 100×depth-8,
  * RF 200×10 — ref code/experiment.py:697-777) overfit its 240 train
  * rows (measured: full-config GBT test AUC 0.58 ≈ chance while the fast
  * config scores 0.69 — depth-8 trees memorize 240 rows). `Large` keeps
  * the SAME 10 teams and per-game signal strength and densifies the
  * schedule 6× (144 rounds = 720 games/season, 2160 games, 1440 train /
  * 720 test; measured GBT test AUC on this ladder: 240 rows → 0.580,
  * 960 → 0.610, 1440 → 0.643. A 16-team variant was tried first and
  * REJECTED — more teams compress the pairwise strength gaps, so it
  * weakens the signal instead of adding data: LR's AUC dropped
  * 0.709 → 0.683). `Large` is the corpus the full-config artifact
  * `hockey_run_full.json` runs on. It is NOT committed as CSV (~16 MB);
  * it regenerates byte-identically from this seeded generator, which is
  * what the full-artifact spec does.
  */
object FixtureGen {

  /** Schedule shape: `nTeams` teams play `roundsPerSeason(k)` round-robin
    * rounds in the k-th season, the first season starting in `firstYear`.
    * `spellings(i)`, when given, lists the raw names team `i` appears under
    * (rotated per row, so `TeamNames` has variants to fold); otherwise the
    * team is written as its code. */
  case class Config(nTeams: Int, roundsPerSeason: Seq[Int], firstYear: Int = 2011,
      spellings: Seq[Seq[String]] = Nil)

  /** The committed `fixtures/hockey` corpus: 10 teams, 24 rounds,
    * 5 games/round => 120 games/season, 360 games total. */
  val Committed = Config(nTeams = 10, roundsPerSeason = Seq.fill(3)(24))

  /** The full-hyperparameter artifact corpus: the committed fixture's 10
    * teams (same strengths, same per-game signal) on a 6× denser
    * schedule — 144 rounds = 720 games/season, 2160 games total (1440
    * train / 720 test under the reference temporal split). */
  val Large = Config(nTeams = 10, roundsPerSeason = Seq.fill(3)(144))

  /** The committed `fixtures/hockey_sample` corpus, shaped like the
    * reference's 5-game sample CSVs (ref data/Sample_*.csv): 5 games, 10
    * results rows, two seasons (3 games in 20122013, 2 in 20132014, so the
    * temporal split is 3/2 as on the sample), real franchises written
    * under the full-name, abbreviation, padded and relocated spellings
    * `TeamNames` folds to LAK and WPG. */
  val Sample = Config(nTeams = 2, roundsPerSeason = Seq(3, 2), firstYear = 2012,
    spellings = Seq(
      Seq("Los Angeles Kings", "L.A", "  L.A.  ", "LAK", "Kings"),
      Seq("Atlanta Thrashers", "ATL", "Winnipeg   Jets", "WPG")))

  private def teamCode(i: Int): String = {
    val c = ('A' + i).toChar
    s"$c$c$c"
  }
  // 0.20..0.74 regardless of team count. The committed 10-team fixture
  // MUST keep the historical `0.20 + 0.06·i` verbatim: the general form
  // `0.54·i/(n−1)` differs by one ulp at i ∈ {4,7,8}, which would cascade
  // through the Gaussian draws and break the byte-identical-regeneration
  // contract HockeyRunArtifactSpec pins.
  private def strength(i: Int, nTeams: Int): Double =
    if (nTeams == 10) 0.20 + 0.06 * i
    else 0.20 + 0.54 * i / (nTeams - 1)

  private val dateFmt = DateTimeFormatter.ofPattern("M/d/yyyy")

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val cfg =
      if (flags.contains("--large")) Large
      else if (flags.contains("--sample")) Sample
      else Committed
    write(positional.lift(0).getOrElse("fixtures/hockey"), cfg)
  }

  def write(dir: String): Unit = write(dir, Committed)

  def write(dir: String, cfg: Config): Unit = {
    val NTeams = cfg.nTeams
    val rnd = new java.util.Random(42)
    val results = new StringBuilder
    val events = new StringBuilder
    results ++= ("Game Id,Type,Season,Date,Ev_Team,Is_Home,Goal,xG,G+/-," +
      "RW,OTW,SOW,SOL,OTL,RL,Win,Points,Favorite,American Odds," +
      "Decimal Odds,Market_Prob.,Log loss,OU,OU_American Odds," +
      "OU_Decimal Odds\n")
    events ++= ("GameID,Season,SeasonState,Venue,Period,GameTime," +
      "StrengthState,TypeCode,Event,x,y,Zone,Reason,ShotType," +
      "SecondaryReason,TypeCode2,PEN_Duration,EventTeam,Goalie_ID,Goalie," +
      "Player1_ID,Player1,Player2_ID,Player2,Player3_ID,Player3,Corsi," +
      "Fenwick,Shot,Goal,EventIndex,ShiftIndex,ScoreState," +
      "Home_Forwards_ID,Home_Forwards,Home_Defenders_ID,Home_Defenders," +
      "Home_Goalie_ID,Home_Goalie,Away_Forwards_ID,Away_Forwards," +
      "Away_Defenders_ID,Away_Defenders,Away_Goalie_ID,Away_Goalie,BoxID," +
      "BoxID_rev,BoxSize,ShotDistance,ShotAngle,Position,Shoots,xG_F,xG_S\n")

    for ((rounds, k) <- cfg.roundsPerSeason.zipWithIndex) {
      val year = cfg.firstYear + k
      val season = year * 10000 + year + 1
      val start = LocalDate.of(year, 10, 1)
      var gameIdx = 0
      for (round <- 0 until rounds) {
        val date = start.plusDays(round.toLong * 2)
        // circle-method round robin: team 0 fixed, the rest rotate
        val rot = (1 until NTeams).map(t => 1 + (t - 1 + round) % (NTeams - 1))
        val teams = 0 +: rot
        for (g <- 0 until NTeams / 2) {
          val a = teams(g)
          val b = teams(NTeams - 1 - g)
          // alternate venue by round so everyone hosts everyone
          val (home, away) = if (round % 2 == 0) (a, b) else (b, a)
          gameIdx += 1
          val gameId = year.toLong * 1000000L + 20000L + gameIdx
          emitGame(rnd, results, events, gameId, season, date, home, away, cfg)
        }
      }
    }
    val p = Paths.get(dir)
    Files.createDirectories(p)
    Files.write(p.resolve("results.csv"),
      results.toString.getBytes("UTF-8"))
    Files.write(p.resolve("events.csv"), events.toString.getBytes("UTF-8"))
    println(s"wrote ${p.resolve("results.csv")} and ${p.resolve("events.csv")}")
  }

  private def emitGame(rnd: java.util.Random, results: StringBuilder,
      events: StringBuilder, gameId: Long, season: Int, date: LocalDate,
      home: Int, away: Int, cfg: Config): Unit = {
    val sH = strength(home, cfg.nTeams)
    val sA = strength(away, cfg.nTeams)
    // the k-th row naming `team`, for any k: its code or one of its spellings
    def name(team: Int, k: Int): String =
      if (cfg.spellings.isEmpty) teamCode(team)
      else cfg.spellings(team)(k % cfg.spellings(team).size)
    def goals(s: Double, opp: Double): Int = {
      val mu = 2.7 + 1.8 * (s - opp)
      math.max(0, math.round(mu + rnd.nextGaussian() * 1.3).toInt)
    }
    var gH = goals(sH, sA)
    var gA = goals(sA, sH)
    if (gH == gA) { // no ties: strength+home-advantage decides the extra goal
      val pHome = 0.5 + 0.8 * (sH - sA) + 0.06
      if (rnd.nextDouble() < pHome) gH += 1 else gA += 1
    }
    val otl = rnd.nextDouble() < 0.15 // loser point (OT/SO loss)
    def emitResult(team: Int, isHome: Int, gf: Int, ga: Int): Unit = {
      val win = if (gf > ga) 1 else 0
      val pts = if (win == 1) 2 else if (otl) 1 else 0
      val xg = gf + rnd.nextGaussian() * 0.4
      results ++= f"$gameId,Reg,$season,${date.format(dateFmt)}," +
        f"${name(team, (gameId % 1000).toInt)},$isHome,$gf,$xg%.4f,${gf - ga},$win,0.0,0.0," +
        f"0.0,${if (win == 0 && otl) "1.0" else "0.0"},${1 - win},$win," +
        f"$pts.0,,,,,,,,\n"
    }
    emitResult(home, 1, gH, gA)
    emitResult(away, 0, gA, gH)

    var eventIdx = 0
    def emitEvents(team: Int, venue: String, s: Double, gf: Int): Unit = {
      val nCorsi = math.max(gf + 2,
        (14 + 18 * s + rnd.nextGaussian() * 3).round.toInt)
      for (e <- 0 until nCorsi) {
        eventIdx += 1
        val isGoal = e < gf
        val fenwick = isGoal || rnd.nextDouble() < 0.8
        val shot = isGoal || (fenwick && rnd.nextDouble() < 0.75)
        val ev =
          if (isGoal) "goal"
          else if (shot) "shot-on-goal"
          else if (fenwick) "missed-shot" else "blocked-shot"
        // stronger teams shoot from closer in, at tighter angles
        val dist = math.max(5.0, 48.0 - 22.0 * s + rnd.nextGaussian() * 9.0)
        val angle = math.max(0.0, 12.0 + rnd.nextDouble() * 38.0)
        val xgF = math.max(0.005,
          0.03 + 0.09 * s + (if (isGoal) 0.08 else 0.0) +
            rnd.nextGaussian() * 0.02)
        val gameTime = 60 + e * 110
        val period = 1 + (gameTime / 1200).min(2)
        events ++= f"$gameId,$season,regular,$venue,$period,$gameTime,," +
          f"506,$ev,,,,,wrist,,,,${name(team, eventIdx)},,,,,,,,," +
          f"1,${if (fenwick) 1 else 0}," +
          f"${if (shot) 1 else 0},${if (isGoal) 1 else 0}," +
          f"$gameId$eventIdx%04d,\\N,0,,,,,,,,,,,,,N02,N05,875.0," +
          f"$dist%.2f,$angle%.2f,F,R,$xgF%.5f,\n"
      }
    }
    emitEvents(home, "Home", sH, gH)
    emitEvents(away, "Away", sA, gA)
  }
}
