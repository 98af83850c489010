package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** Seeded synthetic NHL corpus for the hockey workloads.
  *
  * Writes `events.csv` (the 54-column event header) and `results.csv` (the
  * 25-column results header) at the reference job's row counts:
  * seasons 20072008..20162017, 9,404 matchups (9,150 train in nine full
  * seasons, 254 test in a short final season) and 20,227 game-team rows
  * after the ETL join. 1,419 "orphan" games keep only one team's event
  * stream, so their second result row drops out of the inner join. The
  * corpus also holds rows the ETL must filter away: a pre-floor season,
  * pre-season game ids, and result rows whose Points are null.
  *
  * Each game carries about 135 events: about 110 shot attempts (the
  * reference's shot volume), 20 non-shot rows (faceoffs, hits, giveaways)
  * with Corsi=0 and empty shot fields, and 5 team-less stoppages. The
  * reference's feed has about 265 events a game, most of them non-shot
  * rows; at that density the job took 5 s longer a run, which the
  * benchmark's time budget could not carry. Nulls are written both as `\N`
  * and as empty cells. Team names use the aliases `TeamNames` folds: full
  * names, cities, "N.J", "L.A", "Atlanta Thrashers", padded spellings.
  *
  * The signal is planted: each team has a latent strength that drifts from
  * season to season. Goals, wins, shot volume, shot distance and xG move
  * with it, and the home side has an edge, so the rolling-history
  * features predict the home team's points.
  *
  * A SplitMix64 stream drives every draw and every number is written in a
  * fixed format, so one seed gives byte-identical files on any JVM; the
  * SHA-256 of the two files is the corpus digest.
  */
object HockeyCorpus {

  val EventsHeader: String =
    "GameID,Season,SeasonState,Venue,Period,GameTime,StrengthState,TypeCode," +
      "Event,x,y,Zone,Reason,ShotType,SecondaryReason,TypeCode2,PEN_Duration," +
      "EventTeam,Goalie_ID,Goalie,Player1_ID,Player1,Player2_ID,Player2," +
      "Player3_ID,Player3,Corsi,Fenwick,Shot,Goal,EventIndex,ShiftIndex," +
      "ScoreState,Home_Forwards_ID,Home_Forwards,Home_Defenders_ID," +
      "Home_Defenders,Home_Goalie_ID,Home_Goalie,Away_Forwards_ID," +
      "Away_Forwards,Away_Defenders_ID,Away_Defenders,Away_Goalie_ID," +
      "Away_Goalie,BoxID,BoxID_rev,BoxSize,ShotDistance,ShotAngle,Position," +
      "Shoots,xG_F,xG_S\n"
  val ResultsHeader: String =
    "Game Id,Type,Season,Date,Ev_Team,Is_Home,Goal,xG,G+/-,RW,OTW,SOW,SOL," +
      "OTL,RL,Win,Points,Favorite,American Odds,Decimal Odds,Market_Prob.," +
      "Log loss,OU,OU_American Odds,OU_Decimal Odds\n"

  /** Canonical code -> the spellings vendors used; the first is the event
    * feed's, all three appear in the results feed. */
  private val Teams: Array[(String, Array[String])] = Array(
    "ANA" -> Array("ANA", "Anaheim Ducks", "Anaheim"),
    "ARI" -> Array("PHX", "Phoenix Coyotes", "Arizona Coyotes"),
    "BOS" -> Array("BOS", "Boston Bruins", "Boston"),
    "BUF" -> Array("BUF", "Buffalo Sabres", "Buffalo"),
    "CAR" -> Array("CAR", "Carolina Hurricanes", "Carolina"),
    "CBJ" -> Array("CBJ", "Columbus Blue Jackets", "Columbus"),
    "CGY" -> Array("CGY", "Calgary Flames", "Calgary"),
    "CHI" -> Array("CHI", "Chicago Blackhawks", "Blackhawks"),
    "COL" -> Array("COL", "Colorado Avalanche", "Colorado"),
    "DAL" -> Array("DAL", "Dallas Stars", "Dallas"),
    "DET" -> Array("DET", "Detroit Red Wings", "Red Wings"),
    "EDM" -> Array("EDM", "Edmonton Oilers", "Edmonton"),
    "FLA" -> Array("FLA", "Florida Panthers", "Florida"),
    "LAK" -> Array("L.A", "Los Angeles Kings", "L.A."),
    "MIN" -> Array("MIN", "Minnesota Wild", "Minnesota"),
    "MTL" -> Array("MTL", "Montreal Canadiens", "Montréal"),
    "NSH" -> Array("NSH", "Nashville Predators", "Nashville"),
    "NJD" -> Array("N.J", "New Jersey Devils", "N.J."),
    "NYI" -> Array("NYI", "New York Islanders", "N.Y. Islanders"),
    "NYR" -> Array("NYR", "New York Rangers", "N.Y. Rangers"),
    "OTT" -> Array("OTT", "Ottawa Senators", "Ottawa"),
    "PHI" -> Array("PHI", "Philadelphia Flyers", "Philadelphia"),
    "PIT" -> Array("PIT", "Pittsburgh Penguins", "Pittsburgh"),
    "SJS" -> Array("SJS", "San Jose Sharks", "S.J."),
    "STL" -> Array("STL", "St. Louis Blues", "St Louis"),
    "TBL" -> Array("TBL", "Tampa Bay Lightning", "T.B."),
    "TOR" -> Array("TOR", "Toronto Maple Leafs", "Toronto"),
    "VAN" -> Array("VAN", "Vancouver Canucks", "Vancouver"),
    "WPG" -> Array("ATL", "Atlanta Thrashers", "Winnipeg Jets"),
    "WSH" -> Array("WSH", "Washington Capitals", "Washington"))
  private val NTeams = Teams.length

  private val Years = 2007 to 2016
  /** Matchup games per season: 9,150 over the nine full seasons, 254 in
    * the short final one. */
  private val Matchups = Array.fill(6)(1017) ++ Array.fill(3)(1016) :+ 254
  /** Games that lose one team's event stream. */
  private val Orphans = Array.fill(9)(150) :+ 69
  private val PreFloorGames = 40
  private val PreseasonGames = 30
  private val NullPointsGames = 25
  private val NonShotPerTeam = 10
  private val NeutralPerGame = 5
  private val NonShot = Array("FAC", "HIT", "GIVE", "TAKE", "PENL")

  /** The counts the ETL must reproduce, whatever the seed. */
  case class Expected(resultRows: Long, gameTeamRows: Long, matchups: Long,
      trainRows: Long, testRows: Long, testSeason: Int)
  val expected: Expected = Expected(
    resultRows = 2L * (Matchups.sum + Orphans.sum + NullPointsGames * (Years.size - 1)),
    gameTeamRows = 2L * Matchups.sum + Orphans.sum,
    matchups = Matchups.sum, trainRows = Matchups.init.sum,
    testRows = Matchups.last, testSeason = 20162017)

  /** What a generation produced: the SHA-256 of events.csv then
    * results.csv, and the data-row counts of each. */
  case class Written(digest: String, eventRows: Long, resultRows: Long)

  private final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def u(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def below(n: Int): Int = (u() * n).toInt
    def gauss(mu: Double, sigma: Double): Double = {
      val u1 = math.max(u(), 1e-12)
      mu + sigma * math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u())
    }
  }

  private val Pow10 = Array(1L, 10L, 100L, 1000L, 10000L, 100000L)

  /** Fixed-point decimal with `d` fraction digits, half away from zero. */
  private def fix(sb: java.lang.StringBuilder, x: Double, d: Int): Unit = {
    val scale = Pow10(d)
    val v = math.round(math.abs(x) * scale)
    if (x < 0 && v != 0) sb.append('-')
    sb.append(v / scale)
    if (d > 0) {
      sb.append('.')
      val frac = (v % scale).toString
      var pad = d - frac.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(frac)
    }
  }

  private val MonthDays = Array(31, 30, 31, 31, 28, 31, 30, 31, 30)
  private val Months = Array(10, 11, 12, 1, 2, 3, 4, 5, 6)

  /** M/d/yyyy for day `day` of the season that opens Oct 1 of `year`. */
  private def date(year: Int, day: Int): String = {
    var d = day
    var i = 0
    while (i < Months.length) {
      val m = Months(i)
      val y = if (m >= 10) year else year + 1
      val n = if (m == 2 && y % 4 == 0) 29 else MonthDays(i)
      if (d < n) return s"$m/${d + 1}/$y"
      d -= n
      i += 1
    }
    sys.error("season too long")
  }

  /** Writes `events.csv` and `results.csv` into `dir`. */
  def generate(dir: Path, seed: Long): Written = {
    Files.createDirectories(dir)
    val md = MessageDigest.getInstance("SHA-256")
    val ev = new BufferedOutputStream(new FileOutputStream(dir.resolve("events.csv").toFile), 1 << 20)
    val rs = new java.lang.StringBuilder(1 << 22)
    val g = new Rng(seed * 0x2545F4914F6CDD1DL + 1)
    var eventRows = 0L
    var resultRows = 0L
    var strength = Array.fill(NTeams)(g.gauss(0.0, 0.35))
    val sb = new java.lang.StringBuilder(1 << 16)

    def flushEvents(out: OutputStream): Unit = {
      val b = sb.toString.getBytes(UTF_8)
      md.update(b)
      out.write(b)
      sb.setLength(0)
    }

    def alias(team: Int): String = {
      val names = Teams(team)._2
      val name = names(g.below(names.length))
      // a few padded, doubled-space spellings exercise TeamNames.cleaned
      if (g.u() < 0.02) " " + name.replace(" ", "  ") + " " else name
    }

    def resultRow(gid: Long, season: Int, day: String, team: Int, isHome: Int,
        gf: Int, ga: Int, otl: Boolean, nullPoints: Boolean): Unit = {
      val win = if (gf > ga) 1 else 0
      val pts = if (win == 1) 2 else if (otl) 1 else 0
      rs.append(gid).append(",R,").append(season).append(',').append(day).append(',')
        .append(alias(team)).append(',').append(isHome).append(".0,").append(gf).append(".0,")
      fix(rs, math.max(0.1, gf * 0.6 + 1.0 + g.gauss(0.0, 0.5)), 4)
      rs.append(',').append(gf - ga).append(',').append(win).append(".0,0.0,0.0,0.0,")
        .append(if (otl && win == 0) "1.0" else "0.0").append(',').append(1 - win)
        .append(".0,").append(win).append(".0,")
      if (nullPoints) rs.append("\\N") else rs.append(pts).append(".0")
      // odds tail: empty or \N when the book had no line, else numbers
      val u = g.u()
      if (u < 0.5) rs.append(",,,,,,,,")
      else if (u < 0.6) rs.append(",\\N,\\N,\\N,\\N,\\N,\\N,\\N,\\N")
      else {
        val p = math.min(0.9, math.max(0.1, 0.5 + g.gauss(0.0, 0.1)))
        rs.append(',').append(if (p > 0.5) "1" else "0").append(',')
          .append(if (p > 0.5) (-100 * p / (1 - p)).toInt else (100 * (1 - p) / p).toInt)
          .append(',')
        fix(rs, 1 / p, 2); rs.append(',')
        fix(rs, p, 4); rs.append(',')
        fix(rs, -math.log(if (win == 1) p else 1 - p), 4)
        rs.append(",5.5,-110,1.91")
      }
      rs.append('\n')
      resultRows += 1
    }

    def prefix(gid: Long, season: Int, venue: String, t: Int): Unit =
      sb.append(gid).append(',').append(season).append(",REG,").append(venue).append(',')
        .append(1 + math.min(t / 1200, 2)).append(',').append(t).append(",5v5,")

    def shotRows(gid: Long, season: Int, venue: String, team: Int, s: Double,
        gf: Int, idx0: Int): Int = {
      var idx = idx0
      val n = math.max(gf + 5, math.round(55 + 12 * s + g.gauss(0.0, 6.0)).toInt)
      val code = Teams(team)._2(0)
      var e = 0
      while (e < n) {
        val isGoal = e < gf
        val fenwick = isGoal || g.u() < 0.75
        val shot = isGoal || (fenwick && g.u() < 0.72)
        val name = if (isGoal) "GOAL" else if (shot) "SHOT" else if (fenwick) "MISS" else "BLOCK"
        val dist = math.max(4.0, 36.0 - 8.0 * s + g.gauss(0.0, 12.0))
        val angle = math.abs(g.gauss(0.0, 30.0))
        val xgf = math.max(0.002, 0.06 + 0.03 * s + (if (isGoal) 0.12 else 0.0) + g.gauss(0.0, 0.03))
        val t = e * 3600 / n
        idx += 1
        prefix(gid, season, venue, t)
        sb.append("505,").append(name).append(',').append(g.below(200) - 100).append(',')
          .append(g.below(84) - 42).append(",Off,,Wrist,,,,").append(code)
          .append(",,,,,,,,,1,").append(if (fenwick) 1 else 0).append(',')
          .append(if (shot) 1 else 0).append(',').append(if (isGoal) 1 else 0).append(',')
          .append(idx).append(',').append(idx / 8).append(",0,,,,,,,,,,,,,,,,")
        fix(sb, dist, 2); sb.append(',')
        fix(sb, angle, 2); sb.append(",F,L,")
        fix(sb, xgf, 5); sb.append(',')
        if (shot) fix(sb, xgf, 5) else sb.append("\\N")
        sb.append('\n')
        e += 1
      }
      eventRows += n
      idx
    }

    /** Non-shot rows: Corsi=0, shot fields empty or \N. `team` < 0 writes
      * team-less stoppages. */
    def nonShotRows(gid: Long, season: Int, venue: String, team: Int, n: Int,
        idx0: Int): Int = {
      var idx = idx0
      val code = if (team >= 0) Teams(team)._2(0) else if (g.u() < 0.5) "\\N" else ""
      var k = 0
      while (k < n) {
        idx += 1
        val t = g.below(3600)
        val kind = if (team >= 0) NonShot(g.below(NonShot.length)) else "STOP"
        prefix(gid, season, venue, t)
        sb.append(500 + g.below(20)).append(',').append(kind).append(",,,Neu,,,,,,")
          .append(code).append(",,,,,,,,,0,0,0,0,").append(idx).append(',').append(idx / 8)
          .append(",0,,,,,,,,,,,,,,,,,").append(if (g.u() < 0.5) "\\N" else "")
          .append(",,,\\N,\n")
        k += 1
      }
      eventRows += n
      idx
    }

    def game(gid: Long, season: Int, day: String, home: Int, away: Int,
        orphanSide: Int, nullPoints: Boolean): Unit = {
      val sh = strength(home)
      val sa = strength(away)
      var gh = math.max(0, math.round(2.9 + 0.9 * (sh - sa) + 0.25 + g.gauss(0.0, 1.4)).toInt)
      var ga = math.max(0, math.round(2.9 + 0.9 * (sa - sh) + g.gauss(0.0, 1.4)).toInt)
      var otl = false
      if (gh == ga) { // overtime or shootout: one extra goal, the loser takes a point
        otl = true
        if (g.u() < 0.55 + 0.3 * (sh - sa)) gh += 1 else ga += 1
      }
      resultRow(gid, season, day, home, 1, gh, ga, otl, nullPoints)
      resultRow(gid, season, day, away, 0, ga, gh, otl, nullPoints)
      var idx = 0
      if (orphanSide != 1) {
        idx = shotRows(gid, season, "Home", home, sh, gh, idx)
        idx = nonShotRows(gid, season, "Home", home, NonShotPerTeam + g.below(6) - 3, idx)
      }
      if (orphanSide != 2) {
        idx = shotRows(gid, season, "Away", away, sa, ga, idx)
        idx = nonShotRows(gid, season, "Away", away, NonShotPerTeam + g.below(6) - 3, idx)
      }
      nonShotRows(gid, season, "Home", -1, NeutralPerGame, idx)
      if (sb.length > (1 << 15)) flushEvents(ev)
    }

    // pairings: reshuffle the league every round, pair neighbours
    val order = Array.range(0, NTeams)
    var slot = NTeams
    def nextPair(): (Int, Int) = {
      if (slot >= NTeams) {
        var i = NTeams - 1
        while (i > 0) {
          val j = g.below(i + 1)
          val t = order(i); order(i) = order(j); order(j) = t
          i -= 1
        }
        slot = 0
      }
      slot += 2
      (order(slot - 2), order(slot - 1))
    }

    val evHeader = EventsHeader.getBytes(UTF_8)
    md.update(evHeader)
    ev.write(evHeader)
    rs.append(ResultsHeader)
    // games the ETL filters away: a pre-floor season and pre-season ids
    for (k <- 0 until PreFloorGames) {
      val (h, a) = nextPair()
      game(2006020001L + k, 20062007, date(2006, k / 8), h, a, 0, nullPoints = false)
    }
    for (k <- 0 until PreseasonGames) {
      val (h, a) = nextPair()
      game(2007010001L + k, 20072008, date(2007, k / 8), h, a, 0, nullPoints = false)
    }
    for ((year, si) <- Years.zipWithIndex) {
      val season = year * 10000 + year + 1
      val nulls = if (si < Years.size - 1) NullPointsGames else 0
      // one kind per game, shuffled: 0 matchup, 1 orphan, 2 null points
      val kinds = Array.fill(Matchups(si))(0) ++ Array.fill(Orphans(si))(1) ++ Array.fill(nulls)(2)
      var i = kinds.length - 1
      while (i > 0) {
        val j = g.below(i + 1)
        val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
        i -= 1
      }
      for (k <- kinds.indices) {
        val (h, a) = nextPair()
        val orphanSide = if (kinds(k) == 1) (if (g.u() < 0.5) 1 else 2) else 0
        game(year * 1000000L + 20001 + k, season, date(year, k / 8), h, a, orphanSide,
          nullPoints = kinds(k) == 2)
      }
      // strengths drift between seasons, so last season's form matters
      strength = strength.map(s => 0.7 * s + g.gauss(0.0, 0.25))
    }
    flushEvents(ev)
    ev.close()
    val rsBytes = rs.toString.getBytes(UTF_8)
    md.update(rsBytes)
    Files.write(dir.resolve("results.csv"), rsBytes)
    Written(md.digest().map(b => f"$b%02x").mkString, eventRows, resultRows)
  }
}
