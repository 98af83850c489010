package graft.hockey

import org.apache.spark.sql.Column

import graft.functions.TextFunctions

/** Team-name normalization (ref code/experiment.py:58-246,272-274,305-316).
  *
  * The mapping contract: every alias a data vendor has used for an NHL
  * franchise (full name, city, nickname, abbreviation, relocated-franchise
  * predecessors) → one canonical 3-letter code. Stored here as
  * franchise-grouped alias lists (inverted into a lookup map at class-load);
  * the column expression is a literal map probe with an
  * uppercase-letters-only fallback for codes not in the table.
  */
object TeamNames {

  /** code -> aliases (the code itself is always an alias). */
  private val franchises: Map[String, Seq[String]] = Map(
    "ANA" -> Seq("Anaheim", "Anaheim Ducks", "Mighty Ducks of Anaheim", "Mighty Ducks"),
    "ARI" -> Seq("Arizona", "Arizona Coyotes", "Coyotes", "Phoenix", "Phoenix Coyotes", "PHX"),
    "BOS" -> Seq("Boston", "Boston Bruins"),
    "BUF" -> Seq("Buffalo", "Buffalo Sabres"),
    "CAR" -> Seq("Carolina", "Carolina Hurricanes", "Hurricanes", "Hartford", "Hartford Whalers"),
    "CBJ" -> Seq("Columbus", "Columbus Blue Jackets"),
    "CGY" -> Seq("Calgary", "Calgary Flames"),
    "CHI" -> Seq("Chicago", "Chicago Blackhawks", "Blackhawks"),
    "COL" -> Seq("Colorado", "Colorado Avalanche", "Avalanche", "Quebec", "Quebec Nordiques"),
    "DAL" -> Seq("Dallas", "Dallas Stars", "Stars", "Minnesota North Stars"),
    "DET" -> Seq("Detroit", "Detroit Red Wings", "Red Wings"),
    "EDM" -> Seq("Edmonton", "Edmonton Oilers", "Oilers"),
    "FLA" -> Seq("Florida", "Florida Panthers", "Panthers"),
    "LAK" -> Seq("L.A.", "LA", "L.A", "Los Angeles", "Los Angeles Kings", "Kings"),
    "MIN" -> Seq("Minnesota", "Minnesota Wild", "Wild"),
    "MTL" -> Seq("Montréal", "Montreal", "Montreal Canadiens", "Canadiens"),
    "NSH" -> Seq("Nashville", "Nashville Predators", "Predators"),
    "NJD" -> Seq("N.J.", "N.J", "NJ", "New Jersey", "New Jersey Devils", "Devils"),
    "NYI" -> Seq("N.Y. I", "N.Y. Islanders", "NY Islanders", "New York Islanders", "Islanders"),
    "NYR" -> Seq("N.Y. R", "N.Y. Rangers", "NY Rangers", "New York Rangers", "Rangers"),
    "OTT" -> Seq("Ottawa", "Ottawa Senators", "Senators"),
    "PHI" -> Seq("Philadelphia", "Philadelphia Flyers", "Flyers"),
    "PIT" -> Seq("Pittsburgh", "Pittsburgh Penguins", "Penguins"),
    "SJS" -> Seq("S.J.", "SJ", "San Jose", "San Jose Sharks", "Sharks"),
    "SEA" -> Seq("Seattle", "Seattle Kraken", "Kraken"),
    "STL" -> Seq("St. Louis", "St Louis", "St. Louis Blues", "St Louis Blues", "Blues"),
    "TBL" -> Seq("T.B.", "TB", "Tampa Bay", "Tampa Bay Lightning", "Lightning"),
    "TOR" -> Seq("Toronto", "Toronto Maple Leafs", "Maple Leafs", "Leafs"),
    "VAN" -> Seq("Vancouver", "Vancouver Canucks", "Canucks"),
    "VGK" -> Seq("Vegas", "Vegas Golden Knights", "Golden Knights"),
    // Thrashers relocated to Winnipeg: the "ATL" abbreviation maps to the
    // franchise's current code (ref code/experiment.py:237-245)
    "WPG" -> Seq("Winnipeg", "Winnipeg Jets", "Jets", "Atlanta", "Atlanta Thrashers", "Thrashers", "ATL"),
    "WSH" -> Seq("Washington", "Washington Capitals", "Capitals"))

  /** alias -> code, including identity entries for every code. */
  val aliasToCode: Map[String, String] =
    franchises.flatMap { case (code, aliases) =>
      (code -> code) +: aliases.map(_ -> code)
    }

  /** Canonical team code (ref code/experiment.py:305-316): the
    * whitespace-cleaned name looked up in [[aliasToCode]], falling back to
    * the uppercase letters already present (so unknown codes like "BOS"
    * pass through and unknown names degrade deterministically) — see
    * [[graft.functions.TextFunctions.aliasCode]]. */
  def teamCode(raw: Column): Column = TextFunctions.aliasCode(raw, aliasToCode)
}
