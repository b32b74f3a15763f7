package graftbench

import java.time.LocalDate
import java.time.format.{DateTimeFormatter, TextStyle}
import java.util.Locale

import scala.util.Random

/** A seeded, bbref-shaped page tree and its truth manifest: per season a
  * schedule page linking game pages (plus preview links the scraper must
  * skip and malformed game pages it must report), and one page per
  * rostered player.
  */
object Pages {
  final case class Team(abbr: String, name: String, venue: String)
  final case class Player(nameId: String, name: String, bats: Int, throws: Int)
  final case class Play(num: Int, inning: String, outs: Int, onBase: String,
                        batter: Player, pitcher: Player) {
    def inningHalf: Int = graft.scrape.BBRefParse.inningHalf(inning)
    def onBaseFlags: Int = graft.scrape.BBRefParse.onBaseFlags(onBase)
  }
  final case class Game(nameId: String, date: LocalDate, away: Team, home: Team,
                        awayRoster: Seq[Player], homeRoster: Seq[Player], plays: Seq[Play])
  final case class Tree(schedules: Map[Int, String], games: Map[Int, Seq[Game]],
                        malformed: Map[Int, Seq[String]], rosters: Map[String, Seq[Player]],
                        pages: Map[String, String]) {
    def players: Seq[Player] = rosters.values.flatten.toSeq
  }

  val Teams: Seq[Team] = Seq(
    Team("ANA", "Anaheim Angels", "Edison International Field"),
    Team("BAL", "Baltimore Orioles", "Oriole Park at Camden Yards"),
    Team("BOS", "Boston Red Sox", "Fenway Park"),
    Team("CLE", "Cleveland Indians", "Jacobs Field"),
    Team("DET", "Detroit Tigers", "Comerica Park"),
    Team("SEA", "Seattle Mariners", "Safeco Field"))
  private val First = Seq("Alan", "Brad", "Carl", "Dale", "Eric", "Fred", "Gary", "Hank", "Ivan",
    "Jack", "Kurt", "Luis", "Mark", "Neil", "Omar", "Pete", "Ruben", "Sean", "Troy", "Wade")
  private val Last = Seq("Adams", "Baker", "Clark", "Davis", "Evans", "Foster", "Garcia", "Hughes",
    "Irwin", "Jones", "Keller", "Lopez", "Miller", "Nolan", "Ortiz", "Parker", "Quinn", "Reyes",
    "Stone", "Turner", "Vaughn", "Walker", "Young", "Zimmer")
  val GamesPerSeason = 8
  val MalformedPerSeason = 2
  val RosterSize = 11 // nine batters, a starter and a reliever
  private val Hands = Seq("Left", "Right", "Both")
  private val Runners = Seq("---", "1--", "-2-", "--3", "12-", "1-3", "-23", "123")

  def tree(seed: Long, seasons: Seq[Int]): Tree = {
    val rnd = new Random(seed)
    val used = scala.collection.mutable.Set.empty[String]
    val ids = scala.collection.mutable.Map.empty[String, Int]
    def player(): Player = {
      var name = ""
      while (name.isEmpty || used(name))
        name = s"${First(rnd.nextInt(First.size))} ${Last(rnd.nextInt(Last.size))}"
      used += name
      val Array(f, l) = name.split(" ")
      val stem = (l.take(5) + f.take(2)).toLowerCase(Locale.ROOT)
      val k = ids.getOrElse(stem, 0) + 1
      ids(stem) = k
      Player(f"$stem$k%02d", name, rnd.nextInt(3), rnd.nextInt(2))
    }
    val rosters = Teams.map(t => t.abbr -> Seq.fill(RosterSize)(player())).toMap
    val pages = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var games = Map.empty[Int, Seq[Game]]
    var malformed = Map.empty[Int, Seq[String]]
    val schedules = seasons.map { year =>
      val start = LocalDate.of(year, 4, 1)
      val gs = (0 until GamesPerSeason).map { i =>
        val Seq(a, h) = rnd.shuffle(Teams).take(2)
        val date = start.plusDays(2L * i)
        val id = s"${h.abbr}${date.format(DateTimeFormatter.BASIC_ISO_DATE)}0"
        game(rnd, id, date, a, h, rosters(a.abbr), rosters(h.abbr))
      }
      val bad = (0 until MalformedPerSeason).map { j =>
        val date = start.plusDays(2L * (GamesPerSeason + j))
        s"${Teams(j).abbr}${date.format(DateTimeFormatter.BASIC_ISO_DATE)}0"
      }
      val prev = (0 until 2).map { j =>
        val date = start.plusDays(2L * (GamesPerSeason + MalformedPerSeason + j))
        s"${Teams(j + 2).abbr}${date.format(DateTimeFormatter.BASIC_ISO_DATE)}0"
      }
      gs.foreach(g => pages(g.nameId) = gamePage(g, year))
      bad.foreach(id => pages(id) = malformedPage(id))
      games += year -> gs; malformed += year -> bad
      year -> schedulePage(year, rnd.shuffle(
        gs.map(g => s"/boxes/${g.home.abbr}/${g.nameId}.shtml") ++
          bad.map(id => s"/boxes/${id.take(3)}/$id.shtml") ++
          prev.map(id => s"/previews/$year/$id.shtml")))
    }.toMap
    rosters.values.flatten.foreach(p => pages(p.nameId) = playerPage(p))
    Tree(schedules, games, malformed, rosters, pages.toMap)
  }

  private def game(rnd: Random, id: String, date: LocalDate, away: Team, home: Team,
                   ar: Seq[Player], hr: Seq[Player]): Game = {
    val order = Array(0, 0) // next batter per side
    val change = Array(3 + rnd.nextInt(2), 3 + rnd.nextInt(2)) // inning the reliever enters
    var num = 0
    val plays = for {
      inning <- 1 to 5
      (half, side) <- Seq(("t", 0), ("b", 1))
      j <- 0 until 3 + rnd.nextInt(2)
    } yield {
      val (bat, field) = if (side == 0) (ar, hr) else (hr, ar)
      val batter = bat(order(side) % 9)
      order(side) += 1
      val pitcher = if (inning > change(1 - side)) field(10) else field(9)
      val p = Play(num, s"$half$inning", math.min(j, 2), Runners(rnd.nextInt(Runners.size)),
        batter, pitcher)
      num += 1
      p
    }
    Game(id, date, away, home, ar, hr, plays)
  }

  def playerPage(p: Player): String =
    s"""<html><head><title>${p.name} Stats</title></head><body>
       |<div id="info"><div id="meta"><h1><span>${p.name}</span></h1>
       |<p><strong>Position:</strong> Infielder</p>
       |<p><strong>Bats: </strong>${Hands(p.bats)} &bull; <strong>Throws: </strong>${Hands(p.throws)}</p>
       |</div></div><div id="content">Career statistics.</div></body></html>""".stripMargin

  private def rosterTable(team: Team, roster: Seq[Player]): String =
    roster.map { p =>
      s"""<tr><th scope="row" data-append-csv="${p.nameId}" data-stat="player"><a href="/players/${p.nameId.head}/${p.nameId}.shtml">${p.name}</a></th><td data-stat="AB">4</td></tr>"""
    }.mkString(
      s"""<div class="placeholder"></div>
         |<!--
         |<div class="table_container"><table class="stats_table" id="${team.name.replace(" ", "")}batting"><tbody>
         |""".stripMargin, "\n", "\n</tbody></table></div>\n-->\n")

  def gamePage(g: Game, year: Int): String = {
    val day = g.date.getDayOfWeek.getDisplayName(TextStyle.FULL, Locale.US)
    val month = g.date.getMonth.getDisplayName(TextStyle.FULL, Locale.US)
    val plays = g.plays.map { p =>
      s"""<tr id="event_${p.num + 1}"><th data-stat="inning">${p.inning}</th><td data-stat="outs">${p.outs}</td><td data-stat="runners_on_bases_pbp">${p.onBase}</td><td data-stat="pitches_pbp">4,(2-1)</td><td data-stat="batter">${p.batter.name}</td><td data-stat="pitcher">${p.pitcher.name}</td><td data-stat="play_desc">Groundout: SS-1B</td></tr>"""
    }.mkString("\n")
    s"""<html><head><title>${g.away.name} vs ${g.home.name} Box Score</title></head><body>
       |<div class="scorebox">
       |<div><strong><a href="/teams/${g.away.abbr}/$year.shtml">${g.away.name}</a></strong></div>
       |<div><strong><a href="/teams/${g.home.abbr}/$year.shtml">${g.home.name}</a></strong></div>
       |<div class="scorebox_meta">
       |<div>$day, $month ${g.date.getDayOfMonth}, $year</div>
       |<div>Start Time: 7:05 p.m. Local</div>
       |<div>Venue: ${g.home.venue}</div>
       |<div>Night Game, on grass</div>
       |</div></div>
       |${rosterTable(g.away, g.awayRoster)}${rosterTable(g.home, g.homeRoster)}<div class="placeholder"></div>
       |<!--
       |<div class="table_container" id="div_play_by_play"><table id="play_by_play"><tbody>
       |$plays
       |</tbody></table></div>
       |-->
       |</body></html>""".stripMargin
  }

  /** A game page whose scorebox carries no team links: the scraper's
    * "missing play data" case, reported in the parse ledger.
    */
  def malformedPage(id: String): String =
    s"""<html><head><title>$id</title></head><body><div class="scorebox"><p>Postponed</p></div></body></html>"""

  def schedulePage(year: Int, links: Seq[String]): String =
    links.map(l => s"""<p class="game"><em><a href="$l">Boxscore</a></em></p>""")
      .mkString(s"""<html><body><h1>$year MLB Schedule</h1><div class="section_content">\n""", "\n",
        "\n</div></body></html>")

  /** Parses every page with BBRefParse and lists each disagreement with
    * the manifest; set-up fails unless the list is empty.
    */
  def verify(t: Tree): Seq[String] = {
    import graft.scrape.BBRefParse
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    t.schedules.foreach { case (year, html) =>
      val got = BBRefParse.scheduleLinks(html).map(BBRefParse.nameIdOf).toSet
      val want = (t.games(year).map(_.nameId) ++ t.malformed(year)).toSet
      if (got != want) errs += s"schedule $year links $got != $want"
    }
    t.games.values.flatten.foreach { g =>
      BBRefParse.parseGameE(g.nameId, t.pages(g.nameId)) match {
        case Left(e) => errs += s"game ${g.nameId}: $e"
        case Right(pg) =>
          val m = pg.meta
          if (m.date != g.date.toString || !m.venue.contains(g.home.venue) ||
              m.awayTeam.abbreviation != g.away.abbr || m.homeTeam.abbreviation != g.home.abbr)
            errs += s"game ${g.nameId}: meta $m"
          val roster = pg.roster.map(r => (r.side, r.nameId))
          val want = g.awayRoster.map(p => ("away", p.nameId)) ++ g.homeRoster.map(p => ("home", p.nameId))
          if (roster != want) errs += s"game ${g.nameId}: roster differs"
          val plays = pg.plays.map(p => (p.playNum, p.inning, p.outs, p.onBase, p.batter, p.pitcher))
          val wantPlays = g.plays.map(p => (p.num, p.inning, p.outs, p.onBase, p.batter.name, p.pitcher.name))
          if (plays != wantPlays) errs += s"game ${g.nameId}: plays differ"
      }
    }
    t.malformed.values.flatten.foreach { id =>
      if (BBRefParse.parseGameE(id, t.pages(id)).isRight) errs += s"malformed $id parsed"
    }
    t.players.foreach { p =>
      if (BBRefParse.parsePlayerE(p.nameId, t.pages(p.nameId)) !=
          Right(BBRefParse.PlayerRow(p.nameId, p.name, p.bats, p.throws)))
        errs += s"player ${p.nameId} parse differs"
    }
    errs.toSeq
  }
}
