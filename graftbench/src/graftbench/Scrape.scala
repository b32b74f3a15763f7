package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

import graft.sources.PageRetriever

/** The benchmark's in-memory fetcher: it serves schedule pages only and
  * counts every call; game and player pages must come from the cache.
  */
object Fetcher {
  @volatile var schedules: Map[String, String] = Map.empty
  val calls = new AtomicLong
  def fetch(url: String): String = {
    calls.incrementAndGet()
    schedules.getOrElse(url, throw new java.io.IOException(s"fetcher serves schedules only: $url"))
  }
}

/** `Scraper.scrapeSeasons` over the seeded page tree into a fresh embedded
  * Derby database per pass: each season is scraped, then scraped again;
  * the re-scrape must land no rows and fetch only the schedule page.
  */
final class ScrapeEtl(ctx: Ctx) extends Workload {
  private val tree = Pages.tree(ctx.seed, ScrapeEtl.Seasons)
  private val cacheDir = ctx.out.resolve("pagecache")

  def generate(): Unit = {
    Files.createDirectories(cacheDir)
    tree.pages.foreach { case (id, html) =>
      if (graft.scrape.BBRefParse.classify(id) != "SchedulePage")
        Files.writeString(cacheDir.resolve(id + ".shtml"), html)
    }
    Fetcher.schedules = tree.schedules.map { case (y, html) => graft.scrape.Scraper.scheduleUrl(y) -> html }
  }

  override def prepare(): Unit = {
    val errs = Pages.verify(tree)
    require(errs.isEmpty, s"page tree disagrees with its manifest: ${errs.take(5).mkString("; ")}")
  }

  private def reachable(year: Int): Seq[Pages.Player] =
    tree.games(year).flatMap(g => g.awayRoster ++ g.homeRoster).distinct
  private def pagesOf(year: Int): Long =
    1L + tree.games(year).size + tree.malformed(year).size + reachable(year).size

  def inputRows: Long = ScrapeEtl.Seasons.map(pagesOf).sum * 2
  def inputBytes: Long = tree.pages.values.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum +
    tree.schedules.values.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  def kernelInputs(): (Array[String], Array[Array[Float]]) = Kernels.inputs(ctx)

  def pass(passSpan: Int, pass: Int): PassExtra = {
    val root = ctx.out.resolve("scrape").resolve(s"p$pass")
    val url = s"jdbc:derby:${root.resolve("db")};create=true"
    java.sql.DriverManager.getConnection(url).close()
    val cache = cacheDir.toString
    val mk = () => new PageRetriever(cache, Fetcher.fetch, 0L)
    var parseErrors, fetches = 0L
    ScrapeEtl.Seasons.zipWithIndex.foreach { case (year, i) =>
      Seq("scrape", "rescrape").foreach { kind =>
        val before = Db.counts(url)
        val f0 = Fetcher.calls.get
        var parseFail: DataFrame = null
        val key = s"${kind}_$year"
        val c = ctx.call(passSpan, key, pass) {
          val t = graft.scrape.Scraper.scrapeSeasons(ctx.spark, Seq(year), mk, Some(url),
            Some(root.resolve(s"spool_$key").toString), _ => ())
          parseFail = t("parse_failures")
          t("play")
        }
        val nFetch = Fetcher.calls.get - f0
        fetches += nFetch
        val after = Db.counts(url)
        val landed = after.values.sum - before.values.sum
        val problems = if (!c.ok) Seq(c.err) else {
          val pf = parseFail.count()
          parseErrors += pf
          val common = Seq(
            if (nFetch != 1) Some(s"fetched $nFetch pages, want the schedule only") else None,
            if (pf != tree.malformed(year).size) Some(s"$pf parse failures, want ${tree.malformed(year).size}") else None)
          val specific = kind match {
            case "scrape" => Db.mismatches(url, tree, ScrapeEtl.Seasons.take(i + 1))
            case _ => if (landed != 0) Seq(s"re-scrape landed $landed rows") else Nil
          }
          common.flatten ++ specific
        }
        problems.foreach(m => ctx.fail(s"$key pass $pass: $m"))
        if (pass > 0) ctx.ops += OpRec(key, pass, c.wallUs / 1e6, c.ok && problems.isEmpty)
      }
    }
    val (bytes, _) = Main.dirBytes(root)
    try java.sql.DriverManager.getConnection(s"jdbc:derby:${root.resolve("db")};shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby reports a clean shutdown as an exception
    Main.deleteTree(root)
    PassExtra(bytes, 0L, 0L, parseErrors, fetches, ScrapeEtl.Seasons.map(pagesOf).sum * 2)
  }
}

object ScrapeEtl {
  val Seasons: Seq[Int] = Seq(2001, 2002)
}

/** Plain-JDBC reads of the star tables (no Spark jobs), for the checks. */
object Db {
  val Tables = Seq("venue", "team", "player", "game", "play")

  private def rows(url: String, sql: String): Seq[Seq[String]] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val b = Seq.newBuilder[Seq[String]]
      while (rs.next()) b += (1 to n).map(i => rs.getString(i))
      b.result()
    } finally c.close()
  }

  def counts(url: String): Map[String, Long] = Tables.map { t =>
    t -> (try rows(url, s"SELECT COUNT(*) FROM $t").head.head.toLong
          catch { case _: java.sql.SQLException => 0L })
  }.toMap

  /** Star tables against the manifest of the seasons scraped so far. */
  def mismatches(url: String, t: Pages.Tree, seasons: Seq[Int]): Seq[String] = {
    val games = seasons.flatMap(t.games)
    val players = games.flatMap(g => g.awayRoster ++ g.homeRoster).distinct
    def q(s: String) = s"\"$s\""
    def diff(what: String, got: Seq[Seq[String]], want: Seq[Seq[String]]): Option[String] =
      if (got.sortBy(_.mkString("|")) == want.sortBy(_.mkString("|"))) None
      else Some(s"$what: ${got.size} rows, want ${want.size}; e.g. " +
        s"${(got.toSet -- want.toSet).take(2)} vs ${(want.toSet -- got.toSet).take(2)}")
    Seq(
      diff("venue", rows(url, s"SELECT ${q("name")} FROM venue"),
        games.map(_.home.venue).distinct.map(Seq(_))),
      diff("team", rows(url, s"SELECT ${q("name")}, ${q("abbreviation")} FROM team"),
        games.flatMap(g => Seq(g.away, g.home)).distinct.map(x => Seq(x.name, x.abbr))),
      diff("player", rows(url, s"SELECT ${q("name_id")}, ${q("name")}, ${q("bats")}, ${q("throws")} FROM player"),
        players.map(p => Seq(p.nameId, p.name, p.bats.toString, p.throws.toString))),
      diff("game", rows(url, s"SELECT ${q("game_name_id")} FROM game"), games.map(g => Seq(g.nameId))),
      diff("play", rows(url,
        s"""SELECT g.${q("game_name_id")}, p.${q("play_num")}, p.${q("inning_half")}, p.${q("start_outs")},
           |p.${q("start_on_base")}, b.${q("name_id")}, f.${q("name_id")}
           |FROM play p JOIN game g ON p.${q("game_id")} = g.${q("game_id")}
           |LEFT JOIN player b ON p.${q("batter_id")} = b.${q("player_id")}
           |LEFT JOIN player f ON p.${q("pitcher_id")} = f.${q("player_id")}""".stripMargin),
        games.flatMap(g => g.plays.map(p => Seq(g.nameId, p.num.toString, p.inningHalf.toString,
          p.outs.toString, p.onBaseFlags.toString, p.batter.nameId, p.pitcher.nameId))))
    ).flatten
  }
}
