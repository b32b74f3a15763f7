package graft.scrape

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{PageRetriever, Sinks}

/** The reference's end-to-end entry point, re-expressed on the engine's
  * tested pieces (deep-field scraper.py:46-60 `scrape_year`: season →
  * schedule URL → `ScrapeNode.scrape(crawl_delay)` → relational DB):
  *
  *   1. seed one schedule URL per season,
  *   2. [[Crawl.crawlAndFetch]] expands schedule → games → players,
  *      fetching every wave through a [[PageRetriever]] (cache-first,
  *      crawl-delay rate limit — the reference's politeness contract),
  *   3. [[Entities.starSchema]] builds venue/team/player/game/play,
  *   4. [[Sinks.jdbcUpsert]] lands each table insert-if-absent on its
  *      natural key, in dependency order (players before games before
  *      plays — pages.py:92-116 update_db), so re-running a season is a
  *      no-op exactly like the reference's exists_in_db skip.
  */
object Scraper {

  /** Earliest scrapable season (scraper.py:11 EARLIEST_YEAR). */
  val EarliestYear = 1920

  /** robots.txt politeness floor, ms (scraping BBREF_CRAWL_DELAY = 3.0 s,
    * scraper.py:21-23).
    */
  val PoliteDelayMs = 3000L

  /** The reference's operator-facing argument contract
    * (scraper.py:27-45 parse_year / parse_crawl_delay):
    * seasons outside [[EarliestYear]]..current year are rejected.
    */
  def validateYears(years: Seq[Int],
                    latest: Int = java.time.Year.now.getValue): Unit = {
    val bad = years.filter(y => y < EarliestYear || y > latest)
    require(bad.isEmpty,
      s"seasons must be within $EarliestYear..$latest; rejected: ${bad.mkString(", ")}")
  }

  /** Crawl-delay politeness check (scraper.py:35-44): a negative delay is
    * rejected; a delay below the robots.txt floor is ALLOWED but warned
    * about — the reference warns and pauses, then honors the caller's
    * value. `warn` is injectable so tests can observe the warning without
    * scraping a log.
    */
  def checkedDelayMs(requested: Long,
                     warn: String => Unit = m => System.err.println(m)): Long = {
    require(requested >= 0, s"crawl delay cannot be negative: $requested ms")
    if (requested < PoliteDelayMs)
      warn(s"robots.txt specifies a crawl delay of ${PoliteDelayMs} ms but " +
        s"$requested ms was given; it is HIGHLY RECOMMENDED to be polite " +
        "and abide by the crawl delay")
    requested
  }

  /** Natural keys per star table (db/models.py:14-83 unique indexes). */
  val NaturalKeys: Map[String, Seq[String]] = Map(
    "venue" -> Seq("name"),
    "team" -> Seq("name", "abbreviation"),
    "player" -> Seq("name_id"),
    "game" -> Seq("game_name_id"),
    "play" -> Seq("game_id", "play_num"))

  /** Surrogate-id column per dimension table (models.py auto-increment
    * primary keys) — the mappings an incremental scrape must preserve.
    */
  val SurrogateIds: Map[String, String] = Map(
    "venue" -> "venue_id", "team" -> "team_id",
    "player" -> "player_id", "game" -> "game_id")

  /** Dependency order for relational insert (children first). */
  val InsertOrder: Seq[String] = Seq("venue", "team", "player", "game", "play")

  def scheduleUrl(year: Int): String =
    s"${BBRefParse.BaseUrl}/leagues/MLB/$year-schedule.shtml"

  /** How many individual ledger rows get their own warn line; beyond
    * this, one summary line carries the remainder.
    */
  val WarnedLedgerRows = 20

  /** Warn a (name_id, err) failure ledger with BOUNDED driver memory and
    * log volume: the first [[WarnedLedgerRows]] rows each get a line,
    * then one "and N more" line, then the total. An upstream layout
    * change that breaks every page of a large crawl must not turn the
    * ledger into an O(failures) driver collect + log flood — operators
    * retry from the returned DataFrame, not from the log.
    */
  private[graft] def warnLedger(ledger: DataFrame, warn: String => Unit,
                                rowVerb: String, totalMsg: Long => String): Unit = {
    val total = ledger.count()
    if (total > 0) {
      ledger.limit(WarnedLedgerRows).collect().foreach(r =>
        warn(s"scrape: page ${r.getString(0)} $rowVerb: ${r.getString(1)}"))
      if (total > WarnedLedgerRows)
        warn(s"scrape: ... and ${total - WarnedLedgerRows} more")
      warn(totalMsg(total))
    }
  }

  /** Scrape seasons end-to-end; returns the star-schema tables plus two
    * failure ledgers, each (name_id, err): `"fetch_failures"` (pages the
    * crawl could not retrieve) and `"parse_failures"` (pages retrieved
    * fine whose HTML the parsers rejected).
    * When `jdbcUrl` is set, each table is also upserted idempotently.
    * Years are validated against the reference's bounds; the retriever's
    * crawl delay is the caller's business on this overload (tests inject
    * zero-delay fakes) — use the `delayMs` overload for the checked path.
    *
    * Failure contract (reference nodes.py:41-47 catches and logs per
    * link): a failed page never aborts the season — every failure is
    * WARNED about through `warn` and returned in the ledger so operators
    * can retry, instead of being silently dropped from the scrape.
    *
    * Materialization contract: every table is landed in a parquet spool
    * (`spoolDir`, else a [[graft.sources.Spool]]-resolved directory) and
    * the returned DataFrames read from that spool — so all interim pins
    * (the parse cache, the id-mapping persists) are RELEASED before
    * returning and nothing stays in executor storage. The upserts run
    * from the landed parquet, after which the DB holds the same rows.
    */
  def scrapeSeasons(spark: SparkSession, years: Seq[Int],
                    mk: () => PageRetriever,
                    jdbcUrl: Option[String] = None,
                    spoolDir: Option[String] = None,
                    warn: String => Unit = m => System.err.println(m)): Map[String, DataFrame] = {
    validateYears(years)
    val fcol = org.apache.spark.sql.functions.col _
    val spool = spoolDir.getOrElse(graft.sources.Spool.dir(spark, "scrape_tables"))
    val crawled = Crawl.crawlAndFetch(spark, years.map(scheduleUrl), mk)
    val failures = crawled.filter(!fcol("ok")).select("name_id", "err")
    warnLedger(failures, warn, "failed and was skipped",
      total => s"scrape: $total page(s) failed; " +
        "see the fetch_failures ledger to retry them")
    val pages = crawled.filter(fcol("ok"))
    // incremental contract: surrogate ids already stored in the target DB
    // are reused verbatim (get_or_create), so fact rows written by an
    // earlier run keep referencing the right dimension rows — without
    // this a re-scrape of a grown season would renumber every id and
    // corrupt the play/game FK chain on upsert
    val existing: Map[String, DataFrame] = jdbcUrl match {
      case None => Map.empty
      case Some(url) =>
        SurrogateIds.collect { case (table, id) if Sinks.tableExists(url, table) =>
          table -> Sinks.readJdbc(spark, url, table)
            .select((NaturalKeys(table) :+ id).map(fcol): _*)
        }
    }
    // parse ledger (reference nodes.py:43-47 "missing play data,
    // skipping"): a page that FETCHED fine but fails to parse must be
    // reported, not silently flatMapped away — a season with one
    // malformed boxscore should say so instead of quietly producing one
    // fewer game. Attempts are cached so ledger + star build parse each
    // page exactly once.
    val gameAtt = Entities.gameAttempts(pages).cache()
    val playerAtt = Entities.playerAttempts(pages).cache()
    val parseFailDf = gameAtt.toDF().select("nameId", "err")
      .unionByName(playerAtt.toDF().select("nameId", "err"))
      .filter(fcol("err").isNotNull)
      .select(fcol("nameId").as("name_id"), fcol("err"))
    // landed in the spool (never collected): the ledger survives the
    // attempt-cache release below with bounded driver memory even when a
    // layout change breaks EVERY page of a large crawl
    parseFailDf.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$spool/parse_failures")
    // read back with the schema just written: no footer-inference job
    val parseFailures = spark.read.schema(parseFailDf.schema).parquet(s"$spool/parse_failures")
    warnLedger(parseFailures, warn, "fetched but failed to parse and was skipped",
      total => s"scrape: $total page(s) fetched but failed to parse; " +
        "see the parse_failures ledger")
    val parsed = Entities.parsedOf(gameAtt)
    val build = Entities.starSchemaBuildWith(
      playerAtt.toDF().filter(fcol("err").isNull)
        .select(fcol("row.nameId").as("name_id"), fcol("row.name").as("name"),
          fcol("row.bats").as("bats"), fcol("row.throwsHand").as("throws")),
      parsed, existing)
    val landed = build.tables.map { case (t, df) =>
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$spool/$t")
      t -> spark.read.schema(df.schema).parquet(s"$spool/$t")
    }
    for (url <- jdbcUrl; table <- InsertOrder)
      Sinks.jdbcUpsert(landed(table), url, table, NaturalKeys(table), 8, 1000)
    // tables are landed (and upserted): nothing needs the pins any more
    build.release()
    gameAtt.unpersist(blocking = false)
    playerAtt.unpersist(blocking = false)
    landed + ("fetch_failures" -> failures) + ("parse_failures" -> parseFailures)
  }

  /** As above, with the reference's checked crawl-delay contract: builds
    * the retriever itself from a cache dir + fetcher, rejecting negative
    * delays and warning below the politeness floor (scraper.py:35-44).
    * `delayMs` is the GLOBAL budget (one request per `delayMs` across
    * the whole crawl, like the reference's single process); each of the
    * E per-partition retrievers is built with the derived `delayMs * E`
    * ([[PageRetriever.derivedDelayMs]]) so running distributed never
    * multiplies the aggregate request rate by the parallelism.
    */
  def scrapeSeasons(spark: SparkSession, years: Seq[Int], cacheDir: String,
                    fetch: String => String, delayMs: Long,
                    jdbcUrl: Option[String]): Map[String, DataFrame] = {
    val perRetriever = PageRetriever.derivedDelayMs(spark, checkedDelayMs(delayMs))
    scrapeSeasons(spark, years,
      () => new PageRetriever(cacheDir, fetch, perRetriever), jdbcUrl)
  }
}
