package graft.scrape

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.scrape.BBRefParse._

/** Spark pipeline from parsed pages to the reference's star schema:
  * dimension get_or_create, FK resolution, and the appearance-counter
  * disambiguation — all as joins and window functions (one shuffle per
  * key), never a driver-side loop.
  *
  * Reference semantics: deep-field bbref_pages.py — Team/Venue
  * get_or_create (337-372), name→id lookup via roster tables (307-324),
  * _PlayerAppearances lag/cumsum disambiguation (706-761).
  */
object Entities {

  /** Per-page game parse outcome: exactly one of `err`/`game` is set.
    * The attempt layer is what makes parse failures a LEDGER instead of a
    * silent flatMap-away — the reference logs each fetched-but-malformed
    * page ("missing play data, skipping", nodes.py:43-47) and so do we.
    */
  final case class GameAttempt(nameId: String, err: Option[String],
                               game: Option[ParsedGame])

  final case class PlayerAttempt(nameId: String, err: Option[String],
                                 row: Option[PlayerRow])

  /** A parse call with FULL per-page failure isolation: the Either
    * channel carries the parser's EXPECTED malformations, but a page the
    * parser never anticipated (a date div that matches the shape probe
    * yet fails java.time parsing, a truncated href the splitter indexes
    * past, any scanner edge) throws — and an uncaught throw in a
    * mapPartitions task kills the WHOLE season job, where the reference
    * catches broadly per link and skips (nodes.py:41-47 `except
    * Exception`). NonFatal only: an OOM must still fail the task.
    */
  private def attempt[A](what: String, p: => Either[String, A]): Either[String, A] =
    try p catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"$what: unexpected parse error: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Parse every game page once, keeping failures as first-class rows. */
  def gameAttempts(pages: DataFrame): Dataset[GameAttempt] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.filter(col("page_type") === "GamePage")
      .select("name_id", "html").as[(String, String)]
      .map { case (nid, html) => attempt("game page", parseGameE(nid, html)) match {
        case Right(g) => GameAttempt(nid, None, Some(g))
        case Left(e)  => GameAttempt(nid, Some(e), None)
      } }
  }

  def playerAttempts(pages: DataFrame): Dataset[PlayerAttempt] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.filter(col("page_type") === "PlayerPage")
      .select("name_id", "html").as[(String, String)]
      .map { case (nid, html) => attempt("player page", parsePlayerE(nid, html)) match {
        case Right(r) => PlayerAttempt(nid, None, Some(r))
        case Left(e)  => PlayerAttempt(nid, Some(e), None)
      } }
  }

  /** Parse all game pages once; reused by meta/roster/play extractors. */
  def parsedGames(pages: DataFrame): Dataset[ParsedGame] =
    parsedOf(gameAttempts(pages))

  /** Successful parses of an attempt set (share the cached attempts so
    * the ledger and the star build parse each page exactly once).
    */
  def parsedOf(attempts: Dataset[GameAttempt]): Dataset[ParsedGame] = {
    val spark = attempts.sparkSession
    import spark.implicits._
    attempts.flatMap(_.game)
  }

  def playerRows(pages: DataFrame): Dataset[PlayerRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    playerAttempts(pages).flatMap(_.row)
  }

  def gamesMeta(parsed: Dataset[ParsedGame]): DataFrame =
    parsed.select(col("meta.*"))

  def rosters(parsed: Dataset[ParsedGame]): DataFrame =
    parsed.select(col("meta.nameId").as("game_name_id"), explode(col("roster")).as("r"))
      .select(col("game_name_id"), col("r.side"), col("r.idx"), col("r.name"), col("r.nameId").as("name_id"))

  def rawPlays(parsed: Dataset[ParsedGame]): DataFrame =
    parsed.select(col("meta.nameId").as("game_name_id"), explode(col("plays")).as("p"))
      .select(col("game_name_id"), col("p.*"))

  /** get_or_create analog: distinct natural keys + deterministic dense
    * surrogate ids (same construction as q16).
    */
  def venueDim(games: DataFrame): DataFrame =
    games.filter(col("venue").isNotNull).select(col("venue").as("name")).distinct()
      .withColumn("venue_id", dense_rank().over(Window.orderBy("name")).cast("long"))

  def teamDim(games: DataFrame): DataFrame =
    games.select(col("awayTeam.*")).union(games.select(col("homeTeam.*")))
      .distinct()
      .withColumn("team_id",
        dense_rank().over(Window.orderBy("name", "abbreviation")).cast("long"))

  /** DB-aligned surrogate ids — the reference's get_or_create contract
    * (bbref_pages.py:337-372 Team/Venue get_or_create; the database
    * assigns an auto-increment id ONCE and never renumbers): natural keys
    * already present in `existing` keep their stored id, and genuinely
    * new keys get dense ids starting after the stored maximum, in
    * natural-key order. With no existing mapping this is exactly
    * [[graft.operators.Relational.surrogateDimLarge]] — dense 1-based
    * long ids with the global sort range-spread, no single-partition
    * window — so an incremental re-scrape against a populated database
    * can never shift an id that a fact row already references.
    */
  def alignedIds(keys: DataFrame, keyCols: Seq[String], idName: String,
                 existing: Option[DataFrame], partitions: Int = 32): DataFrame = {
    val distinctKeys = keys.select(keyCols.map(col): _*).na.drop(keyCols).distinct()
    existing match {
      case None =>
        graft.operators.Relational.surrogateDimLarge(distinctKeys, keyCols, idName, partitions)
      case Some(ex0) =>
        // Pin ONE stable snapshot of the stored mapping: `existing` is
        // typically a live JDBC read, and the caller (Scraper) upserts
        // this function's own output back into that table — without a
        // snapshot, re-evaluating the returned dim after the upsert would
        // re-read the mutated table and see every new key on BOTH sides
        // of the union below (stored AND fresh), duplicating dim rows.
        // Lifecycle: the snapshot (and the fresh-key assignment inside
        // surrogateDimLarge) are interim pins — the durable artifact is
        // the UNION mapping, which is persisted, materialized eagerly
        // (so it always predates any write-back), and then the interim
        // pins are released. The caller owns the returned pin and
        // releases it with `df.unpersist()` ([[StarBuild.release]] does
        // this for the full star build).
        val ex = ex0.select((keyCols :+ idName).map(c => col(c)): _*)
          .withColumn(idName, col(idName).cast("long"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val maxId = ex.agg(coalesce(max(col(idName)), lit(0L))).head().getLong(0)
        val freshKeys = distinctKeys
          .join(ex.select(keyCols.map(col): _*), keyCols, "left_anti")
        val freshIds = graft.operators.Relational
          .surrogateDimLarge(freshKeys, keyCols, idName, partitions)
        val out = ex.unionByName(freshIds.withColumn(idName, col(idName) + lit(maxId)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        out.count() // materialize before any write-back mutates `existing`
        ex.unpersist(blocking = false)
        freshIds.unpersist(blocking = false)
        out
    }
  }

  /** Game star rows with venue/team surrogate FKs resolved by broadcast
    * joins (dims are small by construction).
    */
  def gameStar(games: DataFrame): DataFrame =
    gameStar(games, venueDim(games), teamDim(games))

  /** As above against externally-built (e.g. DB-aligned) dims: `v` must
    * carry (name, venue_id), `t` (name, abbreviation, team_id).
    */
  def gameStar(games: DataFrame, v: DataFrame, t: DataFrame): DataFrame = {
    games
      .join(broadcast(v), games("venue") === v("name"), "left")
      .join(broadcast(t.as("away")),
        col("awayTeam.name") === col("away.name") &&
          col("awayTeam.abbreviation") === col("away.abbreviation"))
      .join(broadcast(t.as("home")),
        col("homeTeam.name") === col("home.name") &&
          col("homeTeam.abbreviation") === col("home.abbreviation"))
      .select(
        col("nameId").as("game_name_id"), col("date"),
        col("localStartTime").as("local_start_time"),
        col("timeOfDay").as("time_of_day"), col("fieldType").as("field_type"),
        col("venue_id"),
        col("away.team_id").as("away_team_id"),
        col("home.team_id").as("home_team_id"))
  }

  /** The reference's full update_db pipeline (pages.py:92-116,
    * nodes.py ScrapeNode DFS): players insert before games before plays,
    * expressed as dependency-ordered DataFrame construction — player dim
    * first, then game star rows, then plays with numeric FKs resolved
    * through broadcast dim joins. Returns every output table.
    *
    * Convenience form: parses (and caches) the game pages itself. When a
    * parsed dataset already exists — e.g. one shared across several
    * queries in a session — pass it to the two-arg overload instead so
    * the corpus is parsed exactly once; the caller then owns unpersist.
    */
  def starSchema(pages: DataFrame): Map[String, DataFrame] =
    starSchema(pages, parsedGames(pages).cache())

  /** As above, but over an externally-parsed (ideally cached) game
    * dataset — the parse is the dominant cost of the scrape pipeline, so
    * sharing it across s4/s5/s6/s7 halves the suite's work.
    */
  def starSchema(pages: DataFrame, parsed: Dataset[ParsedGame]): Map[String, DataFrame] =
    starSchema(pages, parsed, Map.empty)

  /** As above, aligned to an already-populated database: `existing` maps
    * a table name (venue/team/player/game) to its stored
    * (natural key..., surrogate id) rows, and every id assignment flows
    * through [[alignedIds]] so stored ids are reused and only new keys
    * extend the sequence — the incremental re-scrape contract
    * (pages.py:97-106 exists_in_db + get_or_create). All surrogate ids
    * come from the range-partitioned assigner, never a single-partition
    * window, so the build scales past dim-in-one-partition sizes.
    */
  def starSchema(pages: DataFrame, parsed: Dataset[ParsedGame],
                 existing: Map[String, DataFrame]): Map[String, DataFrame] =
    starSchemaBuild(pages, parsed, existing).tables

  /** A built star schema plus the id mappings it pinned. Each
    * [[alignedIds]] call persists its (natural key, surrogate id)
    * mapping — the artifact every FK join consumes — and [[release]]
    * is the caller's single hand to unpin all of them once the tables
    * are landed (spool/DB) or no longer needed. Releasing while still
    * holding the table DataFrames is safe only if `existing` sources
    * have not been mutated since (see [[alignedIds]]).
    */
  final case class StarBuild(tables: Map[String, DataFrame], pins: Seq[DataFrame]) {
    def release(): Unit = pins.foreach(_.unpersist(false))
  }

  /** [[starSchema]] with an explicit pin-lifecycle handle. */
  def starSchemaBuild(pages: DataFrame, parsed: Dataset[ParsedGame],
                      existing: Map[String, DataFrame]): StarBuild =
    starSchemaBuildWith(
      playerRows(pages).toDF("name_id", "name", "bats", "throws"),
      parsed, existing)

  /** Core build over pre-parsed inputs: `playerAttrs` carries
    * (name_id, name, bats, throws). Callers that already hold a cached
    * player-attempt set (the Scraper's parse ledger) pass its successes
    * here so player pages are parsed exactly once.
    */
  def starSchemaBuildWith(playerAttrs: DataFrame, parsed: Dataset[ParsedGame],
                          existing: Map[String, DataFrame]): StarBuild = {
    import scala.concurrent.{ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val games = gamesMeta(parsed)
    // The four id assignments are independent and each is EAGER (two
    // Spark jobs: the distinct/sort pass and the id data pass — see
    // surrogateDimLarge). Launching them from four threads lets the
    // scheduler overlap the jobs: at fixture scale the build is
    // job-launch-overhead-bound (~8 sequential mini-jobs otherwise), and
    // at cluster scale overlapping independent stages keeps executors
    // busy while one dim's shuffle is in flight. Spark job submission is
    // thread-safe by design (one SparkContext, many scheduler pools).
    val venuesF = Future(alignedIds(games.select(col("venue").as("name")),
      Seq("name"), "venue_id", existing.get("venue")))
    val teamsF = Future(alignedIds(
      games.select(col("awayTeam.*")).union(games.select(col("homeTeam.*"))),
      Seq("name", "abbreviation"), "team_id", existing.get("team")))
    val playerIdsF = Future(alignedIds(playerAttrs, Seq("name_id"), "player_id",
      existing.get("player")))
    val gameIdsF = Future(alignedIds(games.select(col("nameId").as("game_name_id")),
      Seq("game_name_id"), "game_id", existing.get("game")))
    // await ALL FOUR before extracting any result: awaiting them one by
    // one would let the first failure propagate while the others keep
    // submitting Spark jobs that could interleave with caller cleanup
    // (e.g. spark.stop())
    val Seq(venues, teams, playerIds, gameIds) =
      graft.engine.GraftSession.awaitAll(Seq(venuesF, teamsF, playerIdsF, gameIdsF))
    val playerDim = playerAttrs.join(broadcast(playerIds), Seq("name_id"))
    val gameStarDf = gameStar(games, venues, teams).join(
      broadcast(gameIds), Seq("game_name_id"))
    val plays = resolvePlays(rawPlays(parsed), rosters(parsed))
      .join(broadcast(gameStarDf.select("game_name_id", "game_id")), Seq("game_name_id"))
      .join(broadcast(playerDim.select(col("name_id").as("batter_name_id"),
        col("player_id").as("batter_id"))), Seq("batter_name_id"), "left")
      .join(broadcast(playerDim.select(col("name_id").as("pitcher_name_id"),
        col("player_id").as("pitcher_id"))), Seq("pitcher_name_id"), "left")
      .select("game_id", "play_num", "inning_half", "start_outs", "start_on_base",
        "desc", "pitch_ct", "batter_id", "pitcher_id")
    StarBuild(
      Map("venue" -> venues, "team" -> teams, "player" -> playerDim,
        "game" -> gameStarDf, "play" -> plays),
      Seq(venues, teams, playerIds, gameIds))
  }

  /** Spark regexp twin of [[BBRefParse.stripName]] (same Java regexes). */
  def stripNameCol(c: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(c, " \\w\\.", ""), " [J|S]r\\.", "")

  /** Resolve play batter/pitcher names to roster name_ids, reproducing
    * the reference's appearance-counter algorithm with window functions:
    *
    *  - side of each player from the inning half (t-batter=away, ...)
    *  - play name resolves to the roster name as-is when present, else
    *    stripped (the KeyError fallback in __player_to_id)
    *  - batter appearance number = count of that name's prior plate
    *    appearances on that side (row_number - 1)
    *  - pitcher appearance number increments only on pitcher CHANGE:
    *    flag plays whose raw pitcher differs from the next play's
    *    (lead), then cumulative-sum flags over prior plays of the same
    *    resolved name/side
    *  - id = roster ids for the name, in roster order, cycled modulo
    *    (assume a subsequent appearance cycles to the next id)
    *
    * Single shuffle per window key; roster side is broadcast.
    */
  def resolvePlays(rawPlays: DataFrame, rosters: DataFrame): DataFrame = {
    val idsByName = rosters.groupBy("game_name_id", "side", "name")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("name_id")))),
        s => s.getField("name_id")).as("ids"))
      .withColumn("n_ids", size(col("ids")))

    val sided = rawPlays
      .withColumn("batter_side",
        when(substring(col("inning"), 1, 1) === "t", "away").otherwise("home"))
      .withColumn("pitcher_side",
        when(substring(col("inning"), 1, 1) === "t", "home").otherwise("away"))

    // resolve to roster names: exact if present, else stripped
    def resolveName(df: DataFrame, nameCol: String, sideCol: String, out: String): DataFrame = {
      val names = rosters.select(col("game_name_id").as("__rg"),
        col("side").as("__rs"), col("name").as("__rn")).distinct()
      df.join(broadcast(names),
          col("game_name_id") === col("__rg") &&
            col(sideCol) === col("__rs") && col(nameCol) === col("__rn"), "left")
        .withColumn(out, coalesce(col("__rn"), stripNameCol(col(nameCol))))
        .drop("__rg", "__rs", "__rn")
    }

    val named = resolveName(
      resolveName(sided, "batter", "batter_side", "batter_res"),
      "pitcher", "pitcher_side", "pitcher_res")

    val gameOrder = Window.partitionBy("game_name_id").orderBy("playNum")
    val batterW = Window.partitionBy("game_name_id", "batter_side", "batter_res").orderBy("playNum")
    val pitcherW = Window.partitionBy("game_name_id", "pitcher_side", "pitcher_res").orderBy("playNum")

    val withAppear = named
      .withColumn("batter_appear", row_number().over(batterW) - 1)
      .withColumn("__pchange",
        when(lead(col("pitcher"), 1).over(gameOrder).isNotNull &&
          lead(col("pitcher"), 1).over(gameOrder) =!= col("pitcher"), 1).otherwise(0))
      .withColumn("pitcher_appear",
        coalesce(sum(col("__pchange")).over(
          pitcherW.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))

    def attachId(df: DataFrame, sideCol: String, nameCol: String, appearCol: String, out: String): DataFrame = {
      val ids = idsByName
        .withColumnRenamed("game_name_id", "__g").withColumnRenamed("side", "__s")
        .withColumnRenamed("name", "__n")
      df.join(broadcast(ids),
          col("game_name_id") === col("__g") && col(sideCol) === col("__s") &&
            col(nameCol) === col("__n"), "left")
        .withColumn(out,
          element_at(col("ids"), (col(appearCol) % col("n_ids")).cast("int") + 1))
        .drop("__g", "__s", "__n", "ids", "n_ids")
    }

    val resolved = attachId(
      attachId(withAppear, "batter_side", "batter_res", "batter_appear", "batter_name_id"),
      "pitcher_side", "pitcher_res", "pitcher_appear", "pitcher_name_id")

    resolved.select(
      col("game_name_id"),
      col("playNum").as("play_num"),
      expr("2 * (CAST(substring(inning, 2) AS INT) - 1) + IF(substring(inning, 1, 1) = 't', 0, 1)")
        .as("inning_half"),
      col("outs").as("start_outs"),
      expr("IF(substring(onBase,1,1)<>'-',1,0) + IF(substring(onBase,2,1)<>'-',2,0) + IF(substring(onBase,3,1)<>'-',4,0)")
        .as("start_on_base"),
      col("desc"), col("pitchCt").as("pitch_ct"),
      col("batter_name_id"), col("pitcher_name_id"))
  }
}
