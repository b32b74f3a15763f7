package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.scrape.Entities
import graft.sources.HtmlSource

/** §2.2 scraper-equivalent ETL: HTML fixture corpus → star schema.
  *
  * Inputs are the reference's own test fixtures (read-only); the sfDir
  * argument is unused because these operators consume HTML, not the
  * TPC-H-ish tables. Every key is oracle-checked: s8's multi-wave crawl
  * replays as a maxWaves-bounded unrolled BFS union (see [[s8OracleSql]],
  * with ScalaTest ground truth in CrawlSpec/ScrapeSpec besides);
  * s1/s2/s3/s4/s5 replay their extractions over `read_text`, and
  * s6/s7 operate on the BUILT star schema, which IS relational — they
  * land it as parquet and carry DuckDB oracles over the landed tables
  * (see [[oracles]]).
  */
object ScrapeSuite {
  type Q = (SparkSession, String) => DataFrame

  val FixtureDir = "/root/reference/tests/scraping/resources"

  private def pages(s: SparkSession) = HtmlSource.pages(s, FixtureDir)

  // Parse each game page once per session: s4/s5/s6/s7 all consume the
  // parsed dataset, and re-running the single-pass extractor over the
  // corpus is the dominant cost of the scrape suite. The star-schema
  // table map is memoized on top of it so s6 and s7 share one build.
  private val parsedCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, org.apache.spark.sql.Dataset[graft.scrape.BBRefParse.ParsedGame]]()
  private def parsed(s: SparkSession) =
    parsedCache.computeIfAbsent(s, s => Entities.parsedGames(pages(s)).cache())

  private val starCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Entities.StarBuild]()
  private def star(s: SparkSession) =
    starCache.computeIfAbsent(s,
      s => Entities.starSchemaBuild(pages(s), parsed(s), Map.empty)).tables

  // One link-graph extraction per session, shared by s8 (BFS frontier)
  // and s9 (linkrank): both walk the same graph, and the extraction is
  // the wholetext corpus parse — the expensive part. The spool is a
  // temp dir cleaned on JVM exit (Spool.dir), file-backed so both
  // consumers' iterative joins read id-size parquet, never HTML.
  private val graphCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()
  private def linkGraphSpooled(s: SparkSession): DataFrame =
    graphCache.computeIfAbsent(s, s => {
      val dir = graft.sources.Spool.dir(s, "scrape_graph")
      graft.scrape.Crawl.linkGraph(pages(s))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
      s.read.parquet(dir)
    })

  /** Where s6/s7 land the built star schema so DuckDB can hash-check
    * them: the star build's OUTPUT is plain relational data even though
    * its INPUT is HTML DuckDB can't read, so landing it as parquet turns
    * s6 (table counts) and s7 (player stats) from rows-only into
    * oracle-checked queries — the oracle SQL `read_parquet`s these files
    * directly. A driver-local path is correct here: this is a single-JVM
    * verification artifact, not a production sink (those go through
    * [[graft.sources.Spool]], which refuses non-cluster-visible paths on
    * real masters).
    *
    * Resolution: [[setStarOracleDir]] wins when set — Verify pins a path
    * keyed by its OUTPUT dir, so every (including name-filtered) Verify
    * run against the same outDir lands and references the SAME path.
    * Before r12 this was always pid-scoped, so a filtered re-run
    * rewrote oracle_sql.json to a dir only the NEW pid's JVM could have
    * landed and check.py failed s6/s7 unless the full set ran in that
    * JVM. Unset callers (tests, Bench) fall back to the pid-scoped
    * default below, which keeps concurrent unpinned runs on one host
    * from overwriting each other's landed tables mid-read.
    */
  def StarOracleDir: String = {
    val o = starOracleDirRef.get()
    if (o != null) o else DefaultStarOracleDir
  }

  private val starOracleDirRef =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Pin the star-oracle landing dir for this JVM. Must happen before
    * any scrape query lands tables (asserted): the landed files and the
    * oracle SQL must resolve the same path.
    */
  def setStarOracleDir(dir: String): Unit = {
    require(landedCache.isEmpty,
      "star tables already landed — pin the star oracle dir before running scrape queries")
    starOracleDirRef.set(dir)
    // pinned JVMs (Verify) never touch DefaultStarOracleDir, but they
    // are the most frequent graft processes on a gate host — keep them
    // participating in the stale-sibling GC or abandoned pid dirs from
    // older unpinned JVMs would accumulate unboundedly in /tmp
    sweepStaleSiblings()
  }

  /** Sweep stale pid-scoped sibling dirs left by DEAD graft JVMs: the
    * landed tables must outlive their process (the driver's DuckDB
    * replay of the oracle SQL runs after Verify's JVM has exited), so a
    * same-JVM shutdown hook would break the s6/s7 oracle check —
    * instead each new graft JVM garbage-collects abandoned sibling
    * dirs. Live pids are skipped, so a concurrent verification run is
    * never swept mid-read.
    */
  private def sweepStaleSiblings(): Unit = {
    val tmp = sys.props("java.io.tmpdir")
    // Deletion requires BOTH (a) the owning pid gone AND (b) the dir
    // older than the sweep horizon. The age guard is what makes the gate
    // ordering-safe: any graft JVM that loads this object AFTER Verify
    // exits but BEFORE the driver's DuckDB compare (e.g. Bench in the
    // same gate run) sees a dead owner pid, but the freshly-landed
    // parquet is minutes old — it survives. Only genuinely abandoned
    // dirs from a previous gate window (>6 h) are collected. The whole
    // sweep is best-effort: an undeletable foreign dir (permissions,
    // another user on a shared host) must never fail allocation of THIS
    // process's own dir — a throw here would be an
    // ExceptionInInitializerError that breaks every scrape query in the
    // JVM.
    try {
      val horizonMs = 6L * 3600 * 1000
      val now = System.currentTimeMillis()
      val stale = new java.io.File(tmp).listFiles()
      if (stale != null) stale.foreach { f =>
        try {
          val n = f.getName
          if (n.startsWith("graft_star_oracle_")) {
            val alive = n.stripPrefix("graft_star_oracle_").toLongOption
              .exists(pid => ProcessHandle.of(pid).isPresent)
            if (!alive && now - f.lastModified() > horizonMs)
              graft.sources.Spool.deleteRecursively(f.toPath)
          }
        } catch { case _: Exception => () } // skip undeletable siblings
      }
    } catch { case _: Exception => () }
  }

  private lazy val DefaultStarOracleDir: String = {
    sweepStaleSiblings()
    s"${sys.props("java.io.tmpdir")}/graft_star_oracle_${ProcessHandle.current().pid()}"
  }

  private val landedCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Map[String, DataFrame]]()
  private def landedStar(s: SparkSession): Map[String, DataFrame] =
    landedCache.computeIfAbsent(s, s => {
      // Land the five tables CONCURRENTLY (scala Futures submitting
      // independent Spark jobs, the same pattern as the r9 dim-build
      // parallelization): the writes share no lineage below the cached
      // parse, so sequential landing just serializes five scheduler
      // round-trips — wall time of the sum instead of the slowest.
      //
      // repartition(1), NOT coalesce(1): one file per table is a
      // fixture-scale verification artifact (the production landing path
      // is Scraper's spool, which keeps partitioning), but coalesce
      // propagates the single partition back through the whole build —
      // every upstream join/window of the table would run in ONE task.
      // repartition inserts a shuffle boundary instead, so the build
      // keeps its parallelism and only the final write is single-file.
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      val landed = star(s).toSeq.map { case (name, df) =>
        Future {
          df.repartition(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$StarOracleDir/$name.parquet")
          name -> s.read.parquet(s"$StarOracleDir/$name.parquet")
        }
      }
      // await every landing before letting computeIfAbsent complete
      // exceptionally, else a retrying caller would race fresh Overwrite
      // writes against still-running orphan writers on the same paths
      graft.engine.GraftSession.awaitAll(landed).toMap
    })

  /** Drop this session's memoized parse + star schema (test teardown),
    * releasing the build's pinned id mappings with it.
    */
  def clear(s: SparkSession): Unit = {
    landedCache.remove(s)
    graphCache.remove(s) // spool files are Spool-managed (JVM-exit cleanup)
    Option(starCache.remove(s)).foreach(_.release())
    Option(parsedCache.remove(s)).foreach(_.unpersist())
  }

  val queries: Map[String, Q] = Map(
    "s1_link_classify" -> ((s, _) => {
      pages(s).select("name_id", "page_type").orderBy("name_id")
    }),

    "s2_schedule_links" -> ((s, _) => {
      import s.implicits._
      pages(s).filter(col("page_type") === "SchedulePage")
        .select("name_id", "html").as[(String, String)]
        .flatMap { case (nid, html) =>
          graft.scrape.BBRefParse.scheduleLinks(html).map(u => (nid, u))
        }
        .toDF("schedule_id", "game_url")
        .orderBy("schedule_id", "game_url")
    }),

    "s3_player_parse" -> ((s, _) => {
      Entities.playerRows(pages(s))
        .toDF("name_id", "name", "bats", "throws")
        .orderBy("name_id")
    }),

    "s4_game_meta_parse" -> ((s, _) => {
      Entities.gameStar(Entities.gamesMeta(parsed(s))).orderBy("game_name_id")
    }),

    "s5_play_parse" -> ((s, _) => {
      val p = parsed(s)
      Entities.resolvePlays(Entities.rawPlays(p), Entities.rosters(p))
        .orderBy("game_name_id", "play_num")
    }),

    "s6_star_schema_build" -> ((s, _) => {
      import s.implicits._
      val tables = landedStar(s)
      tables.toSeq.sortBy(_._1)
        .map { case (name, df) => (name, df.count()) }
        .toDF("table_name", "n_rows")
        .orderBy("table_name")
    }),

    // the crawl ledger from the reference's recursive frontier
    // (nodes.py ScrapeNode DFS): every page reachable from the schedule
    // seeds, its discovery wave, and whether the cache held it — the
    // in_cache=false rows are the to-visit list a live PageRetriever
    // would fetch
    "s8_crawl_frontier" -> ((s, _) => {
      graft.scrape.Crawl.frontier(pages(s), preGraph = Some(linkGraphSpooled(s)))
        .orderBy("depth", "name_id")
    }),

    // crawl-prioritization rank over the same link graph s8 walks
    // (shared spool — the corpus is parsed once for both): integer
    // fixed-point PageRank (10 iterations, damping 0.85), the order a
    // live fetcher would refresh pages in
    "s9_linkrank" -> ((s, _) => {
      graft.scrape.Crawl.linkRankFromGraph(linkGraphSpooled(s))
        .orderBy("name_id")
    }),

    // the reference's end goal (README: "aggregate your own stats"):
    // plate appearances, games and strikeout-ish outcomes per player,
    // joined through the built star schema with broadcast dims
    "s7_player_stats" -> ((s, _) => {
      val t = landedStar(s)
      t("play")
        .join(broadcast(t("player")),
          col("batter_id") === col("player_id"))
        .groupBy("player_id", "name")
        .agg(
          count(lit(1)).as("plate_appearances"),
          countDistinct(col("game_id")).as("games"),
          sum(when(lower(col("desc")).contains("strikeout"), 1L).otherwise(0L)).as("strikeouts"),
          sum(when(lower(col("desc")).startsWith("single"), 1L).otherwise(0L)).as("singles"),
          sum(when(lower(col("desc")).startsWith("home run"), 1L).otherwise(0L)).as("home_runs"))
        .orderBy("player_id")
    })
  )

  private def starGlob(t: String) = s"'$StarOracleDir/$t.parquet/*.parquet'"

  // --- SQL fragment builders for the s3/s4 read_text replays --------------
  /** DuckDB twin of Html.text + String.trim over a fragment expression:
    * tags stripped to '', the fixed entity set Html.decode handles
    * (nbsp/lt/gt/quot/apos/amp) replaced, then both ends trimmed with
    * [\x00-\x20] (exactly java.lang.String.trim's class). `&amp;` is
    * replaced LAST: Html.decode is a single left-to-right scan, so
    * `&amp;lt;` decodes to the literal text `&lt;` — with amp last the
    * chain does the same (`&amp;lt;` matches no earlier pattern, then
    * amp yields `&lt;`), whereas amp-first would double-decode to `<`.
    * Numeric character references stay fixture-only (none appear in the
    * reference fixture corpus; the Scala side handles them generally).
    */
  private def htmlTextSql(e: String): String = jtrimSql(cellTextSql(e))

  /** Html.text alone — decode(stripTags(_)), NO trim: the cell-value twin
    * for s5's play/roster cells, where the Scala side applies `.trim`
    * only to specific fields (outs, pitch count, roster names) and keeps
    * e.g. play descriptions byte-exact.
    *
    * stripTags is a '<'/'>' state machine, so a BARE '>' outside any tag
    * is consumed as a tag-end and never emitted (pitch sequences like
    * "B>F>X" lose their '>'s) — hence the extra replace AFTER the tag
    * regex and BEFORE entity decode, so a '>' born from '&gt;' still
    * survives exactly as in decode-after-stripTags order.
    */
  private def cellTextSql(e: String): String =
    "replace(replace(replace(replace(replace(replace(replace(" +
      s"regexp_replace($e, '<[^>]*>', '', 'g'), " +
      "'>', ''), " +
      "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
      "'&apos;', ''''), '&amp;', '&')"

  /** java.lang.String.trim twin: both ends trimmed with [\x00-\x20]
    * (exactly trim's "all control chars <= U+0020" class, a superset of
    * RE2's \s).
    */
  private def jtrimSql(e: String): String =
    s"regexp_replace(regexp_replace($e, '^[\\x00-\\x20]+', ''), '[\\x00-\\x20]+$$', '')"

  /** BBRefParse.stripName twin (Java replaceAll is global → 'g'). */
  private def stripNameSql(e: String): String =
    s"regexp_replace(regexp_replace($e, ' \\w\\.', '', 'g'), ' [J|S]r\\.', '', 'g')"

  /** Html.elements(_, tag) as a non-overlapping regex: open tag must be
    * followed by space/'>'/tab/newline, inner runs to the FIRST close tag
    * (the Scala scanner is flat in exactly the same way).
    */
  private def elemRe(tag: String) = s"(?s)<$tag(?:>|[ \\t\\n][^>]*>)(.*?)</$tag>"

  /** The DuckDB twin of BBRefParse.parseRosters/parsePlays +
    * Entities.resolvePlays — s5 end to end, no landed intermediate.
    *
    * Extraction replay (the part that was long declared rows-only):
    *  - Html.placeholderComments ≡ one scan regex `class="placeholder"
    *    .*?<!--(.*?)-->` (each marker's FIRST following comment; fixture
    *    pages never interleave two markers before one comment);
    *  - roster = first two "batting" comment tables → `th` cells carrying
    *    data-append-csv + data-stat="player", name = first-anchor text
    *    trimmed, with the collision rule replayed as a group count (a
    *    stripped name shared by ≥2 rows of a side keeps both raws —
    *    equivalent to the reference's sequential pass for every corpus
    *    without chained cross-collisions, bbref_pages.py:169-185);
    *  - plays = the play_by_play comment table → `tr` ids starting
    *    "event_", play_num = ordinal among them, cells re-keyed by
    *    data-stat with th-then-td order (Scala's toMap overwrite ≡ take
    *    LAST), value = Html.text (entity chain, NO trim); a row missing
    *    inning/outs-int/on-base/batter/pitcher drops on both sides.
    * The appearance-counter resolution (windows over play_num) is plain
    * SQL, mirroring resolvePlays clause for clause.
    */
  private def s5OracleSql: String = {
    def cellOf(stat: String) = s"list_filter(cells, c -> c.stat = '$stat')[-1].txt"
    def cellPresent(stat: String) = s"len(list_filter(cells, c -> c.stat = '$stat')) > 0"
    val outsInt = s"TRY_CAST(${jtrimSql(cellOf("outs"))} AS INTEGER)"
    // plain vals (no interpolation) so regex '$'s stay literal
    val thElem = "(?s)<th(?:>|[ \\t\\n][^>]*>).*?</th>"
    val tdElem = "(?s)<td(?:>|[ \\t\\n][^>]*>).*?</td>"
    val trElem = "(?s)<tr(?:>|[ \\t\\n][^>]*>).*?</tr>"
    val trInner = "(?s)^<tr(?:>|[ \\t\\n][^>]*>)(.*)</tr>$"
    val cellInner = "(?s)^<t[hd](?:>|[ \\t\\n][^>]*>)(.*)</t[hd]>$"
    s"""WITH f AS (
       |  SELECT regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', '') AS game_name_id,
       |         content
       |  FROM read_text('$FixtureDir/**/*.shtml')
       |  WHERE regexp_matches(regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', ''),
       |                       '${HtmlSource.GameIdRe}')),
       |pc AS (
       |  SELECT game_name_id,
       |    regexp_extract_all(content, '(?s)class="placeholder".*?<!--(.*?)-->', 1) AS comments
       |  FROM f),
       |seg AS (
       |  SELECT game_name_id,
       |    list_filter(comments, c -> contains(c, 'batting') AND contains(c, '<table'))[1:2] AS bts,
       |    list_filter(comments, c -> contains(c, 'id="play_by_play"') AND contains(c, '<table'))[1] AS pbp
       |  FROM pc),
       |rtab AS (
       |  SELECT game_name_id, CASE s.i WHEN 1 THEN 'away' ELSE 'home' END AS side, bts[s.i] AS tbl
       |  FROM seg, (VALUES (1), (2)) s(i) WHERE len(bts) >= s.i),
       |rth AS (
       |  SELECT game_name_id, side,
       |    list_filter(
       |      regexp_extract_all(tbl, '$thElem'),
       |      c -> regexp_matches(c, '^<th[^>]*[ \\t\\n]data-append-csv="') AND
       |           regexp_matches(c, '^<th[^>]*[ \\t\\n]data-stat="player"')) AS ths
       |  FROM rtab),
       |rrow AS (
       |  SELECT game_name_id, side, u.r.idx AS idx,
       |    ${htmlTextSql(s"regexp_extract(u.r.elem, '${elemRe("a")}', 1)")} AS raw_name,
       |    regexp_extract(u.r.elem, '[ \\t\\n]data-append-csv="([^"]*)"', 1) AS name_id
       |  FROM rth,
       |    (SELECT unnest(list_transform(ths, (x, i) -> struct_pack(elem := x, idx := i - 1))) ) u(r)),
       |roster AS (
       |  SELECT game_name_id, side, idx, name_id,
       |    CASE WHEN count(*) OVER (PARTITION BY game_name_id, side, ${stripNameSql("raw_name")}) > 1
       |         THEN raw_name ELSE ${stripNameSql("raw_name")} END AS name
       |  FROM rrow),
       |ptr AS (
       |  SELECT game_name_id,
       |    list_filter(
       |      regexp_extract_all(pbp, '$trElem'),
       |      t -> regexp_matches(t, '^<tr[^>]*[ \\t\\n]id="event_')) AS trs
       |  FROM seg WHERE pbp IS NOT NULL),
       |prow AS (
       |  SELECT game_name_id, u.r.play_num AS play_num,
       |    list_transform(
       |      list_concat(
       |        regexp_extract_all(regexp_extract(u.r.elem, '$trInner', 1), '$thElem'),
       |        regexp_extract_all(regexp_extract(u.r.elem, '$trInner', 1), '$tdElem')),
       |      c -> struct_pack(
       |        stat := regexp_extract(c, '[ \\t\\n]data-stat="([^"]*)"', 1),
       |        txt := ${cellTextSql(s"regexp_extract(c, '$cellInner', 1)")})) AS cells
       |  FROM ptr,
       |    (SELECT unnest(list_transform(trs, (x, i) -> struct_pack(elem := x, play_num := i - 1))) ) u(r)),
       |rawplays AS (
       |  SELECT game_name_id, play_num,
       |    ${cellOf("inning")} AS inning,
       |    $outsInt AS outs,
       |    ${cellOf("runners_on_bases_pbp")} AS on_base,
       |    COALESCE(${jtrimSql(cellOf("pitches_pbp"))}, '') AS pitch_ct,
       |    COALESCE(${cellOf("play_desc")}, '') AS play_desc,
       |    ${cellOf("batter")} AS batter,
       |    ${cellOf("pitcher")} AS pitcher
       |  FROM prow
       |  WHERE ${cellPresent("inning")} AND $outsInt IS NOT NULL
       |    AND ${cellPresent("runners_on_bases_pbp")} AND ${cellPresent("batter")} AND ${cellPresent("pitcher")}),
       |ids AS (
       |  SELECT game_name_id, side, name, list(name_id ORDER BY idx) AS ids
       |  FROM roster GROUP BY 1, 2, 3),
       |rnames AS (SELECT DISTINCT game_name_id AS rg, side AS rs, name AS rn FROM roster),
       |sided AS (
       |  SELECT *,
       |    CASE WHEN substr(inning, 1, 1) = 't' THEN 'away' ELSE 'home' END AS batter_side,
       |    CASE WHEN substr(inning, 1, 1) = 't' THEN 'home' ELSE 'away' END AS pitcher_side
       |  FROM rawplays),
       |named AS (
       |  SELECT s.*,
       |    COALESCE(rb.rn, ${stripNameSql("s.batter")}) AS batter_res,
       |    COALESCE(rp.rn, ${stripNameSql("s.pitcher")}) AS pitcher_res
       |  FROM sided s
       |  LEFT JOIN rnames rb ON s.game_name_id = rb.rg AND s.batter_side = rb.rs AND s.batter = rb.rn
       |  LEFT JOIN rnames rp ON s.game_name_id = rp.rg AND s.pitcher_side = rp.rs AND s.pitcher = rp.rn),
       |appear AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY game_name_id, batter_side, batter_res ORDER BY play_num) - 1 AS batter_appear,
       |    CASE WHEN lead(pitcher) OVER (PARTITION BY game_name_id ORDER BY play_num) IS NOT NULL
       |           AND lead(pitcher) OVER (PARTITION BY game_name_id ORDER BY play_num) <> pitcher
       |         THEN 1 ELSE 0 END AS pchange
       |  FROM named),
       |appear2 AS (
       |  SELECT *,
       |    COALESCE(sum(pchange) OVER (PARTITION BY game_name_id, pitcher_side, pitcher_res ORDER BY play_num
       |                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pitcher_appear
       |  FROM appear),
       |resolved AS (
       |  SELECT a.*,
       |    ib.ids[CAST(a.batter_appear % len(ib.ids) AS INTEGER) + 1] AS batter_name_id,
       |    ip.ids[CAST(a.pitcher_appear % len(ip.ids) AS INTEGER) + 1] AS pitcher_name_id
       |  FROM appear2 a
       |  LEFT JOIN ids ib ON a.game_name_id = ib.game_name_id AND a.batter_side = ib.side AND a.batter_res = ib.name
       |  LEFT JOIN ids ip ON a.game_name_id = ip.game_name_id AND a.pitcher_side = ip.side AND a.pitcher_res = ip.name)
       |SELECT game_name_id, play_num,
       |  2 * (CAST(substr(inning, 2) AS INTEGER) - 1)
       |    + CASE WHEN substr(inning, 1, 1) = 't' THEN 0 ELSE 1 END AS inning_half,
       |  outs AS start_outs,
       |  CASE WHEN substr(on_base, 1, 1) <> '-' THEN 1 ELSE 0 END
       |    + CASE WHEN substr(on_base, 2, 1) <> '-' THEN 2 ELSE 0 END
       |    + CASE WHEN substr(on_base, 3, 1) <> '-' THEN 4 ELSE 0 END AS start_on_base,
       |  play_desc AS "desc", pitch_ct, batter_name_id, pitcher_name_id
       |FROM resolved
       |ORDER BY game_name_id, play_num""".stripMargin
  }

  /** The shared CTE chain extracting the crawl link graph from the
    * fixture corpus — everything through `edges` — used by BOTH the s8
    * BFS oracle and the s9 linkrank oracle (the two queries walk the
    * same graph, so the extraction twin is written once).
    *
    * The link edges are extracted ONCE from every cached page: schedule →
    * boxscore ids via the s2 regex + the nameIdOf twin (last path
    * component minus .s?html), game → roster ids via the s5 roster cells
    * (placeholder "batting" comment tables, th cells with data-append-csv
    * + data-stat="player"), gated on the same scorebox-teams
    * precondition as parseGameE (≥2 /teams/ anchors in the scorebox
    * slice — a game page failing that parses to Left and contributes no
    * roster on the Spark side either). Player pages are leaves.
    *
    * Known divergence class (none reachable with current fixtures): the
    * `ggated` gate mirrors parseGameE's EXPECTED-failure Left channel
    * (≥2 /teams/ scorebox anchors), but the Spark side also swallows
    * UNEXPECTED throws per page (the NonFatal attempt in
    * Crawl.linkGraph / Entities.attempt). A game page that passes the
    * scorebox gate yet throws mid-parse (e.g. an unparseable date div)
    * would contribute no roster edges in Spark but still yield gedges
    * here. Every current fixture parses cleanly, and a future
    * divergence fails loudly in Verify rather than silently; if such a
    * fixture is ever added, extend this gate (e.g. require a parseable
    * date div) to keep parity.
    */
  private def crawlGraphCtes: String = {
    val thElem = "(?s)<th(?:>|[ \\t\\n][^>]*>).*?</th>"
    s"""cache AS MATERIALIZED (
       |  SELECT regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', '') AS name_id,
       |         content
       |  FROM read_text('$FixtureDir/**/*.shtml')),
       |typed AS MATERIALIZED (
       |  SELECT name_id, content,
       |    CASE WHEN regexp_matches(name_id, '${HtmlSource.GameIdRe}') THEN 'GamePage'
       |         WHEN regexp_matches(name_id, '${HtmlSource.PlayerIdRe.replace("'", "''")}') THEN 'PlayerPage'
       |         WHEN name_id LIKE '%schedule%' THEN 'SchedulePage'
       |         ELSE 'unknown' END AS page_type
       |  FROM cache),
       |cids AS MATERIALIZED (SELECT DISTINCT name_id FROM typed),
       |sedges AS MATERIALIZED (
       |  SELECT src, regexp_replace(regexp_extract(u, '([^/]+)$$', 1), '\\.s?html$$', '') AS dst
       |  FROM (SELECT name_id AS src,
       |               unnest(regexp_extract_all(content, '(?s)<p class="game">.*?<em>\\s*<a href="([^"]+)"', 1)) AS u
       |        FROM typed WHERE page_type = 'SchedulePage')
       |  WHERE u NOT LIKE '%/previews/%'),
       |gpages AS MATERIALIZED (
       |  SELECT name_id, content,
       |    strpos(content, 'class="scorebox"') AS sb,
       |    strpos(content, 'class="scorebox_meta"') AS mi
       |  FROM typed WHERE page_type = 'GamePage'),
       |ggated AS MATERIALIZED (
       |  SELECT name_id, content FROM gpages
       |  WHERE sb > 0 AND len(list_filter(
       |    regexp_extract_all(substr(content, sb, CASE WHEN mi > sb THEN mi - sb ELSE 20000 END),
       |      '(?s)<a(?:>|[ \\t\\n][^>]*>).*?</a>'),
       |    a -> regexp_extract(a, '[ \\t\\n]href="([^"]*)"', 1) LIKE '/teams/%')) >= 2),
       |gedges AS MATERIALIZED (
       |  SELECT name_id AS src,
       |         regexp_extract(th, '[ \\t\\n]data-append-csv="([^"]*)"', 1) AS dst
       |  FROM (
       |    SELECT name_id,
       |      unnest(flatten(list_transform(
       |        list_filter(regexp_extract_all(content, '(?s)class="placeholder".*?<!--(.*?)-->', 1),
       |          c -> contains(c, 'batting') AND contains(c, '<table'))[1:2],
       |        t -> list_filter(regexp_extract_all(t, '$thElem'),
       |          c -> regexp_matches(c, '^<th[^>]*[ \\t\\n]data-append-csv="') AND
       |               regexp_matches(c, '^<th[^>]*[ \\t\\n]data-stat="player"'))))) AS th
       |    FROM ggated)),
       |edges AS MATERIALIZED (SELECT src, dst FROM sedges UNION ALL SELECT src, dst FROM gedges)""".stripMargin
  }

  /** The DuckDB twin of [[graft.scrape.Crawl.linkRank]]: the power
    * iteration unrolled to its fixed round count, every round a pure
    * BIGINT-floor-division function of the previous one
    * (r_{k+1}(v) = (0.15·S) div N + (85 · Σ (r_k(u) div outdeg(u)))
    * div 100 with S = Crawl.RankScale), so the two engines agree
    * bit-for-bit. DuckDB SUM over BIGINT widens to HUGEINT — values
    * stay under 2^63 (total mass ≤ S), so the final CAST to BIGINT is
    * lossless and matches Spark's LongType sums.
    */
  private def s9OracleSql: String = {
    val iters = graft.scrape.Crawl.DefaultRankIters
    val scale = graft.scrape.Crawl.RankScale
    val base15 = 15L * scale / 100L
    val head =
      s"""WITH $crawlGraphCtes,
         |dedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         |nodes AS MATERIALIZED (
         |  SELECT name_id FROM typed UNION SELECT dst AS name_id FROM dedges),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS odeg FROM dedges GROUP BY src),
         |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS MATERIALIZED (
         |  SELECT name_id, $scale // (SELECT n FROM nn) AS r FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT nd.name_id,
         |    ($base15 // (SELECT n FROM nn)) + ((85 * COALESCE(q.s, 0)) // 100) AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS name_id, SUM(r.r // d.odeg) AS s
         |    FROM dedges e JOIN deg d ON e.src = d.src
         |    JOIN r${k - 1} r ON r.name_id = e.src
         |    GROUP BY e.dst) q ON nd.name_id = q.name_id)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT name_id, CAST(r AS BIGINT) AS rank_fp FROM r$iters ORDER BY name_id"
  }

  /** The DuckDB twin of [[graft.scrape.Crawl.frontier]] — the last query
    * to gain an oracle (declared rows-only through round 10). The BFS is
    * replayed as a maxWaves-bounded unrolled union rather than a
    * recursive CTE: recursive-CTE UNION dedups whole rows, but a page
    * rediscovered at a later depth differs in its `depth` column, so the
    * "first discovery wave wins" semantics need an anti-join against ALL
    * prior waves — exactly what the unrolled `seen` accumulators express,
    * and exactly the `left_anti` in Crawl.frontier.
    *
    * Wave d = DISTINCT dst of edges from (wave d-1 ∩ in-cache)
    * ([[crawlGraphCtes]] — see there for the extraction twin and its
    * known divergence class), minus everything already discovered; edges
    * exist only for cached pages, so joining on src reproduces the cache
    * semi-join, and an empty wave leaves all later waves empty, matching
    * the loop's early exit. Reference semantics under test: nodes.py:9-58
    * (ScrapeNode DFS with skip-existing).
    */
  private def s8OracleSql: String = {
    val maxWaves = 8 // Crawl.frontier's default bound
    val base =
      s"""WITH $crawlGraphCtes,
         |l0 AS MATERIALIZED (SELECT name_id, 0 AS depth, TRUE AS in_cache FROM typed WHERE page_type = 'SchedulePage'),
         |seen0 AS MATERIALIZED (SELECT name_id FROM l0)""".stripMargin
    val waves = (1 to maxWaves).map { d =>
      s"""w$d AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS name_id
         |  FROM edges e JOIN l${d - 1} p ON e.src = p.name_id AND p.in_cache
         |  WHERE e.dst NOT IN (SELECT name_id FROM seen${d - 1})),
         |l$d AS MATERIALIZED (
         |  SELECT w.name_id, $d AS depth, (c.name_id IS NOT NULL) AS in_cache
         |  FROM w$d w LEFT JOIN cids c ON w.name_id = c.name_id),
         |seen$d AS MATERIALIZED (SELECT name_id FROM seen${d - 1} UNION ALL SELECT name_id FROM w$d)""".stripMargin
    }
    val union = (0 to maxWaves)
      .map(d => s"SELECT name_id, depth, in_cache FROM l$d").mkString("\nUNION ALL ")
    (base +: waves).mkString(",\n") + "\n" + union + "\nORDER BY depth, name_id"
  }

  /** s1 classifies on the FILENAME alone — DuckDB's
    * `read_text` lists the same fixture tree and the same anchored
    * regexes run under RE2 — s2's per-block first-em/first-anchor walk
    * is recomputable as ONE non-greedy dotall regex over the raw bytes
    * (a block with no boxscore link is skipped by both: the scan just
    * runs into the next block's `em`), s3's player extraction is a
    * tag-strip + two regexes DuckDB can replay over `read_text` (the
    * info-block slice, the first `h1`, the first two `Bats:/Throws:`
    * hands — a malformed page drops on both sides), and s6/s7 consume
    * the BUILT schema, landed at [[StarOracleDir]], so DuckDB recomputes
    * them from parquet and hash-checks the results. s5 — the round-9
    * stretch goal — replays the full play pipeline in [[s5OracleSql]].
    */
  // def, not val: the s6/s7 SQL embeds StarOracleDir, which Verify may
  // pin (setStarOracleDir) AFTER this object loads — an eager map would
  // freeze the default pid path into the dumped contract
  def oracles: Map[String, String] = Map(
    "s8_crawl_frontier" -> s8OracleSql,
    "s9_linkrank" -> s9OracleSql,
    "s5_play_parse" -> s5OracleSql,
    // the DuckDB twin of BBRefParse.parsePlayerE: seg = html from
    // id="info"; name = text of the first h1 (tags stripped to '',
    // exactly like Html.stripTags); hands = first two
    // (Bats:|Throws:)\s*(\w+) matches in the tag-stripped first 12000
    // chars of seg, first->bats second->throws, LEFT/RIGHT/BOTH ->
    // 0/1/2; a page missing any of these parses to NULL and is dropped,
    // mirroring the Either->flatMap skip on the Spark side. The f CTE
    // applies the FULL s1 classify precedence (GameIdRe first, then
    // PlayerIdRe — game ids also match the player pattern): a file in
    // the PlayerPage dir whose name_id does not classify as a player id
    // (malformed_arod, or a game-id-named stray) never reaches the
    // parser on the Spark side either. The name trim class is
    // [\x00-\x20] — exactly java.lang.String.trim's "all control chars
    // <= U+0020", a superset of RE2's \s.
    "s3_player_parse" ->
      s"""WITH f AS (
         |  SELECT regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', '') AS name_id,
         |         content
         |  FROM read_text('$FixtureDir/PlayerPage/*.shtml')
         |  WHERE regexp_matches(regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', ''),
         |                       '${HtmlSource.PlayerIdRe.replace("'", "''")}')
         |    AND NOT regexp_matches(regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', ''),
         |                       '${HtmlSource.GameIdRe}')),
         |seg AS (
         |  SELECT name_id,
         |         CASE WHEN strpos(content, 'id="info"') > 0
         |              THEN substr(content, strpos(content, 'id="info"')) END AS s
         |  FROM f),
         |ext AS (
         |  SELECT name_id,
         |    regexp_replace(regexp_replace(replace(regexp_replace(
         |      regexp_extract(s, '(?s)<h1[^>]*>(.*?)</h1>', 1), '<[^>]*>', '', 'g'),
         |      '&nbsp;', ' '), '^[\\x00-\\x20]+', ''), '[\\x00-\\x20]+$$', '') AS name,
         |    list_transform(
         |      regexp_extract_all(
         |        replace(regexp_replace(substr(s, 1, 12000), '<[^>]*>', '', 'g'), '&nbsp;', ' '),
         |        '(?:Bats:|Throws:)\\s*(\\w+)', 1),
         |      h -> upper(h)) AS hands
         |  FROM seg WHERE s IS NOT NULL),
         |rows_ AS (
         |  SELECT name_id, name,
         |    CASE hands[1] WHEN 'LEFT' THEN 0 WHEN 'RIGHT' THEN 1 WHEN 'BOTH' THEN 2 END AS bats,
         |    CASE hands[2] WHEN 'LEFT' THEN 0 WHEN 'RIGHT' THEN 1 WHEN 'BOTH' THEN 2 END AS throws
         |  FROM ext)
         |SELECT name_id, name, bats, throws FROM rows_
         |WHERE name IS NOT NULL AND name <> '' AND bats IS NOT NULL AND throws IS NOT NULL
         |ORDER BY name_id""".stripMargin,
    "s2_schedule_links" ->
      s"""WITH links AS (
         |  SELECT regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', '') AS schedule_id,
         |         unnest(regexp_extract_all(content, '(?s)<p class="game">.*?<em>\\s*<a href="([^"]+)"', 1)) AS u
         |  FROM read_text('$FixtureDir/SchedulePage/*.shtml'))
         |SELECT schedule_id, '${graft.scrape.BBRefParse.BaseUrl}' || u AS game_url
         |FROM links WHERE u NOT LIKE '%/previews/%'
         |ORDER BY schedule_id, game_url""".stripMargin,
    "s1_link_classify" ->
      s"""WITH f AS (
         |  SELECT regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', '') AS name_id
         |  FROM read_text('$FixtureDir/**/*.shtml'))
         |SELECT name_id,
         |  CASE WHEN regexp_matches(name_id, '${HtmlSource.GameIdRe}') THEN 'GamePage'
         |       WHEN regexp_matches(name_id, '${HtmlSource.PlayerIdRe.replace("'", "''")}') THEN 'PlayerPage'
         |       WHEN name_id LIKE '%schedule%' THEN 'SchedulePage'
         |       ELSE 'unknown' END AS page_type
         |FROM f ORDER BY name_id""".stripMargin,

    // The DuckDB twin of BBRefParse.parseTeams/parseMeta + Entities
    // venueDim/teamDim/gameStar: every scorebox field the reference
    // extracts (bbref_pages.py:374-511) is a flat-regex target — team
    // anchors by href prefix, meta divs by text shape — and the element
    // walk (Html.elements) is a FLAT scan (open tag to FIRST close, then
    // continue after it), so a non-greedy non-overlapping regex
    // reproduces it exactly. Dims replay as dense_rank over the same
    // distinct keys; only the roster/play tables (nested data-stat
    // cells) stay beyond SQL (s5/s8).
    "s4_game_meta_parse" ->
      s"""WITH f AS (
         |  SELECT regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', '') AS game_name_id,
         |         content
         |  FROM read_text('$FixtureDir/**/*.shtml')
         |  WHERE regexp_matches(regexp_replace(regexp_extract(filename, '([^/]+)$$', 1), '\\.s?html$$', ''),
         |                       '${HtmlSource.GameIdRe}')),
         |pos AS (
         |  SELECT game_name_id, content,
         |    strpos(content, 'class="scorebox"') AS sb,
         |    strpos(content, 'class="scorebox_meta"') AS mi
         |  FROM f),
         |seg AS (
         |  SELECT game_name_id,
         |    CASE WHEN sb > 0 THEN substr(content, sb,
         |      CASE WHEN mi > sb THEN mi - sb ELSE 20000 END) END AS sbseg,
         |    CASE WHEN mi > 0 THEN substr(content, mi, 8000) END AS metaseg
         |  FROM pos),
         |teams AS (
         |  SELECT game_name_id, metaseg,
         |    list_filter(regexp_extract_all(sbseg, '(?s)<a(?:>|[ \\t\\n][^>]*>).*?</a>'),
         |      a -> regexp_extract(a, '[ \\t\\n]href="([^"]*)"', 1) LIKE '/teams/%') AS tas
         |  FROM seg),
         |tx AS (
         |  SELECT game_name_id,
         |    ${htmlTextSql(s"regexp_extract(tas[1], '${elemRe("a")}', 1)")} AS away_name,
         |    string_split(regexp_extract(tas[1], '[ \\t\\n]href="([^"]*)"', 1), '/')[3] AS away_abbr,
         |    ${htmlTextSql(s"regexp_extract(tas[2], '${elemRe("a")}', 1)")} AS home_name,
         |    string_split(regexp_extract(tas[2], '[ \\t\\n]href="([^"]*)"', 1), '/')[3] AS home_abbr,
         |    list_transform(regexp_extract_all(metaseg, '${elemRe("div")}', 1),
         |      d -> ${htmlTextSql("d")}) AS texts
         |  FROM teams WHERE len(tas) >= 2),
         |fld AS (
         |  SELECT game_name_id, away_name, away_abbr, home_name, home_abbr,
         |    list_filter(texts, t -> regexp_matches(t, '^[^ ]*day,( |$$)'))[1] AS date_txt,
         |    regexp_extract(list_filter(texts, t -> contains(t, 'Time: '))[1], '(?s)^.*Time: (.*)$$', 1) AS lst,
         |    list_filter(texts, t -> lower(t) LIKE 'day%' OR lower(t) LIKE 'night%')[1] AS tod_txt,
         |    list_filter(texts, t -> t LIKE '%turf' OR t LIKE '%grass')[1] AS field_txt,
         |    list_filter(texts, t -> t LIKE 'Venue: %')[1] AS venue_txt
         |  FROM tx),
         |g AS (
         |  SELECT game_name_id, away_name, away_abbr, home_name, home_abbr,
         |    strftime(strptime(date_txt, '%A, %B %-d, %Y'), '%Y-%m-%d') AS date,
         |    CASE WHEN regexp_matches(lst, '(^|\\s)Local\\s*$$')
         |         THEN strftime(try_strptime(upper(replace(replace(lst, ' Local', ''), '.', '')), '%-I:%M %p'), '%H:%M')
         |    END AS local_start_time,
         |    CASE WHEN lower(tod_txt) LIKE 'day%' THEN 0
         |         WHEN tod_txt IS NOT NULL THEN 1 END AS time_of_day,
         |    CASE WHEN field_txt LIKE '%turf' THEN 0
         |         WHEN field_txt IS NOT NULL THEN 1 END AS field_type,
         |    string_split(venue_txt, ': ')[2] AS venue
         |  FROM fld),
         |vd AS (
         |  SELECT name, dense_rank() OVER (ORDER BY name) AS venue_id
         |  FROM (SELECT DISTINCT venue AS name FROM g WHERE venue IS NOT NULL) _v),
         |td AS (
         |  SELECT name, abbreviation, dense_rank() OVER (ORDER BY name, abbreviation) AS team_id
         |  FROM (SELECT DISTINCT away_name AS name, away_abbr AS abbreviation FROM g
         |        UNION SELECT home_name, home_abbr FROM g) _t)
         |SELECT g.game_name_id, g.date, g.local_start_time, g.time_of_day, g.field_type,
         |  vd.venue_id, ta.team_id AS away_team_id, th.team_id AS home_team_id
         |FROM g LEFT JOIN vd ON g.venue = vd.name
         |JOIN td ta ON g.away_name = ta.name AND g.away_abbr = ta.abbreviation
         |JOIN td th ON g.home_name = th.name AND g.home_abbr = th.abbreviation
         |ORDER BY game_name_id""".stripMargin,

    "s6_star_schema_build" ->
      Seq("game", "play", "player", "team", "venue").map(t =>
        s"SELECT '$t' AS table_name, COUNT(*)::BIGINT AS n_rows FROM read_parquet(${starGlob(t)})")
        .mkString("", "\nUNION ALL ", "\nORDER BY table_name"),

    "s7_player_stats" ->
      s"""SELECT pl.player_id, pl.name,
         |  COUNT(*)::BIGINT AS plate_appearances,
         |  COUNT(DISTINCT p.game_id)::BIGINT AS games,
         |  CAST(SUM(CASE WHEN lower(p."desc") LIKE '%strikeout%' THEN 1 ELSE 0 END) AS BIGINT) AS strikeouts,
         |  CAST(SUM(CASE WHEN lower(p."desc") LIKE 'single%' THEN 1 ELSE 0 END) AS BIGINT) AS singles,
         |  CAST(SUM(CASE WHEN lower(p."desc") LIKE 'home run%' THEN 1 ELSE 0 END) AS BIGINT) AS home_runs
         |FROM read_parquet(${starGlob("play")}) p
         |JOIN read_parquet(${starGlob("player")}) pl ON p.batter_id = pl.player_id
         |GROUP BY pl.player_id, pl.name ORDER BY pl.player_id""".stripMargin
  )
}
