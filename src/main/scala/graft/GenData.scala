package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.GraftSession

/** Deterministic synthetic-data generator for scale-validation benches.
  *
  * `runMain graft.GenData <outDir> <sf>` writes the full TESTDATA.md
  * table set (same schemas and value distributions as the driver's
  * read-only fixtures at /root/testdata — recon'd by sampling, not
  * copied) at an arbitrary scale factor into a SEPARATE directory.
  * Purpose: the driver data stops at sf0.1; measuring per-query scaling
  * exponents needs the SAME generator at two scales, so bench runs use
  * gen0.1 → gen1 (not driver-sf0.1 → gen1, which would conflate
  * generator differences with scaling).
  *
  * Everything is a pure column function of the row id hashed with a
  * fixed seed (xxhash64), except lineitem's l_linenumber, the row's rank
  * within its order — fully distributed generation, no driver-side
  * RNG loops, and the generator is bit-deterministic: the same (sf,
  * table) always produces the same rows. Cross-scale row IDENTITY holds
  * only where no column depends on a table size: the dims
  * (region/nation/customer/supplier/part) and embeddings (label and
  * vector are functions of id alone) are strict supersets across
  * scales, while orders/lineitem/events FK columns (mod a scale-
  * dependent key space) and documents' open-vocabulary tail (id space ∝
  * nDoc) re-draw with sf — the DISTRIBUTION is scale-stable but row i
  * is not. The scaling benches only need same-generator determinism at
  * each scale, which holds everywhere. File count grows
  * with rows (one output partition per ~600k rows) the way a real
  * partitioned landing would, so scan parallelism scales with the data
  * instead of being pinned at one file.
  */
object GenData {

  private def h(seed: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: cols): _*)

  /** uniform [0, 1) from a salted row hash */
  private def u01(seed: Int, id: Column): Column =
    pmod(h(seed, id), lit(1000000L)).cast("double") / 1000000.0

  private def pick(seed: Int, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), pmod(h(seed, id), lit(values.size)).cast("int") + 1)

  /** Zipf(s)-distributed rank in [0, n): inverse CDF of the bounded
    * continuous power law, F⁻¹(u) = (1 + u·(n^(1−s) − 1))^(1/(1−s)),
    * floored to an integer rank — rank 0 is the hot head (s = 1.1,
    * n = 15000 puts ~11% of all draws on it). Pure column math from the
    * same salted row hash as the uniform draw, so the skewed corpora
    * stay bit-deterministic and any engine can replay the key algebra.
    */
  private def zipfKey(seed: Int, id: Column, n: Long, s: Double): Column = {
    val e = 1.0 - s // negative for s > 1
    val x = pow(lit(1.0) + u01(seed, id) * (math.pow(n.toDouble, e) - 1.0), 1.0 / e)
    least(greatest((floor(x) - 1).cast("long"), lit(0L)), lit(n - 1))
  }

  private def ntzDays(base: String, days: Column): Column =
    (unix_timestamp(lit(base), "yyyy-MM-dd") + days * 86400L)
      .cast("timestamp").cast("timestamp_ntz")

  def write(df: DataFrame, out: String, rows: Long): Unit =
    df.repartition(math.max(1L, rows / 600000L).toInt)
      .write.mode("overwrite").parquet(out)

  /** Write `df` as ONE parquet FILE at `dest` (not a directory): write
    * single-partition to a sibling temp dir, stage the part file as a
    * sibling `.new`, then swap it into place. Shared by GenData (events
    * fixture layout) and StreamScale (arrival-sequence files).
    *
    * Ordering is crash-tolerant: the NEW file is fully staged before the
    * previous output is touched, so a crash mid-swap leaves either the
    * old output or both (old + staged `.new`), never neither. A
    * directory-shaped previous `dest` (e.g. a plain parquet write from
    * an older run) is removed RECURSIVELY — `Files.move` replaces files,
    * not non-empty directories.
    */
  def writeSingleParquetFile(dest: String)(df: DataFrame): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val destP = Paths.get(dest)
    val tmp = destP.resolveSibling(s".${destP.getFileName}.tmp")
    val staged = destP.resolveSibling(s".${destP.getFileName}.new")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    def ls(p: java.nio.file.Path): List[java.nio.file.Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    val part = ls(tmp).find(_.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written under $tmp"))
    Files.move(part, staged, StandardCopyOption.REPLACE_EXISTING)
    if (Files.isDirectory(destP)) graft.sources.Spool.deleteRecursively(destP)
    Files.move(staged, destP, StandardCopyOption.REPLACE_EXISTING)
    graft.sources.Spool.deleteRecursively(tmp)
  }

  private val AllTables = Set("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    // trailing literal 'zipf' flips the fact-key distributions (orders
    // o_custkey, lineitem l_orderkey, events user_id, documents source)
    // from uniform to Zipf(1.1) — the skew-stress corpus for the
    // q3/q21/t13 family; every other column is unchanged
    val (zipf, rest) = (args.contains("zipf"), args.filterNot(_ == "zipf"))
    require(rest.length == 2 || rest.length == 3,
      "usage: GenData <outDir> <sf> [tableCsv] [zipf] — tableCsv is ONE comma-separated arg (e.g. 'events' or 'events,documents')")
    val outDir = rest(0)
    val sf = rest(1).toDouble
    val only: Option[Set[String]] = if (rest.length == 3) Some(rest(2).split(",").toSet) else None
    // a typo'd table name must fail loudly, not silently generate nothing
    // and print a success summary
    only.foreach { ts =>
      val unknown = ts -- AllTables
      require(unknown.isEmpty,
        s"unknown table(s) ${unknown.mkString(", ")}; known: ${AllTables.toSeq.sorted.mkString(", ")}")
    }
    def wants(t: String): Boolean = only.forall(_.contains(t))
    require(!outDir.startsWith("/root/testdata"), "never write into the driver's read-only testdata")
    val spark = GraftSession.local()
    import spark.implicits._

    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    val (nCust, nSupp, nPart, nOrd, nLi, nEv, nDoc, nEmb) =
      (n(150000), n(10000), n(200000), n(1500000), n(6000000), n(1000000), n(50000), n(20000))

    // --- dims -------------------------------------------------------------
    if (wants("region")) write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"), s"$outDir/region.parquet", 5)
    if (wants("nation")) write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), s"$outDir/nation.parquet", 25)

    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    if (wants("customer")) write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h(11, col("id")), lit(25)).cast("int").as("c_nationkey"),
      round(u01(12, col("id")) * 10000.0, 2).as("c_acctbal"),
      pick(13, col("id"), segs).as("c_mktsegment")), s"$outDir/customer.parquet", nCust)

    if (wants("supplier")) write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(h(21, col("id")), lit(25)).cast("int").as("s_nationkey"),
      round(u01(22, col("id")) * 10000.0, 2).as("s_acctbal")), s"$outDir/supplier.parquet", nSupp)

    val adjs = Seq("large", "hot", "blue", "small", "dim", "spring", "metal", "plated")
    val nouns = Seq("ring", "bolt", "case", "tube", "disk", "panel", "cog", "strap")
    if (wants("part")) write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(31, col("id"), adjs), pick(32, col("id"), nouns)).as("p_name"),
      concat(lit("Brand#"), pmod(h(33, col("id")), lit(20)).cast("string")).as("p_brand"),
      pick(34, col("id"), Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD")).as("p_type"),
      (pmod(h(35, col("id")), lit(50)).cast("int") + 1).as("p_size"),
      round(lit(900.0) + pmod(h(36, col("id")), lit(10000)).cast("double") * 0.1, 2)
        .as("p_retailprice")), s"$outDir/part.parquet", nPart)

    // --- facts ------------------------------------------------------------
    def key(seed: Int, n: Long): Column =
      if (zipf) zipfKey(seed, col("id"), n, 1.1) else pmod(h(seed, col("id")), lit(n))

    if (wants("orders")) write(spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      key(41, nCust).as("o_custkey"),
      pick(42, col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u01(43, col("id")) * 499000.0, 2).as("o_totalprice"),
      ntzDays("1995-01-01", pmod(h(44, col("id")), lit(2400))).as("o_orderdate"),
      pick(45, col("id"),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      s"$outDir/orders.parquet", nOrd)

    // each order's lines are numbered from 1 in row-id order, so
    // (l_orderkey, l_linenumber) is a key, as in TPC-H, and a window
    // ordered by it never ties
    if (wants("lineitem")) write(spark.range(nLi).withColumn("l_orderkey", key(51, nOrd)).select(
      col("l_orderkey"),
      pmod(h(52, col("id")), lit(nPart)).as("l_partkey"),
      pmod(h(53, col("id")), lit(nSupp)).as("l_suppkey"),
      row_number().over(Window.partitionBy("l_orderkey").orderBy("id")).as("l_linenumber"),
      (pmod(h(55, col("id")), lit(50)).cast("double") + 1.0).as("l_quantity"),
      round(lit(900.0) + u01(56, col("id")) * 104100.0, 2).as("l_extendedprice"),
      (pmod(h(57, col("id")), lit(11)).cast("double") / 100.0).as("l_discount"),
      (pmod(h(58, col("id")), lit(9)).cast("double") / 100.0).as("l_tax"),
      pick(59, col("id"), Seq("N", "A", "R")).as("l_returnflag"),
      pick(60, col("id"), Seq("F", "O")).as("l_linestatus"),
      ntzDays("1995-01-01", pmod(h(61, col("id")), lit(2500)) + 1).as("l_shipdate")),
      s"$outDir/lineitem.parquet", nLi)

    val evTypes = Seq("view", "click", "purchase", "signup", "error")
    // events must land as a FILE named events.parquet (driver layout):
    // the streaming source globs leaf files as `events*.parquet`, and a
    // directory's part-files would never match
    if (wants("events")) writeSingleParquetFile(s"$outDir/events.parquet")(spark.range(nEv).select(
      col("id").as("event_id"),
      (unix_timestamp(lit("2024-01-01"), "yyyy-MM-dd") * 1000000L +
        (u01(71, col("id")) * 30.0 * 86400.0 * 1000000.0).cast("long")).as("ts_us"),
      key(72, n(15000)).as("user_id"),
      pick(73, col("id"), evTypes).as("event_type"),
      round(pow(u01(74, col("id")), 3.0) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", pmod(h(75, col("id")), lit(100))).as("props"))
      .withColumn("ts", timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"))

    // --- documents: vocab text + a 1%-per-century near-dup tail -----------
    // near-dups: ids ≡ 98, 99 (mod 100) re-render the century head's
    // content seed and append one extra token — high-Jaccard pairs (and
    // 3-node components) at ~2% of the corpus, matching the driver
    // fixture's observed component density.
    // vocabulary realism: a 30-word CLOSED vocab alone gives every
    // shingle a document frequency ∝ corpus size (no rare tail), which
    // is the degenerate case for df-aware candidate generation and
    // unlike any real corpus (Heaps' law: vocabulary grows with corpus
    // size). 30% of positions draw an OPEN token from an id space that
    // scales with the doc count, giving the Zipf-like common-head /
    // rare-tail mix real text has.
    val vocab = Seq("batch", "part", "spark", "line", "column", "order", "small", "sort",
      "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
      "key", "window", "row", "table", "stream", "merge", "data", "vector", "join",
      "shuffle", "disk", "cache")
    val openSpace = math.max(1000L, nDoc * 5L)
    val contentSeed = when(pmod(col("id"), lit(100)) >= 98,
      (col("id") / 100).cast("long") * 100L).otherwise(col("id"))
    val nWords = (pmod(h(81, contentSeed), lit(90)) + 8).cast("int")
    val baseText = concat_ws(" ", transform(sequence(lit(0), nWords - 1),
      j => {
        val pos = contentSeed * 1000L + j.cast("long")
        when(pmod(h(86, pos), lit(10)) < 7,
          element_at(array(vocab.map(lit): _*),
            pmod(h(82, pos), lit(vocab.size)).cast("int") + 1))
          .otherwise(concat(lit("w"), pmod(h(87, pos), lit(openSpace)).cast("string")))
      }))
    val text = when(pmod(col("id"), lit(100)) === 98, concat(baseText, lit(" extra")))
      .when(pmod(col("id"), lit(100)) === 99, concat(baseText, lit(" bonus")))
      .otherwise(baseText)
    val lang = when(pmod(h(83, col("id")), lit(100)) < 40, lit("en"))
      .otherwise(pick(84, col("id"), Seq("de", "es", "zh", "fr")))
    if (wants("documents")) write(spark.range(nDoc).select(
      col("id").as("doc_id"), text.as("text"), lang.as("lang"),
      concat(lit("src"), key(85, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      s"$outDir/documents.parquet", nDoc)

    // --- embeddings: 10 labeled clusters in 64-d (centroid + noise) -------
    val label = pmod(h(91, col("id")), lit(10)).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), j => (
      (pmod(h(92, label * 64 + j), lit(2001)).cast("double") - 1000.0) / 1000.0 * 0.25 +
        (pmod(h(93, col("id") * 64L + j.cast("long")), lit(2001)).cast("double") - 1000.0) / 1000.0 * 0.12
      ).cast("float"))
    if (wants("embeddings")) write(spark.range(nEmb).select(
      col("id").as("vec_id"), emb.as("embedding"), label.as("label")),
      s"$outDir/embeddings.parquet", nEmb)

    // summary reports only what was actually written (a tableCsv filter
    // must not print row counts for tables it skipped)
    val written = Seq("lineitem" -> nLi, "events" -> nEv,
        "documents" -> nDoc, "embeddings" -> nEmb)
      .filter { case (t, _) => wants(t) }
      .map { case (t, c) => s""""$t": $c""" }
    val tablesField = only.map(ts =>
      s""", "tables": "${ts.toSeq.sorted.mkString(",")}"""").getOrElse("")
    println(s"""{"gen": "$outDir", "sf": $sf, "zipf": $zipf$tablesField${
      if (written.nonEmpty) written.mkString(", ", ", ", "") else ""}}""")
    spark.stop()
  }
}
