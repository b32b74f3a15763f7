package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator for the benchmark: the TESTDATA.md star schema
  * plus the corpus tables (`documents`, `embeddings`), in the same
  * schemas and layout as the fixtures the queries read (one directory of
  * parquet per table, `events.parquet` as a single file).
  *
  * Every column is a pure function of (seed, row id) through a salted
  * xxhash64, so the same seed always gives the same rows and the data
  * never passes through the driver. Value distributions follow
  * `graft.GenData`; the seed salts every hash so different seeds give
  * different rows of the same shape.
  */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(k: Int, cols: Column*): Column =
    xxhash64((lit(seed * 1000003L + k) +: cols): _*)

  private def u01(k: Int, id: Column): Column =
    pmod(h(k, id), lit(1000000L)).cast("double") / 1000000.0

  private def pick(k: Int, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), pmod(h(k, id), lit(values.size)).cast("int") + 1)

  private def ntzDays(base: String, days: Column): Column =
    (unix_timestamp(lit(base), "yyyy-MM-dd") + days * 86400L)
      .cast("timestamp").cast("timestamp_ntz")

  private def write(df: DataFrame, out: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(out)

  private val id = col("id")

  /** Star schema + events at scale factor `sf` (TESTDATA.md row counts). */
  def star(dir: String, sf: Double): Map[String, Long] = {
    import spark.implicits._
    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    val (nCust, nSupp, nPart, nOrd, nEv) =
      (n(150000), n(10000), n(200000), n(1500000), n(1000000))
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"), s"$dir/region.parquet")
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), s"$dir/nation.parquet")
    write(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(h(11, id), lit(25)).cast("int").as("c_nationkey"),
      round(u01(12, id) * 10000.0, 2).as("c_acctbal"),
      pick(13, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), s"$dir/customer.parquet")
    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pmod(h(21, id), lit(25)).cast("int").as("s_nationkey"),
      round(u01(22, id) * 10000.0, 2).as("s_acctbal")), s"$dir/supplier.parquet")
    val adjs = Seq("large", "hot", "blue", "small", "dim", "spring", "metal", "plated")
    val nouns = Seq("ring", "bolt", "case", "tube", "disk", "panel", "cog", "strap")
    write(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(31, id, adjs), pick(32, id, nouns)).as("p_name"),
      concat(lit("Brand#"), pmod(h(33, id), lit(20)).cast("string")).as("p_brand"),
      pick(34, id, Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD")).as("p_type"),
      (pmod(h(35, id), lit(50)).cast("int") + 1).as("p_size"),
      round(lit(900.0) + pmod(h(36, id), lit(10000)).cast("double") * 0.1, 2)
        .as("p_retailprice")), s"$dir/part.parquet")
    write(spark.range(nOrd).select(id.as("o_orderkey"),
      pmod(h(41, id), lit(nCust)).as("o_custkey"),
      pick(42, id, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u01(43, id) * 499000.0, 2).as("o_totalprice"),
      ntzDays("1995-01-01", pmod(h(44, id), lit(2400))).as("o_orderdate"),
      pick(45, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), s"$dir/orders.parquet")
    events(dir, sf)
    // 1-7 lines per order, numbered from 1 (4 on average, the TESTDATA.md
    // ratio): (l_orderkey, l_linenumber) is a key, as in TPC-H, so the
    // queries that order windows by it see no ties
    val rid = col("l_orderkey") * 8L + col("l_linenumber")
    write(spark.range(nOrd).select(id.as("l_orderkey"),
      explode(sequence(lit(1), (pmod(h(54, id), lit(7)) + 1).cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"),
        pmod(h(52, rid), lit(nPart)).as("l_partkey"),
        pmod(h(53, rid), lit(nSupp)).as("l_suppkey"),
        col("l_linenumber"),
        (pmod(h(55, rid), lit(50)).cast("double") + 1.0).as("l_quantity"),
        round(lit(900.0) + u01(56, rid) * 104100.0, 2).as("l_extendedprice"),
        (pmod(h(57, rid), lit(11)).cast("double") / 100.0).as("l_discount"),
        (pmod(h(58, rid), lit(9)).cast("double") / 100.0).as("l_tax"),
        pick(59, rid, Seq("N", "A", "R")).as("l_returnflag"),
        pick(60, rid, Seq("F", "O")).as("l_linestatus"),
        ntzDays("1995-01-01", pmod(h(61, rid), lit(2500)) + 1).as("l_shipdate")),
      s"$dir/lineitem.parquet")
    val nLi = spark.read.parquet(s"$dir/lineitem.parquet").count()
    Map("lineitem" -> nLi, "orders" -> nOrd, "events" -> nEv, "customer" -> nCust,
      "part" -> nPart, "supplier" -> nSupp)
  }

  /** The `events` table alone, as the single file the streaming source
    * globs.
    */
  def events(dir: String, sf: Double): Long = {
    val nEv = math.max(1L, (1000000 * sf).toLong)
    graft.GenData.writeSingleParquetFile(s"$dir/events.parquet")(spark.range(nEv).select(
      id.as("event_id"),
      (unix_timestamp(lit("2024-01-01"), "yyyy-MM-dd") * 1000000L +
        (u01(71, id) * 30.0 * 86400.0 * 1000000.0).cast("long")).as("ts_us"),
      pmod(h(72, id), lit(math.max(1L, (15000 * sf).toLong))).as("user_id"),
      pick(73, id, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
      round(pow(u01(74, id), 3.0) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", pmod(h(75, id), lit(100))).as("props"))
      .withColumn("ts", timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"))
    nEv
  }

  /** `documents` (closed vocabulary, open-vocabulary tail, near-duplicate
    * tail at ids ≡ 98, 99 mod 100) and `embeddings` (10 labelled clusters
    * in 64-d).
    */
  def corpus(dir: String, nDoc: Long, nEmb: Long): Unit = {
    val vocab = Seq("batch", "part", "spark", "line", "column", "order", "small", "sort",
      "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
      "key", "window", "row", "table", "stream", "merge", "data", "vector", "join",
      "shuffle", "disk", "cache")
    val openSpace = math.max(1000L, nDoc * 5L)
    val contentSeed = when(pmod(id, lit(100)) >= 98, (id / 100).cast("long") * 100L)
      .otherwise(id)
    val nWords = (pmod(h(81, contentSeed), lit(90)) + 8).cast("int")
    val baseText = concat_ws(" ", transform(sequence(lit(0), nWords - 1), j => {
      val pos = contentSeed * 1000L + j.cast("long")
      when(pmod(h(86, pos), lit(10)) < 7,
        element_at(array(vocab.map(lit): _*), pmod(h(82, pos), lit(vocab.size)).cast("int") + 1))
        .otherwise(concat(lit("w"), pmod(h(87, pos), lit(openSpace)).cast("string")))
    }))
    val text = when(pmod(id, lit(100)) === 98, concat(baseText, lit(" extra")))
      .when(pmod(id, lit(100)) === 99, concat(baseText, lit(" bonus")))
      .otherwise(baseText)
    val lang = when(pmod(h(83, id), lit(100)) < 40, lit("en"))
      .otherwise(pick(84, id, Seq("de", "es", "zh", "fr")))
    write(spark.range(nDoc).select(id.as("doc_id"), text.as("text"), lang.as("lang"),
      concat(lit("src"), pmod(h(85, id), lit(20)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), s"$dir/documents.parquet")
    if (nEmb > 0) embeddings(dir, nEmb)
  }

  def embeddings(dir: String, nEmb: Long): Unit = {
    val label = pmod(h(91, id), lit(10)).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), j => (
      (pmod(h(92, label * 64 + j), lit(2001)).cast("double") - 1000.0) / 1000.0 * 0.25 +
        (pmod(h(93, id * 64L + j.cast("long")), lit(2001)).cast("double") - 1000.0) / 1000.0 * 0.12
      ).cast("float"))
    write(spark.range(nEmb).select(id.as("vec_id"), emb.as("embedding"), label.as("label")),
      s"$dir/embeddings.parquet")
  }
}
