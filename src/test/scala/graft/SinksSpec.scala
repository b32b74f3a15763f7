package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.scrape.Entities
import graft.sources.{HtmlSource, Sinks, Tables}
import graft.queries.ScrapeSuite

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("partitioned parquet sink round-trips with partition pruning") {
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "part", "v")
    val path = tmp("sink-parquet")
    Sinks.parquet(df, path, partitionBy = Seq("part"))
    val back = spark.read.parquet(path)
    assert(back.count() == 3)
    val pruned = back.filter(col("part") === "a")
    assert(pruned.count() == 2)
    // partition filter must prune at scan time, not post-filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part"), plan)
  }

  test("partitioned ORC sink round-trips with partition pruning and predicate pushdown") {
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "part", "v")
    val path = tmp("sink-orc")
    Sinks.orc(df, path, partitionBy = Seq("part"))
    val back = spark.read.orc(path)
    assert(back.count() == 3)
    val pruned = back.filter(col("part") === "a" && col("id") > 1L)
    assert(pruned.count() == 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part"), plan)
    // the non-partition predicate must reach the ORC scan too
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)"), plan)
  }

  test("csv and json sinks round-trip") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val cp = tmp("sink-csv"); val jp = tmp("sink-json")
    Sinks.csv(df, cp); Sinks.json(df, jp)
    assert(spark.read.option("header", "true").csv(cp).count() == 2)
    assert(spark.read.json(jp).count() == 2)
  }

  test("jdbc sink writes and reads back the star schema (embedded Derby)") {
    val url = s"jdbc:derby:${tmp("derby")}/graftdb;create=true"
    val pages = HtmlSource.pages(spark, ScrapeSuite.FixtureDir)
    val players = Entities.playerRows(pages)
      .toDF("name_id", "name", "bats", "throws_hand").limit(10)
    Sinks.jdbc(players, url, "player", SaveMode.Overwrite, numPartitions = 2)
    val back = Sinks.readJdbc(spark, url, "player")
    assert(back.count() == players.count())
    assert(back.columns.map(_.toLowerCase).toSet ==
      Set("name_id", "name", "bats", "throws_hand"))
  }

  test("bucketed tables join without any exchange (co-located join)") {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    Sinks.bucketed(o, "orders_bkt", "o_orderkey", 4)
    Sinks.bucketed(li, "lineitem_bkt", "l_orderkey", 4)
    val joined = spark.table("lineitem_bkt")
      .join(spark.table("orders_bkt"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"))
    // disable broadcast so the join must pick a shuffle strategy — the
    // bucketing should satisfy it with zero Exchange operators
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be exchange-free:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("bucketed land runs one task wave: 32 buckets at 4 shuffle partitions write in 4 tasks") {
    // the land co-partitions into the largest divisor of nBuckets not above
    // the session's shuffle partitions; each task writes whole buckets, so
    // the layout stays one file per bucket and the rows are those of a
    // 32-task land
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val nBuckets = 32
    val rows = spark.range(0, 2000, 1, 3).select(col("id"), (col("id") % 7).as("v"))
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo.stageId -> e.stageInfo.numTasks)
    }
    /** Land `rows` at `width` shuffle partitions; (write-stage tasks, files, rows). */
    def land(t: String, width: Int): (Int, Long, Set[(Long, Long)]) = {
      val path = tmp(s"sink-bkt-$t")
      val sc = spark.sparkContext
      org.apache.spark.sql.graft.BusBridge.drain(sc)
      stages.clear()
      graft.engine.GraftSession.withConfs(spark, "spark.sql.shuffle.partitions" -> width.toString) {
        Sinks.bucketed(rows, t, "id", nBuckets, path = Some(path))
      }
      org.apache.spark.sql.graft.BusBridge.drain(sc)
      val writeTasks = stages.toArray(Array.empty[(Int, Int)]).maxBy(_._1)._2
      val s = Files.walk(java.nio.file.Paths.get(path))
      val files = try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
      (writeTasks, files,
        spark.table(t).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (narrowTasks, narrowFiles, narrowRows) = land("bkt_land_narrow", 4)
      val (wideTasks, wideFiles, wideRows) = land("bkt_land_wide", 32)
      assert(narrowTasks == 4, s"the 4-partition land wrote in $narrowTasks tasks")
      assert(wideTasks == 32, s"the 32-partition land wrote in $wideTasks tasks")
      assert(narrowFiles <= nBuckets && wideFiles <= nBuckets,
        s"one file per non-empty bucket: $narrowFiles and $wideFiles files")
      assert(narrowRows.size == 2000 && narrowRows == wideRows)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Seq("bkt_land_narrow", "bkt_land_wide").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bucketed append's narrowed task wave keeps one file per touched bucket") {
    // Appends co-partition into a DIVISOR of nBuckets (at most 8, and at
    // most the session's shuffle partitions: 4 here for 32) —
    // the batch-sized absorb path must not launch an nBuckets-wide task
    // wave — and that is only sound if repartition's hash family equals
    // the writer's bucket-id hash, so every bucket's rows still land
    // wholly inside one task: exactly one new file per touched bucket
    // per append, and the bucketed read stays correct.
    val nBuckets = 32
    val path = tmp("sink-bkt-append")
    val base = spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
    Sinks.bucketed(base, "bkt_append_t", "id", nBuckets, path = Some(path))
    def parquetFiles = {
      val s = Files.walk(java.nio.file.Paths.get(path))
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
    val landFiles = parquetFiles
    assert(landFiles <= nBuckets, s"land: one file per non-empty bucket, got $landFiles")
    // a batch touching every bucket appends exactly one file per bucket
    val batch = spark.range(2000, 3000).select(col("id"), (col("id") * 2).as("v"))
      .repartition(5) // deliberately NOT bucket-partitioned on entry
    Sinks.bucketed(batch, "bkt_append_t", "id", nBuckets, mode = SaveMode.Append)
    spark.catalog.refreshTable("bkt_append_t")
    assert(parquetFiles - landFiles <= nBuckets,
      s"append added ${parquetFiles - landFiles} files — more than one per touched bucket")
    try {
      assert(spark.table("bkt_append_t").count() == 2000)
      // bucket pruning still resolves an id to its (landed or appended) file
      assert(spark.table("bkt_append_t").filter(col("id") === 2500L).head().getLong(1) == 5000L)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_append_t")
  }

  test("jdbc upsert is idempotent: rewriting the same batch adds nothing") {
    val url = s"jdbc:derby:${tmp("derby-upsert")}/graftdb;create=true"
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    Sinks.jdbcUpsert(batch, url, "t_upsert", "id")   // creates the table
    Sinks.jdbcUpsert(batch, url, "t_upsert", "id")   // full overlap: no-op
    assert(Sinks.readJdbc(spark, url, "t_upsert").count() == 3)
    // partial overlap: only the genuinely new key lands
    val next = Seq((3L, "c2"), (4L, "d")).toDF("id", "s")
    Sinks.jdbcUpsert(next, url, "t_upsert", "id")
    val back = Sinks.readJdbc(spark, url, "t_upsert").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  test("upsert existing-key scan is bounded to the batch range and pushed down") {
    val url = s"jdbc:derby:${tmp("derby-bound")}/graftdb;create=true"
    val first = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
    Sinks.jdbcUpsert(first, url, "t_bound", "id")
    // a later batch touching only [101, 103]: the existing-key read must
    // carry the range as a pushed JDBC filter, not scan all 100 keys
    val scan = Sinks.boundedExistingKeys(spark, url, "t_bound", Seq("id"), 101L, 103L)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual")
      && plan.contains("LessThanOrEqual"), plan)
    Sinks.jdbcUpsert(Seq((101L, "x"), (50L, "dup")).toDF("id", "s"), url, "t_bound", "id")
    assert(Sinks.readJdbc(spark, url, "t_bound").count() == 101L)
    // id 50 kept its original value: the overlap was skipped, not rewritten
    assert(Sinks.readJdbc(spark, url, "t_bound")
      .filter(col("id") === 50L).collect().head.getString(1) == "v50")
  }

  test("upsert drops NULL-keyed rows loudly, never the whole batch") {
    val url = s"jdbc:derby:${tmp("derby-null")}/graftdb;create=true"
    val mixed = Seq((Option(1L), "a"), (Option.empty[Long], "n1"), (Option(2L), "b"))
      .toDF("id", "s")
    Sinks.jdbcUpsert(mixed, url, "t_null", "id") // creates the table
    assert(Sinks.readJdbc(spark, url, "t_null").count() == 2L)
    // mixed again against the existing table: non-null news lands, NULLs
    // neither re-insert (they can't match the anti-join) nor error
    val mixed2 = Seq((Option(2L), "b"), (Option.empty[Long], "n2"), (Option(3L), "c"))
      .toDF("id", "s")
    Sinks.jdbcUpsert(mixed2, url, "t_null", "id")
    val back = Sinks.readJdbc(spark, url, "t_null").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // an all-NULL-keyed batch is a loud no-op, not an exception
    Sinks.jdbcUpsert(Seq((Option.empty[Long], "x")).toDF("id", "s"), url, "t_null", "id")
    assert(Sinks.readJdbc(spark, url, "t_null").count() == 3L)
  }

  test("string-keyed upsert scans full keys: no collation-dependent range pushdown") {
    val url = s"jdbc:derby:${tmp("derby-str")}/graftdb;create=true"
    Sinks.jdbcUpsert(Seq(("a", 1), ("b", 2)).toDF("k", "v"), url, "t_str", "k")
    // a string range pushed to the DB would assume binary collation; the
    // scan must carry no range predicate (the anti-join still filters)
    val scan = Sinks.existingKeysScan(spark, url, "t_str",
      Seq(("b", 9)).toDF("k", "v"), Seq("k"))
    val plan = scan.queryExecution.executedPlan.toString
    assert(!plan.contains("GreaterThanOrEqual") && !plan.contains("LessThanOrEqual"), plan)
    // numeric leading keys DO bound (covered above); end-to-end the
    // string-keyed upsert stays idempotent
    Sinks.jdbcUpsert(Seq(("b", 9), ("c", 3)).toDF("k", "v"), url, "t_str", "k")
    val back = Sinks.readJdbc(spark, url, "t_str").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(back == Map("a" -> 1, "b" -> 2, "c" -> 3))
  }

  test("spool resolution: local temp spools are distinct and writable") {
    val a = graft.sources.Spool.dir(spark, "spec")
    val b = graft.sources.Spool.dir(spark, "spec")
    assert(a != b)
    Seq((1L, "x")).toDF("id", "s").write.parquet(s"$a/t")
    assert(spark.read.parquet(s"$a/t").count() == 1L)
  }

  test("upsert dedupes the incoming batch on the natural key") {
    val url = s"jdbc:derby:${tmp("derby-dup")}/graftdb;create=true"
    val batch = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b")).toDF("id", "s")
    Sinks.jdbcUpsert(batch, url, "t_dup", "id")
    assert(Sinks.readJdbc(spark, url, "t_dup").count() == 2L)
  }

  test("a connectivity error fails the upsert instead of degrading to blind append") {
    // missing database, no ;create=true: the existence probe must throw,
    // never be mistaken for "table absent" (which would blind-append)
    val url = s"jdbc:derby:${tmp("derby-gone")}/no_such_db"
    val batch = Seq((1L, "a")).toDF("id", "s")
    intercept[java.sql.SQLException](Sinks.jdbcUpsert(batch, url, "t_x", "id"))
  }

  test("incremental ingest skips keys already in the target") {
    val existing = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val incoming = Seq(("b", 20), ("c", 30)).toDF("k", "v")
    val fresh = Sinks.notYetIngested(incoming, existing, "k").collect()
    assert(fresh.map(_.getString(0)).toSeq == Seq("c"))
  }
}
