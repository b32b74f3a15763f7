package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.Tables
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {

  // the st9-st13 arrival chunk count, shared with the drains and the
  // oracles so the scalar folds here can never run a different cadence
  private val C = graft.streaming.DocStreams.ArrivalChunks

  /** Land `df` as a SINGLE parquet file `root/fileName` — the shape the
    * event stream's file source picks up as one arrival.
    */
  private def landSingleParquet(df: org.apache.spark.sql.DataFrame,
                                root: java.io.File, fileName: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_half").toFile
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/p")
    val part = new java.io.File(s"$tmp/p").listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new java.io.File(root, fileName).toPath)
    graft.sources.Spool.deleteRecursively(tmp.toPath)
  }

  /** The durable session identity: (user, first_ts, last_ts, n_events).
    * session_id is deliberately excluded — it restarts at 1 after state
    * eviction (the documented reason the upsert key is (user_id,
    * first_ts_ms)), so only boundaries and counts are stable across
    * different micro-batch placements of the same data.
    */
  private def sessionKeys(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r =>
    (r.getAs[Long]("user_id"), r.getAs[Long]("first_ts_ms"),
     r.getAs[Long]("last_ts_ms"), r.getAs[Long]("n_events"))).toSet

  test("st1: streaming windowed agg equals the batch aggregation") {
    val streamed = EventStreams.windowedAgg(spark, sfDir)
      .orderBy("bucket_s", "event_type").collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("bucket_s"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("bucket_s", "event_type").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("st1 in append mode emits exactly the watermark-closed windows (the unbounded-scale mode)") {
    // Complete mode re-emits ALL state every trigger — fine for the
    // finite gate drain, unbounded at 100 TB. The production mode is
    // Append: a window emits once, when the watermark passes its end,
    // and its state is dropped. Pin that emission set: batch windows
    // whose end <= max(ts) - 1h (the final watermark), i.e. every
    // window except the trailing open ones.
    val appended = EventStreams.drain(
      EventStreams.windowedAggPlan(spark, sfDir),
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("bucket_s", "event_type").collect().toSeq
    assert(appended.nonEmpty)
    val ev = Tables.events(spark, sfDir)
    val wmS = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0) - 3600L
    val batch = ev
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("bucket_s"), col("event_type"),
        col("n"), col("sum_value"))
      .filter(col("bucket_s") + 3600L <= wmS)
      .orderBy("bucket_s", "event_type").collect().toSeq
    assert(appended == batch,
      s"append-mode emission diverged: ${appended.length} vs ${batch.length} windows")
  }

  test("st2: streamed sessions match batch sessionize (closed + timed-out)") {
    val streamed = EventStreams.sessionize(spark, sfDir)
      .orderBy("user_id", "session_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("n_events")))
    assert(streamed.nonEmpty)

    // batch ground truth, mirroring the st2 DuckDB oracle
    // (StreamingSuite.oracles): same gap rule; keep sessions either
    // CLOSED by a later session of the same user (session_id < max_sess)
    // or TIMED OUT by the final watermark — last event strictly older
    // than max(ts) - 2h - gap. Only trailing sessions newer than the
    // watermark horizon stay open and unemitted.
    val events = Tables.events(spark, sfDir)
    val wm = events.agg(max(unix_millis(col("ts")))).head.getLong(0) - 7200000L
    val batch = Relational.sessionize(events, col("user_id"), col("ts"), 1800000L)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), max(unix_millis(col("ts"))).as("last_ts_ms"))
      .withColumn("max_sess",
        max("session_id").over(org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .filter(col("session_id") < col("max_sess") || col("last_ts_ms") + 1800000L < lit(wm))
      .select("user_id", "session_id", "n_events")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("n_events")))

    assert(streamed.toSet == batch.toSet,
      s"streamed=${streamed.length} batch=${batch.length}")
  }

  test("st7: built-in session_window emits sessions whose end the watermark passed") {
    val streamed = EventStreams.sessionWindowAgg(spark, sfDir)
      .orderBy("user_id", "start_ms").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_ms"),
        r.getAs[Long]("end_ms"), r.getAs[Long]("n_events")))
    assert(streamed.nonEmpty)

    // batch ground truth, mirroring the st7 DuckDB oracle: same 30-min
    // gap sessionization; keep sessions whose END (last event + gap) is
    // strictly below the final watermark (max event ts - 2h). No
    // closed-by-later-session path here — the built-in operator holds a
    // closed session in state until the watermark reaches its end.
    val events = Tables.events(spark, sfDir)
    val wm = events.agg(max(unix_millis(col("ts")))).head.getLong(0) - 7200000L
    val batch = Relational.sessionize(events, col("user_id"), col("ts"), 1800000L)
      .groupBy("user_id", "session_id")
      .agg(min(unix_millis(col("ts"))).as("start_ms"),
        (max(unix_millis(col("ts"))) + 1800000L).as("end_ms"),
        count(lit(1)).as("n_events"))
      .filter(col("end_ms") < lit(wm))
      .select("user_id", "start_ms", "end_ms", "n_events")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_ms"),
        r.getAs[Long]("end_ms"), r.getAs[Long]("n_events")))

    assert(streamed.toSet == batch.toSet,
      s"streamed=${streamed.length} batch=${batch.length}")
  }

  test("st2 sessions upsert idempotently on (user_id, first_ts_ms)") {
    // the emitted (user_id, first_ts_ms) pair is the durable primary key
    // (session_id restarts after state eviction, so it is only unique
    // within a state lifetime): st2's output must compose with the st6
    // sink — upsert, re-drain the same stream, upsert again, and the
    // at-least-once redelivery is absorbed by the natural key
    val dbDir = java.nio.file.Files.createTempDirectory("graft_st2_upsert")
    val url = s"jdbc:derby:$dbDir/sessdb;create=true"
    try {
      val first = EventStreams.sessionize(spark, sfDir)
      val nSessions = first.count()
      graft.sources.Sinks.jdbcUpsert(first, url, "sessions",
        Seq("user_id", "first_ts_ms"), 8, 1000)
      assert(graft.sources.Sinks.readJdbc(spark, url, "sessions").count() == nSessions)
      val again = EventStreams.sessionize(spark, sfDir)
      graft.sources.Sinks.jdbcUpsert(again, url, "sessions",
        Seq("user_id", "first_ts_ms"), 8, 1000)
      assert(graft.sources.Sinks.readJdbc(spark, url, "sessions").count() == nSessions)
    } finally {
      scala.util.Try(java.sql.DriverManager
        .getConnection(s"jdbc:derby:$dbDir/sessdb;shutdown=true"))
      graft.sources.Spool.deleteRecursively(dbDir)
    }
  }

  test("streaming operators run unchanged on the RocksDB state store (large-state scale path)") {
    // The finite drains run on the default HDFS-backed provider (state
    // fits in memory at gate scale); a 100 TB deployment with large
    // keyed state flips ONE conf to RocksDB. Prove the operators are
    // provider-agnostic: same rows from the built-in windowed agg and a
    // non-empty custom-state (flatMapGroupsWithState) drain under
    // org.apache.spark...RocksDBStateStoreProvider (rocksdbjni ships
    // with Spark). The conf is read per query start, so setting it on
    // the session scopes it to these drains; restored after.
    // One (sortCols, query) pair per distinct STATE SHAPE a large
    // deployment puts on RocksDB: windowed agg (st1), custom
    // flatMapGroupsWithState (st2), watermarked dedup (st4), the
    // interval stream-stream join's two-sided buffers (st5), and the
    // built-in session_window's merging state (st7).
    val shapes: Seq[(String, Seq[String], (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      ("st1 windowed agg", Seq("bucket_s", "event_type"), EventStreams.windowedAgg),
      ("st2 sessionize", Seq("user_id", "session_id"), EventStreams.sessionize),
      ("st4 dedup", Seq("event_type"), EventStreams.streamDedupCount),
      ("st5 interval join", Seq("user_id"), EventStreams.streamStreamJoin),
      ("st7 session window", Seq("user_id", "start_ms"), EventStreams.sessionWindowAgg))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val defaults = shapes.map { case (label, sort, q) =>
      label -> q(spark, sfDir).orderBy(sort.map(col): _*).collect().toSeq
    }
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try shapes.zip(defaults).foreach { case ((label, sort, q), (_, default)) =>
      assert(default.nonEmpty, s"$label: empty default-provider result")
      val rocks = q(spark, sfDir).orderBy(sort.map(col): _*).collect().toSeq
      assert(rocks == default,
        s"$label diverged on RocksDB: ${rocks.length} vs ${default.length} rows")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("st2 state survives micro-batch boundaries: two-phase file arrival equals one drain") {
    // The gate's one-shot drain feeds sessionize a SINGLE data
    // micro-batch, so it never proves what the operator claims: that
    // per-user session state carries across batches, the watermark
    // advances between them, and a session spanning an arrival boundary
    // still comes out whole. Split the events by time at the median,
    // land the first half, process it, land the second half into the
    // LIVE query, process again — the final emitted set must equal the
    // single-drain result row for row.
    val root = java.nio.file.Files.createTempDirectory("graft_incr").toFile
    def landAs(df: org.apache.spark.sql.DataFrame, fileName: String): Unit =
      landSingleParquet(df, root, fileName)
    val ev = Tables.events(spark, sfDir)
    val medianUs = ev.select(unix_micros(col("ts")).as("tsm"))
      .stat.approxQuantile("tsm", Array(0.5), 0.001)(0).toLong
    landAs(ev.filter(unix_micros(col("ts")) <= medianUs), "events.parquet")
    val cp = java.nio.file.Files.createTempDirectory("graft_incr_cp").toString
    val q = EventStreams.sessionizePlan(spark, root.toString)
      .writeStream.format("memory").queryName("graft_incr_sessions")
      .outputMode("append").option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("graft_incr_sessions").count()
      landAs(ev.filter(unix_micros(col("ts")) > medianUs), "events_2.parquet")
      q.processAllAvailable()
      // Compare on the durable session identity (see [[sessionKeys]]):
      // session boundaries and counts must be identical to the single
      // drain even though session_id counters restart after eviction.
      val twoPhase = spark.table("graft_incr_sessions").collect().toSeq
      val oneDrain = EventStreams.sessionize(spark, sfDir).collect().toSeq
      assert(sessionKeys(twoPhase) == sessionKeys(oneDrain),
        s"incremental run diverged: ${twoPhase.length} vs ${oneDrain.length} rows; " +
          s"only-incremental=${(sessionKeys(twoPhase) -- sessionKeys(oneDrain)).take(3)} " +
          s"only-single=${(sessionKeys(oneDrain) -- sessionKeys(twoPhase)).take(3)}")
      assert(twoPhase.size == sessionKeys(twoPhase).size,
        "duplicate (user, first_ts) sessions emitted across batches")
      assert(afterFirst < twoPhase.size,
        "second arrival produced no new sessions — the test did not exercise a second batch")
    } finally {
      q.stop()
      graft.sources.Spool.deleteRecursively(root.toPath)
      graft.sources.Spool.deleteRecursively(java.nio.file.Paths.get(cp))
    }
  }

  test("backfill throttle: maxFilesPerTrigger=1 forces multi-batch, same sessions") {
    // The backfill scenario: a fresh query pointed at an ALREADY-landed
    // sequence of files. Unthrottled, batch 1 swallows the whole backlog
    // (one enormous batch, no incremental checkpoints); with the
    // maxFilesPerTrigger bound each file is its own micro-batch and the
    // watermark advances BETWEEN them — the throttled run must still
    // produce exactly the single-drain session set on the durable key.
    val root = java.nio.file.Files.createTempDirectory("graft_thr").toFile
    val ev = Tables.events(spark, sfDir)
    val medianUs = ev.select(unix_micros(col("ts")).as("tsm"))
      .stat.approxQuantile("tsm", Array(0.5), 0.001)(0).toLong
    landSingleParquet(ev.filter(unix_micros(col("ts")) <= medianUs), root, "events.parquet")
    landSingleParquet(ev.filter(unix_micros(col("ts")) > medianUs), root, "events_2.parquet")
    val cp = java.nio.file.Files.createTempDirectory("graft_thr_cp").toString
    val q = EventStreams.sessionizePlan(spark, root.toString, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("graft_thr_sessions")
      .outputMode("append").option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 2,
        s"throttle did not split the backlog: $dataBatches data micro-batches")
      val throttled = sessionKeys(spark.table("graft_thr_sessions").collect().toSeq)
      val oneDrain = sessionKeys(EventStreams.sessionize(spark, sfDir).collect().toSeq)
      assert(throttled == oneDrain,
        s"throttled backfill diverged: only-throttled=${(throttled -- oneDrain).take(3)} " +
          s"only-single=${(oneDrain -- throttled).take(3)}")
    } finally {
      q.stop()
      graft.sources.Spool.deleteRecursively(root.toPath)
      graft.sources.Spool.deleteRecursively(java.nio.file.Paths.get(cp))
    }
  }

  test("st2 recovers from a checkpoint restart: stop, new query, no lost sessions") {
    // The failure mode a 1000-executor deployment actually hits: the
    // query DIES between arrivals (redeploy, preemption) and a NEW query
    // starts from the same checkpoint. Offsets and per-user session
    // state must restore, and the union of what the two incarnations
    // emitted — deduped on the durable key, which is how the st6 upsert
    // sink absorbs the replayed tail batch — must equal the single-drain
    // result. Loss here would be silent at scale; this pins it.
    val root = java.nio.file.Files.createTempDirectory("graft_rst").toFile
    val ev = Tables.events(spark, sfDir)
    val medianUs = ev.select(unix_micros(col("ts")).as("tsm"))
      .stat.approxQuantile("tsm", Array(0.5), 0.001)(0).toLong
    landSingleParquet(ev.filter(unix_micros(col("ts")) <= medianUs), root, "events.parquet")
    val cp = java.nio.file.Files.createTempDirectory("graft_rst_cp").toString
    // foreachBatch, not the memory sink: Spark refuses to recover a
    // memory-sink query from an existing checkpoint (not fault-tolerant),
    // and foreachBatch-to-an-idempotent-store is the real deployment
    // sink shape here anyway (st6). Replayed batches after the restart
    // re-emit rows; the durable-key set absorbs them, which IS the
    // at-least-once + idempotent-upsert contract under test.
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    def run(): Int = {
      val before = landed.size()
      val q = EventStreams.sessionizePlan(spark, root.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => landed.add((r.getAs[Long]("user_id"),
            r.getAs[Long]("first_ts_ms"), r.getAs[Long]("last_ts_ms"),
            r.getAs[Long]("n_events"))))
        }.start()
      try q.processAllAvailable() finally q.stop()
      landed.size() - before
    }
    try {
      run() // first incarnation, then it "dies"
      landSingleParquet(ev.filter(unix_micros(col("ts")) > medianUs), root, "events_2.parquet")
      val emitted2 = run() // restarted from the same checkpoint
      assert(emitted2 > 0, "restarted query emitted nothing — recovery did not resume")
      val recovered = landed.toArray(Array.empty[(Long, Long, Long, Long)]).toSet
      val oneDrain = sessionKeys(EventStreams.sessionize(spark, sfDir).collect().toSeq)
      assert(recovered == oneDrain,
        s"restart lost or invented sessions: only-recovered=${(recovered -- oneDrain).take(3)} " +
          s"only-single=${(oneDrain -- recovered).take(3)}")
    } finally {
      graft.sources.Spool.deleteRecursively(root.toPath)
      graft.sources.Spool.deleteRecursively(java.nio.file.Paths.get(cp))
    }
  }

  test("crash AFTER sink delivery, BEFORE checkpoint commit: replay is redelivered and absorbed") {
    // The r11 restart test kills the query BETWEEN arrivals — offsets
    // and commits agree at the kill point. The nastier 1000-executor
    // failure is mid-batch: foreachBatch has already handed the batch to
    // the sink when the driver dies, so the commit log never records it.
    // On restart Spark finds offsets ahead of commits and REPLAYS the
    // batch: the sink sees it twice. This drives that exact boundary —
    // incarnation 2's foreachBatch lands its rows and then throws (crash
    // after delivery, before commit) — and pins both halves of the
    // contract: the replay really happens (duplicates observed at the
    // sink), and the durable-key dedup (st6's upsert semantics) absorbs
    // it with nothing lost and nothing invented.
    val root = java.nio.file.Files.createTempDirectory("graft_mid").toFile
    val ev = Tables.events(spark, sfDir)
    val medianUs = ev.select(unix_micros(col("ts")).as("tsm"))
      .stat.approxQuantile("tsm", Array(0.5), 0.001)(0).toLong
    landSingleParquet(ev.filter(unix_micros(col("ts")) <= medianUs), root, "events.parquet")
    val cp = java.nio.file.Files.createTempDirectory("graft_mid_cp").toString
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    def run(crashAfterDelivery: Boolean): Unit = {
      val q = EventStreams.sessionizePlan(spark, root.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.collect()
          rows.foreach(r => delivered.add((r.getAs[Long]("user_id"),
            r.getAs[Long]("first_ts_ms"), r.getAs[Long]("last_ts_ms"),
            r.getAs[Long]("n_events"))))
          if (crashAfterDelivery && rows.nonEmpty)
            throw new RuntimeException("simulated crash after delivery, before commit")
        }.start()
      try q.processAllAvailable()
      catch { case e: Exception if crashAfterDelivery => () } // the simulated crash
      finally q.stop()
    }
    try {
      run(crashAfterDelivery = false) // phase 1 commits cleanly
      landSingleParquet(ev.filter(unix_micros(col("ts")) > medianUs), root, "events_2.parquet")
      run(crashAfterDelivery = true)  // phase 2 delivered, NOT committed
      val afterCrash = delivered.size()
      run(crashAfterDelivery = false) // restart: must replay phase 2's batch
      val all = delivered.toArray(Array.empty[(Long, Long, Long, Long)]).toSeq
      assert(all.size > afterCrash,
        "restart emitted nothing — the uncommitted batch was not replayed")
      assert(all.size > all.toSet.size,
        "no duplicate deliveries observed — the crash boundary was not exercised")
      val oneDrain = sessionKeys(EventStreams.sessionize(spark, sfDir).collect().toSeq)
      assert(all.toSet == oneDrain,
        s"mid-batch crash lost or invented sessions: " +
          s"only-recovered=${(all.toSet -- oneDrain).take(3)} " +
          s"only-single=${(oneDrain -- all.toSet).take(3)}")
    } finally {
      graft.sources.Spool.deleteRecursively(root.toPath)
      graft.sources.Spool.deleteRecursively(java.nio.file.Paths.get(cp))
    }
  }

  test("st5: streamed interval join equals the batch self-join") {
    val streamed = EventStreams.streamStreamJoin(spark, sfDir)
      .orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_pairs"),
        r.getAs[Double]("sum_value")))
    assert(streamed.nonEmpty)

    val ev = Tables.events(spark, sfDir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
    val batch = v.join(p,
        expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 1 hour"))
      .groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_pairs"),
        r.getAs[Double]("sum_value")))

    assert(streamed.toSeq == batch.toSeq)
  }

  test("st6: doubly-delivered micro-batches land exactly once through the key upsert") {
    val streamed = EventStreams.streamUpsertSink(spark, sfDir)
      .orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_rows")))
    assert(streamed.nonEmpty)
    val batch = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(countDistinct(col("event_id")).as("n_rows"))
      .orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_rows")))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("st8: transformWithState counter state spans micro-batches (two-phase arrival)") {
    // The st8 ValueState contract: a per-user ordinal numbered in one
    // drain must be reproduced by a time-split two-phase arrival —
    // batch 2's rows continue from batch 1's persisted counter, and
    // time-ordered arrival (the realistic event-log layout) preserves
    // the global (ts, event_id) numbering exactly. transformWithState
    // refuses to run on the HDFS-backed default store, so the RocksDB
    // provider conf is scoped to the live query like the gate drain does.
    val root = java.nio.file.Files.createTempDirectory("graft_tws").toFile
    val ev = Tables.events(spark, sfDir)
    val medianUs = ev.select(unix_micros(col("ts")).as("tsm"))
      .stat.approxQuantile("tsm", Array(0.5), 0.001)(0).toLong
    landSingleParquet(ev.filter(unix_micros(col("ts")) <= medianUs), root, "events.parquet")
    val cp = java.nio.file.Files.createTempDirectory("graft_tws_cp").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = EventStreams.runningOrdinalPlan(spark, root.toString)
      .writeStream.format("memory").queryName("graft_tws_ordinals")
      .outputMode("append").option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("graft_tws_ordinals").count()
      landSingleParquet(ev.filter(unix_micros(col("ts")) > medianUs), root, "events_2.parquet")
      q.processAllAvailable()
      def keys(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[Long]("ordinal"))).toSet
      val twoPhase = spark.table("graft_tws_ordinals").collect().toSeq
      val oneDrain = EventStreams.runningOrdinal(spark, sfDir).collect().toSeq
      assert(keys(twoPhase) == keys(oneDrain),
        s"ordinal state diverged across batches: ${twoPhase.length} vs ${oneDrain.length} rows; " +
          s"only-incremental=${(keys(twoPhase) -- keys(oneDrain)).take(3)} " +
          s"only-single=${(keys(oneDrain) -- keys(twoPhase)).take(3)}")
      assert(afterFirst > 0 && afterFirst < twoPhase.size,
        s"second arrival produced no new rows ($afterFirst of ${twoPhase.size}) — no second batch exercised")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      graft.sources.Spool.deleteRecursively(root.toPath)
      graft.sources.Spool.deleteRecursively(java.nio.file.Paths.get(cp))
    }
  }

  test("st8 recovers from a checkpoint restart: ValueState resumes, ordinals continue") {
    // the st2 restart contract for the state-v2 store: the query dies
    // between arrivals, a NEW incarnation starts from the same
    // checkpoint, and the RocksDB-snapshotted ValueState counters must
    // resume — a counter silently restarting at 1 after recovery is the
    // failure mode this pins. foreachBatch sink (memory-sink queries
    // refuse checkpoint recovery); at-least-once replays are absorbed
    // by the (user_id, event_id, ordinal) key set.
    val root = java.nio.file.Files.createTempDirectory("graft_rst8").toFile
    val ev = Tables.events(spark, sfDir)
    val medianUs = ev.select(unix_micros(col("ts")).as("tsm"))
      .stat.approxQuantile("tsm", Array(0.5), 0.001)(0).toLong
    landSingleParquet(ev.filter(unix_micros(col("ts")) <= medianUs), root, "events.parquet")
    val cp = java.nio.file.Files.createTempDirectory("graft_rst8_cp").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def run(): Int = {
      val before = landed.size()
      val q = EventStreams.runningOrdinalPlan(spark, root.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => landed.add((r.getAs[Long]("user_id"),
            r.getAs[Long]("event_id"), r.getAs[Long]("ordinal"))))
        }.start()
      try q.processAllAvailable() finally q.stop()
      landed.size() - before
    }
    try {
      run() // first incarnation, then it "dies"
      landSingleParquet(ev.filter(unix_micros(col("ts")) > medianUs), root, "events_2.parquet")
      val emitted2 = run() // restarted from the same checkpoint
      assert(emitted2 > 0, "restarted query emitted nothing — recovery did not resume")
      val recovered = landed.toArray(Array.empty[(Long, Long, Long)]).toSet
      val oneDrain = EventStreams.runningOrdinal(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[Long]("ordinal"))).toSet
      assert(recovered == oneDrain,
        s"restart lost state or renumbered: only-recovered=${(recovered -- oneDrain).take(3)} " +
          s"only-single=${(oneDrain -- recovered).take(3)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      graft.sources.Spool.deleteRecursively(root.toPath)
      graft.sources.Spool.deleteRecursively(java.nio.file.Paths.get(cp))
    }
  }

  test("st9: streamed probe+absorb union equals the batch recompute on arrival pairs") {
    // the continuous-ingest contract: pairs drained across all
    // micro-batches = the d3 algebra over ALL documents restricted to
    // arrival-involving pairs — including pairs whose two members arrive
    // in DIFFERENT micro-batches, the leg only the absorb path (and its
    // post-append table refresh) can produce
    val got = graft.streaming.DocStreams.streamIncrementalDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val want = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.5)
      .filter(col("id_a") % 5 >= 3 || col("id_b") % 5 >= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "no arrival pairs at this sf — test is vacuous")
    val crossBatch = want.filter { case (a, b, _) =>
      a % 5 >= 3 && b % 5 >= 3 && a % C != b % C }
    assert(crossBatch.nonEmpty,
      "no cross-micro-batch arrival pair expected — absorb path untested")
    assert(got == want,
      s"only-streamed=${(got -- want).take(3)} only-batch=${(want -- got).take(3)}")
  }

  test("st9/st13 auto-compaction: bounded file counts with no manual call, outputs bit-identical") {
    def parquetFiles(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val s = java.nio.file.Files.walk(p)
        try s.filter(f => f.toString.endsWith(".parquet")).count()
        finally s.close()
      }
    }
    // st9 with an every-cycle cadence over the C-chunk drain: the loop
    // fires its own compactions (VERDICT #5 — no caller-driven call)
    // after EVERY absorb, so later micro-batches probe the collapsed
    // index mid-stream, the index ends at one file per non-empty
    // bucket, and the drained pair set still equals the batch recompute
    // bit-for-bit
    val root9 = graft.sources.Spool.tempRoot("st9_auto")
    val got9 = graft.streaming.DocStreams.streamIncrementalDedup(spark, sfDir,
        autoCompactEvery = 1, rootDir = Some(root9))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(Metrics.scalar("st9.autocompact", "fired").contains(C.toLong))
    // last cycle compacted: sigs + bands are each ≤ one file per bucket
    // (32), meta is 1 — nothing accumulated the per-absorb small files
    assert(parquetFiles(s"$root9/idx") <= 65L,
      s"auto-compacted index still carries small files: ${parquetFiles(s"$root9/idx")}")
    val want9 = graft.operators.Dedup.minhashLshPairs(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.5)
      .filter(col("id_a") % 5 >= 3 || col("id_b") % 5 >= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got9 == want9,
      s"only-auto=${(got9 -- want9).take(3)} only-batch=${(want9 -- got9).take(3)}")
    // st13: same cadence over the delta-df index — the auto-fired
    // SegDfIndex compaction collapses delta history mid-stream and the
    // drained verdicts equal a plain (never-compacted) drain
    val root13 = graft.sources.Spool.tempRoot("st13_auto")
    val got13 = graft.streaming.DocStreams.streamLineDedup(spark, sfDir,
        autoCompactEvery = 1, rootDir = Some(root13))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(Metrics.scalar("st13.autocompact", "fired").contains(C.toLong))
    assert(parquetFiles(s"$root13/idx") <= 17L, // 8 segdf + 8 docs + margin
      s"auto-compacted segdf index still carries small files: ${parquetFiles(s"$root13/idx")}")
    val plain13 = graft.streaming.DocStreams.streamLineDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got13 == plain13,
      s"only-auto=${(got13 -- plain13).take(2)} only-plain=${(plain13 -- got13).take(2)}")
    // st14: the IVF-PQ index under the same cadence — the code and vector
    // tables each end at ≤ one file per bucket (32) in their current
    // compaction generation, and the verdicts equal a plain drain
    def vr(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val root14 = graft.sources.Spool.tempRoot("st14_auto")
    val got14 = graft.streaming.DocStreams.streamIvfPqIngest(spark, sfDir,
        autoCompactEvery = 1, rootDir = Some(root14))
      .collect().map(vr).toSet
    assert(Metrics.scalar("st14.autocompact", "fired").contains(C.toLong))
    val idx14 = new java.io.File(s"$root14/idx").listFiles().toSeq
    Seq("codes", "vecs").foreach { t =>
      val dirs = idx14.filter(_.getName.matches(s"${t}(_c\\d+)?"))
      assert(dirs.size == 1, s"st14 $t: expected one live table dir, got ${dirs.map(_.getName)}")
      val files = parquetFiles(dirs.head.toString)
      assert(files <= 32L, s"auto-compacted st14 $t still carries small files: $files")
    }
    val plain14 = graft.streaming.DocStreams.streamIvfPqIngest(spark, sfDir)
      .collect().map(vr).toSet
    assert(got14 == plain14,
      s"only-auto=${(got14 -- plain14).take(2)} only-plain=${(plain14 -- got14).take(2)}")
  }

  test("a failed ingest drain rethrows, stops its query and still persists the index meta") {
    // the drain's meta write sits in a finally: a cycle that throws on
    // the second micro-batch must leave `_meta` advanced by the first
    // batch's absorb, with the exception at the caller and no query left
    // running
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import graft.operators.Dedup
    import graft.streaming.DocStreams
    val run = new DocStreams.Run("st9fail", None, "pairs")
    val docs = graft.sources.Tables.documents(spark, sfDir).select("doc_id", "text")
    val landed = Dedup.landMinhashIndex(docs.filter(col("doc_id") % 5 < 3),
      "doc_id", "text", n = 3, k = 64, bands = 16, run.tableBase, run.idx)
    val schema = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType), StructField("est_jaccard", DoubleType)))
    var cycles = 0
    var firstSigs = 0L
    try {
      val err = intercept[Exception] {
        DocStreams.drain(spark, run, Dedup.MinhashIndex, landed, docs, "doc_id",
            sfDir, autoCompactEvery = 0, schema) { (fresh, _, _, meta) =>
          cycles += 1
          if (cycles == 2) throw new IllegalStateException("injected second-cycle failure")
          firstSigs = Dedup.minhashSignatures(fresh, "doc_id", "text", 3, 64).count()
          Dedup.minhashBatch(spark, fresh, "doc_id", "text", run.tableBase,
            threshold = 0.5, meta)
        }
      }
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => Option(c.getMessage).exists(_.contains("injected second-cycle failure"))),
        s"the cycle's exception did not reach the caller: $err")
      assert(spark.streams.active.isEmpty, "the failed drain left its query running")
      assert(cycles == 2)
      assert(firstSigs > 0, "first micro-batch absorbed nothing — test is vacuous")
      assert(Dedup.MinhashIndex.readMeta(spark, run.tableBase).nDocs == landed.nDocs + firstSigs)
    } finally Seq("sigs", "bands", "meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${run.tableBase}_$t"))
  }

  test("st10: streamed semantic probe+absorb union equals the frozen-centroid recompute") {
    // the d13 continuous-ingest contract under streaming: drained pairs
    // = the frozen-centroid (landed slice's centroids!) d10 algebra
    // over ALL vectors restricted to arrival-involving pairs, including
    // cross-micro-batch pairs (the absorb-visibility leg). Centroids
    // recomputed here exactly as landSemanticIndex freezes them
    // (md5Sample over the corpus slice, ivfCellsFor-sized — parquet
    // roundtrips doubles exactly, so the recompute is bit-identical).
    // τ = 0.2, not the key's 0.4: the spec corpus is smaller and the
    // looser τ keeps the cross-batch leg non-vacuous.
    val got = graft.streaming.DocStreams.streamSemanticDedup(spark, sfDir,
        threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
    val corpus = embs.filter(col("vec_id") % 5 < 3)
    val cents = graft.operators.Similarity.md5Sample(corpus, "vec_id", "embedding",
      graft.operators.Dedup.ivfCellsFor(corpus.count()), "cid", "cw")
    val want = graft.operators.Dedup.semanticDedupPairs(
      embs.select(col("vec_id").as("id"), col("embedding").as("v")),
      cents, threshold = 0.2)
      .filter(col("id_a") % 5 >= 3 || col("id_b") % 5 >= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "no arrival pairs at this sf — test is vacuous")
    val crossBatch = want.filter { case (a, b, _) =>
      a % 5 >= 3 && b % 5 >= 3 && a % C != b % C }
    assert(crossBatch.nonEmpty,
      "no cross-micro-batch arrival pair expected — absorb path untested")
    assert(got == want,
      s"only-streamed=${(got -- want).take(3)} only-batch=${(want -- got).take(3)}")
  }

  // the shared scalar recompute for the st11/st12 contracts: classify
  // each arrival against the full pair set under the arrival-ordered
  // earlier rule (landed < earlier chunk < smaller id in-chunk), and
  // demand all three earlier-neighbor kinds appear somewhere (landed,
  // earlier-chunk — the absorb-visibility leg — and same-chunk — the
  // intra-batch leg) so the fold is never vacuously green
  private def arrivalOrderedFold(pairs: Set[(Long, Long)], ids: Set[Long],
                                 what: String): Set[(Long, Option[Long], Boolean)] = {
    def arr(i: Long) = i % 5 >= 3
    def earlier(e: Long, x: Long) =
      !arr(e) || e % C < x % C || (e % C == x % C && e < x)
    val arrivals = ids.filter(arr)
    val folded = arrivals.map { x =>
      val es = pairs.collect {
        case (a, b) if b == x && earlier(a, x) => a
        case (a, b) if a == x && earlier(b, x) => b
      }
      (x, es)
    }
    assert(folded.exists { case (_, es) => es.exists(e => !arr(e)) },
      s"$what: no landed earlier neighbor exercised")
    assert(folded.exists { case (x, es) => es.exists(e => arr(e) && e % C != x % C) },
      s"$what: no earlier-CHUNK neighbor exercised — absorb path untested")
    assert(folded.exists { case (x, es) => es.exists(e => arr(e) && e % C == x % C) },
      s"$what: no same-chunk neighbor exercised — intra-batch path untested")
    folded.map { case (x, es) =>
      (x, if (es.isEmpty) None else Some(es.min), es.isEmpty)
    }
  }

  private def classRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2))).toSet

  test("st11: streamed ingest classification equals the arrival-ordered fold") {
    // the d14-per-micro-batch contract: each arrival's keep/drop verdict
    // is taken against the index as of its arrival (mtime-ordered
    // chunks), so the drained stream must equal a single fold over the
    // full d3 pair algebra under earlier = landed ∨ earlier-chunk ∨
    // smaller-id chunk mate
    val got = classRows(
      graft.streaming.DocStreams.streamIncrementalSurvivors(spark, sfDir))
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val pairs = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = arrivalOrderedFold(pairs, ids, "st11")
    assert(got == want,
      s"only-streamed=${(got -- want).take(3)} only-fold=${(want -- got).take(3)}")
  }

  test("st12: streamed semantic ingest classification equals the arrival-ordered fold") {
    // the embedding twin: frozen-centroid pairs (centroids from the
    // landed vec_id % 5 < 3 slice, recomputed bit-identically as in the
    // st10 spec), folded under the same earlier rule; τ = 0.2 keeps all
    // three neighbor kinds non-vacuous at spec scale
    val got = classRows(
      graft.streaming.DocStreams.streamSemanticSurvivors(spark, sfDir,
        threshold = 0.2))
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
    val corpus = embs.filter(col("vec_id") % 5 < 3)
    val cents = graft.operators.Similarity.md5Sample(corpus, "vec_id", "embedding",
      graft.operators.Dedup.ivfCellsFor(corpus.count()), "cid", "cw")
    val pairs = graft.operators.Dedup.semanticDedupPairs(
      embs.select(col("vec_id").as("id"), col("embedding").as("v")),
      cents, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = embs.select("vec_id").collect().map(_.getLong(0)).toSet
    val want = arrivalOrderedFold(pairs, ids, "st12")
    assert(got == want,
      s"only-streamed=${(got -- want).take(3)} only-fold=${(want -- got).take(3)}")
  }

  test("st13: streamed line dedup equals the arrival-ordered segment fold") {
    // the d16/d17-per-micro-batch contract: each arrival is cleaned
    // against the segment-df state as of its arrival, so the drained
    // stream must equal a scalar keep-first fold over the full segment
    // algebra under earlier = landed ∨ earlier-chunk ∨ smaller-id
    // chunk mate — with all three earlier-host kinds exercised
    val got = graft.streaming.DocStreams.streamLineDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def segsOf(t: String): Seq[String] = {
      val w = t.split(" ", -1) // Spark split keeps trailing empties
      val n = math.max(math.ceil(w.length / 10.0).toInt, 1)
      (0 until n).map(i => w.slice(i * 10, i * 10 + 10).mkString(" "))
        .filter(_.nonEmpty)
    }
    def arr(i: Long) = i % 5 >= 3
    def earlier(e: Long, x: Long) =
      !arr(e) || e % C < x % C || (e % C == x % C && e < x)
    val hosts: Map[String, Set[Long]] = docs
      .flatMap { case (id, t) => segsOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var sawLanded, sawChunk, sawMate = false
    val want = docs.filter(d => arr(d._1)).map { case (x, t) =>
      val flags = segsOf(t).map { s =>
        val es = (hosts(s) - x).filter(e => earlier(e, x))
        val drop = es.nonEmpty // minDf = 2: any earlier host drops it
        if (drop) {
          if (es.exists(e => !arr(e))) sawLanded = true
          if (es.exists(e => arr(e) && e % C != x % C)) sawChunk = true
          if (es.exists(e => arr(e) && e % C == x % C)) sawMate = true
        }
        (s, drop)
      }
      (x, flags.collect { case (s, false) => s }.mkString(" "),
        flags.count(_._2).toLong)
    }.toSet
    assert(sawLanded, "st13: no landed earlier host exercised")
    assert(sawChunk, "st13: no earlier-chunk host exercised — absorb path untested")
    assert(sawMate, "st13: no same-chunk host exercised — intra-batch path untested")
    assert(got == want,
      s"only-streamed=${(got -- want).take(3)} only-fold=${(want -- got).take(3)}")
  }

  test("st14: streamed vector ingest equals the chunk-by-chunk batch replay") {
    // the a10-per-micro-batch contract: each arrival's ADC top-k is
    // taken against the index as of its arrival, so the drained stream
    // must be BIT-IDENTICAL to replaying the same chunks as plain batch
    // probe→absorb calls over a separately landed index — pinning
    // cross-micro-batch absorb visibility, the frozen quantizer, and
    // the verdict spool all at once
    def vr(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val got = graft.streaming.DocStreams.streamIvfPqIngest(spark, sfDir)
      .collect().map(vr).toSet
    val Sim = graft.operators.Similarity
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
    val landedRp = embs.filter(col("vec_id") % 5 < 3)
    // quantizer sized exactly as streamIvfPqIngest sizes it
    // (DocStreams: ivfCellsFor over the landed count) — the replay must
    // probe the same cells or the verdict sets trivially diverge
    Sim.landIvfPqIndex(landedRp, "vec_id",
      "embedding", graft.operators.Dedup.ivfCellsFor(landedRp.count()),
      4, 16, "st14_replay",
      graft.sources.Spool.dir(spark, "st14rp"))
    val arrivals = embs.filter(col("vec_id") % 5 >= 3)
    val want = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
    try (0 until C).foreach { i =>
      val chunk = arrivals.filter(pmod(col("vec_id"), lit(C)) === i)
      want ++= Sim.ivfPqProbe(spark, chunk, "vec_id", "embedding",
        "st14_replay", k = 5, nProbe = 4).collect().map(vr)
      Sim.absorbIvfPqBatch(spark, chunk, "vec_id", "embedding", "st14_replay")
    } finally Seq("cents", "cb", "codes", "vecs", "meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS st14_replay_$s"))
    assert(got == want.toSet,
      s"only-streamed=${(got -- want).take(3)} only-replay=${(want.toSet -- got).take(3)}")
    // non-vacuity: some verdict's neighbor arrived in an EARLIER chunk,
    // so the absorb-then-probe visibility leg is genuinely exercised
    assert(got.exists { case (x, nb, _, _) => nb % 5 >= 3 && nb % C < x % C },
      "no earlier-chunk neighbor in any verdict — absorb path untested")
  }
}
