package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.engine.GraftSession

/** Structured Streaming operators over the `events` table (SURVEY.md
  * §2.4). The parquet file source stands in for a real stream: at
  * cluster scale the same plan reads Kafka/file drops incrementally;
  * here each query drains the source synchronously (processAllAvailable)
  * into a memory sink so the driver contract (return a DataFrame) holds.
  */
final case class SessionState(startTs: Long, lastTs: Long, nEvents: Long, sessionId: Long)
final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                            first_ts_ms: Long, last_ts_ms: Long)
final case class OrdinalOut(user_id: Long, event_id: Long, ts_ms: Long, ordinal: Long)

/** st8's per-key running counter on Spark 4's `transformWithState`
  * API (the arbitrary-stateful-processing successor to
  * flatMapGroupsWithState): typed `ValueState` from the processor
  * handle, explicit `TimeMode`, and a per-state `TTLConfig` — the API a
  * large-state deployment uses for per-key state with TTL eviction.
  * Batch rows arrive unordered, so each batch's rows sort by
  * (ts_ms, event_id) before numbering — within one drain the emitted
  * ordinal is exactly the batch ROW_NUMBER, which is what the DuckDB
  * oracle checks. Incremental arrivals extend the counter monotonically
  * (state carries n across batches); time-ordered file arrival — the
  * realistic event-log layout — preserves the global order too.
  *
  * TTL is NONE here (the gate's drain must number every event);
  * an unbounded deployment bounds the per-user state footprint with
  * `TTLConfig(Duration)` — the one-line flip this operator exists to
  * demonstrate — accepting that a user silent past the TTL restarts
  * at 1.
  */
final class RunningOrdinalProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long, Long), OrdinalOut] {
  @transient private var nSeen: org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    nSeen = getHandle.getValueState[Long]("n_seen",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(
      user: Long, rows: Iterator[(Long, Long, Long)],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[OrdinalOut] = {
    // (user_id, event_id, ts_ms) tuples; deterministic in-batch order
    val sorted = rows.toArray.sortBy { case (_, eid, ts) => (ts, eid) }
    var n = if (nSeen.exists()) nSeen.get() else 0L
    val out = sorted.map { case (_, eid, ts) => n += 1; OrdinalOut(user, eid, ts, n) }
    nSeen.update(n)
    out.iterator
  }
}

object EventStreams {

  private val qid = new AtomicInteger(0)

  /** Streaming scan of events.parquet (ts surfaced as micros timestamp,
    * same convention as Tables.events).
    *
    * A streaming source needs an explicit schema, and the physical type
    * of `ts` varies across testdata generations (nanos LONG vs micros
    * TIMESTAMP_NTZ — see [[graft.sources.Tables.normalizeEventTs]]), so
    * the schema is taken from a batch peek at the same files, through
    * the session's schema memo ([[graft.sources.Tables.parquet]]): only
    * the first peek of a file set reads a footer, and the ts
    * normalization is shared with the batch loader.
    */
  /** @param maxFilesPerTrigger bound each micro-batch to this many
    *   files — the backfill throttle: pointing a fresh query at a year
    *   of landed files with no bound makes batch 1 process the whole
    *   backlog in one enormous batch (state explosion, no incremental
    *   checkpoints). None = Spark's default (all available).
    */
  def eventStream(spark: SparkSession, dir: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // peek with the SAME glob the stream reads: a multi-file layout
    // (events_1.parquet..events_N.parquet — exactly what the wildcard
    // below enables) has no literal events.parquet to peek at
    val schema = graft.sources.Tables.parquet(spark, dir,
      Map("pathGlobFilter" -> "events*.parquet")).schema
    // events*.parquet, not events.parquet: the stream root is the sf dir
    // (so the glob must exclude the OTHER tables), but a real deployment
    // lands events as a SEQUENCE of files — a single-file glob would
    // silently ignore every arrival after the first. The wildcard keeps
    // the sf-dir layout working (no other table name starts with
    // "events") while letting incrementally-arriving files feed new
    // micro-batches (proven in StreamingSpec's two-phase arrival test).
    val reader = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events*.parquet")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    graft.sources.Tables.normalizeEventTs(reader.parquet(dir))
  }

  /** Tumbling-window streaming aggregation with an event-time watermark.
    * Complete output mode so a finite drain emits every window — the
    * result must equal the equivalent batch query (the DuckDB oracle);
    * with an unbounded source the same plan runs in append mode and the
    * watermark bounds state.
    */
  def windowedAgg(spark: SparkSession, dir: String): DataFrame =
    drain(windowedAggPlan(spark, dir), OutputMode.Complete())

  /** The un-drained windowed-agg plan. The gate drains it in Complete
    * mode (a finite source must emit every window for the batch-equal
    * oracle); an unbounded deployment runs the SAME plan in Append mode,
    * where only watermark-closed windows emit and state stays bounded —
    * that mode's emission set is pinned in StreamingSpec.
    */
  def windowedAggPlan(spark: SparkSession, dir: String): DataFrame =
    eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("bucket_s"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stateful sessionization via flatMapGroupsWithState: per-user state
    * holds the open session; a gap > 30 min closes it and emits the
    * completed session. State is per key with EVENT-TIME TIMEOUT: the
    * timeout timestamp is lastTs + gap, so once the watermark passes it
    * the session can never grow — Spark invokes the function with
    * `hasTimedOut`, we emit the session and REMOVE the state. At scale
    * the store therefore holds one small record per user active within
    * the watermark horizon; idle users are evicted, which is what makes
    * this plan safe on an unbounded stream.
    *
    * A finite drain emits gap-closed sessions plus every session timed
    * out by the final watermark (max event time - 2h); only trailing
    * sessions newer than that stay open. That set is deterministic and
    * SQL-expressible, so st2 is oracle-checked against DuckDB.
    *
    * Caveats (deliberate, documented trade-offs):
    *  - session_id is a per-state counter for oracle parity with the
    *    batch sessionize; after state eviction a RETURNING user restarts
    *    at session_id = 1, so (user_id, session_id) is only unique within
    *    a state lifetime. The DURABLE primary key is (user_id,
    *    first_ts_ms), emitted for exactly that purpose: the output
    *    composes directly with [[graft.sources.Sinks.jdbcUpsert]] on that
    *    key (re-drains and redeliveries are absorbed — proven in
    *    StreamingSpec's st2-upsert case).
    *  - a straggler group whose session already expired when its next
    *    data arrives emits-and-removes immediately (watermark strictly
    *    past lastTs + gap, same strict compare as the timeout), so
    *    multi-batch incremental runs match the oracle; the only residual
    *    skew is a group that never receives data again after the
    *    watermark lands EXACTLY on lastTs + gap (timeout is re-armed 1 ms
    *    late) — unreachable in a single-drain and a 1 ms window beyond it.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    drain(sessionizePlan(spark, dir), OutputMode.Append())

  /** The UN-DRAINED streaming plan behind [[sessionize]] — what a
    * production deployment passes to its own `writeStream` (checkpoint,
    * trigger, sink of choice) instead of the finite memory-sink drain.
    * Exposed separately so the multi-batch state continuity can be
    * driven and asserted directly (StreamingSpec's two-phase arrival
    * test): the gate's one-shot drain exercises a single data
    * micro-batch, but the operator's contract is incremental.
    */
  def sessionizePlan(spark: SparkSession, dir: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val gapMs = 1800000L
    // keep the watermarked `ts` attribute in the projection:
    // EventTimeTimeout requires the event-time column to survive into
    // flatMapGroupsWithState's child output (dropping it is an
    // AnalysisException at plan time); the pre-computed ts_ms rides along
    val events = eventStream(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ts_ms"))
      .as[(Long, java.sql.Timestamp, Long)]

    val out = events.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
       state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          // watermark passed lastTs + gap: no future event can extend
          // this session — emit it and drop the state (the eviction)
          val st = state.get
          state.remove()
          Iterator.single(SessionOut(user, st.sessionId, st.nEvents, st.startTs, st.lastTs))
        } else {
          val sorted = rows.map(_._3).toArray.sorted
          var st = state.getOption.orNull
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { t =>
            if (st == null) st = SessionState(t, t, 1, 1L)
            else if (t - st.lastTs > gapMs) {
              closed += SessionOut(user, st.sessionId, st.nEvents, st.startTs, st.lastTs)
              st = SessionState(t, t, 1, st.sessionId + 1)
            } else st = st.copy(lastTs = t, nEvents = st.nEvents + 1)
          }
          if (st != null) {
            if (state.getCurrentWatermarkMs() > st.lastTs + gapMs) {
              // straggler: the watermark already strictly passed this
              // session's expiry (the timeout's own fire condition), so
              // emit-and-remove now instead of re-arming a timeout that a
              // quiet stream might never fire
              closed += SessionOut(user, st.sessionId, st.nEvents, st.startTs, st.lastTs)
              state.remove()
            } else {
              state.update(st)
              // must exceed the current watermark or Spark rejects it
              state.setTimeoutTimestamp(
                math.max(st.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
          }
          closed.result().iterator
        }
    }
    out.toDF()
  }

  /** st8: per-user running event ordinal via [[RunningOrdinalProcessor]]
    * (`transformWithState`). One row out per row in, the ordinal
    * continuing across micro-batches through the typed ValueState.
    * The operator REQUIRES the RocksDB state-store provider (Spark
    * rejects state-v2 queries on the HDFS-backed default), so the
    * provider conf is set for this drain and restored after — which
    * also makes st8 the gate's standing proof that the RocksDB path
    * stays healthy, complementing StreamingSpec's conf-flip re-runs.
    */
  def runningOrdinal(spark: SparkSession, dir: String): DataFrame =
    // serialized per JVM: the provider conf is session-global and read
    // at query start, so a concurrent second caller would capture the
    // first call's temporary RocksDB value as its `prev` and "restore"
    // it — pinning the session to RocksDB after both finish. The lock
    // also keeps unrelated queries from starting inside the flip window
    // only if they take the same lock, so the flip stays as narrow as
    // the drain itself; the gate runs queries sequentially.
    providerFlipLock.synchronized {
      GraftSession.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        drain(runningOrdinalPlan(spark, dir), OutputMode.Append())
      }
    }

  private val providerFlipLock = new Object

  /** The un-drained st8 plan (see [[sessionizePlan]] for why plans are
    * exposed separately: StreamingSpec drives multi-batch arrivals and
    * checkpoint restarts against it directly).
    */
  def runningOrdinalPlan(spark: SparkSession, dir: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    eventStream(spark, dir, maxFilesPerTrigger)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningOrdinalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Sessionization with the BUILT-IN session window — the declarative
    * twin of [[sessionize]]: `session_window(ts, gap)` makes Spark's own
    * state store do the merging (no user state function at all), the
    * watermark closes and evicts sessions, and append mode emits each
    * session exactly once when the watermark passes its end. Prefer this
    * shape when per-session output is (start, end, aggregates); drop to
    * flatMapGroupsWithState (st2) only for semantics the built-in can't
    * express (session counters, custom emit timing). A finite drain
    * emits exactly the sessions whose end the final watermark passed —
    * deterministic and SQL-expressible, so st7 is oracle-checked.
    */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    drain(sessionWindowAggPlan(spark, dir), OutputMode.Append())

  /** The un-drained st7 plan (see [[sessionizePlan]] for why plans are
    * exposed separately; StreamScale drives it at larger key scale).
    */
  def sessionWindowAggPlan(spark: SparkSession, dir: String,
                           maxFilesPerTrigger: Option[Int] = None): DataFrame =
    eventStream(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("start_ms"),
        unix_millis(col("w.end")).as("end_ms"),
        col("n_events"))

  /** Stream-static join: the unbounded event stream joins a broadcast
    * static dimension (customer) with no stream-side state at all — the
    * canonical enrichment shape. Aggregated per segment so the finite
    * drain is oracle-comparable.
    */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val customers = graft.sources.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventStream(spark, dir)
      .join(broadcast(customers), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    drain(joined, OutputMode.Complete())
  }

  /** Stream-stream interval join — the canonical attribution shape
    * (impression stream ⋈ conversion stream): every `view` pairs with
    * the same user's `purchase`s in the hour after it. Both sides carry
    * a watermark and the join condition bounds event-time distance, so
    * each side's join state is evicted once the watermark passes its
    * reach (1 h range + 2 h delay) — bounded state per key on an
    * unbounded stream, which is what makes the plan safe at scale. The
    * pair emission runs in the stream; the per-user rollup is batch
    * post-processing over the drained sink (same pattern as the other
    * finite drains), and the whole result is oracle-checked against the
    * equivalent DuckDB self-join.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val views = eventStream(spark, dir)
      .filter(col("event_type") === "view")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val purchases = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
    val pairs = drain(
      views.join(purchases,
        expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 1 hour")),
      OutputMode.Append())
    pairs.groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** Streaming dedup on the event id, then a per-type distinct count —
    * exactly-once semantics over an at-least-once source.
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`, whose
    * state never expires when the event-time column is outside the key
    * subset) expires each id's state once the watermark passes its event
    * time + delay, so state is bounded by the 2-hour horizon on an
    * unbounded stream; duplicates are assumed to arrive within it.
    */
  def streamDedupCount(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique"))
    drain(deduped, OutputMode.Complete())
  }

  /** Exactly-once relational sink: micro-batches land through the
    * idempotent natural-key upsert (`foreachBatch` +
    * [[graft.sources.Sinks.jdbcUpsert]]), so a replayed batch — the
    * at-least-once delivery failure mode — cannot duplicate rows.
    * Each batch is deliberately written TWICE to simulate redelivery;
    * the oracle equality (distinct purchases per user) is therefore the
    * proof that idempotent-write + at-least-once = effectively
    * exactly-once. This is the pattern for landing a stream in a store
    * with no transactional sink support: keys, not transactions.
    */
  def streamUpsertSink(spark: SparkSession, dir: String): DataFrame = {
    // the db is a PER-CALL temp resource (deleted below), so it gets the
    // same treatment as the drain checkpoint WAL: tmpfs when available —
    // Derby fsyncs its transaction log on every upsert batch, and paying
    // disk syncs for a database that dies with the call is pure fixed
    // overhead. A production deployment passes its own durable JDBC URL.
    val dbDir = java.nio.file.Paths.get(
      graft.sources.Spool.fastTempRoot("st6_db"))
    val url = s"jdbc:derby:$dbDir/sinkdb;create=true"
    withDrainConf(spark) {
      eventStream(spark, dir)
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id")
        .writeStream
        .outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.sources.Sinks.jdbcUpsert(batch, url, "purchase_sink", "event_id")
          // redelivery: the second write must be absorbed by the key upsert
          graft.sources.Sinks.jdbcUpsert(batch, url, "purchase_sink", "event_id")
        }
        .start()
    }
    val out = graft.sources.Sinks.readJdbc(spark, url, "purchase_sink")
      .groupBy("user_id").agg(count(lit(1)).as("n_rows"))
    // The per-user rollup is a small bounded aggregate, so materialize it
    // driver-side and release the Derby db — the db dir is a PER-CALL
    // temp resource, and leaving one behind per invocation (plus an open
    // Derby engine on it) is a leak. The production shape of this
    // operator is the foreachBatch upsert above; this tail only exists
    // to hand the finite drain's result back as a DataFrame.
    val rows = out.collect()
    val result = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
    scala.util.Try( // a successful single-db shutdown THROWS 08006
      java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir/sinkdb;shutdown=true"))
    graft.sources.Spool.deleteRecursively(dbDir)
    result
  }

  /** Shared checkpoint root for all finite drains in this JVM, on tmpfs
    * when available (Spool.fastTempRoot): a drain's checkpoint WAL —
    * offsets, commits, per-partition state-store deltas, each rewritten
    * every micro-batch — is worthless past the JVM, so paying disk
    * fsyncs for it is pure fixed overhead (round 9 measured 25-40×
    * micro-batch amplification under host IO contention; batch queries
    * on the same host barely moved). Each query checkpoints under its
    * own subdirectory (unique queryName, or a UUID for unnamed queries).
    * An unbounded deployment overrides this with a durable shared-FS
    * location per query — THAT checkpoint is the recovery contract;
    * this one is scoped to drains only.
    */
  private lazy val drainCheckpointRoot: String =
    graft.sources.Spool.fastTempRoot("stream_ckpt")

  /** Run a finite streaming query to completion with the finite-drain
    * tuning: start it, `processAllAvailable`, and stop it in a `finally`,
    * so a failed drain rethrows with the query already stopped. The
    * tuning: 8 shuffle partitions instead of the session's 32
    * (state-store instances and per-micro-batch tasks equal the
    * shuffle-partition count captured at query start, and a finite
    * drain's state holds a few thousand rows — 32 stores are pure fixed
    * overhead); checkpoints on the tmpfs drain root; checkpoint file
    * checksums off (a crash-recovery integrity feature — for a drain
    * whose checkpoint dies with the JVM it only doubles the WAL file
    * count). Results are partition-count independent; an unbounded
    * deployment sizes/overrides these via its own conf. The session
    * confs are restored once the query has stopped.
    */
  private[streaming] def withDrainConf(spark: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit =
    GraftSession.withConfs(spark,
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.checkpointLocation" -> drainCheckpointRoot,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") {
      val q = start
      try q.processAllAvailable() finally q.stop()
    }

  /** Run a finite streaming query into a memory sink and return the
    * materialized table. Package-visible so specs can drain an exposed
    * plan in a DIFFERENT output mode than the gate query uses (the st1
    * append-mode emission test).
    */
  private[graft] def drain(df: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"graft_stream_${qid.incrementAndGet()}"
    withDrainConf(df.sparkSession) {
      df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    }
    df.sparkSession.table(name)
  }
}
