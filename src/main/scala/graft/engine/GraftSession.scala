package graft.engine

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the engine (SURVEY.md §4/§5).
  *
  * The knobs that matter at 100 TB, set once:
  *  - AQE on with partition coalescing and skew-join splitting, so the
  *    static shuffle-partition count only has to be roughly right;
  *  - broadcast threshold raised to 64 MB: every dimension in the star
  *    schema (and every roster/bucket dim the engine builds) must
  *    broadcast rather than shuffle the fact side;
  *  - shuffle partitions sized to the core count locally; on a real
  *    cluster this is executors x cores x 2-3, and AQE coalesces down;
  *  - Spark's JVM-wide generated-class cache holds 512 entries, not 100:
  *    q1–q32 alone compile about 370 distinct classes, so an LRU of 100
  *    cycled through them missed on almost every class and recompiled
  *    each plan's Java on every run. At 20–25 KB retained per entry
  *    (source text plus bytecode) the cap pins at most about 13 MB. It
  *    also bounds what a long ingest can hold: each pass of the
  *    benchmark's st1 + st9 drain still compiles 37 classes it has not
  *    seen before. The conf is static: Spark reads it once, when the
  *    first query of the JVM generates code;
  *  - the live status store keeps the last 10 jobs, stages, tasks and
  *    SQL executions (defaults 1000, 1000, 100000 and 1000): with the UI
  *    off nothing reads that history, and trimming it pays for the
  *    classes the cache retains. The SQL executions matter most: each
  *    keeps its plan graph and every plan metric.
  */
object GraftSession {

  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // spark.sql.files.maxPartitionBytes stays at the 128 MB default: at
      // cluster scale that yields memory-safe scan tasks, and AQE
      // coalescing absorbs the small-file end (measured: shrinking it to
      // 2 MB does not move the local benchmark, which is overhead-bound)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "512")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "10")
      .config("spark.sql.ui.retainedExecutions", "10")
      // Local-master resilience: the executor heartbeats the in-process
      // driver, and on `spark.executor.heartbeat.maxFailures` consecutive
      // misses Spark SELF-KILLS the JVM (ExecutorExitCode 56) — on a
      // contended host whose hypervisor stalls the VM for minutes (CPU
      // steal), a long gate run can die mid-write with shutdown hooks
      // deleting spools under in-flight jobs. Heartbeat loss carries no
      // signal when driver and executor share a JVM, so make the
      // self-kill effectively unreachable and widen the RPC timeout. On
      // a real cluster the deployer's conf overrides these — there the
      // heartbeat IS the liveness contract.
      .config("spark.executor.heartbeatInterval", "30s")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeat.maxFailures", "10000")

  /** Local session as the driver harness runs it. A checkpoint directory
    * is always set (Spool-managed temp root, deleted on JVM exit) so the
    * RELIABLE-checkpoint branches of iterative operators — e.g.
    * `Dedup.dedupClusters`'s every-3-rounds lineage truncation — engage
    * under the harness exactly as they would on a cluster, instead of
    * silently falling back to `localCheckpoint` (which loses data on
    * executor failure). On a real cluster the deployer sets a shared-FS
    * checkpoint dir on the context and this default never applies.
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(graft.sources.Spool.tempRoot("ckpt"))
    // harvest the engine's observe() metrics (graft.Metrics) — a cluster
    // deployment calls Metrics.enable on its own session the same way
    graft.Metrics.enable(s)
    s
  }
}
