package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Pins the session confs the engine's correctness and scale posture
  * rest on — a drift here would not fail any single query's test but
  * would change results (timezone), plans (broadcast threshold, AQE),
  * resilience (checkpoint dir) or per-query codegen cost (generated-class
  * cache size) everywhere at once.
  */
class GraftSessionSpec extends SparkSpec {

  test("session confs: UTC, AQE + skew join, 64MB broadcast, checkpoint dir set") {
    // UTC: every oracle compares timestamps as epoch values against
    // DuckDB reading the files natively; a local-zone session would skew
    // all NTZ casts
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // AQE family: the static shuffle-partition count is only "roughly
    // right" BECAUSE coalescing and skew-splitting are on
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled").toBoolean)
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled").toBoolean)
    // 64 MB broadcast threshold: the star-schema dims and bucket dims
    // must broadcast — PlanAuditSpec's BroadcastHashJoin asserts assume it
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold").toLong == 64L * 1024 * 1024)
    // reliable-checkpoint branches (d6's every-5-rounds truncation) only
    // engage when a checkpoint dir exists
    assert(spark.sparkContext.getCheckpointDir.nonEmpty,
      "no checkpoint dir: iterative operators would fall back to localCheckpoint")
    // generated-class cache sized to the q1–q32 working set (~370
    // classes); at Spark's default 100 every run recompiles them
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt == 512)
    // status-store history nothing reads while the UI is off
    val sc = spark.sparkContext.getConf
    Seq("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.ui.retainedTasks",
      "spark.sql.ui.retainedExecutions").foreach(k => assert(sc.get(k).toInt == 10, k))
  }

  test("codegen cache holds q1–q32: a second run of every query compiles no class") {
    val keys = SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted
    assert(keys.size == 32)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def runAll(): Seq[(String, Long)] = keys.map { k =>
      val c0 = compiles.getCount
      SparkEntry.queries(k)(spark, sfDir).queryExecution.toRdd.count()
      k -> (compiles.getCount - c0)
    }
    runAll()
    val recompiled = runAll().filter(_._2 > 0)
    assert(recompiled.map(_._2).sum == 0,
      s"classes recompiled by the second run, per query: ${recompiled.mkString(", ")}")
  }
}
