package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Pins the session confs the engine's correctness and scale posture
  * rest on — a drift here would not fail any single query's test but
  * would change results (timezone), plans (broadcast threshold, AQE),
  * resilience (checkpoint dir) or per-query codegen cost (generated-class
  * cache size and key) everywhere at once.
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
    // the codegen cache keys on the context class loader too: with
    // artifact isolation on, each streaming query's session clone misses
    assert(!spark.conf.get("spark.sql.artifact.isolation.enabled").toBoolean)
    // file:// without a forked chmod per created file, for both Hadoop APIs
    assert(sc.get("spark.hadoop.fs.file.impl") == classOf[graft.engine.GraftLocalFileSystem].getName)
    assert(sc.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ==
      classOf[graft.engine.GraftLocalFs].getName)
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

  test("codegen cache holds an ingest drain: a second st9 drain compiles no class") {
    // each drain runs its stream in a cloned session; its classes must hit
    // the JVM-wide cache the first drain filled
    val st9 = SparkEntry.queries("st9_stream_incremental_dedup")
    def drain(): (Long, Long) = {
      val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      st9(spark, sfDir).queryExecution.toRdd.count()
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, CodeGenerator.compileTime - ns0)
    }
    drain()
    val (classes, ns) = drain()
    assert(classes == 0 && ns == 0,
      s"the second st9 drain compiled $classes classes in ${ns / 1000000} ms")
  }
}
