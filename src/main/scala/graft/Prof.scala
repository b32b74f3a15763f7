package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graft.BusBridge

import graft.engine.GraftSession

/** Developer diagnostic: time SparkEntry queries one at a time and list
  * every Spark job each run submits (wall time, call site, description)
  * — for queries whose cost is a sum of small jobs (the ingest drains,
  * the landed-index builders), where a stage view hides the per-job
  * scheduling floor.
  *
  * `runMain graft.Prof <key>[,<key>...] [reps]` against
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). One listener lives for the
  * whole run and the listener bus is drained before each rep's jobs are
  * read, so the job and task counts are exact; the codegen figures are
  * deltas of Spark's compile counter and compile-time sum.
  * `PROF_EXPLAIN=1` dumps each key's formatted physical plan first (read
  * by `tools/plan_counts.py`); it is opt-in because building an `st*`
  * key runs its drain. Not part of the driver gate.
  *
  * Each rep line gives the rep's wall time and, within it, `build=`:
  * the time `fn(spark, sfDir)` takes to construct the DataFrame (table
  * loads, driver-side collects, an `st*` key's whole drain) before its
  * rows are counted.
  *
  * A rep runs `fn(spark, sfDir).queryExecution.toRdd.count()`, not
  * `count()`: count() re-plans the query through a fresh Aggregate, and
  * column pruning then drops whatever the count does not need — map-only
  * queries (t12 kernel, a4 quantize) would run only their scan. toRdd
  * materializes every output row of the plan as built.
  */
object Prof {
  final case class Job(id: Int, seconds: Double, site: String, desc: String)

  /** What one action ran: its value, its jobs by id, and its task count. */
  final case class Record[T](value: T, jobs: Seq[Job], tasks: Int)

  /** A listener whose `record` returns the Spark jobs and tasks one
    * action ran.
    */
  private[graft] final class JobLog extends SparkListener {
    private val open = new ConcurrentHashMap[Int, (Long, String, String)]()
    private val done = new ConcurrentLinkedQueue[Job]()
    private val tasks = new AtomicInteger()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      open.put(e.jobId, (e.time,
        Option(e.properties.getProperty("callSite.short")).getOrElse("?"),
        Option(e.properties.getProperty("spark.job.description")).getOrElse("")))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach { case (t0, site, desc) =>
        done.add(Job(e.jobId, (e.time - t0) / 1e3, site, desc))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()

    /** `f`'s value with the jobs and tasks it ran: events posted before
      * `f` are forgotten, and every event `f` posted is read.
      */
    def record[T](sc: SparkContext)(f: => T): Record[T] = {
      BusBridge.drain(sc)
      open.clear()
      done.clear()
      tasks.set(0)
      val v = f
      BusBridge.drain(sc)
      Record(v, done.asScala.toSeq.sortBy(_.id), tasks.get)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    require(args.nonEmpty, "usage: Prof <key>[,<key>...] [reps]")
    val keys = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 1
    val explain = sys.env.get("PROF_EXPLAIN").contains("1")
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT/codegen warm
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    keys.foreach { key =>
      val fn = SparkEntry.queries.getOrElse(key, sys.error(
        s"unknown query '$key'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      if (explain) fn(spark, sfDir).explain("formatted")
      (1 to reps).foreach { r =>
        val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        val Record((rows, build, wall), jobs, tasks) = log.record(spark.sparkContext) {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          val n = df.queryExecution.toRdd.count()
          (n, (t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9)
        }
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        val compileMs = (CodeGenerator.compileTime - ns0) / 1000000
        println(f"[prof] $key rep $r: $wall%.2fs build=$build%.2fs rows=$rows jobs=${jobs.size} tasks=$tasks " +
          f"jobSum=${jobs.map(_.seconds).sum}%.2fs codegen=$compiles compiles/${compileMs}ms")
        jobs.foreach { j =>
          val d = if (j.desc.length > 60) j.desc.take(57) + "..." else j.desc
          println(f"[prof]   job ${j.id}%4d ${j.seconds}%6.3fs  ${j.site}%-40s $d")
        }
      }
    }
    spark.stop()
  }
}
