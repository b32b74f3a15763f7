package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One clock for every span: epoch microseconds with nanoTime resolution,
  * so driver-side spans and Spark's epoch-millisecond event times line up.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** A timed interval with its layer and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spans recorded by the benchmark's own files around calls into each
  * layer; kept in memory and written out when the run ends.
  */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, layer: String, startUs: Long, endUs: Long): Int =
    synchronized {
      all += Span(all.size + 1, parent, name, layer, startUs, endUs)
      all.size
    }
  def open(parent: Int, name: String, layer: String): Int =
    add(parent, name, layer, Clock.nowUs, -1L)
  def closeAt(id: Int, endUs: Long): Unit = synchronized {
    all(id - 1) = all(id - 1).copy(endUs = endUs)
  }
  def close(id: Int): Unit = closeAt(id, Clock.nowUs)
  /** Runs `f` under a child span; returns its result and duration. */
  def time[A](parent: Int, name: String, layer: String)(f: => A): (A, Long) = {
    val id = open(parent, name, layer)
    val r = f
    close(id)
    (r, all(id - 1).durUs)
  }
}

final case class StageRec(id: Int, jobId: Int, submitUs: Long, var endUs: Long,
                          var tasks: Int = 0, var runMs: Long = 0, var cpuNs: Long = 0,
                          var gcMs: Long = 0, var shufWrite: Long = 0, var shufRead: Long = 0,
                          var shufWaitMs: Long = 0, var spill: Long = 0, var inBytes: Long = 0,
                          var inRows: Long = 0, var outBytes: Long = 0, var waitMs: Long = 0,
                          var failed: Int = 0, runs: ArrayBuffer[Long] = ArrayBuffer.empty)

final case class JobRec(id: Int, startUs: Long, var endUs: Long, site: String,
                        streaming: Boolean, desc: String) {
  /** A streaming query pins its thread's call site to where the query
    * started, so a micro-batch job counts toward the call site's module
    * unless the program labelled it (only the operators label jobs).
    */
  def module: String =
    if (streaming && desc.nonEmpty && !desc.contains("batch = ")) "operators"
    else JobListener.moduleOf(site)
}

final case class BatchRec(query: String, batchId: Long, endUs: Long, durMs: Map[String, Long],
                          inputRows: Long, stateRows: Long, stateBytes: Long) {
  def startUs: Long = endUs - durMs.getOrElse("triggerExecution", 0L) * 1000L
}

/** Spark job/stage/task listener. Each job is attributed to the graft
  * module of the innermost `graft.` frame of its `callSite.long`.
  */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    // the call-site property is only set where a thread pins it (streaming
    // queries); otherwise the result stage carries the job's call site
    val site = props.flatMap(p => Option(p.getProperty("callSite.long")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)).getOrElse("")
    val stream = props.exists(p => p.getProperty("streaming.sql.batchId") != null)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs += JobRec(e.jobId, e.time * 1000L, -1L, JobListener.innermost(site), stream, desc)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endUs = e.time * 1000L)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val sub = i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
    stages(i.stageId) = StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), sub, -1L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach(_.endUs = i.completionTime.getOrElse(0L) * 1000L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.failed += 1
      s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitUs / 1000L)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.runs += m.executorRunTime
        s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.shufWrite += m.shuffleWriteMetrics.bytesWritten
        s.shufRead += m.shuffleReadMetrics.totalBytesRead
        s.shufWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead; s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

object JobListener {
  val Modules = Set("engine", "queries", "sources", "operators", "streaming", "functions", "scrape")

  /** The innermost `graft.` frame of a call site, or "". */
  def innermost(callSiteLong: String): String =
    callSiteLong.linesIterator.map(_.trim.stripPrefix("at ")).find(_.startsWith("graft.")).getOrElse("")

  /** Module of a graft frame; `graft.SparkEntry` and other top-level
    * graft objects count as `queries`, no graft frame as `engine`.
    */
  def moduleOf(frame: String): String =
    if (frame.isEmpty) "engine"
    else {
      val parts = frame.split("\\.")
      if (parts.length > 2 && Modules(parts(1))) parts(1) else "queries"
    }
}

/** Records every micro-batch's progress; stream_ingest times its ops
  * from these, traced or not.
  */
final class BatchListener extends StreamingQueryListener {
  val batches = ArrayBuffer.empty[BatchRec]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p: StreamingQueryProgress = e.progress
    import scala.jdk.CollectionConverters._
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // a progress event with no data is the idle poll that ends a drain
    if (p.numInputRows > 0 || dur.contains("addBatch")) {
      val endUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L +
        dur.getOrElse("triggerExecution", 0L) * 1000L
      batches += BatchRec(p.id.toString, p.batchId, endUs, dur, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }
}
