package graftbench

/** Per-layer metrics of a traced run. Time and count metrics are per
  * timed pass (summed over the pass's calls, averaged over passes);
  * jobs count toward the call whose interval holds their start.
  */
object Layers {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionUs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    c.foreach { case (a, b) =>
      if (!open || a > curE) { if (open) total += curE - curS; curS = a; curE = b; open = true }
      else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private val SlackUs = 2000L // Spark event times are whole milliseconds
  private val JdbcFrame = """graft\.sources\.Sinks\$\.(jdbc|jdbcUpsert|readJdbc)\(.*""".r

  def compute(ctx: Ctx, jl: JobListener, nP: Int, passWalls: Seq[(Int, Long)],
              extras: Seq[(Int, PassExtra)], compiles: Double, compileS: Double): Map[String, Double] = {
    val calls = ctx.calls.filter(_.pass >= 1).toSeq.sortBy(_.startUs)
    val jobs = jl.synchronized(jl.jobs.toVector).filter(_.endUs > 0)
    def callOf(us: Long): Option[CallRec] =
      calls.find(c => us >= c.startUs - SlackUs && us <= c.endUs + SlackUs)
    val timedJobs = jobs.flatMap(j => callOf(j.startUs).map(c => (j, c)))
    val jobIds = timedJobs.map(_._1.id).toSet
    val stages = jl.synchronized(jl.stages.values.toVector).filter(s => jobIds(s.jobId))
    val batches = ctx.batches.synchronized(ctx.batches.batches.toVector)
      .filter(b => callOf(b.startUs + SlackUs).isDefined)
    val ex = extras.filter(_._1 >= 1).map(_._2)
    def per(x: Double): Double = x / math.max(1, nP)
    def sumS(f: StageRec => Long, scale: Double): Double = per(stages.map(f).sum * scale)
    def modJobs(m: String) = timedJobs.filter(_._1.module == m).map(_._1)
    def jobS(js: Seq[JobRec]) = per(js.map(j => (j.endUs - j.startUs) / 1e6).sum)

    // spans for jobs, stages and micro-batches, parented to the call phase
    // (or micro-batch) holding their start
    val sp = ctx.spans
    val phaseSpans = sp.all.filter(s => s.layer != "bench" && s.endUs > 0).toVector
    val batchSpan = batches.map { b =>
      val c = callOf(b.startUs + SlackUs).get
      (b, sp.add(c.spanId, s"batch ${b.batchId}", "streaming", b.startUs, b.endUs))
    }
    timedJobs.foreach { case (j, c) =>
      val parent = batchSpan.find { case (b, _) => j.startUs >= b.startUs - SlackUs && j.startUs <= b.endUs }
        .map(_._2)
        .orElse(phaseSpans.find(s => s.parent == c.spanId && j.startUs >= s.startUs - SlackUs &&
          j.startUs <= s.endUs).map(_.id))
        .getOrElse(c.spanId)
      val jid = sp.add(parent, s"job ${j.id} ${j.desc.replace('\n', ' ').trim}", j.module,
        j.startUs, j.endUs)
      stages.filter(_.jobId == j.id).foreach(s =>
        sp.add(jid, s"stage ${s.id}", "engine", s.submitUs, math.max(s.submitUs, s.endUs)))
    }
    val timedSpanIds = calls.map(_.spanId).toSet
    val all = sp.all.toVector.filter(_.endUs > 0)
    val byParent = all.groupBy(_.parent)
    // spans under a timed call, at any depth
    val under = scala.collection.mutable.Set.empty[Int]
    def mark(id: Int): Unit = byParent.getOrElse(id, Nil).foreach { s => under += s.id; mark(s.id) }
    timedSpanIds.foreach(mark)
    val self = all.filter(s => under(s.id)).groupBy(_.layer).map { case (layer, ss) =>
      s"self.${layer}_s" -> per(ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
        (s.durUs - unionUs(kids, s.startUs, s.endUs)) / 1e6
      }.sum)
    }
    val selfAll = JobListener.Modules.toSeq.map(m => s"self.${m}_s" -> 0.0).toMap ++ self

    val gaps = calls.map { c =>
      val iv = timedJobs.filter(_._2 eq c).map(x => (x._1.startUs, x._1.endUs))
      (c.wallUs - unionUs(iv, c.startUs, c.endUs)) / 1e6
    }
    val skew = stages.filter(_.runs.size >= 2).map { s =>
      val m = median(s.runs.map(_.toDouble).toSeq)
      if (m > 0) s.runs.max / m else 1.0
    }
    val streamJobs = timedJobs.count(_._1.streaming)
    def bsum(k: String): Double = per(batches.map(_.durMs.getOrElse(k, 0L)).sum / 1e3)
    val lastState = batches.groupBy(_.query).values.map(_.maxBy(_.endUs)).toSeq
    val pagesRetrieved = ex.map(_.pagesRetrieved).sum

    selfAll ++ Map(
      "engine.plan_s" -> per(calls.map(c => (c.analysisUs + c.planUs) / 1e6).sum),
      "queries.build_s" -> per(calls.map(c => (c.buildUs - c.analysisUs) / 1e6).sum),
      "queries.exec_s" -> per(calls.map(_.execUs / 1e6).sum),
      "queries.cover_min" -> (if (calls.isEmpty) 0.0
        else calls.map(c => (c.buildUs + c.planUs + c.execUs).toDouble / math.max(1L, c.wallUs)).min),
      "queries.rows_out" -> per(calls.map(c => math.max(0L, c.rows)).sum.toDouble),
      "engine.jobs" -> per(timedJobs.size.toDouble),
      "engine.stages" -> per(stages.size.toDouble),
      "engine.tasks" -> per(stages.map(_.tasks).sum.toDouble),
      "engine.driver_gap_s" -> per(gaps.sum),
      "engine.job_p50_s" -> median(timedJobs.map(j => (j._1.endUs - j._1.startUs) / 1e6)),
      "engine.codegen_compiles" -> per(compiles),
      "engine.codegen_s" -> per(compileS),
      "engine.task_wait_s" -> sumS(_.waitMs, 1e-3),
      "engine.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "engine.exec_run_s" -> sumS(_.runMs, 1e-3),
      "engine.exec_cpu_s" -> sumS(_.cpuNs, 1e-9),
      "engine.gc_s" -> sumS(_.gcMs, 1e-3),
      "engine.shuffle_write_bytes" -> sumS(_.shufWrite, 1.0),
      "engine.shuffle_read_bytes" -> sumS(_.shufRead, 1.0),
      "engine.shuffle_wait_s" -> sumS(_.shufWaitMs, 1e-3),
      "engine.spill_bytes" -> sumS(_.spill, 1.0),
      "engine.task_failures" -> stages.map(_.failed).sum.toDouble,
      "sources.scan_bytes" -> sumS(_.inBytes, 1.0),
      "sources.scan_rows" -> sumS(_.inRows, 1.0),
      "sources.write_bytes" -> sumS(_.outBytes, 1.0),
      "sources.cache_hit_ratio" -> (if (pagesRetrieved == 0) 0.0
        else 1.0 - ex.map(_.fetches).sum.toDouble / pagesRetrieved),
      "sources.jdbc_s" -> jobS(timedJobs.map(_._1).filter(j => JdbcFrame.matches(j.site))),
      "operators.index_bytes" -> per(ex.map(_.indexBytes).sum.toDouble),
      "operators.index_files" -> per(ex.map(_.indexFiles).sum.toDouble),
      "operators.jobs" -> per(modJobs("operators").size.toDouble),
      "operators.job_s" -> jobS(modJobs("operators")),
      "streaming.batches" -> per(batches.size.toDouble),
      "streaming.batch_s" -> bsum("triggerExecution"),
      "streaming.add_batch_s" -> bsum("addBatch"),
      "streaming.get_batch_s" -> bsum("getBatch"),
      "streaming.wal_commit_s" -> bsum("walCommit"),
      "streaming.query_planning_s" -> bsum("queryPlanning"),
      "streaming.latest_offset_s" -> bsum("latestOffset"),
      "streaming.jobs_per_batch" -> (if (batches.isEmpty) 0.0 else streamJobs.toDouble / batches.size),
      "streaming.state_rows" -> lastState.map(_.stateRows).sum.toDouble,
      "streaming.state_bytes" -> lastState.map(_.stateBytes).sum.toDouble,
      "scrape.jobs" -> per(modJobs("scrape").size.toDouble),
      "scrape.job_s" -> jobS(modJobs("scrape")),
      "scrape.parse_errors" -> per(ex.map(_.parseErrors).sum.toDouble),
      "trace.wall_s" -> median(passWalls.filter(_._1 >= 1).map(_._2 / 1e6)))
  }

  def spansJson(ctx: Ctx): String = Json.arr(ctx.spans.all.toSeq.map(s => Json.obj(
    "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
    "layer" -> Json.str(s.layer), "start_us" -> Json.num(s.startUs.toDouble),
    "end_us" -> Json.num(s.endUs.toDouble))))
}
