package graft

/** [[Prof.JobLog]]: the job and task counts every profile cites are
  * exact. One listener lives for the whole session, and each record
  * holds exactly the jobs and tasks its action ran — none lost to a late
  * end event, none carried over from the record before.
  */
class ProfSpec extends SparkSpec {

  test("JobLog records exactly the jobs of each action, none shared between records") {
    val sc = spark.sparkContext
    val log = new Prof.JobLog
    sc.addSparkListener(log)
    try {
      val records = for (_ <- 1 to 20; n <- 1 to 3) yield {
        val jobs = log.record(sc) { (1 to n).foreach(_ => spark.range(10).collect()) }.jobs
        n -> jobs
      }
      records.foreach { case (n, jobs) =>
        assert(jobs.size == n, s"expected $n jobs, recorded ${jobs.map(_.id)}")
        assert(jobs.map(_.id).distinct.size == n)
      }
      records.map(_._2).sliding(2).foreach { case Seq(a, b) =>
        assert(a.map(_.id).intersect(b.map(_.id)).isEmpty,
          s"consecutive records share jobs: ${a.map(_.id)} / ${b.map(_.id)}")
      }
      // the value of the action comes back with its jobs
      assert(log.record(sc)(spark.range(7).count()).value == 7L)
    } finally sc.removeSparkListener(log)
  }

  test("JobLog counts exactly the tasks of each action") {
    val sc = spark.sparkContext
    val log = new Prof.JobLog
    sc.addSparkListener(log)
    try {
      (1 to 5).foreach { _ =>
        val rec = log.record(sc)(spark.range(0, 10, 1, 3).collect())
        assert(rec.jobs.size == 1 && rec.tasks == 3,
          s"expected 1 job of 3 tasks, recorded ${rec.jobs.size} jobs, ${rec.tasks} tasks")
      }
    } finally sc.removeSparkListener(log)
  }
}
