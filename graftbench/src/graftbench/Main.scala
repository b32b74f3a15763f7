package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One call into the program: a query or drain, timed as build, plan and
  * exec. Passes 0 and -1 are untimed warm passes; pass 0's outputs are
  * checked.
  */
final case class CallRec(key: String, pass: Int, spanId: Int, startUs: Long, endUs: Long,
                         buildUs: Long, planUs: Long, execUs: Long, analysisUs: Long,
                         ok: Boolean, rows: Long, err: String) {
  def wallUs: Long = endUs - startUs
}

/** One timed operation: a call, or for stream_ingest one micro-batch. */
final case class OpRec(key: String, pass: Int, sec: Double, ok: Boolean)

/** What a workload measures per pass beyond its calls. */
final case class PassExtra(storedBytes: Long, indexBytes: Long, indexFiles: Long,
                           parseErrors: Long = 0, fetches: Long = 0, pagesRetrieved: Long = 0)

/** Shared run state: session, spans, listeners and the run directory. */
final class Ctx(val spark: SparkSession, val seed: Long, val out: Path) {
  val spans = new Spans
  val batches = new BatchListener
  val calls = ArrayBuffer.empty[CallRec]
  val ops = ArrayBuffer.empty[OpRec]
  val failures = ArrayBuffer.empty[String]
  val data: String = out.resolve("data").toString
  def checkDir(key: String): String = out.resolve("check").resolve(key).toString

  /** Build, plan and execute one query. The warm pass writes the result
    * for the output check; timed passes count every output row of the
    * already-planned physical plan.
    */
  def call(parent: Int, key: String, pass: Int)(build: => DataFrame): CallRec = {
    spark.sparkContext.setJobGroup(s"p$pass-$key", key, interruptOnCancel = false)
    val op = spans.open(parent, key, "bench")
    val t0 = Clock.nowUs
    var b, p, e, an = 0L
    var rows = -1L
    val err = try {
      val (df, bUs) = spans.time(op, "queries.build", "queries")(build)
      b = bUs
      val (_, pUs) = spans.time(op, "engine.plan", "engine")(df.queryExecution.executedPlan)
      p = pUs
      an = df.queryExecution.tracker.phases.get("analysis")
        .map(ph => (ph.endTimeMs - ph.startTimeMs) * 1000L).getOrElse(0L)
      val (n, eUs) = spans.time(op, "queries.exec", "queries") {
        if (pass == 0) {
          df.write.mode("overwrite").parquet(checkDir(key))
          spark.read.parquet(checkDir(key)).count()
        } else df.queryExecution.toRdd.count()
      }
      e = eUs
      rows = n
      ""
    } catch {
      case ex: Throwable =>
        System.err.println(s"[graftbench] $key pass $pass FAILED: $ex")
        s"${ex.getClass.getName}: ${ex.getMessage}"
    }
    val t1 = Clock.nowUs
    spans.closeAt(op, t1)
    spark.sparkContext.clearJobGroup()
    val r = CallRec(key, pass, op, t0, t1, b, p, e, math.min(an, b), err.isEmpty, rows, err)
    calls.synchronized { calls += r }
    r
  }

  def fail(msg: String): Unit = { System.err.println(s"[graftbench] check: $msg"); failures += msg }
}

trait Workload {
  /** Writes the seeded inputs; excluded from setup time. */
  def generate(): Unit
  /** Cache fill and input checks that belong to set-up. */
  def prepare(): Unit = ()
  /** Runs one pass of calls under `passSpan`. */
  def pass(passSpan: Int, pass: Int): PassExtra
  /** Input rows consumed by one pass. */
  def inputRows: Long
  def inputBytes: Long
  /** Oracle SQL per key checked against the warm pass (DuckDB side). */
  def oracles: Map[String, String] = Map.empty
  /** Texts and vectors for the direct kernel calls of a traced run. */
  def kernelInputs(): (Array[String], Array[Array[Float]])
}

object Main {
  /** Nominal length of one pass: `--seconds` buys this many seconds each. */
  val PassSeconds = 10.0

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes, files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }

  def children(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => { Files.deleteIfExists(f); () })
    finally s.close()
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    val trace = arg(args, "trace") == "1"
    val out = Paths.get(arg(args, "out")).toAbsolutePath
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

    val spark = graft.engine.GraftSession.local()
    val ctx = new Ctx(spark, seed, out)
    val w: Workload = workload match {
      case "analytics"     => new Analytics(ctx)
      case "corpus_batch"  => new CorpusBatch(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case "scrape_etl"    => new ScrapeEtl(ctx)
      case other           => sys.error(s"unknown workload '$other'")
    }
    val g0 = Clock.nowUs
    w.generate()
    val genUs = Clock.nowUs - g0
    val jobs = new JobListener
    if (trace) spark.sparkContext.addSparkListener(jobs)
    w.prepare()
    val extras = ArrayBuffer.empty[(Int, PassExtra)]
    val passWalls = ArrayBuffer.empty[(Int, Long)]
    def runPass(p: Int): Unit = {
      val ps = ctx.spans.open(0, s"pass$p", "bench")
      val before = ctx.calls.size
      extras += p -> w.pass(ps, p)
      ctx.spans.close(ps)
      passWalls += p -> ctx.calls.drop(before).map(_.wallUs).sum
    }
    // the first timed pass after a single warm pass still ran 10-15%
    // slower than the next, so a second warm pass precedes the timing
    runPass(0)
    runPass(-1)
    System.gc()
    val firstTimedUs = Clock.nowUs
    val setupS = (firstTimedUs - jvmStartUs - genUs) / 1e6
    val cg0 = (Kernels.codegenCompiles, Kernels.codegenNanos)
    // a fixed number of whole passes, so a faster program is measured
    // over the same work rather than over more (and warmer) passes
    val timedPasses = math.max(1, math.round(seconds / PassSeconds).toInt)
    (1 to timedPasses).foreach(runPass)
    val cg1 = (Kernels.codegenCompiles, Kernels.codegenNanos)
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

    // Spark's ContextCleaner frees broadcast and shuffle state once a GC
    // has cleared their weak references, so collect until the heap stops
    // shrinking and keep the lowest reading
    val heapMb = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val layer: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val (texts, vecs) = w.kernelInputs()
        Layers.compute(ctx, jobs, timedPasses, passWalls.toSeq, extras.toSeq,
          (cg1._1 - cg0._1).toDouble, (cg1._2 - cg0._2) / 1e9) ++
          Kernels.functions(ctx.spans, texts, vecs) ++
          Kernels.parse(ctx.spans, Pages.tree(seed, ScrapeEtl.Seasons))
      }
    val timedExtras = extras.filter(_._1 >= 1).map(_._2)
    val stored = if (timedExtras.isEmpty) 0.0
      else timedExtras.map(_.storedBytes).sum.toDouble / timedExtras.size

    val J = Json
    val result = J.obj(
      "workload" -> J.str(workload), "seed" -> J.num(seed.toDouble),
      "setup_s" -> J.num(setupS), "gen_s" -> J.num(genUs / 1e6),
      "passes" -> J.arr(passWalls.filter(_._1 >= 1).map(pw => J.num(pw._2 / 1e6)).toSeq),
      "ops" -> J.arr(ctx.ops.toSeq.map(o => J.obj("key" -> J.str(o.key), "pass" -> J.num(o.pass),
        "sec" -> J.num(o.sec), "ok" -> J.bool(o.ok)))),
      "calls" -> J.arr(ctx.calls.toSeq.map(c => J.obj("key" -> J.str(c.key), "pass" -> J.num(c.pass),
        "ok" -> J.bool(c.ok), "rows" -> J.num(c.rows.toDouble), "err" -> J.str(c.err)))),
      "input_rows" -> J.num(w.inputRows.toDouble), "input_bytes" -> J.num(w.inputBytes.toDouble),
      "stored_bytes" -> J.num(stored), "retained_heap_mb" -> J.num(heapMb),
      "failures" -> J.arr(ctx.failures.toSeq.map(J.str)),
      "oracles" -> J.obj(w.oracles.toSeq.map { case (k, v) => k -> J.str(v) }: _*),
      "layer" -> J.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) }: _*))
    Files.writeString(out.resolve("result.json"), result)
    if (trace) Files.writeString(out.resolve("spans.json"), Layers.spansJson(ctx))
    spark.stop()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
