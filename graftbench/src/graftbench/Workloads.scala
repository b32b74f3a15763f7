package graftbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.DataFrame

/** Query-key workloads: each pass runs every key once. */
abstract class QueryWorkload(ctx: Ctx) extends Workload {
  def keys: Seq[String]
  protected def run(key: String): DataFrame = graft.SparkEntry.queries(key)(ctx.spark, ctx.data)
  protected def order(pass: Int): Seq[String] = keys
  override def oracles: Map[String, String] =
    keys.flatMap(k => graft.SparkEntry.oracleSql.get(k).map(k -> _)).toMap
  /** Driver threads of the untimed warm passes; timed passes use one. */
  protected def warmThreads: Int = 1
  def pass(passSpan: Int, pass: Int): PassExtra = {
    if (pass <= 0 && warmThreads > 1) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(warmThreads)
      try order(pass).map(k => pool.submit(() => ctx.call(passSpan, k, pass)(run(k))))
        .foreach(_.get())
      finally pool.shutdown()
    } else order(pass).foreach { k =>
      val c = ctx.call(passSpan, k, pass)(run(k))
      if (pass > 0) ctx.ops += OpRec(k, pass, c.wallUs / 1e6, c.ok)
    }
    PassExtra(0L, 0L, 0L)
  }
  def inputBytes: Long = Main.dirBytes(java.nio.file.Paths.get(ctx.data))._1
  def kernelInputs(): (Array[String], Array[Array[Float]]) = Kernels.inputs(ctx)
}

/** q1–q32 over a seeded star schema, in an order shuffled by the seed
  * and the pass number.
  */
final class Analytics(ctx: Ctx) extends QueryWorkload(ctx) {
  override protected def order(pass: Int): Seq[String] =
    new Random(ctx.seed * 7919L + pass).shuffle(keys)
  val keys: Seq[String] = graft.SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq
    .sortBy(k => k.drop(1).takeWhile(_.isDigit).toInt)
  override protected def warmThreads: Int = 3
  private var facts = 0L
  def generate(): Unit = {
    val n = new Gen(ctx.spark, ctx.seed).star(ctx.data, Analytics.Sf)
    facts = n("lineitem") + n("orders") + n("events")
  }
  def inputRows: Long = facts
}
object Analytics { val Sf = 0.01 }

/** The training-data build: dedup, semantic dedup, cleaning, TF-IDF and
  * the IVF-PQ index over a seeded corpus.
  */
final class CorpusBatch(ctx: Ctx) extends QueryWorkload(ctx) {
  val keys = Seq("d3_dedup_minhash_lsh", "d4_dedup_simhash", "d6_dedup_cluster",
    "d10_dedup_semantic", "d19_clean_pipeline_full", "t9_tfidf", "a10_ivfpq_index")
  def generate(): Unit = new Gen(ctx.spark, ctx.seed).corpus(ctx.data, CorpusBatch.Docs, CorpusBatch.Embs)
  def inputRows: Long = CorpusBatch.Docs + CorpusBatch.Embs
  private val ckpt = java.nio.file.Paths.get(
    ctx.spark.sparkContext.getCheckpointDir.get.stripPrefix("file:"))
  override def pass(passSpan: Int, pass: Int): PassExtra = {
    super.pass(passSpan, pass)
    // the IVF-PQ index a10 lands, and the spools the dedup passes leave
    val (bytes, _) = Main.dirBytes(ckpt)
    val spools = Main.children(ckpt)
    val (ib, inf) = spools.filter(_.getFileName.toString.contains("idx")).map(Main.dirBytes)
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    spools.foreach(Main.deleteTree)
    PassExtra(bytes, ib, inf)
  }
}
object CorpusBatch { val Docs = 2000L; val Embs = 2000L }

/** Event drains through their query builders, and document ingest
  * drains called directly with their own root directory and a compaction
  * cadence that fires within each drain. Ops are micro-batches, timed
  * from Spark's StreamingQueryProgress.
  */
final class StreamIngest(ctx: Ctx) extends QueryWorkload(ctx) {
  import graft.streaming.DocStreams
  val drains: Map[String, (String, Option[String]) => DataFrame] = {
    val s = ctx.spark
    val every = StreamIngest.CompactEvery
    Map(
      "st9_stream_incremental_dedup" -> ((d, r) =>
        DocStreams.streamIncrementalDedup(s, d, autoCompactEvery = every, rootDir = r)))
  }
  val keys: Seq[String] = StreamIngest.EventDrains ++ drains.keys.toSeq.sorted
  private val batches = ctx.batches
  ctx.spark.streams.addListener(batches)
  private var arrivals = 0L
  private def roots(pass: Int): Path = ctx.out.resolve("streamroot").resolve(s"p$pass")
  def generate(): Unit = {
    val g = new Gen(ctx.spark, ctx.seed)
    g.events(ctx.data, StreamIngest.Sf)
    g.corpus(ctx.data, StreamIngest.Docs, 0L)
  }
  def inputRows: Long = arrivals
  override protected def run(key: String): DataFrame = drains.get(key) match {
    case Some(f) => f(ctx.data, Some(roots(currentPass).resolve(key).toString))
    case None    => super.run(key)
  }
  private var currentPass = 0
  private var seen = 0
  override def pass(passSpan: Int, pass: Int): PassExtra = {
    currentPass = pass
    var passArrivals = 0L
    order(pass).foreach { k =>
      val c = ctx.call(passSpan, k, pass)(run(k))
      org.apache.spark.graftbench.Bus.drain(ctx.spark.sparkContext)
      val mine = batches.synchronized { val b = batches.batches.drop(seen).toVector; seen += b.size; b }
      passArrivals += mine.map(_.inputRows).sum
      if (mine.isEmpty && c.ok) ctx.fail(s"$k pass $pass: no micro-batch progress recorded")
      if (pass > 0) mine.foreach(b =>
        ctx.ops += OpRec(k, pass, b.durMs.getOrElse("triggerExecution", 0L) / 1000.0, c.ok))
    }
    val (bytes, _) = Main.dirBytes(roots(pass))
    val idx = drains.keys.toSeq.map(k => Main.dirBytes(roots(pass).resolve(k).resolve("idx")))
    Main.deleteTree(roots(pass))
    if (pass > 0) arrivals = passArrivals
    PassExtra(bytes, idx.map(_._1).sum, idx.map(_._2).sum)
  }
}
object StreamIngest {
  /** Event drains run through their query builders, one micro-batch each. */
  val EventDrains = Seq("st1_stream_window_agg")
  val Sf = 0.001
  val Docs = 300L
  /** Compact after every second absorb cycle: fires once in each drain. */
  val CompactEvery = 2
}
