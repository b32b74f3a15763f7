package graftbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.HashKernels

/** Direct calls into the `functions` codegen kernels and the `scrape`
  * parsers, outside Spark: rows (or pages) per second on the run's own
  * inputs.
  */
object Kernels {
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNanos: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** The corpus_batch inputs of the run's seed, generated apart from the
    * workload's own inputs.
    */
  def inputs(ctx: Ctx): (Array[String], Array[Array[Float]]) = {
    val dir = ctx.out.resolve("kernels").toString
    new Gen(ctx.spark, ctx.seed).corpus(dir, CorpusBatch.Docs, CorpusBatch.Embs)
    val docs = graft.sources.Tables.documents(ctx.spark, dir).orderBy("doc_id").limit(2000)
      .select("text").collect().map(_.getString(0))
    val vecs = graft.sources.Tables.embeddings(ctx.spark, dir).orderBy("vec_id").limit(2000)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    (docs, vecs)
  }

  /** Repeats `f` over `n` inputs for at least `minS` seconds, under a
    * direct-call span; rows/s.
    */
  private def rate(spans: Spans, name: String, layer: String, n: Int, minS: Double = 0.2)
                  (f: Int => Long): Double = spans.time(0, name, layer) {
    var sink = 0L
    var rows = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minS) {
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      rows += n
      el = (System.nanoTime() - t0) / 1e9
    }
    if (sink == 42L) System.err.print("")
    rows / el
  }._1

  def functions(spans: Spans, texts: Array[String], vecs: Array[Array[Float]]): Map[String, Double] = {
    val utf = texts.map(UTF8String.fromString)
    val tokens: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.split(" ").map(UTF8String.fromString).asInstanceOf[Array[Any]]))
    val shingles = tokens.map(HashKernels.ngramArray(_, 3))
    val arrs: Array[ArrayData] = vecs.map(v => ArrayData.toArrayData(v))
    val nt = texts.length
    val nv = vecs.length
    // one warm round each so the JIT has compiled the kernels
    Seq(1, 2).map { _ =>
      Map(
        "functions.minhash_rows_per_s" -> rate(spans, "functions.minhash_rows_per_s", "functions", nt)(i => HashKernels.minhashSig(shingles(i), 64).numElements()),
        "functions.simhash_rows_per_s" -> rate(spans, "functions.simhash_rows_per_s", "functions", nt)(i => HashKernels.simhash64(tokens(i))),
        "functions.ngram_rows_per_s" -> rate(spans, "functions.ngram_rows_per_s", "functions", nt)(i => HashKernels.ngramArray(tokens(i), 3).numElements()),
        "functions.charstats_rows_per_s" -> rate(spans, "functions.charstats_rows_per_s", "functions", nt)(i => HashKernels.charStats(utf(i)).numFields),
        "functions.langscores_rows_per_s" -> rate(spans, "functions.langscores_rows_per_s", "functions", nt)(i => HashKernels.langScores(utf(i)).numFields),
        "functions.fingerprint_rows_per_s" -> rate(spans, "functions.fingerprint_rows_per_s", "functions", nt)(i => HashKernels.rollingFingerprint(utf(i), 16)),
        "functions.int8codes_rows_per_s" -> rate(spans, "functions.int8codes_rows_per_s", "functions", nv)(i => HashKernels.int8Codes(arrs(i)).numElements()),
        "functions.cosine_pairs_per_s" -> rate(spans, "functions.cosine_pairs_per_s", "functions", nv - 1)(i =>
          java.lang.Double.doubleToLongBits(HashKernels.cosineF(arrs(i), arrs(i + 1)))))
    }.last
  }

  def parse(spans: Spans, t: Pages.Tree): Map[String, Double] = {
    import graft.scrape.BBRefParse
    val pages = t.pages.toArray
    val bytes = pages.map(_._2.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    def one(i: Int): Long = {
      val (id, html) = pages(i)
      val r = if (BBRefParse.classify(id) == "GamePage") BBRefParse.parseGameE(id, html)
        else BBRefParse.parsePlayerE(id, html)
      if (r.isRight) 1L else 0L
    }
    rate(spans, "scrape.parse", "scrape", pages.length)(one)
    val pps = rate(spans, "scrape.parse", "scrape", pages.length)(one)
    Map("scrape.parse_pages_per_s" -> pps,
      "scrape.parse_mb_per_s" -> pps * bytes / pages.length / 1e6)
  }
}
