package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.GraftSession
import graft.operators.{Dedup, LandedIndex, Similarity}

/** Developer diagnostic for the landed indexes' batch-proportionality
  * claims: time LAND / PROBE / ABSORB / COMPACT (and, where the family
  * has one, CLASSIFY) of one index family separately — the gate and
  * Prof timings fuse them, because the query lands the index at
  * construction.
  *
  * `runMain graft.IndexBench <family> <dir> <batchN> [nBuckets]`, with
  * family `minhash` (d11/d14 over `documents`), `semantic` (d13/d15 over
  * `embeddings`) or `ivfpq` (a10 over `embeddings`, cells sized by
  * [[Dedup.ivfCellsFor]]).
  *
  * Corpus = the family's full table at `dir`; batch k = its first
  * `batchN` rows re-identified at +k·10^9 (disjoint ids, real content —
  * the arriving-data shape). Batch 1 is probed, then absorbed; batch 2
  * is probed before and after compaction (identical row counts on the
  * identical index state — the specs pin bit-parity at sf0.001, this
  * records the invariant plus cost and file counts at bench scale);
  * batch 3 is classified on the compacted index. Prints one JSON line
  * with the same fields for every family.
  */
object IndexBench {

  private val Tb = "graft_indexbench"

  /** One family's calls: its index value, id column, corpus table, land
    * and the batch operators against the landed index.
    */
  private final case class Family(index: LandedIndex[_], idCol: String,
                                  corpus: (SparkSession, String) => DataFrame,
                                  land: (DataFrame, String, Int) => Unit,
                                  probe: DataFrame => DataFrame,
                                  absorb: DataFrame => Unit,
                                  classify: Option[DataFrame => DataFrame])

  private def families(spark: SparkSession): Map[String, Family] = {
    val docs = (s: SparkSession, d: String) => graft.sources.Tables.documents(s, d)
    val embs = (s: SparkSession, d: String) => graft.sources.Tables.embeddings(s, d)
    Map(
      "minhash" -> Family(Dedup.MinhashIndex, "doc_id", docs,
        (c, dir, nb) => Dedup.landMinhashIndex(c, "doc_id", "text", n = 3, k = 64,
          bands = 16, Tb, dir, nBuckets = nb),
        b => Dedup.incrementalMinhashPairs(spark, b, "doc_id", "text", Tb, threshold = 0.5),
        b => Dedup.absorbMinhashBatch(spark, b, "doc_id", "text", Tb),
        Some(b => Dedup.incrementalSurvivors(spark, b, "doc_id", "text", Tb,
          threshold = 0.5))),
      "semantic" -> Family(Dedup.SemanticIndex, "vec_id", embs,
        (c, dir, nb) => Dedup.landSemanticIndex(c, "vec_id", "embedding", Tb, dir,
          nBuckets = nb),
        b => Dedup.incrementalSemanticPairs(spark, b, "vec_id", "embedding", Tb,
          threshold = 0.4),
        b => Dedup.absorbSemanticBatch(spark, b, "vec_id", "embedding", Tb),
        Some(b => Dedup.incrementalSemanticSurvivors(spark, b, "vec_id", "embedding",
          Tb, threshold = 0.4))),
      "ivfpq" -> Family(Similarity.IvfPqIndex, "vec_id", embs,
        (c, dir, nb) => Similarity.landIvfPqIndexSized(c, "vec_id", "embedding",
          Dedup.ivfCellsFor, m = 4, kCodes = 16, Tb, dir, nBuckets = nb),
        b => Similarity.ivfPqProbe(spark, b, "vec_id", "embedding", Tb, k = 5, nProbe = 4),
        b => Similarity.absorbIvfPqBatch(spark, b, "vec_id", "embedding", Tb),
        None))
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: IndexBench <minhash|semantic|ivfpq> <dir> <batchN> [nBuckets]")
    val (name, dir, batchN) = (args(0), args(1), args(2).toInt)
    val nBuckets = if (args.length > 3) args(3).toInt else 32
    val spark = GraftSession.local()
    val fam = families(spark).getOrElse(name, sys.error(s"unknown family '$name'"))
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warm
    val corpus = fam.corpus(spark, dir)
    def batch(k: Long): DataFrame = corpus.filter(col(fam.idCol) < batchN)
      .withColumn(fam.idCol, col(fam.idCol) + k * 1000000000L)
    def count(df: DataFrame): (Long, Double) = timed(df.queryExecution.toRdd.count())
    val (_, tLand) = timed(fam.land(corpus, graft.sources.Spool.tempRoot("indexbench"),
      nBuckets))
    val probe1 = fam.probe(batch(1))
    val (rows, tProbe) = count(probe1)
    // the probe plan's bucket-pruning evidence and the probe's prune
    // decision (InSet vs the literal cap — scale-dependent, so recorded)
    val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(probe1.queryExecution.executedPlan.toString)
      .map(m => s"[${m.group(1)}, ${m.group(2)}]").getOrElse("null")
    val prune = Metrics.get(fam.index.family).map(m => json(m.toSeq.sortBy(_._1)))
      .getOrElse("null")
    val (_, tAbsorb) = timed(fam.absorb(batch(1)))
    val pre = count(fam.probe(batch(2)))
    val (_, tCompact) = timed(fam.index.compact(spark, Tb))
    val files = Metrics.get(s"${fam.index.family}.compact").map { m =>
      json(fam.index.tables.map(t => t.suffix ->
        s"[${m(s"${t.suffix}_files_before")}, ${m(s"${t.suffix}_files_after")}]"))
    }.getOrElse("null")
    val post = count(fam.probe(batch(2)))
    val classify = fam.classify.map(c => count(c(batch(3))))
    def pair(p: (Long, Double)): String = f"[${p._1}, ${p._2}%.2f]"
    println(json(Seq(
      "family" -> s""""$name"""", "corpus" -> s""""$dir"""",
      "n_corpus" -> corpus.count(), "n_batch" -> batchN, "n_buckets" -> nBuckets,
      "land_sec" -> f"$tLand%.2f", "probe_sec" -> f"$tProbe%.2f",
      "probe_rows" -> rows, "buckets_scanned" -> selected, "prune" -> prune,
      "absorb_sec" -> f"$tAbsorb%.2f", "compact_sec" -> f"$tCompact%.2f",
      "compact_files" -> files, "precompact_probe" -> pair(pre),
      "postcompact_probe" -> pair(post),
      "classify" -> classify.map(pair).getOrElse("null"))))
    fam.index.catalogTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${Tb}_$t"))
    spark.stop()
  }
}
