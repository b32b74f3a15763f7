package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}

/** Streaming ingest over the `documents` and `embeddings` tables
  * (SURVEY.md §2.4 st9–st14): each `stream*` lands its index, then runs
  * one [[DocStreams.drain]] with its per-micro-batch cycle.
  */
object DocStreams {

  private val qid = new AtomicInteger(0)

  /** Arrival chunk count of the ingest drains (st9–st14): [[drain]]
    * splits its arrival slice into this many single-file drops
    * (id mod [[ArrivalChunks]]), each one micro-batch. THE shared
    * constant: the st11/st12/st13 oracles' arrival-order fold and the
    * StreamingSpec scalar folds all derive their chunk rule from it, so
    * the cadence can move without the two sides drifting. 3 is the
    * floor that still exercises every cross-batch contract (landed vs
    * arrival, earlier-chunk vs same-chunk-mate, multi-absorb
    * visibility) — each drain's cost is dominated by the per-micro-
    * batch scheduling floor, so fewer chunks is the direct cost lever.
    */
  val ArrivalChunks = 3

  /** Names of one drain run: the catalog prefix `graft_<family>_<n>`
    * and a root directory (the caller's, else a fresh temp dir) that
    * holds the index under `idx` and the result spool under `spoolName`.
    */
  private[graft] final class Run(val family: String, rootDir: Option[String],
                                 spoolName: String) {
    private val n = qid.incrementAndGet()
    val tableBase = s"graft_${family}_$n"
    private val root = rootDir.getOrElse(graft.sources.Spool.tempRoot(s"${family}_$n"))
    def idx: String = s"$root/idx"
    def spool: String = s"$root/$spoolName"
  }

  /** How [[drain]] handles one landed-index family: the suffix of the
    * guard-key table, the bucket count the guard prunes with,
    * compaction, the `_meta` write, and the catalog tables dropped
    * once the spool holds the result.
    */
  private[graft] final case class IndexOps[M](guard: String, tables: Seq[String],
                                              nBuckets: M => Int,
                                              compact: (SparkSession, String) => Unit,
                                              persist: (SparkSession, String, M) => Unit)

  private[graft] val MinhashIndex = IndexOps[Dedup.MinhashMeta]("sigs",
    Seq("sigs", "bands", "meta"), _.nBuckets, Dedup.compactMinhashIndex,
    Dedup.persistMinhashMeta)

  private val SemanticIndex = IndexOps[Dedup.SemanticMeta]("vecs",
    Seq("cents", "assign", "vecs", "meta"), _.nBuckets, Dedup.compactSemanticIndex,
    Dedup.persistSemanticMeta)

  private val IvfPqIndex = IndexOps[Similarity.IvfPqMeta]("vecs",
    Seq("cents", "cb", "codes", "vecs", "meta"), _.nBuckets,
    Similarity.compactIvfPqIndex, Similarity.persistIvfPqMeta)

  // segdf has no meta table; one bucket count keeps land, guard, absorb
  // and compaction from drifting apart
  private val SegDfBuckets = 8
  private val SegDfIndex = IndexOps[Unit]("docs", Seq("segdf", "docs"),
    _ => SegDfBuckets, Dedup.compactSegDfIndex(_, _, SegDfBuckets), (_, _, _) => ())

  /** The ingest drain behind st9–st14: the reference's skip-what-the-
    * cache-holds batch polling (deep-field pages.py:92-116) as a STREAM
    * of arriving documents, each probed against a landed index that it
    * then joins. The caller lands the `idCol % 5 < 3` slice of `input`
    * and passes the meta the land returned; the rest of `input` arrives
    * as [[ArrivalChunks]] single-file drops with strictly increasing
    * mtimes, read with `maxFilesPerTrigger = 1`, so each chunk is one
    * micro-batch and chunks run in chunk order (the landed-drop layout
    * a real deployment tails). Each micro-batch, inside `foreachBatch`:
    *
    *  1. [[Dedup.guardedBatch]] drops every id already in the index's
    *     guard table — the redelivery guard: `foreachBatch` is
    *     at-least-once, and a replayed batch re-absorbs nothing
    *     (keys, not transactions). An empty result skips the cycle.
    *  2. `cycle(fresh, batchId, meta)` probes or classifies the batch
    *     against the index AS OF ITS ARRIVAL, appends its verdicts to
    *     the spool, then absorbs the batch, and returns the advanced
    *     meta. The spool append materializes the probe before the
    *     absorb mutates the index it scanned, and the guard table is the
    *     absorb's LAST append, so a crash mid-cycle replays the whole
    *     cycle.
    *  3. Every `autoCompactEvery` completed cycles (0 disables),
    *     `index.compact` runs. Firing after a completed cycle is what
    *     makes this safe mid-stream: the guard key is durable, so a
    *     replay of any pre-compaction batch is dropped by the guard and
    *     never observes the collapsed state.
    *
    * The meta is threaded through the cycles (the drain is the index's
    * only writer, which the disjoint-ids contract already demands), so a
    * cycle pays no meta read and no meta write. The drain writes it once,
    * in a `finally` that runs whether the drain succeeds or fails
    * (`n_docs` is advisory state: staleness sizing, never probe input).
    * A process crash between cycles leaves `n_docs` at an earlier value
    * with the absorbed rows present.
    *
    * A failed drain rethrows with the query stopped and the index
    * tables kept. A finished one reports `<family>.autocompact` (fired
    * count) in [[graft.Metrics]], drops the index's catalog tables (the
    * spool outlives them) and returns the distinct spool rows read with
    * `schema`.
    */
  private[graft] def drain[M](spark: SparkSession, run: Run, index: IndexOps[M],
                              landed: M, input: DataFrame, idCol: String,
                              dir: String, autoCompactEvery: Int,
                              schema: StructType)
                             (cycle: (DataFrame, Long, M) => M): DataFrame = {
    val arriveDir = arrivalDrops(dir, idCol)(input.filter(col(idCol) % 5 >= 3))
    val stream = spark.readStream.schema(input.schema)
      .option("maxFilesPerTrigger", "1").parquet(arriveDir)
    val guard = s"${run.tableBase}_${index.guard}"
    val nBuckets = index.nBuckets(landed)
    var meta = landed
    var cycles, fired = 0
    try EventStreams.withDrainConf(spark) {
      stream.writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Dedup.guardedBatch(spark, batch, guard, nBuckets,
            s"${run.family}.guard", idCol).foreach { fresh =>
            meta = cycle(fresh, batchId, meta)
            cycles += 1
            if (autoCompactEvery > 0 && cycles % autoCompactEvery == 0) {
              index.compact(spark, run.tableBase)
              fired += 1
            }
          }
        }
        .start()
    } finally if (meta != landed) index.persist(spark, run.tableBase, meta)
    graft.Metrics.set(s"${run.family}.autocompact", "fired" -> fired.toLong)
    index.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${run.tableBase}_$t"))
    spark.read.schema(schema).parquet(run.spool).distinct()
  }

  private val pairSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("est_jaccard", DoubleType)))

  private def documents(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.documents(spark, dir).select("doc_id", "text")

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")

  /** st9: streaming incremental near-dup dedup, the continuous twin of
    * d11 over the bucketed d3 MinHash index. Each micro-batch probes via
    * [[Dedup.probeAbsorbMinhashBatch]] — pairs against corpus ∪
    * everything already absorbed, batch-proportional cost — spools
    * them, and absorbs the batch. Every pair with ≥1 arriving member is
    * emitted exactly once — when its later-arriving side is processed
    * (same-batch pairs via the probe's intra-batch leg) — so the drained
    * union equals the d3 algebra over ALL documents restricted to
    * arrival-involving pairs, regardless of chunk order. That set is
    * the DuckDB oracle.
    */
  def streamIncrementalDedup(spark: SparkSession, dir: String,
                             autoCompactEvery: Int = 0,
                             rootDir: Option[String] = None): DataFrame = {
    val run = new Run("st9", rootDir, "pairs")
    val docs = documents(spark, dir)
    val landed = Dedup.landMinhashIndex(docs.filter(col("doc_id") % 5 < 3),
      "doc_id", "text", n = 3, k = 64, bands = 16, run.tableBase, run.idx)
    drain(spark, run, MinhashIndex, landed, docs, "doc_id", dir, autoCompactEvery,
        pairSchema) { (fresh, _, meta) =>
      Dedup.probeAbsorbMinhashBatch(spark, fresh, "doc_id", "text", run.tableBase,
        threshold = 0.5, run.spool, meta)
    }
  }

  private val cosPairSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("cos", DoubleType)))

  /** st10: streaming incremental SEMANTIC dedup — the embedding twin of
    * [[streamIncrementalDedup]] over the d13 index. The coarse quantizer
    * is FROZEN at [[Dedup.landSemanticIndex]], so every micro-batch
    * assigns against the same centroids (re-quantization is an explicit
    * re-land, never something a stream does implicitly); per batch:
    * probe (same-cell candidates, exact-cosine verify) → spool pairs →
    * absorb. Every arrival-involving pair is emitted exactly once — by
    * the micro-batch of its later-arriving member — so the drained union
    * equals the frozen-centroid d10 algebra over ALL vectors restricted
    * to arrival-involving pairs, whatever the chunk order. That set is
    * the DuckDB oracle.
    */
  def streamSemanticDedup(spark: SparkSession, dir: String,
                          threshold: Double = 0.4,
                          autoCompactEvery: Int = 0,
                          rootDir: Option[String] = None): DataFrame = {
    val run = new Run("st10", rootDir, "pairs")
    val embs = embeddings(spark, dir)
    val landed = Dedup.landSemanticIndex(embs.filter(col("vec_id") % 5 < 3),
      "vec_id", "embedding", run.tableBase, run.idx)
    val cents = Similarity.localTable(spark, s"${run.tableBase}_cents")
    drain(spark, run, SemanticIndex, landed, embs, "vec_id", dir, autoCompactEvery,
        cosPairSchema) { (fresh, _, meta) =>
      Dedup.probeAbsorbSemanticBatch(spark, fresh, "vec_id", "embedding",
        run.tableBase, threshold, run.spool, meta, cents)
    }
  }

  /** JVM-global arrival-drop cache: the chunked drop files are a pure
    * function of (table dir, id column, the shared chunk rule) and
    * immutable once written, so the six drains over the same corpus
    * share ONE set of drops per table instead of each re-filtering the
    * corpus once per chunk — the drops are input FIXTURES (the landed
    * file sequence a real deployment tails), not operator work, and each
    * drain still runs its own stream/checkpoint over them. Drops always
    * carry ordered mtimes; the order-free drains (st9/st10) simply don't
    * depend on them.
    */
  private val arrivalCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def arrivalDrops(dir: String, idCol: String)
                          (arrivals: => DataFrame): String =
    // keyed by every input the drop files are a function of: source dir,
    // chunk count AND the id column, which names the table (the arrival
    // slice `% 5 >= 3` is the drains' shared fixture contract)
    arrivalCache.computeIfAbsent(s"$dir|$idCol|$ArrivalChunks", _ => {
      val root = graft.sources.Spool.tempRoot(s"drops_$idCol")
      writeOrderedChunks(root, s"${idCol}_", ArrivalChunks, idCol)(arrivals)
      root
    })

  /** Write `arrivals` as one single-file drop per chunk with STRICTLY
    * INCREASING modification times, so the file stream's
    * timestamp-ordered listing processes chunks in chunk order — st9/
    * st10's pair oracles are arrival-order-free so they never needed
    * this, but the st11/st12 classification oracles fold over arrival
    * order, which must therefore be deterministic.
    */
  private def writeOrderedChunks(root: String, prefix: String, chunks: Int,
                                 idCol: String)(arrivals: DataFrame): Unit = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val base = System.currentTimeMillis()
    (0 until chunks).foreach { i =>
      val dest = s"$root/$prefix$i.parquet"
      graft.GenData.writeSingleParquetFile(dest)(
        arrivals.filter(pmod(col(idCol), lit(chunks)) === i))
      Files.setLastModifiedTime(Paths.get(dest),
        FileTime.fromMillis(base + i * 2000L))
    }
  }

  private def classSchema(idCol: String) = StructType(Seq(
    StructField(idCol, LongType), StructField("dup_of", LongType),
    StructField("is_new", BooleanType)))

  /** st11: streaming ingest keep/drop classification — the continuous
    * twin of the d14 [[Dedup.incrementalSurvivors]] decision over the st9
    * index. Per batch, [[Dedup.classifyAbsorbMinhashBatch]] probes, folds
    * the pairs into per-doc verdicts — dup iff the doc near-dups
    * anything ALREADY IN THE INDEX (corpus or an earlier arrival) or a
    * smaller-id batch mate, `dup_of` = the minimum such neighbor —
    * spools the verdicts, and absorbs the batch. Every arrival is
    * classified exactly once against the index as of its arrival, so
    * the drained stream equals a single arrival-ordered fold over the
    * full pair algebra (the DuckDB oracle): earlier(e, x) ⇔ e landed,
    * or e's chunk precedes x's, or same chunk with e < x.
    */
  def streamIncrementalSurvivors(spark: SparkSession, dir: String,
                                 autoCompactEvery: Int = 0,
                                 rootDir: Option[String] = None): DataFrame = {
    val run = new Run("st11", rootDir, "class")
    val docs = documents(spark, dir)
    val landed = Dedup.landMinhashIndex(docs.filter(col("doc_id") % 5 < 3),
      "doc_id", "text", n = 3, k = 64, bands = 16, run.tableBase, run.idx)
    drain(spark, run, MinhashIndex, landed, docs, "doc_id", dir, autoCompactEvery,
        classSchema("doc_id")) { (fresh, _, meta) =>
      Dedup.classifyAbsorbMinhashBatch(spark, fresh, "doc_id", "text", run.tableBase,
        threshold = 0.5, run.spool, meta)
    }
  }

  private val cleanSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("clean_text", StringType),
    StructField("n_dropped", LongType)))

  /** st13: streaming line-level boilerplate dedup — the continuous twin
    * of the d16/d17 cross-document repeated-segment stage, over the
    * segment-df index ([[Dedup.landSegDfIndex]]). Per batch,
    * [[Dedup.classifyAbsorbSegBatch]] cleans each doc against the df
    * state AS OF ITS ARRIVAL — a segment instance is dropped iff
    * `earlier_hosts + 1 >= minDf`, where earlier = landed, an earlier
    * chunk, or a smaller-id batch mate — spools the cleaned doc, and
    * absorbs the batch's df deltas (batch_id-tagged for at-least-once
    * idempotence; see landSegDfIndex's contract). The first minDf-1
    * hosts of a repeated segment keep their copy — d17's keep-first
    * rule generalized to arrival order, which is the only causal
    * option for a stream (emitted text cannot be retro-edited).
    * Drained stream ≡ one arrival-ordered fold over the full segment
    * algebra — the DuckDB oracle. Auto-compaction is safe mid-stream
    * despite [[Dedup.compactSegDfIndex]]'s at-rest contract, for the
    * reason [[drain]] gives.
    */
  def streamLineDedup(spark: SparkSession, dir: String,
                      window: Int = 10, minDf: Int = 2,
                      autoCompactEvery: Int = 0,
                      rootDir: Option[String] = None): DataFrame = {
    val run = new Run("st13", rootDir, "clean")
    val docs = documents(spark, dir)
    Dedup.landSegDfIndex(spark, docs.filter(col("doc_id") % 5 < 3),
      "doc_id", "text", window, run.tableBase, run.idx, nBuckets = SegDfBuckets)
    drain(spark, run, SegDfIndex, (), docs, "doc_id", dir, autoCompactEvery,
        cleanSchema) { (fresh, batchId, _) =>
      Dedup.classifyAbsorbSegBatch(spark, fresh, "doc_id", "text", run.tableBase,
        batchId, window, minDf, run.spool, nBuckets = SegDfBuckets)
    }
  }

  /** st12: streaming semantic ingest classification — the embedding
    * twin of [[streamIncrementalSurvivors]] (st12 : st10 :: st11 :
    * st9) over the frozen-centroid st10 index: each micro-batch is
    * classified against the index as of its arrival (dup iff exact
    * cosine ≥ τ against a landed vector, an earlier arrival, or a
    * smaller-id batch mate) before being absorbed. Drained stream ≡ the
    * arrival-ordered fold over the frozen-centroid pair algebra.
    */
  def streamSemanticSurvivors(spark: SparkSession, dir: String,
                              threshold: Double = 0.4,
                              autoCompactEvery: Int = 0,
                              rootDir: Option[String] = None): DataFrame = {
    val run = new Run("st12", rootDir, "class")
    val embs = embeddings(spark, dir)
    val landed = Dedup.landSemanticIndex(embs.filter(col("vec_id") % 5 < 3),
      "vec_id", "embedding", run.tableBase, run.idx)
    val cents = Similarity.localTable(spark, s"${run.tableBase}_cents")
    drain(spark, run, SemanticIndex, landed, embs, "vec_id", dir, autoCompactEvery,
        classSchema("vec_id")) { (fresh, _, meta) =>
      Dedup.classifyAbsorbSemanticBatch(spark, fresh, "vec_id", "embedding",
        run.tableBase, threshold, run.spool, meta, cents)
    }
  }

  private val verdictSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("neighbor_id", LongType),
    StructField("adc_fp", LongType), StructField("rank", LongType)))

  /** st14: streaming vector ingest over the LANDED a10 IVF-PQ index —
    * the d13→st10 pattern applied to the flagship vector store. The
    * land ([[graft.operators.Similarity.landIvfPqIndexSized]]) freezes
    * centroids AND PQ codebook, with the cell count sized from the
    * landed corpus by [[Dedup.ivfCellsFor]] (a fixed count would make
    * every probe scan nProbe/nCents of the corpus PER QUERY; the oracle
    * replays the same formula). Per batch,
    * [[graft.operators.Similarity.probeAbsorbIvfPqBatch]] answers each
    * arrival's ADC top-k AGAINST THE INDEX AS OF ITS ARRIVAL (landed ∪
    * earlier chunks — batch mates are not yet in the index, so never
    * candidates), spools the verdicts, and absorbs the batch. The guard
    * is id-keyed on `_vecs`, so a replay with a CHANGED vector is
    * dropped like any other. Drained stream ≡ one arrival-ordered fold
    * over the frozen-quantizer a10 algebra (earlier(e, x) ⇔ e landed or
    * e's chunk precedes x's — the DuckDB oracle), and ≡ the same cycles
    * replayed as plain batch calls (spec-pinned).
    */
  def streamIvfPqIngest(spark: SparkSession, dir: String,
                        k: Int = 5, nProbe: Int = 4,
                        autoCompactEvery: Int = 0,
                        rootDir: Option[String] = None): DataFrame = {
    val run = new Run("st14", rootDir, "verdicts")
    val embs = embeddings(spark, dir)
    val landed = Similarity.landIvfPqIndexSized(embs.filter(col("vec_id") % 5 < 3),
      "vec_id", "embedding", Dedup.ivfCellsFor, m = 4, kCodes = 16, run.tableBase,
      run.idx)
    val quantizers = (Similarity.localTable(spark, s"${run.tableBase}_cents"),
      Similarity.localTable(spark, s"${run.tableBase}_cb"))
    drain(spark, run, IvfPqIndex, landed, embs, "vec_id", dir, autoCompactEvery,
        verdictSchema) { (fresh, _, meta) =>
      Similarity.probeAbsorbIvfPqBatch(spark, fresh, "vec_id", "embedding",
        run.tableBase, k, nProbe, run.spool, meta, quantizers)
    }
  }
}
