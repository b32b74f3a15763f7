package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.3 a1/a2).
  *
  * Baseline is brute-force cosine top-k (broadcast the queries, scan the
  * corpus once); the scale path is hyperplane-LSH bucketing, where the
  * bucket id is the shuffle key and per-bucket brute force is bounded by
  * bucket size.
  */
object Similarity {

  /** Shared tail: per-query rank by (rounded cosine desc, neighbor id)
    * and keep the top k — identical ordering semantics for every ANN
    * variant so results are comparable across them.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic md5-smallest-id sample of `n` (id, vector) rows — THE
    * shared coarse-sampling contract: [[ivfTopK]]'s centroids,
    * [[pqEncode]]/[[pqAdcTopK]]'s codebook rows and
    * [[Dedup.semanticDedupPairs]]'s cells all draw from this one
    * definition (stateless, reproducible on every executor, replayed
    * verbatim by the DuckDB oracles) — a tie-break or ordering tweak
    * here changes every consumer together instead of desynchronizing
    * them. Executes as TakeOrdered (per-partition heaps of n), never a
    * global sort.
    */
  private[graft] def md5Sample(df: DataFrame, idCol: String, vecCol: String,
                                   n: Int, idAs: String, vecAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs))
      .orderBy(md5(col(idAs).cast("string")), col(idAs)).limit(n)

  /** SQL-expressible double-fold cosine (kept in sync with the DuckDB
    * oracle in DocumentSuite — same left-to-right accumulation order,
    * no zero-norm branch so zero vectors divide through to NaN).
    * Executes as the one-pass cosineRawF codegen kernel, bit-identical
    * to the three interpreted zip_with+aggregate folds it replaced.
    */
  def cosineSql(a: Column, b: Column): Column = HashExpressions.cosineRaw(a, b)

  /** Exact cosine top-k: queries (small) are broadcast against the corpus,
    * so the fact side never shuffles for the join; the only shuffle is the
    * per-query top-k window. Ordering and selection use the ROUNDED cosine
    * (6 dp) + neighbor id so results are reproducible across engines.
    */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosineSql(col("qv"), col("cv")), 6))
    rankTopK(scored, k)
  }

  /** IVF-style ANN: partition the corpus into `nCentroids` Voronoi cells
    * around deterministically-sampled centroid vectors (the corpus rows
    * with the smallest md5(id) — stateless, reproducible on every
    * executor, and engine-portable so the assignment is oracle-checkable
    * in any SQL engine); each query probes its `nProbe` nearest cells and
    * reranks members by exact cosine. The cell id is the shuffle/join
    * key, so per-query work is bounded by nProbe/nCentroids of the
    * corpus.
    */
  /** Nearest-cell assignment against a broadcast centroid sample: keep
    * the `keep` argmax-cosine cells per row (cid tie-break). Shared by
    * [[ivfTopK]] and [[ivfPqTopK]].
    *
    * keep = 1 (the corpus side — n·cells scored rows) is a PARTIAL
    * AGGREGATE, not a window: `min(struct(-cos, cid, vec))` keeps one
    * running winner per id map-side so only (id, winner) reaches the
    * exchange, where the window spelling sorts every scored row first
    * (measured 33× at gen10 — see Dedup.assignCells). The vector rides
    * INSIDE the struct so no second join re-attaches it; it can never
    * affect the winner because (-cos, cid) is already a total order per
    * id. keep > 1 (the query side — sample-sized) stays a window: top-k
    * needs the sort, and WindowGroupLimit bounds it. nanvl pins a NaN
    * cosine (a NaN vector component — contract violation) to +∞ before
    * the negation so the aggregate and window spellings agree on
    * NaN-first instead of flipping winners (see Dedup.assignCells).
    */
  private def ivfAssign(cents: DataFrame, df: DataFrame, id: String,
                        vec: String, keep: Int): DataFrame = {
    val scored = df.join(broadcast(cents))
      .withColumn("__cc", HashExpressions.cosine(col(vec), col("cv")))
    if (keep == 1)
      scored.select(col(id), col("cid"), col("__cc"), col(vec))
        .groupBy(id)
        .agg(min(struct(negate(nanvl(col("__cc"), lit(Double.PositiveInfinity))),
          col("cid"), col(vec))).as("__m"))
        .select(col(id), col(s"__m.$vec").as(vec), col("__m.cid").as("cid"))
    else {
      val w = Window.partitionBy(id).orderBy(col("__cc").desc, col("cid").asc)
      scored.withColumn("__r", row_number().over(w)).filter(col("__r") <= keep)
        .select(col(id), col(vec), col("cid"))
    }
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, nCentroids: Int, nProbe: Int): DataFrame =
    ivfTopKWith(md5Sample(corpus, idCol, vecCol, nCentroids, "cid", "cv"),
      queries, corpus, idCol, vecCol, k, nProbe)

  /** [[ivfTopK]] against a PREBUILT centroid sample — so a caller that
    * already drew the shared md5 sample (a11's recall harness, via
    * [[sharedQuantizerSample]]) feeds the same rows to every leg instead
    * of re-running one full-corpus TakeOrdered pass per method.
    * Bit-identical by the md5-prefix argument (see sharedQuantizerSample).
    */
  private[graft] def ivfTopKWith(cents: DataFrame, queries: DataFrame,
                                 corpus: DataFrame, idCol: String, vecCol: String,
                                 k: Int, nProbe: Int): DataFrame = {
    def assign(df: DataFrame, id: String, vec: String, keep: Int): DataFrame =
      ivfAssign(cents, df, id, vec, keep)

    val corpusCells = assign(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv2")), "neighbor_id", "cv2", 1)
    val queryProbes = assign(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "query_id", "qv", nProbe)

    val cand = corpusCells.join(broadcast(queryProbes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(HashExpressions.cosine(col("qv"), col("cv2")), 6))
    rankTopK(cand, k)
  }

  /** Int8 scalar quantization of an embedding column — the storage/IO
    * half of a vector index: per vector, scale = 127/max|x| and each
    * component maps to floor(x·scale + 0.5) ∈ [-127, 127]. A map-only
    * projection (no shuffle, no UDF — all codegen'd collection
    * functions), so at 100 TB it rides the scan. `floor(x+0.5)` rather
    * than round() because round's half-case tie rule differs across
    * engines while floor is IEEE-exact everywhere; EVERY emitted summary
    * column (scale included) is an exact integer, so the oracle
    * comparison has no float tolerance at all — `scale_fp` is the scale
    * at 6-decimal fixed point, floor(scale·1e6 + 0.5) as BIGINT, for the
    * same cross-engine reason (a rounded DOUBLE near a half boundary
    * could tie-break differently between engines). Zero vectors quantize
    * to scale_fp 0 and all-zero components. The scale is CLAMPED at 1e12
    * (so scale_fp ≤ 1e18, inside int64 in every engine): unclamped,
    * a denormal-ish max|x| below ~1.3e-10 would push scale_fp past
    * Long.MaxValue, where Spark's cast saturates but other engines
    * (e.g. DuckDB's CAST AS BIGINT) raise — the clamp keeps the two
    * sides bit-identical over the full double domain instead of
    * diverging on pathological vectors.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    // One O(d) codegen kernel pass per row (HashKernels.int8Stats),
    // consumed t12-style: struct alias in its own projection, fields
    // extracted in the next (the non-cheap multi-referenced alias keeps
    // CollapseProject from inlining the kernel per field). The previous
    // column formulation nested the scale subtree inside the transform
    // lambda — higher-order functions re-evaluate captured subtrees per
    // ELEMENT, so it cost O(d²)/row interpreted and recomputed the code
    // array once per summary column on top (r13: 4.2 s → ~0.2 s at
    // sf0.1; at production dims the gap is the difference between
    // riding the scan and dominating it).
    emb.select(col(idCol).as("vec_id"),
        HashExpressions.int8Stats(col(vecCol)).as("__s"))
      .select(col("vec_id"),
        col("__s.n_dims").as("n_dims"),
        col("__s.scale_fp").as("scale_fp"),
        col("__s.q_sum").as("q_sum"),
        col("__s.q_l2").as("q_l2"),
        col("__s.q_min").as("q_min"),
        col("__s.q_max").as("q_max"))

  /** Per-label embedding centroids with FIXED-POINT accumulation: each
    * component is first quantized to an exact integer grid
    * (floor(x·grid + 0.5)), the per-(label, position) sums run on
    * BIGINTs, and the mean is divided back out at the end. Summing
    * doubles in a distributed aggregate is order-dependent (float
    * addition is non-associative, and Spark's partial-aggregate merge
    * order is nondeterministic) — integer accumulation makes the
    * centroid bit-reproducible run to run AND engine to engine, which is
    * what lets a DuckDB oracle hash-match it. The reported mean stays on
    * that exact-integer footing too: `centroid_fp` is the mean at
    * 6-decimal fixed point via floor(x·1e6 + 0.5), never a rounded
    * double (round()'s half-case tie rule differs across engines; the
    * deterministic double ops here — one division chain, +0.5, floor —
    * are IEEE-identical everywhere). Long-form output
    * (label, pos, n, q_sum, centroid_fp): one posexplode scan, one
    * partial-aggregating shuffle on (label, pos) — never a per-label
    * collect of whole vectors. This is the "train the coarse quantizer"
    * summarization step feeding [[ivfTopK]]-style cell layouts.
    */
  def labelCentroids(emb: DataFrame, labelCol: String, vecCol: String,
                     grid: Long = 1000000L): DataFrame = {
    val qcs = posexplode(transform(col(vecCol),
      x => floor(x.cast("double") * grid + lit(0.5)).cast("long")))
    emb.select(col(labelCol).as("label"), qcs.as(Seq("pos", "qc")))
      .select(col("label"), col("pos").cast("long").as("pos"), col("qc"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("qc").as("q_sum"))
      // op sequence (/grid, /n, *1e6, +0.5, floor) is mirrored verbatim
      // in the DuckDB oracle — same IEEE double sequence, same bits
      .withColumn("centroid_fp",
        floor(col("q_sum").cast("double") / grid.toDouble / col("n").cast("double")
          * lit(1000000.0) + lit(0.5)).cast("long"))
  }

  /** Product quantization encode — the vector-compression half of an
    * IVF-PQ index (Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search"): each vector splits into `m` subvectors and each
    * subvector is replaced by the index of its nearest codebook entry,
    * so a d-dim float vector stores as `m` small codes. Codebooks are
    * "trained" by the same stateless deterministic sampling as
    * [[ivfTopK]]'s centroids (the `kCodes` corpus rows with the smallest
    * md5(id), coded 0..kCodes-1 in that order) — reproducible on every
    * executor and in any engine, which is what makes the assignment
    * oracle-checkable.
    *
    * Scale posture: the codebook is dim-scale (kCodes·m subvectors) and
    * broadcasts; the corpus side explodes ×m, scores each subvector
    * against its sub's codes inside the broadcast join, and the argmin
    * is a PARTIAL-AGGREGABLE `min(struct(dist, code))` — map-side
    * combine reduces the kCodes-way candidate fan-in before the single
    * (vec_id, sub) shuffle, so shuffle volume is m rows per vector, not
    * m·kCodes. The tiny row_number window coding the codebook runs on
    * kCodes rows (dim-scale, the surrogateDim contract). Distances fold
    * doubles left-to-right in the exact order the DuckDB twin replays;
    * ties break on the code index; `dist_fp` reports the quantization
    * error at 6-decimal fixed point (floor(x·1e6+0.5), the a4/a5
    * convention — no float tolerance in the comparison at all). If `m`
    * does not divide the dimension, both engines ignore the same tail
    * elements (identical slice arithmetic).
    */
  /** The per-subspace codebook of [[pqEncode]]/[[pqAdcTopK]]:
    * `(code, sub, cs)` — the `kCodes` md5-sampled rows, coded 0..k-1 in
    * sample order, sliced into their `m` subvectors. The tiny
    * row_number window runs on kCodes rows (dim-scale, the surrogateDim
    * contract); every consumer broadcasts this relation.
    */
  private def codebookSubs(corpus: DataFrame, idCol: String, vecCol: String,
                           m: Int, kCodes: Int): DataFrame =
    codebookSubsFrom(md5Sample(corpus, idCol, vecCol, kCodes, "cent_id", "cw"), m)

  /** [[codebookSubs]] over an already-drawn `(cent_id, cw)` md5 sample
    * (≥ kCodes rows are fine — the caller passes the exact prefix). */
  private def codebookSubsFrom(sample: DataFrame, m: Int): DataFrame = {
    val byMd5 = Window.orderBy(md5(col("cent_id").cast("string")), col("cent_id"))
    sample
      .withColumn("code", row_number().over(byMd5).cast("long") - 1)
      .select(col("code"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("cw"))
      .select(col("code"), col("sub"),
        expr(s"slice(cw, sub * (size(cw) div $m) + 1, size(cw) div $m)").as("cs"))
  }

  /** ONE md5-ordered corpus sample serving BOTH quantizers — the coarse
    * centroids (first `nCentroids` rows) and the PQ codebook (first
    * `kCodes` rows). [[md5Sample]] is a deterministic TOTAL order
    * (md5(id) with the unique id as tie-break), so the n-row sample is
    * bit-identical to the prefix of the max(n, k)-row sample — drawing
    * one sample and slicing two prefixes replaces two full-corpus
    * TakeOrdered passes with one (guide §1.2; the sample is
    * localCheckpointed because its two consumers are different actions
    * or different broadcast subtrees, which exchange reuse does not
    * dedup). Returns (cents (cid, cv), codebook subs (code, sub, cs)).
    */
  private def sharedQuantizerSample(corpus: DataFrame, idCol: String,
                                    vecCol: String, nCentroids: Int,
                                    m: Int, kCodes: Int): (DataFrame, DataFrame) = {
    val sample = md5Sample(corpus, idCol, vecCol, math.max(nCentroids, kCodes),
      "cent_id", "cw").localCheckpoint()
    def prefix(n: Int) = sample
      .orderBy(md5(col("cent_id").cast("string")), col("cent_id")).limit(n)
    val cents = prefix(nCentroids)
      .select(col("cent_id").as("cid"), col("cw").as("cv"))
    (cents, codebookSubsFrom(prefix(kCodes), m))
  }

  /** `(id → m subvectors)` explode shared by the encode and query sides. */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String,
                         m: Int, idAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as("v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col(idAs), col("sub"),
        expr(s"slice(v, sub * (size(v) div $m) + 1, size(v) div $m)").as("vs"))

  /** Squared-L2 between two float subvectors, folded left-to-right in
    * doubles — the exact order the DuckDB twins replay. One codegen
    * kernel pass (HashKernels.sqL2F, bit-identical to the
    * zip_with+aggregate twin) instead of an interpreted lambda per
    * (row × codebook-entry) pair.
    */
  private def sqL2(a: Column, b: Column): Column = HashExpressions.sqL2F(a, b)

  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               m: Int, kCodes: Int): DataFrame =
    pqEncodeWith(broadcast(codebookSubs(corpus, idCol, vecCol, m, kCodes)),
      corpus, idCol, vecCol, m)

  /** [[pqEncode]] against a prebuilt (broadcast) codebook — shared so
    * the ADC operators sample the codebook ONCE and feed the same
    * broadcast to both the encode and query sides (one corpus-wide
    * md5-ordered sample instead of two, and a single broadcast the
    * exchange-reuse machinery dedups at execution).
    */
  private def pqEncodeWith(cb: DataFrame, corpus: DataFrame, idCol: String,
                           vecCol: String, m: Int): DataFrame =
    subVectors(corpus, idCol, vecCol, m, "vec_id")
      .join(cb, Seq("sub"))
      .withColumn("dist", sqL2(col("vs"), col("cs")))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("best.code").as("code"),
        floor(col("best.dist") * lit(1000000.0) + lit(0.5)).cast("long").as("dist_fp"))

  /** The compressed corpus representation + per-query ADC distance
    * tables, from ONE codebook sample — the shared front half of
    * [[pqAdcTopK]] and [[ivfPqTopK]].
    */
  private def pqCodesAndAdc(queries: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String,
                            m: Int, kCodes: Int): (DataFrame, DataFrame) =
    pqCodesAndAdcWith(broadcast(codebookSubs(corpus, idCol, vecCol, m, kCodes)),
      queries, corpus, idCol, vecCol, m)

  private def pqCodesAndAdcWith(cb: DataFrame, queries: DataFrame,
                                corpus: DataFrame, idCol: String, vecCol: String,
                                m: Int): (DataFrame, DataFrame) = {
    val codes = pqEncodeWith(cb, corpus, idCol, vecCol, m)
      .select(col("vec_id").as("neighbor_id"), col("sub"), col("code"))
    val adc = subVectors(queries, idCol, vecCol, m, "query_id")
      .join(cb, Seq("sub"))
      .select(col("query_id"), col("sub").cast("long").as("sub"), col("code"),
        floor(sqL2(col("vs"), col("cs")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("dfp"))
    (codes, adc)
  }

  /** Asymmetric-distance (ADC) top-k over the PQ codes — the faiss
    * IndexPQ query path: the corpus is visited only through its
    * compressed `(vec_id, sub, code)` representation (m small codes per
    * vector — at 100 TB of vectors THE reason PQ exists), while each
    * query precomputes a distance TABLE (query-subvector → every
    * codebook entry, m·kCodes rows per query) that broadcasts. Scoring
    * is one broadcast join codes⋈table and a partial-aggregated sum per
    * (query, neighbor); ranking reuses the a1/a3 top-k window (partial
    * WindowGroupLimit before the shuffle).
    *
    * Per-sub table entries are quantized to the a4/a5 fixed point
    * BEFORE the sum, so the total is a BIGINT sum of BIGINTs —
    * order-independent across partial-aggregate merges and exact in any
    * engine; ties rank by neighbor id. Production stores the a6 codes
    * and reads them here; this composition recomputes them inline so
    * the operator is self-contained over raw vectors.
    */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, m: Int, kCodes: Int): DataFrame = {
    val (codes, adc) = pqCodesAndAdc(queries, corpus, idCol, vecCol, m, kCodes)
    val scored = codes.join(broadcast(adc), Seq("sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("dfp")).as("adc_fp"))
    rankAdcTopK(scored, k)
  }

  /** [[pqAdcTopK]] against a PREBUILT (broadcast) codebook — the a11
    * shared-sample spelling (see [[ivfTopKWith]]).
    */
  private[graft] def pqAdcTopKWith(cb: DataFrame, queries: DataFrame,
                                   corpus: DataFrame, idCol: String,
                                   vecCol: String, k: Int, m: Int): DataFrame = {
    val (codes, adc) = pqCodesAndAdcWith(cb, queries, corpus, idCol, vecCol, m)
    val scored = codes.join(broadcast(adc), Seq("sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("dfp")).as("adc_fp"))
    rankAdcTopK(scored, k)
  }

  /** Shared ADC ranking tail (a7/a9/a10): per-query rank by (fixed-point
    * distance asc, neighbor id asc), keep the top k — the distance twin
    * of [[rankTopK]].
    */
  private def rankAdcTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adc_fp").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_fp"),
        col("rank").cast("long").as("rank"))
  }

  /** IVF + PQ-ADC composed search — the faiss `IndexIVFPQ` query path
    * and the production shape of a 100 TB vector index: the corpus is
    * BOTH cell-pruned (only the `nProbe`/`nCentroids` fraction a query
    * probes is visited) and compressed (visited rows are read as m
    * small codes, never as float vectors). [[ivfTopK]] contributes the
    * coarse quantizer (md5-sampled centroids, argmax-cosine cells);
    * [[pqAdcTopK]] contributes the residual-free ADC scoring (per-query
    * distance tables over the shared codebook, fixed-point BEFORE the
    * sum so the total is an order-independent BIGINT).
    *
    * Plan: centroids, query probes and the per-query ADC tables all
    * broadcast; the only corpus-sized work is the code table's id-keyed
    * join to its cell assignment and the partial-aggregated per-pair
    * sum over candidates — Θ(corpus·m/nCentroids·nProbe) rows into the
    * final exchange. Ranking reuses the a1/a3/a7 per-query top-k window
    * (partial WindowGroupLimit before the shuffle). This composition is
    * self-contained over raw vectors (so the oracle can replay it from
    * the table alone); the production path where the codes and cell ids
    * land ONCE and queries only probe them is [[landIvfPqIndex]] /
    * [[ivfPqProbe]] (a10), which is spec-pinned bit-identical to this
    * operator over the same corpus.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, nCentroids: Int, nProbe: Int, m: Int, kCodes: Int): DataFrame = {
    // one corpus sample pass serves both quantizers (bit-identical
    // prefixes of the same md5 order — see sharedQuantizerSample)
    val (cents, cb0) = sharedQuantizerSample(corpus, idCol, vecCol,
      nCentroids, m, kCodes)
    ivfPqTopKWith(cents, cb0, queries, corpus, idCol, vecCol, k, nProbe, m)
  }

  /** [[ivfPqTopK]] against PREBUILT quantizers — the a11 shared-sample
    * spelling (see [[ivfTopKWith]]).
    */
  private[graft] def ivfPqTopKWith(cents: DataFrame, cb0: DataFrame,
                                   queries: DataFrame, corpus: DataFrame,
                                   idCol: String, vecCol: String,
                                   k: Int, nProbe: Int, m: Int): DataFrame = {
    val cb = broadcast(cb0)
    val corpusCells = ivfAssign(cents,
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv2")),
      "neighbor_id", "cv2", 1).select("neighbor_id", "cid")
    val queryProbes = ivfAssign(cents,
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "query_id", "qv", nProbe).select("query_id", "cid")
    val codes = pqEncodeWith(cb, corpus, idCol, vecCol, m)
      .select(col("vec_id").as("neighbor_id"), col("sub"), col("code"))
    val adc = subVectors(queries, idCol, vecCol, m, "query_id")
      .join(cb, Seq("sub"))
      .select(col("query_id"), col("sub").cast("long").as("sub"), col("code"),
        floor(sqL2(col("vs"), col("cs")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("dfp"))
    // a corpus vector lives in exactly ONE cell (keep = 1), so a
    // candidate (query, neighbor) pair arises from at most one probed
    // cell and needs no dedup before the sum
    val scored = codes.join(corpusCells, "neighbor_id")
      .join(broadcast(queryProbes), Seq("cid"))
      .join(broadcast(adc), Seq("query_id", "sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("dfp")).as("adc_fp"))
    rankAdcTopK(scored, k)
  }

  /** IVF-PQ search with EXACT re-ranking (a12) — the faiss
    * `IndexRefineFlat` pattern and the standard answer to PQ's recall
    * ceiling (measured by a11: ADC-only ranking over md5-sampled
    * codebooks loses most of the true top-k as the corpus outgrows
    * kCodes — bench/SCALING_r19.md): the compressed [[ivfPqTopK]] path
    * retrieves a candidate pool of `refine·k` ids per query at full
    * compressed-domain cheapness, then ONLY those pool vectors are
    * read as floats and re-ranked by exact cosine (the a1/a3 rounded
    * rank + id tie-break), returning the top k.
    *
    * Scale posture: the pool is (queries·refine·k) rows — broadcast-
    * sized by construction — so the re-rank joins broadcast INTO the
    * corpus scan and the corpus never shuffles; at 100 TB the refine
    * step reads `refine·k` vectors per query instead of a cell's
    * worth. Recall becomes "is the true neighbor in the ADC top
    * refine·k of its probed cells" — tuned by refine against measured
    * a11-style recall instead of by m/kCodes alone.
    */
  def ivfPqRefineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
                      m: Int, kCodes: Int, refine: Int = 4): DataFrame = {
    val pool = ivfPqTopK(queries, corpus, idCol, vecCol, k * refine,
      nCentroids, nProbe, m, kCodes).select("query_id", "neighbor_id")
    refineRerank(pool, queries, corpus, idCol, vecCol, k)
  }

  /** The exact-cosine re-rank shared by [[ivfPqRefineTopK]] and
    * [[annRecall]]'s refine leg: top-k of `pool` (query_id,
    * neighbor_id — broadcast-sized by construction) under the a1/a3
    * rounded-cosine rank + id tie-break, reading the pool members'
    * vectors from `corpus` via a broadcast join (the corpus never
    * shuffles).
    */
  private def refineRerank(pool: DataFrame, queries: DataFrame,
                           corpus: DataFrame, idCol: String, vecCol: String,
                           k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(pool.join(q, "query_id")), Seq("neighbor_id"))
      .withColumn("cos", round(HashExpressions.cosine(col("qv"), col("cv")), 6))
    rankTopK(scored, k)
  }

  // --- landed IVF-PQ index (a10): the production query path [[ivfPqTopK]]
  // defers — centroids + codebook + codes land ONCE as tables (the
  // codebook FROZEN at land time, the d13 quantizer-versioning
  // contract), every later query probes the landed codes with a
  // cell-bucket prune, arriving vectors absorb by encoding against the
  // frozen codebook, and compaction retires the append-side small-file
  // debt. Bit-parity contract: probing an index landed from a corpus
  // equals [[ivfPqTopK]] over that corpus with the same parameters
  // (spec-pinned); after absorbs it equals the frozen-quantizer algebra
  // over corpus ∪ absorbed (the a10 DuckDB oracle), independent of how
  // arrivals were chunked (spec-pinned).

  /** The cacheable slice of a landed IVF-PQ index's `_meta` row plus the
    * meta table's resolved location — `n_docs` is the only moving field
    * (advances on each absorb); everything else is frozen at land time.
    */
  private[graft] final case class IvfPqMeta(nDocs: Long, nCents: Int, m: Int,
                                            kCodes: Int, nBuckets: Int,
                                            metaPath: String)

  private def writeIvfPqMeta(spark: SparkSession, tableBase: String,
                             metaPath: String, nDocs: Long, nCents: Int,
                             m: Int, kCodes: Int, nBuckets: Int): Unit =
    spark.createDataFrame(Seq((nDocs, nCents, m, kCodes, nBuckets)))
      .toDF("n_docs", "n_cents", "m", "k_codes", "n_buckets")
      .write.mode(SaveMode.Overwrite).option("path", metaPath)
      .saveAsTable(s"${tableBase}_meta")

  private[graft] def readIvfPqMeta(spark: SparkSession,
                                   tableBase: String): IvfPqMeta = {
    val r = spark.table(s"${tableBase}_meta").head()
    IvfPqMeta(r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
      Dedup.tableLocation(spark, s"${tableBase}_meta"))
  }

  /** A (small, frozen) catalog table materialized as a driver-side
    * LocalRelation: broadcasts of it build from the in-memory rows
    * WITHOUT a Spark job, so a per-micro-batch loop that joins the same
    * frozen quantizer every cycle stops paying one broadcast-build job
    * per batch per join. Only for dim-scale tables the contract already
    * broadcasts whole (the landed `_cents`/`_cb` quantizers — frozen at
    * land time, so a one-time snapshot is exact for the index's
    * lifetime). Values roundtrip bit-exactly (no arithmetic).
    */
  private[graft] def localTable(spark: SparkSession, table: String): DataFrame = {
    val t = spark.table(table)
    spark.createDataFrame(
      java.util.Arrays.asList(t.collect(): _*), t.schema)
  }

  /** Cell assignment + PQ encode of `(id, v)` rows against a LANDED
    * quantizer — the shared land/absorb body: one keep-1 argmax pass
    * over the broadcast centroids, one [[pqEncodeWith]] pass over the
    * broadcast codebook, joined into the denormalized `(id, sub, code,
    * cid)` layout the probe consumes (the cell id rides every code row,
    * so the probe needs NO corpus-sized assignment join — the faiss
    * "codes stored per IVF list" layout). The id-keyed join is
    * input-sized: corpus-sized once at land, batch-sized per absorb
    * (where AQE broadcasts it).
    */
  private def encodeWithCells(cents: DataFrame, cb: DataFrame,
                              base: DataFrame, m: Int): DataFrame = {
    val cells = ivfAssign(cents, base, "id", "v", 1).select("id", "cid")
    pqEncodeWith(broadcast(cb), base, "id", "v", m)
      .select(col("vec_id").as("id"), col("sub"), col("code"))
      .join(cells, "id")
  }

  /** [[encodeWithCells]] for the ABSORB path, where `base` is
    * batch-sized by contract: the id-keyed cell join is explicitly
    * broadcast (pinning the strategy AQE picks anyway), so the whole
    * encode+append plan has no strategy decision left and can run
    * AQE-off as a single job. The land keeps [[encodeWithCells]] —
    * there `cells` is corpus-sized and must never broadcast.
    */
  private def encodeWithCellsBatch(cents: DataFrame, cb: DataFrame,
                                   base: DataFrame, m: Int): DataFrame = {
    val cells = ivfAssign(cents, base, "id", "v", 1).select("id", "cid")
    pqEncodeWith(broadcast(cb), base, "id", "v", m)
      .select(col("vec_id").as("id"), col("sub"), col("code"))
      .join(broadcast(cells), "id")
  }

  /** Land the IVF-PQ state for `embs` as tables under `dir` (catalog
    * names `<tableBase>_cents` / `_cb` / `_codes` / `_meta`):
    *
    *  - `_cents` (cid, cv): the md5-sampled coarse quantizer — dim-scale,
    *    broadcasts into every probe and absorb;
    *  - `_cb` (code, sub, cs): the PQ codebook ([[pqEncode]]'s md5
    *    sample, FROZEN at land time) — dim-scale, broadcasts;
    *  - `_codes` (id, sub, code, cid) bucketed by cid — the compressed
    *    corpus, m small codes per vector with its cell id denormalized
    *    in: a probe joins probed cells on cid with zero index-side
    *    shuffle and the query's cid InSet prunes index FILES via bucket
    *    pruning;
    *  - `_vecs` (id, v) bucketed by id — the flat vectors beside the
    *    PQ index (faiss `IndexRefineFlat` stores exactly this, for
    *    exactly two reasons realized here): (a) [[ivfPqProbeRefine]]'s
    *    exact re-rank reads its broadcast-sized candidate pool from it
    *    by id with bucket-level file pruning, so the landed index's
    *    answer quality is a refine knob instead of being capped at ADC
    *    recall; (b) the absorb redelivery guard anti-joins on it BY ID
    *    (batch-id InSet → file skips), which covers an id replayed
    *    with a DIFFERENT vector — such a row encodes to a different
    *    cell, so any codes-side cell-pruned guard would miss it and
    *    append duplicate code rows the probe double-sums;
    *  - `_meta` one row (n_docs, n_cents, m, k_codes, n_buckets).
    *
    * Assignments and codes derive from the LANDED `_cents`/`_cb` tables,
    * so land-time and absorb-time encodes read bit-identical quantizer
    * rows (parquet roundtrips doubles exactly). Re-quantization — new
    * centroids/codebook for a corpus that outgrew them — is an explicit
    * re-land, never an absorb side effect (meta's n_docs vs n_cents is
    * the signal to watch, the d13 contract).
    */
  def landIvfPqIndex(embs: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int, m: Int, kCodes: Int,
                     tableBase: String, dir: String,
                     nBuckets: Int = 32): IvfPqMeta =
    landIvfPqIndexSized(embs, idCol, vecCol, _ => nCentroids, m, kCodes,
      tableBase, dir, nBuckets)

  /** [[landIvfPqIndex]] with the coarse cell count DERIVED from the
    * corpus size (`centroidsFor`, e.g. [[Dedup.ivfCellsFor]] — the
    * st14 sizing rule): the `_vecs` re-layout lands FIRST with the
    * count riding it as an observe() aggregate, so sizing needs no
    * up-front corpus count() pass (the landSemanticIndex shape; guide
    * §1.2). Write order within a fresh land carries no crash
    * contract — `_meta` stays the last write (the index-exists
    * marker) in both spellings.
    */
  def landIvfPqIndexSized(embs: DataFrame, idCol: String, vecCol: String,
                          centroidsFor: Long => Int, m: Int, kCodes: Int,
                          tableBase: String, dir: String,
                          nBuckets: Int = 32): IvfPqMeta = {
    val spark = embs.sparkSession
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val obs = org.apache.spark.sql.Observation()
    graft.sources.Sinks.bucketed(base.observe(obs, count(lit(1)).as("n")),
      s"${tableBase}_vecs", "id", nBuckets, path = Some(s"$dir/vecs"))
    val nDocs = Dedup.observedCount(obs, "n")(base.count())
    val nCentroids = centroidsFor(nDocs)
    // one corpus sample pass serves both quantizer tables (bit-identical
    // prefixes of the same md5 order — see sharedQuantizerSample); the
    // two writes are separate actions, so without the shared
    // (checkpointed) sample each re-ran its own corpus TakeOrdered
    val (cents, cb) = sharedQuantizerSample(embs, idCol, vecCol,
      nCentroids, m, kCodes)
    cents
      .write.mode(SaveMode.Overwrite).option("path", s"$dir/cents")
      .saveAsTable(s"${tableBase}_cents")
    cb
      .write.mode(SaveMode.Overwrite).option("path", s"$dir/cb")
      .saveAsTable(s"${tableBase}_cb")
    graft.sources.Sinks.bucketed(
      encodeWithCells(spark.table(s"${tableBase}_cents"),
        spark.table(s"${tableBase}_cb"), base, m),
      s"${tableBase}_codes", "cid", nBuckets, path = Some(s"$dir/codes"))
    writeIvfPqMeta(spark, tableBase, s"$dir/meta", nDocs, nCentroids, m,
      kCodes, nBuckets)
    // the land KNOWS the meta it just wrote (saves the st14 loop the
    // per-drain readIvfPqMeta head() job + catalog query)
    IvfPqMeta(nDocs, nCentroids, m, kCodes, nBuckets, s"$dir/meta")
  }

  /** ADC top-k of `queries` against a landed [[landIvfPqIndex]] — the
    * production twin of [[ivfPqTopK]]: the corpus is never re-encoded
    * (its PQ codes are read from the landed `_codes` table) and never
    * read as float vectors at all. Per probe:
    *
    *  - the landed centroids broadcast into the queries' keep-`nProbe`
    *    argmax assignment (query-sized work);
    *  - the landed codebook broadcasts into the per-query ADC distance
    *    tables (m·kCodes rows per query, the a7 shape — fixed-point
    *    BEFORE the sum so the total is an order-independent BIGINT);
    *  - the probed cells' distinct cid set becomes an InSet filter on
    *    the `_codes` scan's BUCKET column ([[Dedup.pruneKeyCap]]-gated,
    *    Metrics `a10`), so bucket pruning skips every index file whose
    *    cells no query probes — probe IO is Θ(corpus·nProbe/nCentroids),
    *    not corpus-proportional;
    *  - scoring is the broadcast joins codes⋈probes⋈adc and one
    *    partial-aggregated sum per (query, neighbor); ranking reuses the
    *    a7/a9 top-k window (partial WindowGroupLimit before the
    *    shuffle).
    *
    * Bit-identical to [[ivfPqTopK]] over the landed corpus when nothing
    * was absorbed, and to the frozen-quantizer algebra over
    * corpus ∪ absorbed afterwards (both spec-pinned; the latter is the
    * a10 DuckDB oracle).
    */
  def ivfPqProbe(spark: SparkSession, queries: DataFrame, idCol: String,
                 vecCol: String, tableBase: String, k: Int, nProbe: Int,
                 cachedMeta: Option[IvfPqMeta] = None,
                 cachedQuantizers: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val meta = cachedMeta.getOrElse(readIvfPqMeta(spark, tableBase))
    // cachedQuantizers: a per-micro-batch loop threads one localTable
    // snapshot of the FROZEN (cents, cb) tables so each cycle's
    // broadcasts build without a Spark job — exact by the frozen-at-land
    // contract (same rationale as cachedMeta)
    val cents = cachedQuantizers.map(_._1)
      .getOrElse(spark.table(s"${tableBase}_cents"))
    val cb = broadcast(cachedQuantizers.map(_._2)
      .getOrElse(spark.table(s"${tableBase}_cb")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // LOCAL RELATION, not localCheckpoint: probes is (queries·nProbe)
    // two-long-column rows — broadcast-sized by construction (the
    // scoring join ships it whole regardless) — so ONE collect feeds
    // (a) the distinct-cid prune driver-side with zero further jobs
    // (the old distinct+limit+collect paid an exchange and its AQE
    // stage job per probe) and (b) the scoring join's broadcast, which
    // builds from a LocalTableScan WITHOUT a Spark job.
    val probesPlan = ivfAssign(cents, q, "query_id", "qv", nProbe)
      .select("query_id", "cid")
    val probeRows = Dedup.withDesc(spark, "a10: query probes") {
      probesPlan.collect()
    }
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesPlan.schema)
    val adc = subVectors(q, "query_id", "qv", meta.m, "query_id")
      .join(cb, Seq("sub"))
      .select(col("query_id"), col("sub").cast("long").as("sub"), col("code"),
        floor(sqL2(col("vs"), col("cs")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("dfp"))
    val idx = spark.table(s"${tableBase}_codes")
    // the d11/d13 bucket prune with the same break-even cap: the InSet
    // is a file-skip device, never a correctness ingredient
    val cap = Dedup.pruneKeyCap(meta.nBuckets)
    val idxPruned = {
      val cids = probeRows.map(_.getLong(1)).distinct
      graft.Metrics.set("a10", "probe_cids" -> cids.length.toLong,
        "prune_cap" -> cap.toLong, "bucket_pruned" -> (cids.length <= cap))
      if (cids.length > cap) idx
      else idx.filter(col("cid").isInCollection(cids.toSeq))
    }
    // a landed vector lives in exactly one cell (keep = 1 at encode), so
    // a candidate (query, neighbor) pair arises from at most one probed
    // cell and needs no dedup before the sum
    val scored = idxPruned.join(broadcast(probes), Seq("cid"))
      .join(broadcast(adc), Seq("query_id", "sub", "code"))
      .filter(col("query_id") =!= col("id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("dfp")).as("adc_fp"))
    rankAdcTopK(scored, k)
  }

  /** ADC probe of a landed [[landIvfPqIndex]] with EXACT re-ranking —
    * [[ivfPqRefineTopK]] over the landed layout (a13, faiss
    * `IndexRefineFlat` on-disk): [[ivfPqProbe]] retrieves a `refine·k`
    * compressed-domain pool per query, then ONLY the pool's vectors
    * are read back as floats from the `_vecs` side table and re-ranked
    * by exact cosine (the a1/a3 rounded rank + id tie-break).
    *
    * Scale posture: the pool is (queries·refine·k) rows — broadcast-
    * sized by construction — and its distinct neighbor ids become a
    * [[Dedup.pruneKeyCap]]-capped InSet on `_vecs`'s bucket column
    * (Metrics `a13`), so the refine pass file-prunes to the buckets
    * holding pool members instead of scanning the corpus's vectors;
    * the corpus never shuffles. Recall over a LANDED index thus
    * becomes a per-query refine knob instead of an m/kCodes re-land —
    * the a12 pattern without recomputing the quantizer. Bit-identical
    * to [[ivfPqRefineTopK]] over the landed corpus with the same
    * parameters when nothing was absorbed, and to the frozen-quantizer
    * refine algebra over corpus ∪ absorbed afterwards (the a13 DuckDB
    * oracle; both spec-pinned).
    */
  def ivfPqProbeRefine(spark: SparkSession, queries: DataFrame, idCol: String,
                       vecCol: String, tableBase: String, k: Int, nProbe: Int,
                       refine: Int = 4,
                       cachedMeta: Option[IvfPqMeta] = None): DataFrame = {
    val meta = cachedMeta.getOrElse(readIvfPqMeta(spark, tableBase))
    // LOCAL RELATION, not localCheckpoint (the ivfPqProbe probes
    // rationale): the pool is (queries·refine·k) two-long-column rows —
    // broadcast-sized by construction — so one collect feeds the
    // distinct-id prune driver-side (no distinct+limit jobs) and the
    // re-rank join's broadcast builds job-free from the local rows
    val poolPlan = ivfPqProbe(spark, queries, idCol, vecCol, tableBase,
        k * refine, nProbe, cachedMeta = Some(meta))
      .select("query_id", "neighbor_id")
    val poolRows = Dedup.withDesc(spark, "a13: adc pool") {
      poolPlan.collect()
    }
    val pool = spark.createDataFrame(
      java.util.Arrays.asList(poolRows: _*), poolPlan.schema)
    val vecs = spark.table(s"${tableBase}_vecs")
    val cap = Dedup.pruneKeyCap(meta.nBuckets)
    val pids = poolRows.map(_.getLong(1)).distinct
    graft.Metrics.set("a13", "pool_ids" -> pids.length.toLong,
      "prune_cap" -> cap.toLong, "bucket_pruned" -> (pids.length <= cap))
    val vecsPruned = if (pids.length > cap) vecs
      else vecs.filter(col("id").isInCollection(pids.toSeq))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = vecsPruned.select(col("id").as("neighbor_id"), col("v").as("cv"))
      .join(broadcast(pool.join(q, Seq("query_id"))), Seq("neighbor_id"))
      .withColumn("cos", round(HashExpressions.cosine(col("qv"), col("cv")), 6))
    rankTopK(scored, k)
  }

  /** Absorb an arriving vector batch into a landed [[landIvfPqIndex]]:
    * assign + encode against the FROZEN centroids/codebook (one
    * batch-sized pass each), append the `(id, sub, code, cid)` rows
    * through the bucketed writer (one new file per touched cell bucket
    * per batch — [[compactIvfPqIndex]] retires the debt), advance meta
    * `n_docs`, refresh the table cache (the absorbMinhashBatch
    * visibility lesson). A landed vector is never re-encoded — the
    * continuous-ingest contract shared with d11/d13.
    *
    * Redelivery guard, ENFORCED (not just documented): an id already in
    * the index is dropped before the append, so an at-least-once replay
    * (or an overlapping batch) can never write duplicate code rows —
    * which the probe would silently double-sum into corrupted adc_fp.
    * The guard anti-joins the batch BY ID against the id-bucketed
    * `_vecs` side table with the batch's id set as a
    * [[Dedup.pruneKeyCap]]-capped InSet on the bucket column (Metrics
    * `a10.guard`), so it reads only the index files the batch's ids
    * can hash into — batch-proportional, not corpus-proportional. An
    * id-keyed guard is also the only sound one: an id re-sent with a
    * DIFFERENT vector encodes to a DIFFERENT cell, so a codes-side
    * cell-pruned anti-join would miss its landed rows and append a
    * duplicate — here it is dropped like any replay, so upsert-skip
    * (first write wins, the d11 skip-existing rule) holds for
    * changed-vector replays too (spec-pinned). Each absorb also
    * refreshes the [[Dedup.staleAdvisory]] signal (`a10.stale`): once
    * the corpus outgrows the frozen quantizer's [[Dedup.ivfCellsFor]]
    * sizing 2×, a re-land is due.
    */
  def absorbIvfPqBatch(spark: SparkSession, newEmbs: DataFrame,
                       idCol: String, vecCol: String, tableBase: String): IvfPqMeta = {
    val meta = readIvfPqMeta(spark, tableBase)
    val base = newEmbs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .localCheckpoint() // the guard reads it twice
    val fresh = Dedup.prunedIdGuard(spark, base, s"${tableBase}_vecs",
      meta.nBuckets, "a10.guard").localCheckpoint()
    val advanced = absorbIvfPqCore(spark, fresh, tableBase, meta,
      spark.table(s"${tableBase}_cents"), spark.table(s"${tableBase}_cb"))
    persistIvfPqMeta(spark, tableBase, advanced)
    advanced
  }

  /** Encode guarded `(id, v)` rows against the frozen quantizer and
    * append them: `_codes` first, then `_vecs`, the id-keyed guard
    * table, LAST (the absorbMinhashCore crash-order contract). Returns
    * the advanced meta and never writes `_meta` — [[absorbIvfPqBatch]]
    * writes it per call, the st14 drain once at its end.
    */
  private def absorbIvfPqCore(spark: SparkSession, fresh: DataFrame,
                              tableBase: String, meta: IvfPqMeta,
                              cents: DataFrame, cb: DataFrame): IvfPqMeta = {
    // absorb input is batch-sized by contract: the encode's joins are
    // hint-pinned (encodeWithCellsBatch) and the append runs AQE-off.
    // That is still 4 jobs per call (JobProf st14 at sf0.01, 4 cpus: 12
    // over 3 micro-batches), because each broadcast builds in a job of
    // its own:
    //  - `cents` and `cb` broadcasts: one 1-stage job each, ~10 ms.
    //    BroadcastExchangeExec collects its child through
    //    executeCollectIterator, which LocalTableScanExec does not
    //    short-cut, so even a LocalRelation snapshot runs a job;
    //  - `cells` broadcast: ivfAssign's per-id aggregate over the batch,
    //    a 2-stage job (shuffle + collect), ~0.1 s;
    //  - the bucketed append itself: 3 stages (pqEncode's aggregate
    //    shuffle, the bucket repartition, the write), ~0.35 s.
    Dedup.withDesc(spark, "cycle: absorb codes") {
      Dedup.withAqeOff(encodeWithCellsBatch(cents, cb, fresh, meta.m))(
        graft.sources.Sinks.bucketed(_, s"${tableBase}_codes", "cid",
          meta.nBuckets, mode = SaveMode.Append))
    }
    // batch count rides the append (no separate count() job per absorb);
    // join-free append: one job under AQE-off (Dedup.absorbMinhashCore)
    val obs = org.apache.spark.sql.Observation()
    Dedup.withDesc(spark, "cycle: absorb vecs") {
      Dedup.withAqeOff(fresh.observe(obs, count(lit(1)).as("n")))(
        graft.sources.Sinks.bucketed(_, s"${tableBase}_vecs", "id",
          meta.nBuckets, mode = SaveMode.Append))
    }
    val advanced =
      meta.copy(nDocs = meta.nDocs + Dedup.observedCount(obs, "n")(fresh.count()))
    Dedup.staleAdvisory("a10", advanced.nDocs, meta.nCents)
    spark.catalog.refreshTable(s"${tableBase}_codes")
    spark.catalog.refreshTable(s"${tableBase}_vecs")
    advanced
  }

  /** Write `meta` as the index's `_meta` row. */
  private[graft] def persistIvfPqMeta(spark: SparkSession, tableBase: String,
                                      meta: IvfPqMeta): Unit =
    writeIvfPqMeta(spark, tableBase, meta.metaPath, meta.nDocs,
      meta.nCents, meta.m, meta.kCodes, meta.nBuckets)

  /** One full vector-ingest cycle — probe, spool the top-k verdicts,
    * absorb — the st14 per-micro-batch loop body and the a10 twin of
    * [[Dedup.probeAbsorbMinhashBatch]]: each arriving vector is
    * answered AGAINST THE INDEX AS OF ITS ARRIVAL (its ADC top-k among
    * landed ∪ earlier-absorbed vectors — batch mates are not yet in
    * the index, so never candidates), then the batch absorbs so later
    * arrivals see it. The spool append MATERIALIZES the probe before
    * the absorb appends the batch (probing after would let the lazily-
    * listed code scan see the batch's own rows — the same ordering
    * contract as the minhash/semantic cycles). The batch has already
    * passed the drain's `_vecs` redelivery guard (a replay may not
    * re-PROBE either), so the absorb skips [[absorbIvfPqBatch]]'s own.
    * `meta` is threaded by the drain; `quantizers` is a driver-side
    * snapshot of the FROZEN (cents, cb) tables, so no cycle re-reads
    * them from disk. Broadcasting a snapshot still runs one small job
    * each, in the probe and in the encode (see `absorbIvfPqCore`).
    */
  private[graft] def probeAbsorbIvfPqBatch(spark: SparkSession, newEmbs: DataFrame,
                                           idCol: String, vecCol: String,
                                           tableBase: String, k: Int, nProbe: Int,
                                           verdictsDir: String, meta: IvfPqMeta,
                                           quantizers: (DataFrame, DataFrame)): IvfPqMeta = {
    // no repartition(1): the top-k window is the plan's last exchange
    // and AQE coalescing collapses its batch-sized output — the explicit
    // single-file exchange was one more AQE stage job per micro-batch
    Dedup.withDesc(spark, "cycle: verdict spool") {
      ivfPqProbe(spark, newEmbs, idCol, vecCol, tableBase, k, nProbe,
          cachedMeta = Some(meta), cachedQuantizers = Some(quantizers))
        .select(col("query_id").as("vec_id"), col("neighbor_id"),
          col("adc_fp"), col("rank"))
        .write.mode(SaveMode.Append).parquet(verdictsDir)
    }
    absorbIvfPqCore(spark, newEmbs.select(col(idCol).as("id"), col(vecCol).as("v")),
      tableBase, meta, quantizers._1, quantizers._2)
  }

  /** Compact a landed [[landIvfPqIndex]]'s code table back to one file
    * per bucket — the a10 twin of [[Dedup.compactMinhashIndex]], via the
    * shared rewrite (path read so the repartition Exchange survives the
    * bucket-spec elision, versioned sibling dir, rename-aside swap).
    * Centroids, codebook and meta are untouched — compaction never
    * re-quantizes. Probe results are bit-identical before and after
    * (spec-pinned); Metrics `a10.compact` reports files before/after.
    */
  def compactIvfPqIndex(spark: SparkSession, tableBase: String): Unit = {
    val meta = readIvfPqMeta(spark, tableBase)
    val (before, after) = Dedup.compactBucketedTable(spark,
      s"${tableBase}_codes", "cid", meta.nBuckets)
    // the _vecs side table takes the same one-new-file-per-absorb debt
    val (vBefore, vAfter) = Dedup.compactBucketedTable(spark,
      s"${tableBase}_vecs", "id", meta.nBuckets)
    graft.Metrics.set("a10.compact",
      "codes_files_before" -> before, "codes_files_after" -> after,
      "vecs_files_before" -> vBefore, "vecs_files_after" -> vAfter)
  }

  /** Scalar-quantization ADC top-k — the int8 analog of [[pqAdcTopK]]
    * (the faiss `IndexScalarQuantizer` query path): every vector is
    * stored as the [[quantizeInt8]] code array (floor(x·scale + 0.5)
    * with scale = min(127/max|x|, 1e12)) and search runs entirely over
    * the codes. At 100 TB this is the 4×-smaller-scan variant of a1:
    * the corpus is read as int8 codes (the production layout would
    * land the code arrays once and scan only them), the quantized
    * queries broadcast, and the only shuffle is the per-query top-k
    * window — same single-corpus-scan + partial WindowGroupLimit shape
    * as a1/a3/a7.
    *
    * Exactness contract: the code arrays and their integer dot product
    * and squared norms are BIGINT-exact (the dot folds longs, so
    * partial order can never matter); the reported `cos_fp` is the
    * quantized cosine at the a4/a5 6-decimal fixed point through ONE
    * deterministic double sequence (int→double casts, two sqrts, one
    * multiply, one division, ·1e6, +0.5, floor — IEEE-identical in any
    * engine, mirrored verbatim by the DuckDB twin). A zero vector
    * quantizes to an all-zero code (norm 0) and scores `cos_fp` 0
    * against everything, in both engines.
    */
  def sqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                k: Int): DataFrame = {
    // the code array comes from the one-pass int8Codes kernel (scale
    // computed in-kernel — the old lambda-captured scale subtree cost
    // O(d²)/row, see quantizeInt8), and both the squared norm and the
    // per-pair dot run the exact-BIGINT longDot kernel inside codegen
    def codes(df: DataFrame, idAs: String, codeAs: String, n2As: String): DataFrame =
      df.select(col(idCol).as(idAs), HashExpressions.int8Codes(col(vecCol)).as(codeAs))
        .withColumn(n2As, HashExpressions.longDot(col(codeAs), col(codeAs)))
    val qs = codes(queries, "query_id", "qq", "n2q")
    val cs = codes(corpus, "neighbor_id", "cq", "n2c")
    val dot = HashExpressions.longDot(col("qq"), col("cq"))
    val scored = cs.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_fp",
        when(col("n2q") > 0 && col("n2c") > 0,
          floor(dot.cast("double")
            / (sqrt(col("n2q").cast("double")) * sqrt(col("n2c").cast("double")))
            * lit(1000000.0) + lit(0.5)).cast("long"))
          .otherwise(lit(0L)))
    val w = Window.partitionBy("query_id").orderBy(col("cos_fp").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_fp"),
        col("rank").cast("long").as("rank"))
  }

  /** Hyperplane-LSH ANN: bucket corpus and queries into `tables`
    * independent sign-bit bucketings; candidates are same-bucket rows in
    * any table; rerank candidates by exact cosine and keep top-k. Recall
    * grows with `tables`, per-bucket cost shrinks with `planes`.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, tables: Int, planes: Int): DataFrame = {
    def bucketize(df: DataFrame, id: String, vec: String) =
      df.select(col(id), col(vec),
        posexplode(array((0 until tables).map(t =>
          HashExpressions.hyperplaneSig(col(vec), t, planes)): _*)).as(Seq("tbl", "bucket")))
    val qb = bucketize(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "query_id", "qv")
    val cb = bucketize(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), "neighbor_id", "cv")
    val cand = cb.join(broadcast(qb),
        qb("tbl") === cb("tbl") && qb("bucket") === cb("bucket") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .distinct()
    val scored = cand.withColumn("cos",
      round(HashExpressions.cosine(col("qv"), col("cv")), 6))
    rankTopK(scored, k)
  }

  /** a11: recall@k of the approximate ANN paths against exact brute
    * force — the evaluation harness every production vector deployment
    * runs before trusting an index (faiss's own benchmark protocol):
    * per (query, method), how many of the method's top-k ids appear in
    * the exact top-k. `recall_fp` = floor(1e6·n_hit/k + 0.5), the
    * repo-wide fixed-point grid so the compare is integer-exact.
    *
    * Methods evaluated: `lsh` ([[lshTopK]]), `ivf` ([[ivfTopK]]),
    * `pq` ([[pqAdcTopK]]), `ivfpq` ([[ivfPqTopK]]) and `ivfpq_refine`
    * ([[ivfPqRefineTopK]]) — each under exactly its oracled
    * parameters. The point is to tune
    * tables/planes/nProbe/m/kCodes/refine against measured recall, so
    * the scoring and tie-breaks must be bit-identical to the operators
    * being tuned (same rounded-cosine or fixed-point-ADC rank, same id
    * tie-break). The compressed paths matter most: PQ quantization
    * loses information in a way lsh/ivf's exact reranking does not, so
    * `pq`/`ivfpq` recall is what a deployment tunes before trusting an
    * [[landIvfPqIndex]] — and the a10 probe's recall IS the `ivfpq`
    * row, because probe ≡ [[ivfPqTopK]] is spec-pinned bit parity
    * (asserted again recall-side in SimilaritySpec). `ivfpq_refine` is
    * the row a deployment actually tunes once an index is landed: the
    * refine factor is the only recall knob that needs NO index rebuild
    * (bench/SCALING_r19.md measures it), so recall-vs-refine is the
    * production tuning loop and it reports beside the paths it
    * corrects.
    *
    * Scale posture: recall is always measured on a SAMPLED query set
    * (the brute-force side costs |sample|·|corpus| — that is the price
    * of ground truth, paid for tens of queries, never corpus×corpus);
    * the approximate sides run at their production cost. Every join
    * after the top-k sets is on (query, method) cardinality —
    * |sample|·k rows, broadcast-sized by construction. A query with NO
    * approximate candidates (empty LSH buckets) still reports, with
    * n_hit = 0 — silent dropout would read as perfect recall.
    */
  def annRecall(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int, tables: Int, planes: Int,
                nCentroids: Int, nProbe: Int, m: Int, kCodes: Int,
                refine: Int = 4): DataFrame = {
    import queries.sparkSession.implicits._
    val exact = bruteTopK(queries, corpus, idCol, vecCol, k)
      .select("query_id", "neighbor_id")
    def leg(df: DataFrame, method: String): DataFrame =
      df.select(col("query_id"), col("neighbor_id"), lit(method).as("method"))
    // ONE md5 corpus sample serves the ivf, pq AND ivfpq legs: each
    // method's quantizer sample is a prefix of the same md5 total order
    // (sharedQuantizerSample), so one max(nCentroids, kCodes)-row pass
    // replaces three full-corpus TakeOrdered passes — bit-identical rows
    // per leg (each leg previously drew exactly this prefix itself;
    // SimilaritySpec's independent-operator pins would catch any drift).
    // The lsh leg stays independent — hyperplane signatures draw no
    // sample.
    val (cents, cb0) = sharedQuantizerSample(corpus, idCol, vecCol,
      nCentroids, m, kCodes)
    // ONE ADC pass serves both compressed rows: ivfPqTopK's ranking is
    // a total order per query (adc_fp, then id), so its top-k is
    // exactly the top-refine·k pool's rank ≤ k prefix — the ivfpq leg
    // reads the prefix, the refine leg re-ranks the whole pool
    // (checkpointed: both legs consume it)
    val pool = ivfPqTopKWith(cents, cb0, queries, corpus, idCol, vecCol,
      k * refine, nProbe, m).localCheckpoint()
    val appr =
      leg(lshTopK(queries, corpus, idCol, vecCol, k, tables, planes), "lsh")
        .union(leg(ivfTopKWith(cents, queries, corpus, idCol, vecCol, k, nProbe), "ivf"))
        .union(leg(pqAdcTopKWith(broadcast(cb0), queries, corpus, idCol, vecCol, k, m), "pq"))
        .union(leg(pool.filter(col("rank") <= k), "ivfpq"))
        .union(leg(refineRerank(pool.select("query_id", "neighbor_id"),
          queries, corpus, idCol, vecCol, k), "ivfpq_refine"))
    val hits = appr.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id", "method").agg(count(lit(1)).as("n_hit"))
    exact.select("query_id").distinct()
      .crossJoin(Seq("ivf", "ivfpq", "ivfpq_refine", "lsh", "pq").toDF("method"))
      .join(hits, Seq("query_id", "method"), "left")
      .select(col("query_id"), col("method"),
        coalesce(col("n_hit"), lit(0L)).cast("long").as("n_hit"),
        floor(coalesce(col("n_hit"), lit(0L)) * lit(1000000.0) / k + lit(0.5))
          .cast("long").as("recall_fp"))
  }
}
