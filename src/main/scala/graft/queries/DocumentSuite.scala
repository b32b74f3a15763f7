package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashExpressions, HashKernels}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables

/** §2.3 training-data pipeline operators over `documents` / `embeddings`:
  * text analysis (t*), dedup (d*), ANN (a*), multimodal plumbing (m*).
  *
  * EVERY operator in this suite carries a DuckDB oracle with the exact
  * same arithmetic — same fold order for doubles, same tie-breaks, and
  * for the signature operators (minhash/simhash/hyperplane LSH/
  * fingerprint) the hash kernels themselves recomputed in SQL: FNV-1a
  * and the Mersenne-61 modular algebra run as HUGEINT folds, and the
  * operator constants (permutation coefficients, hyperplane components,
  * Rabin–Karp window weights) are embedded as literal relations the way
  * the t1/t2 oracles embed their stopword lists. The ScalaTest property
  * specs against exact ground truth remain as a second, independent
  * check.
  */
object DocumentSuite {
  type Q = (SparkSession, String) => DataFrame

  private val stop = TextAnalysis.stopwords.toMap

  /** t11's sample-size target — interpolated into BOTH the Spark call and
    * the DuckDB oracle so the two sides cannot silently drift.
    */
  private val DomainMixTarget = 200L

  /** t16's fixed retrieval query — one rare term ("dup" lands only in
    * the near-duplicate fixture docs) among common ones, so the idf
    * spread actually exercises the BM25 weighting. */
  private val Bm25QueryTerms = Seq("dup", "vector", "stream", "join", "slow")

  /** The st9–st13 arrival chunk count — the ONE constant the streaming
    * oracles' arrival-order folds share with the Scala drains
    * ([[graft.streaming.DocStreams.ArrivalChunks]]), so the cadence can
    * move without the SQL silently folding a different order.
    */
  private val StChunks = graft.streaming.DocStreams.ArrivalChunks

  val queries: Map[String, Q] = Map(
    // --- text analysis -----------------------------------------------------
    "t1_lang_id" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "t2_quality_score" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScore(col("text"), col("n_chars")).as("score"))
        .orderBy("doc_id")
    }),

    "t3_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.regexTokenCount(col("text")).as("re_tokens"))
        .orderBy("doc_id")
    }),

    "t5_stratified_sample" -> ((s, d) => {
      TextAnalysis.stratifiedSample(
        Tables.documents(s, d).select("doc_id", "source"), col("source"), col("doc_id"), 5)
        .orderBy("source", "doc_id")
    }),

    "t4_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          HashExpressions.fingerprint(col("text"), 16).as("fp"))
        .orderBy("doc_id")
    }),

    "t6_repetition_score" -> ((s, d) => {
      val (total, distinct, rep) =
        TextAnalysis.repetitionScore(TextAnalysis.wsTokens(col("text")), 3)
      Tables.documents(s, d)
        .select(col("doc_id"), total.as("n_grams"), distinct.as("n_distinct"),
          rep.as("repetition"))
        .orderBy("doc_id")
    }),

    // PII is injected deterministically (the synthetic corpus has none):
    // every 5th doc gains an email, every 7th an IP, every 11th a phone
    // number — so the scrub exercises real hits AND real misses, and the
    // oracle rebuilds the identical augmented corpus in SQL before
    // matching with the same regexes under RE2
    "t7_pii_scrub" -> ((s, d) => {
      val injected = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10.0."), col("doc_id") % 256, lit(".17")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" call 555-867-5309"))
            .otherwise(lit(""))).as("text"))
      val (ne, ni, np) = TextAnalysis.piiCounts(col("text"))
      injected.select(col("doc_id"), ne.as("n_emails"), ni.as("n_ips"),
          np.as("n_phones"), TextAnalysis.piiRedact(col("text")).as("redacted"))
        .orderBy("doc_id")
    }),

    "t8_sequence_pack" -> ((s, d) => {
      TextAnalysis.sequencePack(
        Tables.documents(s, d).select("doc_id", "source", "text"),
        col("source"), col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")), 512L)
        .select("doc_id", "source", "n_tokens", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),

    "t9_tfidf" -> ((s, d) => {
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", 5)
        .orderBy("doc_id", "rnk")
    }),

    "t14_unigram_logprob" -> ((s, d) => {
      TextAnalysis.unigramLogprob(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "t10_bigram_colloc" -> ((s, d) => {
      TextAnalysis.bigramCollocations(Tables.documents(s, d), "doc_id", "text", 100)
        .orderBy(col("n").desc, col("gram"))
    }),

    "t11_domain_mix" -> ((s, d) => {
      TextAnalysis.domainMixSample(
        Tables.documents(s, d).select("doc_id", "source"),
        col("source"), col("doc_id"), DomainMixTarget)
        .orderBy("doc_id")
    }),

    "t12_char_entropy" -> ((s, d) => {
      TextAnalysis.charStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "t13_quality_deciles" -> ((s, d) => {
      TextAnalysis.qualityDeciles(Tables.documents(s, d),
        "doc_id", "text", "n_chars", "source")
        .orderBy("doc_id")
    }),

    "t16_bm25" -> ((s, d) => {
      TextAnalysis.bm25TopDocs(Tables.documents(s, d), "doc_id", "text",
        Bm25QueryTerms, k = 25)
        .orderBy("rank")
    }),

    "t17_heavy_hitters" -> ((s, d) => {
      TextAnalysis.heavyHitters(Tables.documents(s, d), "text", threshold = 900L)
        .orderBy(col("n").desc, col("term").asc)
    }),

    "t18_postings" -> ((s, d) => {
      TextAnalysis.postingsIndex(Tables.documents(s, d), "doc_id", "text",
        blockSize = 128)
        .orderBy("term", "block_no")
    }),

    "t19_bigram_logprob" -> ((s, d) => {
      TextAnalysis.bigramLogprob(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // window 12 / stride 7 are co-prime and small against the fixture
    // docs, so the gate exercises single-chunk docs, multi-chunk
    // overlap, and short tails in one run
    "t20_chunk_windows" -> ((s, d) => {
      TextAnalysis.chunkWindows(Tables.documents(s, d), "doc_id", "text",
        window = 12, stride = 7)
        .orderBy("doc_id", "chunk_no")
    }),

    // --- dedup -------------------------------------------------------------
    "d1_dedup_exact" -> ((s, d) => {
      Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text")
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    }),

    "d2_dedup_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
        .orderBy("id_a", "id_b")
    }),

    "d6_dedup_cluster" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
      Dedup.dedupClusters(pairs)
        .withColumn("doc_id", col("doc_id").cast("long"))
        .withColumn("cluster_id", col("cluster_id").cast("long"))
        .orderBy("doc_id")
    }),

    "d3_dedup_minhash_lsh" -> ((s, d) => {
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    "d4_dedup_simhash" -> ((s, d) => {
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        blocks = 4, maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // plane count scales with the corpus (Dedup.lshPlanesFor — the
    // oracle replays the same formula), keeping per-bucket pair space
    // bounded as n grows; at the verification scales it resolves to the
    // historical 4 planes
    "d5_dedup_embedding" -> ((s, d) => {
      Dedup.embeddingDedupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        tables = 8, threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),

    // 16 whitespace tokens ≈ the verbatim-span criterion at this
    // corpus's token granularity (the paper uses 50 BPE tokens)
    "d8_dedup_substring" -> ((s, d) => {
      Dedup.substringPairs(Tables.documents(s, d), "doc_id", "text",
        k = 16, maxPostings = 1000)
        .orderBy("id_a", "id_b")
    }),

    // cross-document repeated-segment removal (the CCNet/RefinedWeb
    // line-dedup stage): segments occurring in >= 2 docs are
    // boilerplate, dropped everywhere, docs reassembled in order
    "d16_line_dedup" -> ((s, d) => {
      Dedup.lineDedup(Tables.documents(s, d), "doc_id", "text",
        window = 10, minDf = 2)
        .orderBy("doc_id")
    }),

    // the whole cleaning recipe as one declarative plan: exact
    // keep-first dedup -> keep-first line dedup over the survivors ->
    // quality filter on the CLEANED text (score >= 0.5)
    "d18_clean_pipeline" -> ((s, d) => {
      Dedup.cleanPipeline(Tables.documents(s, d), "doc_id", "text",
        window = 10, minDf = 2, minScore = 0.5)
        .orderBy("doc_id")
    }),

    // the FULL production recipe (the CCNet/Dolma stage order): exact
    // keep-first dedup -> keep-first line dedup -> 13-gram
    // decontamination of the CLEANED text against the eval slice
    // (doc_id % 10 = 0, the d7/d9 stand-in) -> PII scrub -> quality
    // filter on the SCRUBBED text. PII injected t7-style so the scrub
    // stage genuinely bites (the synthetic corpus has none).
    "d19_clean_pipeline_full" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10.0."), col("doc_id") % 256, lit(".17")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" call 555-867-5309"))
            .otherwise(lit(""))).as("text"))
      Dedup.cleanPipeline(corpus, "doc_id", "text", window = 10, minDf = 2,
        minScore = 0.5,
        decontaminate = Some(docs.filter(col("doc_id") % 10 === 0)),
        decontamN = 13, scrubPii = true)
        .orderBy("doc_id")
    }),

    // the keep-first variant (CCNet/Dolma paragraph dedup): a repeated
    // segment keeps one canonical copy — in its minimum-doc_id host —
    // instead of vanishing everywhere
    "d17_line_dedup_keep_first" -> ((s, d) => {
      Dedup.lineDedup(Tables.documents(s, d), "doc_id", "text",
        window = 10, minDf = 2, keepFirst = true)
        .orderBy("doc_id")
    }),

    // deterministic seeded global shuffle + contiguous shard layout
    // (range-sort + zipWithIndex: no single-reducer window)
    "t15_shuffle_shard" -> ((s, d) => {
      graft.operators.Sharding.shuffleShard(s, Tables.documents(s, d),
        "doc_id", seed = "42", shardSize = 64)
        .orderBy("doc_id")
    }),

    // a 10%-of-corpus stand-in plays the benchmark/eval set (the real
    // pipeline reads a separate, small eval table); 8-gram collisions
    // are the standard decontamination window
    "d7_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.benchmarkContamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 8)
        .orderBy("doc_id")
    }),

    // the bloom-prefilter realization of the same hygiene step, at the
    // GPT-3 appendix's 13-gram window; output is exact (verify join),
    // only the plan shape differs from d7
    "d9_bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.bloomDecontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 13)
        .orderBy("doc_id")
    }),

    // SemDeDup: nearest-centroid cells (the a3 coarse quantizer) with
    // in-cell exact-cosine verify — the geometric complement to d5's
    // hyperplane buckets
    // cell count scales with the corpus (Dedup.ivfCellsFor — the oracle
    // replays the same formula); resolves to the historical 16 cells at
    // the verification scales
    "d10_dedup_semantic" -> ((s, d) => {
      Dedup.semanticDedupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),

    // survivor-mode composed dedup: d10's geometric candidate generator
    // (cell-bounded, linear enumeration — the attributed r14 result; the
    // d5 LSH generator at loose τ is output-bound) feeds exact-cosine
    // verified pairs through a disk spool into the d6 star-contraction
    // components, emitting the complete per-document keep/drop manifest
    "d12_dedup_survivors" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Dedup.dedupSurvivors(
        e.select("vec_id"),
        Dedup.semanticDedupPairs(e, "vec_id", "embedding", threshold = 0.4)
          .select("id_a", "id_b"))
        .orderBy("doc_id")
    }),

    // incremental batch-vs-landed-corpus dedup: 90% of the corpus lands
    // as a bucketed MinHash index ONCE, the other 10% arrives as a batch
    // and probes it — pairs involving a batch doc, bit-identical to d3
    // over the full set restricted to those pairs (the oracle is exactly
    // that restriction). Landing happens at query-construction time into
    // a Spool dir (the d9 spool pattern); the probe itself never touches
    // a corpus document.
    "d11_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.sources.Spool.dir(s, "d11_idx")
      Dedup.landMinhashIndex(docs.filter(col("doc_id") % 10 =!= 8),
        "doc_id", "text", n = 3, k = 64, bands = 16, "graft_d11_idx", dir)
      Dedup.incrementalMinhashPairs(s, docs.filter(col("doc_id") % 10 === 8),
        "doc_id", "text", "graft_d11_idx", threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // the keep/drop decision those pairs exist to feed: classify each
    // arriving doc against the landed corpus (drop iff it near-dups an
    // earlier doc — any landed doc, or a smaller-id batch mate)
    "d14_dedup_incremental_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.sources.Spool.dir(s, "d14_idx")
      Dedup.landMinhashIndex(docs.filter(col("doc_id") % 10 =!= 8),
        "doc_id", "text", n = 3, k = 64, bands = 16, "graft_d14_idx", dir)
      Dedup.incrementalSurvivors(s, docs.filter(col("doc_id") % 10 === 8),
        "doc_id", "text", "graft_d14_idx", threshold = 0.5)
        .orderBy("doc_id")
    }),

    // incremental SEMANTIC dedup: the embedding twin of d11 — 90% of the
    // embeddings land once as the d10 cell index (centroids frozen at
    // land time, the SemDeDup quantizer), the other 10% arrive as a
    // batch, assign against the frozen centroids and probe same-cell.
    // Bit-identical to the frozen-centroid d10 over the full set
    // restricted to batch-involving pairs (the oracle is exactly that).
    "d13_semantic_incremental" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Spool.dir(s, "d13_idx")
      Dedup.landSemanticIndex(e.filter(col("vec_id") % 10 =!= 8),
        "vec_id", "embedding", "graft_d13_idx", dir)
      Dedup.incrementalSemanticPairs(s, e.filter(col("vec_id") % 10 === 8),
        "vec_id", "embedding", "graft_d13_idx", threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),

    // the d13 pairs folded into the ingest decision — the embedding
    // twin of d14: classify each arriving vector against the landed
    // cell index (drop iff it semantically near-dups an earlier vector)
    "d15_semantic_incremental_survivors" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Spool.dir(s, "d15_idx")
      Dedup.landSemanticIndex(e.filter(col("vec_id") % 10 =!= 8),
        "vec_id", "embedding", "graft_d15_idx", dir)
      Dedup.incrementalSemanticSurvivors(s, e.filter(col("vec_id") % 10 === 8),
        "vec_id", "embedding", "graft_d15_idx", threshold = 0.4)
        .orderBy("vec_id")
    }),

    // --- similarity search -------------------------------------------------
    "a1_ann_brute_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    }),

    "a2_ann_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 5, tables = 8, planes = 4)
        .orderBy("query_id", "rank")
    }),

    "a3_ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    // recall@5 of the approximate paths against exact brute force,
    // under exactly the a2/a3/a7/a9/a12 oracled parameters — the
    // tuning loop a production index runs (sampled queries vs the full
    // corpus). The compressed paths (pq, ivfpq) are the deployed ones;
    // the a10 probe's recall IS the ivfpq row by probe bit parity
    // (spec-pinned in SimilaritySpec); ivfpq_refine is the knob that
    // fixes their recall without an index rebuild, so it reports
    // beside them (refine-factor sweep: bench/SCALING_r19.md).
    "a11_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annRecall(e.filter(col("vec_id") < 10), e, "vec_id",
        "embedding", k = 5, tables = 8, planes = 4, nCentroids = 16,
        nProbe = 4, m = 4, kCodes = 16, refine = 4)
        .orderBy("query_id", "method")
    }),

    "a4_embed_quantize" -> ((s, d) => {
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy("vec_id")
    }),

    "a5_embed_centroid" -> ((s, d) => {
      Similarity.labelCentroids(Tables.embeddings(s, d), "label", "embedding")
        .orderBy("label", "pos")
    }),

    // 64-dim embeddings → 4 subspaces × 16 codes: each vector stores as
    // 4 bytes instead of 256 — the IVF-PQ compression step
    "a6_pq_encode" -> ((s, d) => {
      Similarity.pqEncode(Tables.embeddings(s, d), "vec_id", "embedding",
        m = 4, kCodes = 16)
        .orderBy("vec_id", "sub")
    }),

    // ADC search over the a6 codes: the corpus is visited only through
    // its 4-byte compressed form, queries precompute broadcastable
    // distance tables
    "a7_pq_adc" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pqAdcTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 5, m = 4, kCodes = 16)
        .orderBy("query_id", "rank")
    }),

    // the composed production path: cell-pruned AND compressed — each
    // query visits only its probed cells, and only through PQ codes
    "a9_ivf_pq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16)
        .orderBy("query_id", "rank")
    }),

    // PQ's recall ceiling, answered the production way (faiss refine):
    // ADC retrieves a cheap compressed-domain pool of refine·k = 20
    // candidates, exact cosine re-ranks ONLY that pool — recall becomes
    // a refine-factor knob instead of an m/kCodes rebuild
    "a12_ivfpq_refine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqRefineTopK(e.filter(col("vec_id") < 10), e, "vec_id",
        "embedding", k = 5, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16,
        refine = 4)
        .orderBy("query_id", "rank")
    }),

    // the LANDED production path: 90% of the vectors land once as the
    // frozen-quantizer IVF-PQ index (centroids + codebook + bucketed
    // codes), the other 10% arrive as a batch and absorb by encoding
    // against the frozen state; queries then probe the landed codes
    // only — no vector is ever re-encoded. Bit-identical to the
    // frozen-quantizer a9 algebra over landed ∪ absorbed (the oracle is
    // exactly that).
    "a10_ivfpq_index" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Spool.dir(s, "a10_idx")
      Similarity.landIvfPqIndex(e.filter(col("vec_id") % 10 =!= 8),
        "vec_id", "embedding", nCentroids = 16, m = 4, kCodes = 16,
        "graft_a10_idx", dir)
      Similarity.absorbIvfPqBatch(s, e.filter(col("vec_id") % 10 === 8),
        "vec_id", "embedding", "graft_a10_idx")
      Similarity.ivfPqProbe(s, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        "graft_a10_idx", k = 5, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    // the landed index ANSWERING AT a12 QUALITY (a13): same land +
    // absorb as a10, but the probe's refine·k ADC pool is re-ranked by
    // exact cosine read from the _vecs side table (id-bucketed, pool-
    // pruned) — recall over a landed index becomes a refine knob, no
    // re-land (the faiss IndexRefineFlat layout, on disk)
    "a13_ivfpq_probe_refine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Spool.dir(s, "a13_idx")
      Similarity.landIvfPqIndex(e.filter(col("vec_id") % 10 =!= 8),
        "vec_id", "embedding", nCentroids = 16, m = 4, kCodes = 16,
        "graft_a13_idx", dir)
      Similarity.absorbIvfPqBatch(s, e.filter(col("vec_id") % 10 === 8),
        "vec_id", "embedding", "graft_a13_idx")
      Similarity.ivfPqProbeRefine(s, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", "graft_a13_idx", k = 5, nProbe = 4, refine = 4)
        .orderBy("query_id", "rank")
    }),

    // ADC over int8 scalar-quantized codes: the corpus is visited only
    // through its a4-rule code arrays (4× less scan IO than float32)
    "a8_sq_adc" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.sqAdcTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // --- multimodal --------------------------------------------------------
    "m1_multimodal_meta" -> ((s, d) => {
      Multimodal.withPayloadMeta(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "byte_len", "content_sha", "kind")
        .orderBy("doc_id")
    }),

    "m2_multimodal_batch" -> ((s, d) => {
      val withPayload = Multimodal.withPayloadMeta(Tables.documents(s, d), "doc_id", "text")
      Multimodal.decodeBatch(withPayload, "doc_id", "payload")
        .orderBy("doc_id")
    }),

    // image near-dup over the payload's perceptual signature (stub =
    // codegen fnv61 of the payload bytes; prod swaps in dHash over the
    // decoded luma grid) through the d4 pigeonhole block machinery.
    // The corpus is re-crawl-shaped: every 10th payload re-ingests under
    // a new id (the repeated-crawl duplication phash dedup exists for),
    // so the key is non-vacuous — under the stub those pair at hamming
    // 0; the 1..maxHamming band is the spec's crafted-signature job
    "m5_phash_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // 2^40 offset: far above any GenData corpus (review finding — a
      // 1e6 offset would collide with real ids one order of magnitude
      // past gen1, and the oracle's identical offset would mask it)
      val reingested = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1L << 40))
      val withPayload = Multimodal.withPayloadMeta(
        docs.unionByName(reingested), "doc_id", "text")
      Multimodal.phashNearDup(withPayload, "doc_id", "payload")
        .orderBy("id_a", "id_b")
    }),

    "m4_resize_plan" -> ((s, d) => {
      // deterministic fake source dims derived from byte_len so the
      // resize arithmetic itself is oracle-checkable
      val meta = Multimodal.withPayloadMeta(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("byte_len"))
        .withColumn("src_w", (lit(64) + pmod(col("byte_len"), lit(1024))).cast("long"))
        .withColumn("src_h", (lit(64) + pmod(col("byte_len") * 7, lit(1024))).cast("long"))
      Multimodal.resizePlan(meta, "src_w", "src_h", 224)
        .select("doc_id", "src_w", "src_h", "out_w", "out_h")
        .orderBy("doc_id")
    }),

    "m3_frame_sample" -> ((s, d) => {
      val withPayload = Multimodal.withPayloadMeta(Tables.documents(s, d), "doc_id", "text")
      Multimodal.sampleFrames(
        Multimodal.decodeBatch(withPayload, "doc_id", "payload"), everyKth = 4)
        .orderBy("doc_id", "frame_idx")
    })
  )

  private def hits(langWords: Seq[String], textCol: String = "text") =
    s"len(list_filter(string_split($textCol, ' '), t -> t IN (${langWords.map(w => s"'$w'").mkString(", ")})))"

  /** TextAnalysis.qualityScore replayed op-for-op — ONE definition
    * shared by the t2/t13/d18 oracles so the score arithmetic cannot
    * drift between them. `textCol`/`nCharsSql` parameterize the d18
    * variant (score over the CLEANED text, n_chars = its length).
    */
  private def qualityScoreSqlOver(textCol: String, nCharsSql: String): String =
    s"""LEAST(CAST(len(string_split($textCol, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.3
       |    + (CAST(${hits(stop("en"), textCol)} AS DOUBLE)
       |       / CAST(len(string_split($textCol, ' ')) AS DOUBLE)) * 0.4
       |    + (1.0 - CAST(len(regexp_extract_all($textCol, '[^a-z0-9 ]')) AS DOUBLE)
       |       / CAST($nCharsSql AS DOUBLE)) * 0.3""".stripMargin
  private def qualityScoreSql: String = qualityScoreSqlOver("text", "n_chars")

  // --- shared DuckDB arithmetic for the embedding oracles -----------------
  // The Similarity.md5Sample ordering replayed in SQL — ONE spelling for
  // every oracle that consumes the coarse-sample contract (a3/d10 cents,
  // the PQ codebook), so a tie-break tweak in md5Sample has exactly one
  // SQL twin to update.
  private def md5OrderSql(id: String) = s"md5(CAST($id AS VARCHAR)), $id"
  /** `cents(cid, cw)` — the a3/d10 centroid sample CTE body; `where`
    * restricts the sampled slice (the a10 frozen-quantizer twin: the
    * landed corpus only, exactly [[graft.operators.Similarity.landIvfPqIndex]]).
    */
  private def centsSampleSqlOver(n: Int, where: String): String =
    s"""(SELECT vec_id AS cid, embedding::DOUBLE[] AS cw FROM embeddings $where
       |  ORDER BY ${md5OrderSql("vec_id")} LIMIT $n)""".stripMargin
  private def centsSampleSql(n: Int): String = centsSampleSqlOver(n, "")

  /** [[centsSampleSql]] with the cell count computed from the corpus
    * size — the exact [[graft.operators.Dedup.ivfCellsFor]] formula
    * (GREATEST(16, CEIL(SQRT(n))) — the faiss √n balance, r17), the
    * d10 twin at every scale.
    */
  private def centsSampleSqlSized: String = centsSampleSqlSizedOver("")

  /** [[centsSampleSqlSized]] over a filtered corpus slice — the d13
    * frozen-centroid twin (centroids sampled from and sized by the
    * LANDED corpus only, exactly [[graft.operators.Dedup.landSemanticIndex]]).
    */
  private def centsSampleSqlSizedOver(where: String): String =
    s"""(SELECT cid, cw FROM (
       |    SELECT vec_id AS cid, embedding::DOUBLE[] AS cw,
       |      ROW_NUMBER() OVER (ORDER BY ${md5OrderSql("vec_id")}) AS __rn,
       |      COUNT(*) OVER () AS __n
       |    FROM embeddings $where)
       |  WHERE __rn <= GREATEST(16, CEIL(SQRT(CAST(__n AS DOUBLE)))))""".stripMargin
  // Same left-to-right double fold as Similarity.cosineSql /
  // HashKernels.cosineF, so cosines are bit-identical across engines.
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (a, b) -> a + b)"
  private def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"
  // Zero-guarded twin of cosSql for every oracle whose Spark side goes
  // through HashKernels.cosineF (a2/a3 rerank, the a3/d10 cell
  // assignment, d5/d10 verify): cosineF maps a zero-norm operand to 0.0
  // where raw 0/0 would be NaN — and DuckDB's NaN sorts GREATER than
  // everything and passes >= filters, so an unguarded oracle would rank
  // a zero vector first / emit phantom pairs the engine correctly
  // suppresses. No current fixture holds a zero vector (hashes are
  // unchanged); this pins the boundary so one appearing in data can't
  // silently split the engines. a1 deliberately keeps the UNguarded
  // fold on both sides (Similarity.cosineSql has no zero branch).
  private def cosSqlZ(a: String, b: String) =
    s"(CASE WHEN ${dotSql(a, a)} = 0 OR ${dotSql(b, b)} = 0 THEN 0.0 ELSE ${cosSql(a, b)} END)"

  /** Testdata embeddings are 64-dimensional; the plane literals below are
    * emitted for exactly this width (list_zip truncates to the shorter
    * list, so a narrower vector would silently use a plane prefix — keep
    * in sync with the generator).
    */
  private val EmbDim = 64

  /** The random-hyperplane components of LSH tables `0 until tables` as a
    * literal DuckDB relation. The planes are a pure function of their
    * indices ([[HashKernels.planeComponent]]) — embedding their values in
    * the oracle is the same move as embedding the stopword lists in the
    * t1/t2 oracles: operator constants, not query results. Each component
    * is k/1000 for an integer k, so the decimal literal parses to the
    * bit-identical double on any IEEE engine.
    */
  private def planesCte(tables: Int, planes: Int): String = {
    val rows = for { t <- 0 until tables; p <- 0 until planes } yield {
      val w = (0 until EmbDim).map(j => HashKernels.planeComponent(t, p, j)).mkString(", ")
      s"($t, $p, [$w]::DOUBLE[])"
    }
    s"planes(tbl, p, w) AS (SELECT * FROM (VALUES ${rows.mkString(", ")}))"
  }

  /** CTE chain `e` (id, double vector) + `sigs` (id, tbl, bucket): the
    * sign-bit bucket of every vector under every LSH table — the DuckDB
    * twin of [[HashKernels.hyperplaneSig]] (dot >= 0 sets bit p).
    */
  private def lshSigsCte(tables: Int, planes: Int): String =
    s"""${planesCte(tables, planes)},
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |sigs AS (
       |  SELECT id, tbl,
       |    CAST(SUM(CASE WHEN ${dotSql("e.v", "pl.w")} >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
       |  FROM e, planes pl GROUP BY id, tbl)""".stripMargin

  /** [[lshSigsCte]] with the plane count computed from the corpus size —
    * the exact [[graft.operators.Dedup.lshPlanesFor]] formula
    * (GREATEST(4, LEAST(20, CEIL(LOG2(n / 128))))), so the d5 oracle
    * stays the Spark side's twin at EVERY scale, not just the one the
    * gate runs. Plane components are emitted to the clamp ceiling and
    * gated by `p < np.v`.
    */
  private def lshSigsCteSized(tables: Int): String =
    s"""${planesCte(tables, 20)},
       |np AS (SELECT CAST(GREATEST(4, LEAST(20,
       |    CEIL(LOG2(COUNT(*) / 128.0)))) AS INT) AS v FROM embeddings),
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |sigs AS (
       |  SELECT id, tbl,
       |    CAST(SUM(CASE WHEN ${dotSql("e.v", "pl.w")} >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
       |  FROM e, planes pl, np WHERE pl.p < np.v GROUP BY id, tbl)""".stripMargin

  // --- FNV-1a-in-SQL machinery for the signature oracles ------------------
  // DuckDB's BIGINT arithmetic is overflow-checked, so the wrapping
  // 64-bit FNV multiply runs in HUGEINT (128-bit) with an explicit
  // mod 2^64; products stay under 2^104. The documents table is pure
  // ASCII by construction (byte_len == char length — asserted by the m1
  // oracle), so unicode(char) IS the UTF-8 byte.

  private val M61 = "2305843009213693951" // 2^61 - 1, the MinHash modulus

  /** FNV-1a 64 of an ASCII string expression as an unsigned HUGEINT —
    * byte-exact twin of [[HashKernels.fnv1a64String]].
    */
  private def fnvSql(col: String): String =
    s"""list_reduce(list_prepend(14695981039346656037::HUGEINT,
       |    list_transform(range(1, length($col)+1), i ->
       |      CAST(unicode(substr($col, CAST(i AS INT), 1)) AS HUGEINT))),
       |  (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)""".stripMargin

  /** The MinHash permutation coefficients as a literal relation —
    * operator constants ([[HashKernels.minhashA]]/[[HashKernels.minhashB]]),
    * embedded exactly like the stopword lists and hyperplane components.
    */
  private def minhashCoefCte(k: Int): String =
    "coef(j, ca, cb) AS (SELECT * FROM (VALUES " +
      (0 until k).map(j =>
        s"($j, ${HashKernels.minhashA(j)}::HUGEINT, ${HashKernels.minhashB(j)}::HUGEINT)")
        .mkString(", ") + "))"

  /** The WITH-chain of the frozen-centroid algebra up to the per-pair
    * exact-cosine score `scored(id_a, id_b, cos)` — composable, the
    * semantic twin of [[minhashEstCtes]].
    */
  private def semanticScoredCtes(centsWhere: String): String =
    semanticScoredCtesWhere(centsWhere, "TRUE")

  /** [[semanticScoredCtes]] with `pairCond` (over `a.id`/`b.id`) pushed
    * into the same-cell self-join — the semantic twin of
    * [[minhashEstCtesWhere]]'s replay-capacity lever.
    */
  private def semanticScoredCtesWhere(centsWhere: String,
                                      pairCond: String): String =
    s"""WITH cents AS ${centsSampleSqlSizedOver(centsWhere)},
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |assign AS ${ivfAssignCte("", keep = 1, "id", "v")},
       |scored AS (
       |  SELECT a.id AS id_a, b.id AS id_b, ${cosSqlZ("a.v", "b.v")} AS cos
       |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id
       |  WHERE ($pairCond))""".stripMargin

  /** The frozen-centroid d10 pair algebra: centroids sampled from AND
    * sized by the slice `centsWhere` selects (the landed corpus —
    * quantizer frozen at land time), every vector assigned against
    * them, same-cell exact-cosine pairs at τ = 0.4 sliced by
    * `restrict` — shared by d13 (pairs involving the arriving batch)
    * and the streaming st10 oracle (pairs involving any arrival).
    */
  private[queries] def semanticPairsSql(centsWhere: String, restrict: String): String =
    s"""${semanticScoredCtes(centsWhere)}
       |SELECT id_a, id_b, ROUND(cos, 6) AS cos
       |FROM scored WHERE cos >= 0.4 AND ($restrict)
       |ORDER BY id_a, id_b""".stripMargin

  /** The earlier-neighbor fold shared by the d14/d15/st11/st12 oracles
    * (the SQL twin of Dedup.earliestNeighborFold): given score CTEs
    * ending in a pair relation, classify each arrival — dup iff some
    * over-threshold pair links it to an EARLIER member (per the
    * caller's rule), `dup_of` = the minimum such neighbor, NULL and
    * `is_new` for survivors. `arrival` renders the arrival predicate
    * for a column; `earlier` renders "e is earlier than x".
    */
  private def earlierFoldSql(ctes: String, jpSelect: String, outId: String,
                             table: String,
                             arrival: String => String,
                             earlier: (String, String) => String): String =
    s"""$ctes,
       |jp AS ($jpSelect),
       |part AS (SELECT id_a AS x, id_b AS e FROM jp
       |         UNION ALL SELECT id_b, id_a FROM jp),
       |dup AS (
       |  SELECT x AS $outId, MIN(e) AS dup_of FROM part
       |  WHERE ${arrival("x")} AND (${earlier("e", "x")}) GROUP BY x)
       |SELECT t.$outId, dup.dup_of, dup.dup_of IS NULL AS is_new
       |FROM $table t LEFT JOIN dup ON dup.$outId = t.$outId
       |WHERE ${arrival(s"t.$outId")}
       |ORDER BY t.$outId""".stripMargin

  /** The d15 keep/drop classification: a batch vector (vec_id % 10 = 8)
    * is a duplicate iff some frozen-centroid τ = 0.4 pair links it to
    * an EARLIER vector — any landed one, or a smaller-id batch mate;
    * `dup_of` = the minimum such neighbor (the semantic twin of
    * [[incrementalSurvivorsSql]]).
    */
  private[queries] def semanticSurvivorsSql: String =
    earlierFoldSql(semanticScoredCtes("WHERE vec_id % 10 <> 8"),
      """SELECT id_a, id_b FROM scored
        |       WHERE cos >= 0.4 AND (id_a % 10 = 8 OR id_b % 10 = 8)""".stripMargin,
      "vec_id", "embeddings",
      c => s"$c % 10 = 8", (e, x) => s"$e % 10 <> 8 OR $e < $x")

  /** The st12 classification oracle: the arrival-ordered fold over the
    * frozen-centroid algebra (centroids from the landed vec_id % 5 < 3
    * slice) — earlier(e, x) ⇔ e landed, or e's arrival chunk
    * (vec_id % StChunks) precedes x's, or same chunk with e < x. Chunk
    * order is deterministic because the stream's drops carry strictly
    * increasing mtimes.
    */
  private[queries] def streamSemanticSurvivorsSql: String =
    earlierFoldSql(semanticScoredCtes("WHERE vec_id % 5 < 3"),
      """SELECT id_a, id_b FROM scored
        |       WHERE cos >= 0.4 AND (id_a % 5 >= 3 OR id_b % 5 >= 3)""".stripMargin,
      "vec_id", "embeddings",
      c => s"$c % 5 >= 3",
      (e, x) => s"$e % 5 < 3 OR $e % $StChunks < $x % $StChunks" +
        s" OR ($e % $StChunks = $x % $StChunks AND $e < $x)")

  /** Deterministic 1/16 id slice for the restricted gen10 fold
    * oracles: first hex digit of md5(id) — uncorrelated with the mod-
    * based landed/batch/chunk rules, replayable verbatim in any
    * engine (the slice rule IS part of the emitted SQL).
    */
  private def md5SliceSql(c: String): String =
    s"substr(md5(CAST($c AS VARCHAR)), 1, 1) = '0'"

  /** RESTRICTED gen10-replay twins of the four fold oracles
    * (d14/d15/st11/st12), closing bench/SCALING_r17.md §5's holes: the
    * full fold SQL exceeds the container's DuckDB capacity at 500k
    * docs, but the fold algebra is PER-ARRIVAL independent once the
    * index side is fixed — the verdict for arrival x consumes only
    * pairs (x, earlier) — so verdicts for a deterministic md5 1/16
    * slice of the arrival side are computable without materializing
    * the other 15/16 of the pair space (the pair restriction is pushed
    * into the banded/same-cell self-join, which also eliminates the
    * landed×landed candidate space the fold never reads). Each value is
    * (oracleSql, sparkDumpFilter): the oracle computes the sliced
    * verdicts; the filter selects the same slice out of the FULL
    * Spark-side dump for the compare. The full-set oracles above stay
    * the gate at sf0.01/gen1.
    */
  private[graft] def slicedScaleOracles: Map[String, (String, String)] = {
    // "some side is a SLICED ARRIVAL", rendered for the caller's two
    // column spellings (the self-join's a.id/b.id; jp's id_a/id_b)
    def sliceCond(arr: String => String, ca: String, cb: String) =
      s"(${arr(ca)} AND ${md5SliceSql(ca)}) OR (${arr(cb)} AND ${md5SliceSql(cb)})"
    val d14Arr = (c: String) => s"$c % 10 = 8"
    val stArr = (c: String) => s"$c % 5 >= 3"
    val d14Earlier = (e: String, x: String) => s"$e % 10 <> 8 OR $e < $x"
    val stEarlier = (e: String, x: String) =>
      s"$e % 5 < 3 OR $e % $StChunks < $x % $StChunks" +
        s" OR ($e % $StChunks = $x % $StChunks AND $e < $x)"
    Map(
      "d14_dedup_incremental_survivors" -> (earlierFoldSql(
        minhashEstCtesWhere(sliceCond(d14Arr, "a.id", "b.id")),
        s"""SELECT id_a, id_b FROM est
           |       WHERE ej >= 0.5 AND (${sliceCond(d14Arr, "id_a", "id_b")})""".stripMargin,
        "doc_id", "documents",
        c => s"${d14Arr(c)} AND ${md5SliceSql(c)}", d14Earlier),
        md5SliceSql("doc_id")),
      "st11_stream_incremental_survivors" -> (earlierFoldSql(
        minhashEstCtesWhere(sliceCond(stArr, "a.id", "b.id")),
        s"""SELECT id_a, id_b FROM est
           |       WHERE ej >= 0.5 AND (${sliceCond(stArr, "id_a", "id_b")})""".stripMargin,
        "doc_id", "documents",
        c => s"${stArr(c)} AND ${md5SliceSql(c)}", stEarlier),
        md5SliceSql("doc_id")),
      "d15_semantic_incremental_survivors" -> (earlierFoldSql(
        semanticScoredCtesWhere("WHERE vec_id % 10 <> 8",
          sliceCond(d14Arr, "a.id", "b.id")),
        s"""SELECT id_a, id_b FROM scored
           |       WHERE cos >= 0.4 AND (${sliceCond(d14Arr, "id_a", "id_b")})""".stripMargin,
        "vec_id", "embeddings",
        c => s"${d14Arr(c)} AND ${md5SliceSql(c)}", d14Earlier),
        md5SliceSql("vec_id")),
      "st12_stream_semantic_survivors" -> (earlierFoldSql(
        semanticScoredCtesWhere("WHERE vec_id % 5 < 3",
          sliceCond(stArr, "a.id", "b.id")),
        s"""SELECT id_a, id_b FROM scored
           |       WHERE cos >= 0.4 AND (${sliceCond(stArr, "id_a", "id_b")})""".stripMargin,
        "vec_id", "embeddings",
        c => s"${stArr(c)} AND ${md5SliceSql(c)}", stEarlier),
        md5SliceSql("vec_id")))
  }

  /** The d16/d17 oracle: the same fixed-width segmentation as
    * Dedup.lineDedup (1-based list slice = Spark's
    * slice(w, segno*W+1, W)), df-counted with the min host doc, the
    * caller's drop condition over the boiler left join, reassembly via
    * ORDER BY segno string_agg (string_agg skips the CASE's NULLs);
    * the empty-segment filter mirrors the Spark side so an empty-text
    * doc contributes no segments on either engine.
    */
  private def lineDedupChain(dropCond: String, src: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |seg AS (
       |  SELECT doc_id, CAST(i AS INT) AS segno,
       |         list_aggregate(w[i*10+1 : i*10+10], 'string_agg', ' ') AS seg
       |  FROM t, UNNEST(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS u(i)),
       |segs AS (SELECT * FROM seg WHERE seg <> ''),
       |boiler AS (
       |  SELECT seg, first_doc FROM (
       |    SELECT seg, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS first_doc
       |    FROM segs GROUP BY seg) WHERE nd >= 2),
       |fl AS (
       |  SELECT s.doc_id, s.segno, s.seg, $dropCond AS dropped
       |  FROM segs s LEFT JOIN boiler b ON s.seg = b.seg),
       |reb AS (
       |  SELECT doc_id,
       |    COALESCE(string_agg(CASE WHEN NOT dropped THEN seg END,
       |                        ' ' ORDER BY segno), '') AS clean_text,
       |    CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |  FROM fl GROUP BY doc_id)""".stripMargin

  private def lineDedupSql(dropCond: String): String =
    s"""WITH ${lineDedupChain(dropCond, "documents")}
       |SELECT d.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
       |       COALESCE(reb.n_dropped, 0) AS n_dropped
       |FROM documents d LEFT JOIN reb USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** The WITH-chain of the d3 algebra up to the per-pair signature
    * agreement estimate `est(id_a, id_b, ej)` — composable: callers
    * append their own CTEs with a leading comma or select directly.
    */
  private def minhashEstCtes: String = minhashEstCtesWhere("TRUE")

  /** [[minhashEstCtes]] with `candCond` (over `a.id`/`b.id`) pushed
    * INTO the banded self-join — the replay-capacity lever for the
    * gen10 fold oracles: a fold only consumes pairs involving its
    * (sliced) arrival side, so the quadratic landed×landed candidate
    * space never has to materialize (bench/SCALING_r17.md §5).
    */
  private def minhashEstCtesWhere(candCond: String): String =
    s"""WITH ${minhashCoefCte(64)},
       |toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
       |hs AS (SELECT doc_id, (${fnvSql("s")}) % $M61::HUGEINT AS h FROM sh),
       |sigj AS (
       |  SELECT doc_id, j, MIN(((ca * h) % $M61::HUGEINT + cb) % $M61::HUGEINT) AS sj
       |  FROM hs, coef GROUP BY doc_id, j),
       |sig AS (SELECT doc_id AS id, list(CAST(sj AS BIGINT) ORDER BY j) AS sig
       |        FROM sigj GROUP BY doc_id),
       |banded AS (
       |  SELECT id, sig, b, sig[4*b+1 : 4*b+4] AS bh
       |  FROM sig, UNNEST(range(0, 16)) AS u2(b)),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sa, b.sig AS sb
       |  FROM banded a JOIN banded b ON a.b = b.b AND a.bh = b.bh AND a.id < b.id
       |  WHERE ($candCond)),
       |est AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_filter(list_zip(sa, sb), x -> x[1] = x[2])) AS DOUBLE) / 64 AS ej
       |  FROM cand)""".stripMargin

  /** The full d3 MinHash/LSH algebra (3-shingles, k=64, 16 bands) as one
    * DuckDB query, with `restrict` slicing the emitted pair set — shared
    * by d3 (`TRUE`), d11 (pairs involving the arriving batch) and the
    * streaming st9 oracle (pairs involving any arrival).
    */
  private[queries] def minhashPairsSql(restrict: String): String =
    s"""$minhashEstCtes
       |SELECT id_a, id_b, ROUND(ej, 4) AS est_jaccard
       |FROM est WHERE ej >= 0.5 AND ($restrict)
       |ORDER BY id_a, id_b""".stripMargin

  /** The d14 keep/drop classification: a batch doc (doc_id % 10 = 8)
    * is a duplicate iff some τ = 0.5 pair links it to an EARLIER doc —
    * any landed doc, or a smaller-id batch mate; `dup_of` = the
    * minimum such neighbor.
    */
  private[queries] def incrementalSurvivorsSql: String =
    earlierFoldSql(minhashEstCtes,
      """SELECT id_a, id_b FROM est
        |       WHERE ej >= 0.5 AND (id_a % 10 = 8 OR id_b % 10 = 8)""".stripMargin,
      "doc_id", "documents",
      c => s"$c % 10 = 8", (e, x) => s"$e % 10 <> 8 OR $e < $x")

  /** The st11 classification oracle: the arrival-ordered fold over the
    * d3 MinHash algebra — earlier(e, x) ⇔ e landed (doc_id % 5 < 3),
    * or e's arrival chunk (doc_id % StChunks) precedes x's, or same
    * chunk with e < x (chunk order pinned by the drops' mtimes).
    */
  private[queries] def streamSurvivorsSql: String =
    earlierFoldSql(minhashEstCtes,
      """SELECT id_a, id_b FROM est
        |       WHERE ej >= 0.5 AND (id_a % 5 >= 3 OR id_b % 5 >= 3)""".stripMargin,
      "doc_id", "documents",
      c => s"$c % 5 >= 3",
      (e, x) => s"$e % 5 < 3 OR $e % $StChunks < $x % $StChunks" +
        s" OR ($e % $StChunks = $x % $StChunks AND $e < $x)")

  /** st13's arrival-ordered segment fold: a segment instance in an
    * arriving doc is dropped iff its count of EARLIER hosts (landed
    * corpus slice, earlier chunks, smaller-id batch mates) + itself
    * reaches minDf = 2 — d17's keep-first rule generalized to arrival
    * order. Same window-10 segmentation and reassembly CTEs as
    * [[lineDedupSql]].
    */
  private[queries] def streamLineDedupSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |seg AS (
      |  SELECT doc_id, CAST(i AS INT) AS segno,
      |         list_aggregate(w[i*10+1 : i*10+10], 'string_agg', ' ') AS seg
      |  FROM t, UNNEST(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS u(i)),
      |segs AS (SELECT * FROM seg WHERE seg <> ''),
      |hosts AS (SELECT DISTINCT doc_id, seg FROM segs),
      |early AS (
      |  SELECT x.doc_id, x.seg, CAST(COUNT(*) AS BIGINT) AS ne
      |  FROM hosts x JOIN hosts h ON h.seg = x.seg
      |  WHERE x.doc_id % 5 >= 3 AND (
      |    h.doc_id % 5 < 3 OR
      |    (h.doc_id % 5 >= 3 AND (h.doc_id % $StChunks < x.doc_id % $StChunks
      |       OR (h.doc_id % $StChunks = x.doc_id % $StChunks AND h.doc_id < x.doc_id))))
      |  GROUP BY 1, 2),
      |fl AS (
      |  SELECT s.doc_id, s.segno, s.seg,
      |    COALESCE(e.ne, 0) + 1 >= 2 AS dropped
      |  FROM segs s LEFT JOIN early e ON e.doc_id = s.doc_id AND e.seg = s.seg
      |  WHERE s.doc_id % 5 >= 3),
      |reb AS (
      |  SELECT doc_id,
      |    COALESCE(string_agg(CASE WHEN NOT dropped THEN seg END,
      |                        ' ' ORDER BY segno), '') AS clean_text,
      |    CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
      |  FROM fl GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
      |       COALESCE(reb.n_dropped, 0) AS n_dropped
      |FROM documents d LEFT JOIN reb USING (doc_id)
      |WHERE d.doc_id % 5 >= 3 ORDER BY d.doc_id""".stripMargin

  /** The stub decoder's dimension arithmetic over the document payload —
    * the DuckDB twin of [[Multimodal.StubDecoder.decode]] (FNV of the
    * payload bytes, then bit-field extraction), shared by m2 and m3.
    */
  private def decodedDimsCte: String =
    s"""fh AS (SELECT doc_id, ${fnvSql("text")} AS u FROM documents),
       |dec AS (
       |  SELECT doc_id,
       |    CAST(64 + u % 1024 AS INT) AS width,
       |    CAST(64 + (u // 2048) % 1024 AS INT) AS height,
       |    CAST(1 + (u // 4194304) % 16 AS INT) AS n_frames,
       |    CAST((u // 67108864) % 256 AS DOUBLE) / 255.0 AS mean_luma
       |  FROM fh)""".stripMargin

  /** Voronoi-cell assignment for the a3 oracle: per vector, the `keep`
    * nearest of the md5-sampled centroids by exact cosine (ties to the
    * smaller centroid id — the ordering of [[Similarity.nearestCells]],
    * whose doc holds the NaN rule). keep = 1 — the corpus-sized side — is a GROUP BY
    * MIN(struct(-cos, cid)) aggregate, not a window: the r17 Spark fix
    * applied to the ORACLE too (a window must sort all n·cells scored
    * rows carrying the 64-dim vector payload — at gen10 that is 89.6M
    * wide rows and tens of GB of DuckDB temp spill; the aggregate
    * streams with one running winner per id, and the vector re-joins
    * by id afterwards). Order-identical: struct comparison is
    * lexicographic, negation flips cos to ascending, cid breaks ties
    * ascending. cosSqlZ only guards a zero norm: a NaN component still
    * gives a NaN cosine, which the window's DESC ranks FIRST while a
    * bare MIN(-cos) ranks it last, so the aggregate pins NaN to +inf
    * (first), as nearestCells' nanvl does. keep > 1 (the sample-sized
    * query side) stays the window.
    */
  private def ivfAssignCte(filter: String, keep: Int, idAs: String, vecAs: String): String =
    if (keep == 1)
      s"""(SELECT w.id AS $idAs, e2.v AS $vecAs, struct_extract(w.m, 'cid') AS cid FROM (
         |    SELECT id,
         |      MIN(struct_pack(nc := -(CASE WHEN isnan(c) THEN 'inf'::DOUBLE ELSE c END), cid := cid)) AS m
         |    FROM (SELECT e.id, ce.cid, ${cosSqlZ("e.v", "ce.cw")} AS c
         |          FROM e, cents ce $filter) GROUP BY id) w
         |  JOIN e e2 ON e2.id = w.id)""".stripMargin
    else
      s"""(SELECT id AS $idAs, v AS $vecAs, cid FROM (
         |    SELECT e.id, e.v, ce.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY ${cosSqlZ("e.v", "ce.cw")} DESC, ce.cid) AS r
         |    FROM e, cents ce $filter) WHERE r <= $keep)""".stripMargin

  /** Shared DuckDB CTE chain for the PQ family (a6 encode, a7 ADC):
    * md5-sampled codebook coded in sample order, m=4 subspace slices of
    * codebook and corpus, and the per-(vector, sub, code) squared-L2
    * scores (left-to-right fold). Consumers pick the argmin
    * (QUALIFY ... = 1) and, for a7, build the query-side ADC tables on
    * the same `cs` slices.
    */
  private lazy val PqCtes: String = pqCtesOver("")

  /** [[PqCtes]] with the codebook sampled from a restricted corpus slice
    * — the a10 frozen-codebook twin (`pvs`, the encoded side, always
    * covers the FULL table: landed and absorbed vectors alike encode
    * against the frozen codebook).
    */
  private def pqCtesOver(cbWhere: String): String =
    s"""cb AS (
      |  SELECT embedding::DOUBLE[] AS cw,
      |    CAST(ROW_NUMBER() OVER (ORDER BY ${md5OrderSql("vec_id")}) AS BIGINT) - 1 AS code
      |  FROM embeddings $cbWhere ORDER BY ${md5OrderSql("vec_id")} LIMIT 16),
      |subs AS (SELECT u.s AS sub FROM UNNEST(range(0, 4)) AS u(s)),
      |cs AS (
      |  SELECT code, sub,
      |    cw[CAST(sub * (len(cw) // 4) + 1 AS INT) : CAST((sub + 1) * (len(cw) // 4) AS INT)] AS csv
      |  FROM cb, subs),
      |pvs AS (
      |  SELECT vec_id, sub,
      |    (embedding::DOUBLE[])[CAST(sub * (len(embedding) // 4) + 1 AS INT) : CAST((sub + 1) * (len(embedding) // 4) AS INT)] AS vsv
      |  FROM embeddings, subs),
      |pqscored AS (
      |  SELECT vec_id, sub, code,
      |    list_reduce(list_transform(list_zip(vsv, csv), p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
      |  FROM pvs JOIN cs USING (sub))""".stripMargin

  /** The full IVF + PQ-ADC search algebra (a9/a10): `frozenWhere`
    * restricts the slice the centroids AND codebook are sampled from —
    * empty for a9 (self-contained over the whole table), the landed
    * slice for a10 (quantizer frozen at land time, the thing the landed
    * index materializes). Everything downstream — cell assignments, PQ
    * codes, ADC tables — covers the FULL table either way, because
    * absorbed vectors encode against the frozen state.
    */
  private def ivfPqAdcSql(frozenWhere: String): String =
    s"""${ivfPqAdcCtes(frozenWhere)}
       |SELECT query_id, neighbor_id, adc_fp,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp, neighbor_id) AS BIGINT) AS rank
       |FROM sc QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The a12/a13 refine algebra over [[ivfPqAdcCtes]]: the ADC chain's
    * top refine·k = 20 pool per query, re-ranked by EXACT zero-guarded
    * cosine (the a3 rerank arithmetic — the faiss refine pattern).
    * `frozenWhere` is the quantizer slice: empty for a12's
    * self-contained recompute, the landed slice for a13's landed-index
    * probe (assignments/codes still cover the FULL table — absorbed
    * vectors encode against the frozen state).
    */
  private def ivfPqRefineSql(frozenWhere: String): String =
    s"""${ivfPqAdcCtes(frozenWhere)},
       |pool AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp, neighbor_id) AS r
       |    FROM sc)
       |  WHERE r <= 20),
       |rr AS (
       |  SELECT p.query_id, p.neighbor_id,
       |    ROUND(${cosSqlZ("qe.v", "ne.v")}, 6) AS cos
       |  FROM pool p JOIN e qe ON qe.id = p.query_id
       |  JOIN e ne ON ne.id = p.neighbor_id)
       |SELECT query_id, neighbor_id, cos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |FROM rr QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The a9/a10 WITH-chain up to the per-pair ADC sums `sc(query_id,
    * neighbor_id, adc_fp)` — composable: a12 appends its refine CTEs.
    */
  private def ivfPqAdcCtes(frozenWhere: String): String =
    s"""WITH cents AS ${centsSampleSqlOver(16, frozenWhere)},
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cassign AS ${ivfAssignCte("", keep = 1, "neighbor_id", "cv2")},
       |qassign AS ${ivfAssignCte("WHERE e.id < 10", keep = 4, "query_id", "qv")},
       |${pqCtesOver(frozenWhere)},
       |codes AS (
       |  SELECT vec_id, sub, code FROM pqscored
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
       |qs AS (
       |  SELECT query_id, sub,
       |    qv[CAST(sub * (len(qv) // 4) + 1 AS INT) : CAST((sub + 1) * (len(qv) // 4) AS INT)] AS qsv
       |  FROM q, subs),
       |adc AS (
       |  SELECT query_id, sub, code,
       |    CAST(FLOOR(list_reduce(list_transform(list_zip(qsv, csv), p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b)
       |      * 1000000.0 + 0.5) AS BIGINT) AS dfp
       |  FROM qs JOIN cs USING (sub)),
       |sc AS (
       |  SELECT a.query_id, c.vec_id AS neighbor_id, CAST(SUM(a.dfp) AS BIGINT) AS adc_fp
       |  FROM codes c
       |  JOIN cassign ca ON ca.neighbor_id = c.vec_id
       |  JOIN qassign qa ON qa.cid = ca.cid
       |  JOIN adc a ON a.query_id = qa.query_id AND a.sub = c.sub AND a.code = c.code
       |  WHERE a.query_id <> c.vec_id
       |  GROUP BY 1, 2)""".stripMargin

  /** The st14 oracle: the frozen-quantizer a10 ADC algebra (centroids +
    * codebook sampled from the landed vec_id % 5 < 3 slice, assignments
    * and codes over the full table) folded over ARRIVAL ORDER — each
    * arrival (vec_id % 5 >= 3) is a query whose candidate set is
    * exactly the index as of its arrival: landed vectors plus arrivals
    * from strictly earlier chunks (chunk = vec_id mod ArrivalChunks,
    * mtime-pinned order; batch mates are NOT yet in the index when a
    * chunk probes, so same-chunk pairs never appear — unlike the
    * st11/st12 classification fold, which does see smaller-id mates).
    */
  private[queries] def streamIvfPqVerdictsSql: String = {
    val chunks = graft.streaming.DocStreams.ArrivalChunks
    val landed = "WHERE vec_id % 5 < 3"
    // cells sized by the landed slice via the shared ivfCellsFor twin
    s"""WITH cents AS ${centsSampleSqlSizedOver(landed)},
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cassign AS ${ivfAssignCte("", keep = 1, "neighbor_id", "cv2")},
       |qassign AS ${ivfAssignCte("WHERE e.id % 5 >= 3", keep = 4, "query_id", "qv")},
       |${pqCtesOver(landed)},
       |codes AS (
       |  SELECT vec_id, sub, code FROM pqscored
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 5 >= 3),
       |qs AS (
       |  SELECT query_id, sub,
       |    qv[CAST(sub * (len(qv) // 4) + 1 AS INT) : CAST((sub + 1) * (len(qv) // 4) AS INT)] AS qsv
       |  FROM q, subs),
       |adc AS (
       |  SELECT query_id, sub, code,
       |    CAST(FLOOR(list_reduce(list_transform(list_zip(qsv, csv), p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b)
       |      * 1000000.0 + 0.5) AS BIGINT) AS dfp
       |  FROM qs JOIN cs USING (sub)),
       |sc AS (
       |  SELECT a.query_id, c.vec_id AS neighbor_id, CAST(SUM(a.dfp) AS BIGINT) AS adc_fp
       |  FROM codes c
       |  JOIN cassign ca ON ca.neighbor_id = c.vec_id
       |  JOIN qassign qa ON qa.cid = ca.cid
       |  JOIN adc a ON a.query_id = qa.query_id AND a.sub = c.sub AND a.code = c.code
       |  WHERE (c.vec_id % 5 < 3 OR c.vec_id % $chunks < a.query_id % $chunks)
       |  GROUP BY 1, 2)
       |SELECT query_id AS vec_id, neighbor_id, adc_fp,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp, neighbor_id) AS BIGINT) AS rank
       |FROM sc QUALIFY rank <= 5 ORDER BY vec_id, rank""".stripMargin
  }

  /** Shared DuckDB CTE chain: 3-gram shingles -> inverted-index pair
    * counts -> Jaccard >= 0.5 pairs (used by the d2 and d6 oracles).
    */
  private val NgramPairsCte =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |p0 AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jpairs AS (
      |  SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      |  FROM p0 JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5)""".stripMargin

  val oracles: Map[String, String] = Map(
    // each distinct token's -ln(c/N) hits the 1e6 fixed-point grid ONCE
    // (DuckDB ln == StrictMath.log bits, the t12 precedent); everything
    // downstream is BIGINT (tf-weighted sums, integer div average)
    "t14_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, t.tok FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |c AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
        |lp AS (SELECT tok,
        |         CAST(FLOOR(-ln(c::DOUBLE / n.n::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS lp_fp
        |       FROM c, n),
        |s AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |        CAST(SUM(tf * lp_fp) AS BIGINT) AS sum_lp_fp
        |      FROM tf JOIN lp USING (tok) GROUP BY 1)
        |SELECT doc_id, n_tokens, sum_lp_fp, sum_lp_fp // n_tokens AS avg_lp_fp
        |FROM s ORDER BY doc_id""".stripMargin,

    "t1_lang_id" -> {
      val scores = TextAnalysis.stopwords
        .map { case (lang, words) => s"${hits(words)} AS s_$lang" }.mkString(",\n  ")
      val langs = TextAnalysis.stopwords.map(_._1)
      val cases = langs.init.zipWithIndex.map { case (lang, i) =>
        val later = langs.drop(i + 1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
        s"WHEN $later THEN '$lang'"
      }.mkString(" ")
      s"""WITH s AS (SELECT doc_id,
         |  $scores
         |FROM documents)
         |SELECT doc_id, CASE $cases ELSE '${langs.last}' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "t2_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  $qualityScoreSql AS score
         |FROM documents ORDER BY doc_id""".stripMargin,

    // same score arithmetic as t2 (shared SQL helper); NTILE is
    // standard integer bucket math and the (score, doc_id) ordering is
    // total, so the decile boundary is deterministic in any engine
    "t13_quality_deciles" ->
      s"""SELECT doc_id, source, $qualityScoreSql AS score,
         |  CAST(NTILE(10) OVER (PARTITION BY source
         |    ORDER BY $qualityScoreSql ASC, doc_id ASC) AS BIGINT) AS decile
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t3_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.tokenRegex}')) AS BIGINT) AS re_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t5_stratified_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sr
        |  FROM documents)
        |WHERE sr <= 5 ORDER BY source, doc_id""".stripMargin,

    // same regex family in RE2 (DuckDB) as in Java regex (Spark):
    // char classes + bounded quantifiers + ASCII \b only — see
    // TextAnalysis.emailRe/ipv4Re/phoneRe
    "t7_pii_scrub" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.17' ELSE '' END
         |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.emailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.ipv4Re}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.phoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.emailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.ipv4Re}', '<IP>', 'g'),
         |    '${TextAnalysis.phoneRe}', '<PHONE>', 'g') AS redacted
         |FROM aug ORDER BY doc_id""".stripMargin,

    "t8_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST(cumb // 512 AS BIGINT) AS pack_id,
        |  CAST(cumb % 512 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // same adjacent-pair walk; the top-100 cut is deterministic because
    // (n desc, gram asc) is a total order after the groupBy
    "t10_bigram_colloc" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |g AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i))
        |SELECT gram, COUNT(*)::BIGINT AS n, COUNT(DISTINCT doc_id)::BIGINT AS n_docs
        |FROM g GROUP BY gram
        |ORDER BY n DESC, gram LIMIT 100""".stripMargin,

    // integer quota arithmetic (floor-sqrt weights, integer division)
    // replayed exactly; md5 rank matches the Spark window order
    "t11_domain_mix" ->
      s"""WITH c AS (SELECT source, COUNT(*)::BIGINT AS n FROM documents GROUP BY source),
        |w AS (SELECT source, CAST(FLOOR(SQRT(n::DOUBLE)) AS BIGINT) AS w FROM c),
        |q AS (SELECT source, GREATEST(1, ($DomainMixTarget * w) // (SELECT SUM(w) FROM w)) AS quota FROM w),
        |r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sr
        |  FROM documents)
        |SELECT doc_id, source FROM r JOIN q USING (source)
        |WHERE sr <= quota ORDER BY doc_id""".stripMargin,

    // counts, Σn and Σn² are integer-exact; the two float emissions are
    // fixed-point floors over deterministic double sequences mirrored
    // op-for-op from TextAnalysis.charStats (Shannon terms quantize to
    // the 1e6 grid BEFORE the per-doc BIGINT sum, so partial-aggregate
    // merge order can never matter)
    "t12_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, length(text)::BIGINT AS total, c AS ch
        |  FROM documents, unnest(string_split(text, '')) AS u(c)
        |  WHERE length(text) > 0),
        |counts AS (
        |  SELECT doc_id, ch, COUNT(*)::BIGINT AS n, MAX(total) AS total
        |  FROM chars GROUP BY 1, 2),
        |terms AS (
        |  SELECT doc_id, n, total,
        |    CAST(FLOOR(-(n::DOUBLE / total::DOUBLE) * ln(n::DOUBLE / total::DOUBLE) / ln(2.0)
        |      * 1000000.0 + 0.5) AS BIGINT) AS term_fp
        |  FROM counts),
        |agg AS (
        |  SELECT doc_id, MAX(total) AS n_chars, COUNT(*)::BIGINT AS n_distinct,
        |    SUM(n * n)::BIGINT AS sumsq, SUM(term_fp)::BIGINT AS entropy_fp
        |  FROM terms GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct,
        |  CAST(FLOOR((1.0 - sumsq::DOUBLE / n_chars::DOUBLE / n_chars::DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS simpson_fp,
        |  entropy_fp
        |FROM agg ORDER BY doc_id""".stripMargin,

    "d1_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    // rank on the ROUNDED score (the hash check proves the rounded
    // double identical cross-engine) with the same integer tie-break
    // (tf desc, df asc, term asc) as the Spark side
    "t9_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, t AS term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS u(t)
        |  WHERE length(t) >= 3),
        |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    ROUND(tf.tf * ln((SELECT COUNT(*)::DOUBLE FROM documents) / dfreq.df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (term)),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, tf DESC, df ASC, term ASC) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, term, tf, df, tfidf
        |FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,

    // BM25 over the same tok/tf/dfreq CTE family as t9. Every
    // per-(doc, term) contribution hits floor(x·1e4 + 0.5) BIGINT
    // fixed point BEFORE the per-doc sum (order-independent, exact),
    // and the double sequence — BIGINT→DOUBLE promotions, left-assoc
    // parenthesization, ln argument — mirrors the Spark side verbatim;
    // constants are written as the same foldable expressions
    // ((1.2 + 1.0), not 2.2) so both engines fold to the identical
    // double.
    "t16_bm25" ->
      s"""WITH tok AS (
        |  SELECT doc_id, t AS term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS u(t)
        |  WHERE length(t) >= 3 AND doc_id IS NOT NULL),
        |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, SUM(tf)::BIGINT AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
        |stats AS (SELECT (SELECT COUNT(*)::BIGINT FROM documents
        |                  WHERE doc_id IS NOT NULL) AS n,
        |                 (SELECT SUM(dl)::BIGINT FROM dl) AS total),
        |qt AS (SELECT unnest([${Bm25QueryTerms.map(t => s"'$t'").mkString(", ")}]) AS term),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    CAST(FLOOR(
        |      ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
        |        * (tf * (1.2 + 1.0))
        |        / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl
        |             / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE))))
        |      * 10000.0 + 0.5) AS BIGINT) AS c_fp
        |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
        |       JOIN dl USING (doc_id), stats),
        |top AS (
        |  SELECT doc_id, COUNT(*)::BIGINT AS n_hits, SUM(c_fp)::BIGINT AS score_fp
        |  FROM contrib GROUP BY 1
        |  ORDER BY score_fp DESC, doc_id LIMIT 25)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rank,
        |  n_hits, score_fp
        |FROM top ORDER BY rank""".stripMargin,

    // block-postings layout: doc-distinct postings in id order cut into
    // 128-id blocks, each fingerprinted by md5 over the comma-joined
    // sequence — the same bytes both engines produce
    "t18_postings" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, t AS term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS u(t)
        |  WHERE length(t) >= 3),
        |rk AS (
        |  SELECT term, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) - 1 AS r
        |  FROM tok)
        |SELECT term, CAST(r // 128 AS BIGINT) AS block_no,
        |  COUNT(*)::BIGINT AS n_docs,
        |  md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS ids_md5
        |FROM rk GROUP BY 1, 2 ORDER BY term, block_no""".stripMargin,

    // the t14 fixed-point contract at bigram order: per-gram
    // -ln((c2+1)/(c1+V)) hits the 1e6 grid once, BIGINT accumulation,
    // integer-div average; identical double sequence in both engines
    "t19_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |g AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
        |tf2 AS (SELECT doc_id, gram, COUNT(*)::BIGINT AS tf FROM g GROUP BY 1, 2),
        |c2 AS (SELECT gram, SUM(tf)::BIGINT AS c2 FROM tf2 GROUP BY 1),
        |cx AS (SELECT gram, c2, split_part(gram, ' ', 1) AS ctx FROM c2),
        |c1 AS (SELECT ctx, SUM(c2)::BIGINT AS c1 FROM cx GROUP BY 1),
        |v AS (SELECT COUNT(*)::BIGINT AS v FROM c1),
        |lp AS (
        |  SELECT gram,
        |    CAST(FLOOR(-ln(CAST(cx.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS lp_fp
        |  FROM cx JOIN c1 USING (ctx), v)
        |SELECT tf2.doc_id, SUM(tf)::BIGINT AS n_bigrams,
        |  SUM(tf * lp_fp)::BIGINT AS sum_lp_fp,
        |  SUM(tf * lp_fp)::BIGINT // SUM(tf)::BIGINT AS avg_lp_fp
        |FROM tf2 JOIN lp USING (gram)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // the t20 chunk rule replayed exactly: strided starts, inclusive
    // 1-based list slices (the d16 segmentation spelling), only the
    // last chunk short; range(0, k+1) = Spark's sequence(0, k)
    "t20_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_no,
        |         list_aggregate(w[i*7+1 : i*7+12], 'string_agg', ' ') AS chunk_text,
        |         CAST(LEAST(len(w) - i*7, 12) AS BIGINT) AS n_tokens
        |  FROM t, UNNEST(range(0,
        |    GREATEST(CAST(CEIL(CAST(len(w) - 12 AS DOUBLE) / 7) AS BIGINT), 0) + 1)) AS u(i))
        |SELECT doc_id, chunk_no, chunk_text, n_tokens
        |FROM c WHERE chunk_text <> ''
        |ORDER BY doc_id, chunk_no""".stripMargin,

    // no sketch replication: the CMS is only a candidate filter whose
    // overestimate guarantee keeps every true heavy hitter, and the
    // exact verify pass trims the collisions — so ground truth is the
    // plain GROUP BY/HAVING
    "t17_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT t AS term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS u(t)
        |  WHERE length(t) >= 3)
        |SELECT term, COUNT(*)::BIGINT AS n FROM tok GROUP BY 1
        |HAVING COUNT(*) >= 900 ORDER BY n DESC, term""".stripMargin,

    "t6_repetition_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST(GREATEST(len(t) - 2, 0) AS BIGINT) AS n_grams,
        |    CASE WHEN len(t) < 3 THEN 0
        |         ELSE CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS BIGINT) END AS n_distinct,
        |    CASE WHEN len(t) < 3 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS DOUBLE)
        |              / (len(t) - 2) END AS repetition
        |  FROM toks)
        |SELECT doc_id, n_grams, n_distinct, repetition FROM g ORDER BY doc_id""".stripMargin,

    "d7_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |    t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS s
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
        |bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 = 0)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        |FROM g JOIN bench USING (s)
        |WHERE g.doc_id % 10 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // the bloom prefilter is plan shape, not semantics: the oracle is
    // d7's exact SQL at the 13-gram window
    "d9_bloom_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 13),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |    t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' ||
        |    t[i+8] || ' ' || t[i+9] || ' ' || t[i+10] || ' ' || t[i+11] || ' ' ||
        |    t[i+12] AS s
        |  FROM toks, UNNEST(range(1, len(t) - 11)) AS u(i)),
        |bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 = 0)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        |FROM g JOIN bench USING (s)
        |WHERE g.doc_id % 10 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "d2_dedup_ngram_jaccard" ->
      s"""WITH $NgramPairsCte
         |SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard
         |FROM jpairs ORDER BY id_a, id_b""".stripMargin,

    // the window string is array_to_string over the same 1-based slice
    // the Spark side's concat_ws(slice) builds; the hash is the d3
    // fnv-mod-(2^61-1) fragment, and the posting gate (2..1000) replays
    // substringPairs' singleton/boilerplate bounds. The fnv fold runs in
    // its OWN CTE, never in the UNNEST select: the fold lambda's `i`
    // would be captured by the enumerator column u(i) (DuckDB 1.0 lambda
    // shadowing — the same reason d3 hashes in a separate CTE), making
    // the hash depend on the window's position in its document
    // d16: repeated segments (df >= 2) are boilerplate, dropped from
    // the full cleaning recipe composed: exact keep-first (min doc_id
    // per sha256), the d17 keep-first line-dedup chain over those
    // survivors, then the t2 score arithmetic over the CLEANED text
    // (n_chars = len(clean_text)); score filter at >= 0.5 — the same
    // double sequence both engines compute, so the cut agrees
    "d18_clean_pipeline" ->
      s"""WITH keep1 AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         |docs1 AS (SELECT d.doc_id, d.text FROM documents d JOIN keep1 USING (doc_id)),
         |${lineDedupChain("b.seg IS NOT NULL AND s.doc_id <> b.first_doc", "docs1")},
         |led AS (
         |  SELECT d.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
         |         COALESCE(reb.n_dropped, 0) AS n_dropped
         |  FROM docs1 d LEFT JOIN reb USING (doc_id)),
         |sc AS (
         |  SELECT doc_id, clean_text, n_dropped,
         |    ${qualityScoreSqlOver("clean_text", "len(clean_text)")} AS score
         |  FROM led WHERE len(clean_text) > 0)
         |SELECT doc_id, clean_text, n_dropped, score
         |FROM sc WHERE score >= 0.5 ORDER BY doc_id""".stripMargin,

    // d19: the d18 chain over the t7-injected corpus slice, then the
    // d9-style 13-gram decontamination of the CLEANED text against the
    // raw eval slice, the t7 redaction, and the t2 score over the
    // scrubbed text — every stage the exact SQL of its standalone twin
    "d19_clean_pipeline_full" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.17' ELSE '' END
         |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END AS text
         |  FROM documents WHERE doc_id % 10 <> 0),
         |keep1 AS (
         |  SELECT MIN(doc_id) AS doc_id FROM aug GROUP BY sha256(text)),
         |docs1 AS (SELECT a.doc_id, a.text FROM aug a JOIN keep1 USING (doc_id)),
         |${lineDedupChain("b.seg IS NOT NULL AND s.doc_id <> b.first_doc", "docs1")},
         |led AS (
         |  SELECT d.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
         |         COALESCE(reb.n_dropped, 0) AS n_dropped
         |  FROM docs1 d LEFT JOIN reb USING (doc_id)),
         |ctok AS (
         |  SELECT doc_id, string_split(clean_text, ' ') AS t FROM led
         |  WHERE len(string_split(clean_text, ' ')) >= 13),
         |cg AS (
         |  SELECT DISTINCT doc_id,
         |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
         |    t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' ||
         |    t[i+8] || ' ' || t[i+9] || ' ' || t[i+10] || ' ' || t[i+11] || ' ' ||
         |    t[i+12] AS s
         |  FROM ctok, UNNEST(range(1, len(t) - 11)) AS u(i)),
         |btok AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE doc_id % 10 = 0 AND len(string_split(text, ' ')) >= 13),
         |bg AS (
         |  SELECT DISTINCT
         |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
         |    t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' ||
         |    t[i+8] || ' ' || t[i+9] || ' ' || t[i+10] || ' ' || t[i+11] || ' ' ||
         |    t[i+12] AS s
         |  FROM btok, UNNEST(range(1, len(t) - 11)) AS u(i)),
         |contam AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (s)),
         |keep2 AS (
         |  SELECT * FROM led WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |scr AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(clean_text,
         |      '${TextAnalysis.emailRe}', '<EMAIL>', 'g'),
         |      '${TextAnalysis.ipv4Re}', '<IP>', 'g'),
         |      '${TextAnalysis.phoneRe}', '<PHONE>', 'g') AS clean_text,
         |    n_dropped
         |  FROM keep2),
         |sc AS (
         |  SELECT doc_id, clean_text, n_dropped,
         |    ${qualityScoreSqlOver("clean_text", "len(clean_text)")} AS score
         |  FROM scr WHERE len(clean_text) > 0)
         |SELECT doc_id, clean_text, n_dropped, score
         |FROM sc WHERE score >= 0.5 ORDER BY doc_id""".stripMargin,

    // every host (see lineDedupSql for the shared CTE chain)
    "d16_line_dedup" -> lineDedupSql("b.seg IS NOT NULL"),

    // keep-first: a repeated segment is dropped only OUTSIDE its
    // minimum-doc_id host (same CTEs; first_doc rides the df aggregate)
    "d17_line_dedup_keep_first" ->
      lineDedupSql("b.seg IS NOT NULL AND s.doc_id <> b.first_doc"),

    // t15: the seeded shuffle key is the shared fnv-mod-M61 kernel over
    // 's42|doc_id'; the oracle can afford the global ROW_NUMBER the
    // Spark side deliberately avoids (range-sort + zipWithIndex)
    "t15_shuffle_shard" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |    (${fnvSql("'s42|' || CAST(doc_id AS VARCHAR)")}) % $M61::HUGEINT AS k
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
         |  FROM k)
         |SELECT doc_id, pos, pos // 64 AS shard, pos % 64 AS slot
         |FROM r ORDER BY doc_id""".stripMargin,

    "d8_dedup_substring" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE len(string_split(text, ' ')) >= 16),
         |ws AS (
         |  SELECT doc_id, array_to_string(t[i : i+15], ' ') AS s
         |  FROM toks, UNNEST(range(1, len(t) - 16 + 2)) AS u(i)),
         |w AS (
         |  SELECT DISTINCT doc_id, (${fnvSql("s")}) % $M61::HUGEINT AS h FROM ws),
         |g AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 1000),
         |wg AS (SELECT w.* FROM w JOIN g USING (h))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM wg a JOIN wg b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin,

    "d6_dedup_cluster" ->
      s"""WITH RECURSIVE $NgramPairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM jpairs
         |          UNION SELECT id_b, id_a FROM jpairs),
         |reach(src, dst) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS doc_id, MIN(dst) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "a1_ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT qid AS query_id, nid AS neighbor_id,
        |    ROUND(
        |      list_reduce(list_transform(list_zip(qv, cv), x -> x[1] * x[2]), (a, b) -> a + b) /
        |      (sqrt(list_reduce(list_transform(qv, x -> x * x), (a, b) -> a + b)) *
        |       sqrt(list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b))), 6) AS cos
        |  FROM q, c WHERE qid <> nid)
        |SELECT query_id, neighbor_id, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "t4_fingerprint" -> {
      // 257^15 .. 257^0 mod 2^61-1: the Rabin–Karp window weights
      val pows = Iterator.iterate(1L)(p => HashKernels.mulMod61(p, 257L))
        .take(16).toSeq.reverse
      val powsLit = pows.map(p => s"$p::HUGEINT").mkString(", ")
      s"""WITH b AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    list_transform(range(1, length(text)+1), i ->
         |      CAST(unicode(substr(text, CAST(i AS INT), 1)) AS HUGEINT)) AS bl
         |  FROM documents)
         |SELECT doc_id,
         |  CASE
         |    WHEN n = 0 THEN 0
         |    WHEN n <= 16 THEN CAST((${fnvSql("text")}) % $M61::HUGEINT AS BIGINT)
         |    ELSE CAST(list_min(list_transform(range(0, n - 16 + 1), i ->
         |      list_reduce(list_transform(range(0, 16), j ->
         |        bl[CAST(i + j + 1 AS INT)] * ([$powsLit])[CAST(j + 1 AS INT)]),
         |        (a, c) -> a + c) % $M61::HUGEINT)) AS BIGINT)
         |  END AS fp
         |FROM b ORDER BY doc_id""".stripMargin
    },

    "d3_dedup_minhash_lsh" -> minhashPairsSql("TRUE"),

    // the d3 algebra verbatim, restricted to pairs with at least one
    // batch member (doc_id % 10 = 8) — the incremental probe must be
    // bit-identical to the full recompute on exactly that slice
    "d11_dedup_incremental" ->
      minhashPairsSql("id_a % 10 = 8 OR id_b % 10 = 8"),

    // d11's pairs folded into the ingest decision: per batch doc, the
    // minimum earlier near-dup neighbor (earlier = landed, or a
    // smaller-id batch mate) and whether the doc is genuinely new
    "d14_dedup_incremental_survivors" -> incrementalSurvivorsSql,

    "d4_dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, ${fnvSql("t.tok")} AS th
         |  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)),
         |votes AS (
         |  SELECT doc_id, j,
         |    SUM(CASE WHEN (th // (1::HUGEINT << CAST(j AS INT))) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM tok, UNNEST(range(0, 64)) AS u(j)
         |  GROUP BY doc_id, j),
         |usig AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN v > 0 THEN (1::HUGEINT << CAST(j AS INT)) ELSE 0::HUGEINT END) AS u
         |  FROM votes GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id AS id, u,
         |    CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
         |              THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS s
         |  FROM usig),
         |blocked AS (
         |  SELECT id, s, b, (u // (1::HUGEINT << CAST(16 * b AS INT))) % 65536 AS bv
         |  FROM sig, UNNEST(range(0, 4)) AS u2(b)),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
         |  FROM blocked a JOIN blocked b ON a.b = b.b AND a.bv = b.bv AND a.id < b.id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b""".stripMargin,

    // floor(x·scale + 0.5) with scale = 127/max|x| clamped at 1e12 (same
    // LEAST in Similarity.quantizeInt8 — keeps scale_fp inside int64 for
    // pathological tiny-magnitude vectors): identical double ops in both
    // engines, and every emitted aggregate is an exact integer
    "a4_embed_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |s AS (SELECT vec_id, v, CASE WHEN mx > 0 THEN LEAST(127.0 / mx, 1000000000000.0) ELSE 0.0 END AS sc FROM m),
        |q AS (SELECT vec_id, sc,
        |        list_transform(v, x -> CAST(FLOOR(x * sc + 0.5) AS BIGINT)) AS qv
        |      FROM s)
        |SELECT vec_id, len(qv)::BIGINT AS n_dims,
        |  CAST(FLOOR(sc * 1000000.0 + 0.5) AS BIGINT) AS scale_fp,
        |  list_reduce(list_prepend(0::BIGINT, qv), (a, b) -> a + b) AS q_sum,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(qv, x -> x * x)), (a, b) -> a + b) AS q_l2,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,

    // fixed-point accumulation: the per-(label,pos) sums are BIGINTs, so
    // any reduction order gives the identical centroid — see
    // Similarity.labelCentroids
    "a5_embed_centroid" ->
      """WITH q AS (
        |  SELECT label, CAST(i - 1 AS BIGINT) AS pos,
        |    CAST(FLOOR(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT) AS qc
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i))
        |SELECT label, pos, COUNT(*)::BIGINT AS n, SUM(qc)::BIGINT AS q_sum,
        |  CAST(FLOOR(SUM(qc)::DOUBLE / 1000000.0 / COUNT(*) * 1000000.0 + 0.5) AS BIGINT) AS centroid_fp
        |FROM q GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "m2_multimodal_batch" ->
      s"""WITH $decodedDimsCte
         |SELECT doc_id, width, height, n_frames, mean_luma
         |FROM dec ORDER BY doc_id""".stripMargin,

    "m3_frame_sample" ->
      s"""WITH $decodedDimsCte
         |SELECT doc_id, CAST(f.frame_idx AS INT) AS frame_idx,
         |  ('0x' || substr(md5(doc_id || ':' || f.frame_idx || ':' || width || ':' || height),
         |    1, 15))::BIGINT AS frame_fp
         |FROM dec, UNNEST(range(0, n_frames, 4)) AS f(frame_idx)
         |ORDER BY doc_id, frame_idx""".stripMargin,

    "a2_ann_lsh" ->
      s"""WITH ${lshSigsCte(tables = 8, planes = 4)},
         |cand AS (
         |  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
         |  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.id <> c.id
         |  WHERE q.id < 10),
         |scored AS (
         |  SELECT query_id, neighbor_id, ROUND(${cosSqlZ("a.v", "b.v")}, 6) AS cos
         |  FROM cand JOIN e a ON a.id = query_id JOIN e b ON b.id = neighbor_id)
         |SELECT query_id, neighbor_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "a3_ann_ivf" ->
      s"""WITH cents AS ${centsSampleSql(16)},
         |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |cassign AS ${ivfAssignCte("", keep = 1, "neighbor_id", "cv2")},
         |qassign AS ${ivfAssignCte("WHERE e.id < 10", keep = 4, "query_id", "qv")},
         |scored AS (
         |  SELECT qa.query_id, ca.neighbor_id, ROUND(${cosSqlZ("qa.qv", "ca.cv2")}, 6) AS cos
         |  FROM cassign ca JOIN qassign qa USING (cid)
         |  WHERE qa.query_id <> ca.neighbor_id)
         |SELECT query_id, neighbor_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the a1/a2/a3/a7/a9 top-k sets recomputed under their exact
    // oracled arithmetic (a1's UNguarded cosine, a2/a3's zero-guarded
    // one with rounded-cos rank, a7/a9's fixed-point ADC rank — id
    // tie-break everywhere) then intersected per query — a query with
    // no approximate candidates still reports n_hit 0. The pq/ivfpq
    // rows are the deployed compressed paths; the a10 probe's recall
    // equals the ivfpq row by probe bit parity.
    "a11_ann_recall" ->
      s"""WITH ${lshSigsCte(tables = 8, planes = 4)},
         |lcand AS (
         |  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
         |  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.id <> c.id
         |  WHERE q.id < 10),
         |lsh AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY ROUND(${cosSqlZ("a.v", "b.v")}, 6) DESC, neighbor_id) AS r
         |    FROM lcand JOIN e a ON a.id = query_id JOIN e b ON b.id = neighbor_id)
         |  WHERE r <= 5),
         |cents AS ${centsSampleSql(16)},
         |cassign AS ${ivfAssignCte("", keep = 1, "neighbor_id", "cv2")},
         |qassign AS ${ivfAssignCte("WHERE e.id < 10", keep = 4, "query_id", "qv")},
         |ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT qa.query_id, ca.neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY qa.query_id
         |        ORDER BY ROUND(${cosSqlZ("qa.qv", "ca.cv2")}, 6) DESC, ca.neighbor_id) AS r
         |    FROM cassign ca JOIN qassign qa USING (cid)
         |    WHERE qa.query_id <> ca.neighbor_id)
         |  WHERE r <= 5),
         |${pqCtesOver("")},
         |codes AS (
         |  SELECT vec_id, sub, code FROM pqscored
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
         |q2 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
         |qsub AS (
         |  SELECT query_id, sub,
         |    qv[CAST(sub * (len(qv) // 4) + 1 AS INT) : CAST((sub + 1) * (len(qv) // 4) AS INT)] AS qsv
         |  FROM q2, subs),
         |adc AS (
         |  SELECT query_id, sub, code,
         |    CAST(FLOOR(list_reduce(list_transform(list_zip(qsv, csv), p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b)
         |      * 1000000.0 + 0.5) AS BIGINT) AS dfp
         |  FROM qsub JOIN cs USING (sub)),
         |pqsc AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, CAST(SUM(a.dfp) AS BIGINT) AS adc_fp
         |  FROM codes c JOIN adc a ON a.sub = c.sub AND a.code = c.code
         |  WHERE a.query_id <> c.vec_id
         |  GROUP BY 1, 2),
         |pq AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp, neighbor_id) AS r
         |    FROM pqsc)
         |  WHERE r <= 5),
         |ipqsc AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, CAST(SUM(a.dfp) AS BIGINT) AS adc_fp
         |  FROM codes c
         |  JOIN cassign ca ON ca.neighbor_id = c.vec_id
         |  JOIN qassign qa ON qa.cid = ca.cid
         |  JOIN adc a ON a.query_id = qa.query_id AND a.sub = c.sub AND a.code = c.code
         |  WHERE a.query_id <> c.vec_id
         |  GROUP BY 1, 2),
         |ivfpq AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp, neighbor_id) AS r
         |    FROM ipqsc)
         |  WHERE r <= 5),
         |refpool AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp, neighbor_id) AS r
         |    FROM ipqsc)
         |  WHERE r <= 20),
         |refined AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, p.neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.query_id
         |        ORDER BY ROUND(${cosSqlZ("qe.v", "ne.v")}, 6) DESC, p.neighbor_id) AS r
         |    FROM refpool p JOIN e qe ON qe.id = p.query_id
         |    JOIN e ne ON ne.id = p.neighbor_id)
         |  WHERE r <= 5),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.id AS query_id, c.id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.id
         |        ORDER BY ROUND(${cosSql("q.v", "c.v")}, 6) DESC, c.id) AS r
         |    FROM e q, e c WHERE q.id < 10 AND q.id <> c.id)
         |  WHERE r <= 5),
         |appr AS (
         |  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
         |  UNION ALL SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
         |  UNION ALL SELECT 'pq' AS method, query_id, neighbor_id FROM pq
         |  UNION ALL SELECT 'ivfpq' AS method, query_id, neighbor_id FROM ivfpq
         |  UNION ALL SELECT 'ivfpq_refine' AS method, query_id, neighbor_id FROM refined),
         |hits AS (
         |  SELECT a.method, a.query_id, COUNT(*) AS n_hit
         |  FROM appr a JOIN exact x USING (query_id, neighbor_id)
         |  GROUP BY 1, 2),
         |qs AS (SELECT DISTINCT query_id FROM exact),
         |ms AS (SELECT * FROM (VALUES ('ivf'), ('ivfpq'), ('ivfpq_refine'), ('lsh'), ('pq')) AS m(method))
         |SELECT q.query_id, m.method,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(FLOOR(COALESCE(h.n_hit, 0) * 1000000.0 / 5 + 0.5) AS BIGINT) AS recall_fp
         |FROM qs q CROSS JOIN ms m
         |LEFT JOIN hits h ON h.query_id = q.query_id AND h.method = m.method
         |ORDER BY q.query_id, m.method""".stripMargin,

    // codebook = the a3 md5 sample coded in order; squared-L2 folds
    // left-to-right like cosSql; argmin ties break on the code index
    // (Spark: min(struct(dist, code))); dist_fp is the a4/a5 fixed-point
    // convention so the compare is integer-exact
    "a6_pq_encode" ->
      s"""WITH $PqCtes
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, code,
         |  CAST(FLOOR(dist * 1000000.0 + 0.5) AS BIGINT) AS dist_fp
         |FROM pqscored
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1
         |ORDER BY vec_id, sub""".stripMargin,

    // ADC over the a6 codes: per-sub table entries hit the fixed point
    // BEFORE the sum (BIGINT sum of BIGINTs — order-independent, the
    // same reason a5 accumulates centroids in fixed point)
    "a7_pq_adc" ->
      s"""WITH $PqCtes,
         |codes AS (
         |  SELECT vec_id, sub, code FROM pqscored
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) = 1),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
         |qs AS (
         |  SELECT query_id, sub,
         |    qv[CAST(sub * (len(qv) // 4) + 1 AS INT) : CAST((sub + 1) * (len(qv) // 4) AS INT)] AS qsv
         |  FROM q, subs),
         |adc AS (
         |  SELECT query_id, sub, code,
         |    CAST(FLOOR(list_reduce(list_transform(list_zip(qsv, csv), p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b)
         |      * 1000000.0 + 0.5) AS BIGINT) AS dfp
         |  FROM qs JOIN cs USING (sub)),
         |sc AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, CAST(SUM(a.dfp) AS BIGINT) AS adc_fp
         |  FROM codes c JOIN adc a ON a.sub = c.sub AND a.code = c.code
         |  WHERE a.query_id <> c.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, adc_fp,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp, neighbor_id) AS BIGINT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // a3's cell CTEs composed with a7's ADC CTEs: candidates are the
    // (probed cell × cell member) pairs, scored only through codes; a
    // corpus vector lives in exactly one cell so no pair dedup is needed
    "a9_ivf_pq" -> ivfPqAdcSql(""),

    // a9's ADC chain kept to the top refine·k = 20 pool per query, then
    // the pool re-ranked by EXACT zero-guarded cosine (the a3 rerank
    // arithmetic) — the faiss refine pattern
    "a12_ivfpq_refine" -> ivfPqRefineSql(""),

    // the LANDED refine twin (a13): the identical refine algebra with
    // the quantizer frozen over the landed vec_id % 10 <> 8 slice —
    // what ivfPqProbeRefine answers from the _codes + _vecs tables
    "a13_ivfpq_probe_refine" -> ivfPqRefineSql("WHERE vec_id % 10 <> 8"),

    // the LANDED twin: the identical algebra with the quantizer frozen
    // at land time — centroids and codebook sampled from (and the
    // former sized by the call's explicit 16 over) the landed
    // vec_id % 10 <> 8 slice only, while assignments/codes cover
    // landed ∪ absorbed (everything encodes against the frozen state)
    "a10_ivfpq_index" -> ivfPqAdcSql("WHERE vec_id % 10 <> 8"),

    // a4's quantization rule (floor(x·scale+0.5), scale = min(127/max|x|,
    // 1e12)); code arrays, norms and the dot are BIGINT-exact, cos_fp is
    // one deterministic double sequence over exact integers
    "a8_sq_adc" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
         |s AS (SELECT vec_id, v,
         |  CASE WHEN mx > 0 THEN LEAST(127.0 / mx, 1.0e12) ELSE 0.0 END AS sc FROM m),
         |codes AS (SELECT vec_id,
         |  list_transform(v, x -> CAST(FLOOR(x * sc + 0.5) AS BIGINT)) AS q FROM s),
         |withn AS (SELECT vec_id, q, ${dotSql("q", "q")} AS n2 FROM codes),
         |qs AS (SELECT vec_id AS query_id, q AS qq, n2 AS n2q FROM withn WHERE vec_id < 10),
         |cs AS (SELECT vec_id AS neighbor_id, q AS cq, n2 AS n2c FROM withn),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    CASE WHEN n2q > 0 AND n2c > 0 THEN
         |      CAST(FLOOR(${dotSql("qq", "cq")}
         |        / (sqrt(CAST(n2q AS DOUBLE)) * sqrt(CAST(n2c AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS cos_fp
         |  FROM qs, cs WHERE query_id <> neighbor_id)
         |SELECT query_id, neighbor_id, cos_fp,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_fp DESC, neighbor_id) AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "d5_dedup_embedding" ->
      s"""WITH ${lshSigsCteSized(tables = 8)},
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id),
         |scored AS (
         |  SELECT id_a, id_b, ${cosSqlZ("a.v", "b.v")} AS cos
         |  FROM cand JOIN e a ON a.id = id_a JOIN e b ON b.id = id_b)
         |SELECT id_a, id_b, ROUND(cos, 6) AS cos
         |FROM scored WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // the a3 centroid sample + keep=1 assignment, then in-cell pairs —
    // the salt on the Spark side only re-buckets tasks, never the pair
    // set, so the oracle joins cells directly
    "d10_dedup_semantic" ->
      s"""WITH cents AS ${centsSampleSqlSized},
         |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |assign AS ${ivfAssignCte("", keep = 1, "id", "v")},
         |scored AS (
         |  SELECT a.id AS id_a, b.id AS id_b, ${cosSqlZ("a.v", "b.v")} AS cos
         |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id)
         |SELECT id_a, id_b, ROUND(cos, 6) AS cos
         |FROM scored WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // d10's pair algebra + the d6 recursive-components CTE + a left join
    // back to every vec_id: singletons label themselves, survivor =
    // (doc_id = cluster_id)
    "d12_dedup_survivors" ->
      s"""WITH RECURSIVE cents AS ${centsSampleSqlSized},
         |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |assign AS ${ivfAssignCte("", keep = 1, "id", "v")},
         |scored AS (
         |  SELECT a.id AS id_a, b.id AS id_b, ${cosSqlZ("a.v", "b.v")} AS cos
         |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id),
         |jp AS (SELECT id_a, id_b FROM scored WHERE cos >= 0.4),
         |edges AS (SELECT id_a AS a, id_b AS b FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |reach(src, dst) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT r.src, g.b FROM reach r JOIN edges g ON r.dst = g.a),
         |lab AS (SELECT src, MIN(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT v.vec_id AS doc_id,
         |  COALESCE(lab.cluster_id, v.vec_id) AS cluster_id,
         |  COALESCE(lab.cluster_id, v.vec_id) = v.vec_id AS survivor
         |FROM embeddings v LEFT JOIN lab ON lab.src = v.vec_id
         |ORDER BY doc_id""".stripMargin,

    // the frozen-centroid d10 algebra: centroids sampled from AND sized
    // by the landed corpus slice (vec_id % 10 <> 8), every vector
    // assigned against them, same-cell exact-cosine pairs restricted to
    // those involving the arriving batch
    "d13_semantic_incremental" ->
      semanticPairsSql("WHERE vec_id % 10 <> 8",
        "id_a % 10 = 8 OR id_b % 10 = 8"),

    // d13's pairs folded into the ingest decision: per batch vector,
    // the minimum earlier semantic near-dup neighbor and newness
    "d15_semantic_incremental_survivors" -> semanticSurvivorsSql,

    // the stub signature replayed byte-for-byte (fnv % M61 is the d8
    // twin), then the d4 block/candidate/popcount algebra at 4×16 bits
    "m5_phash_neardup" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${1L << 40}, text FROM documents WHERE doc_id % 10 = 0),
         |ph AS (
         |  SELECT doc_id AS id,
         |    CAST((${fnvSql("text")}) % $M61::HUGEINT AS BIGINT) AS s
         |  FROM corpus),
         |blocked AS (
         |  SELECT id, s, b, (s // (1::BIGINT << CAST(16 * b AS INT))) % 65536 AS bv
         |  FROM ph, UNNEST(range(0, 4)) AS u(b)),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
         |  FROM blocked a JOIN blocked b ON a.b = b.b AND a.bv = b.bv AND a.id < b.id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b""".stripMargin,

    "m4_resize_plan" ->
      """WITH meta AS (
        |  SELECT doc_id,
        |    CAST(64 + (octet_length(encode(text)) % 1024) AS BIGINT) AS src_w,
        |    CAST(64 + ((octet_length(encode(text)) * 7) % 1024) AS BIGINT) AS src_h
        |  FROM documents)
        |SELECT doc_id, src_w, src_h,
        |  CAST(FLOOR(src_w * LEAST(224.0 / src_w, 224.0 / src_h, 1.0)) AS BIGINT) AS out_w,
        |  CAST(FLOOR(src_h * LEAST(224.0 / src_w, 224.0 / src_h, 1.0)) AS BIGINT) AS out_h
        |FROM meta ORDER BY doc_id""".stripMargin,

    "m1_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  sha256(text) AS content_sha,
        |  CASE WHEN substring(text, 1, 1) < 'n' THEN 'image' ELSE 'audio' END AS kind
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
