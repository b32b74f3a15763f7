package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis columns for the training-data pipeline (SURVEY.md §2.3).
  *
  * Everything here is composed from `org.apache.spark.sql.functions`
  * (codegen'd, pushdown-friendly) and kept SQL-expressible so the DuckDB
  * oracle can replay the exact arithmetic.
  */
object TextAnalysis {

  /** t20: overlapping token-window chunking — the context-window prep
    * stage of a pretraining/RAG pipeline (HF `tokenizers`-style strided
    * text splitting): each document becomes chunks of `window` tokens
    * whose starts step by `stride` (< window ⇒ consecutive chunks
    * overlap by window − stride tokens, the continuity a training
    * loader or retrieval embedder wants across hard cuts).
    *
    * Chunk rule (exact, integer-only, replayed by the DuckDB oracle):
    * n_chunks = max(ceil((n_tokens − window) / stride), 0) + 1; chunk i
    * covers tokens [i·stride, min(i·stride + window, n)) — every token
    * is covered, only the LAST chunk may be short (a strided start past
    * the end would be fully contained in its predecessor and is never
    * emitted). Empty documents yield zero chunks.
    *
    * Distinct from its two neighbors: t8 packs whole documents into
    * fixed budgets (no splitting), d16's segmentation is a dedup
    * keyspace (disjoint windows, segment identity matters). Chunking
    * wants OVERLAP and per-chunk text.
    *
    * Scale: one codegen scan — split once, explode over a computed
    * index sequence, slice per chunk; a pure map-side projection with
    * ZERO shuffle at any corpus size (output is input-proportional ×
    * window/stride). Nothing aggregates, so 100 TB is embarrassingly
    * parallel; the only knob is output file sizing downstream.
    */
  def chunkWindows(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, window: Int = 12,
                   stride: Int = 7): org.apache.spark.sql.DataFrame = {
    require(window > 0, s"chunk window must be positive, got $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window], got $stride (window $window)")
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        wsTokens(col(textCol)).as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0),
          greatest(ceil((size(col("w")) - window).cast("double") / stride)
            .cast("int"), lit(0)))).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        concat_ws(" ", slice(col("w"), col("chunk_no") * stride + 1,
          lit(window))).as("chunk_text"),
        least(size(col("w")) - col("chunk_no") * stride, lit(window))
          .cast("long").as("n_tokens"))
      .filter(col("chunk_text") =!= "")
  }

  /** Small fixed stopword lists per language — enough for a deterministic
    * n-gram/stopword-hit language-ID heuristic. Alphabetical language
    * order is also the tie-break order. Canonical definition lives next
    * to the one-pass kernel ([[graft.functions.HashKernels.stopwords]])
    * so the two can never drift.
    */
  val stopwords: Seq[(String, Seq[String])] = graft.functions.HashKernels.stopwords

  /** Whitespace tokens of a text column. */
  def wsTokens(text: Column): Column = split(text, " ")

  /** Count of tokens that belong to `words` — the interpreted column
    * twin of the [[graft.functions.HashKernels.langScores]] kernel
    * (kept for fuzz triangulation; production paths read the kernel's
    * struct fields, which cost one token scan for all languages instead
    * of one higher-order filter per language).
    */
  def stopHits(text: Column, words: Seq[String]): Column =
    size(filter(wsTokens(text), t => t.isin(words.map(w => lit(w)): _*))).cast("long")

  /** Predicted language: argmax of stopword hits, ties broken by language
    * code ascending (the CASE chain evaluates in alphabetical order with
    * `>=`, which is exactly that tie-break). The five scores are fields
    * of ONE langScores kernel struct — whole-stage codegen's
    * subexpression elimination evaluates the shared kernel subtree once
    * per row (timed via Prof: t1 1.6 s → 0.6 s in-gate at sf0.1).
    */
  def langId(text: Column): Column = {
    val st = graft.functions.HashExpressions.langScores(text)
    val scores = stopwords.map { case (lang, _) => lang -> st.getField(s"s_$lang") }
    val cases = scores.zipWithIndex.map { case ((lang, s), i) =>
      val laterScores = scores.drop(i + 1).map(_._2)
      (lang, laterScores.foldLeft(lit(true))((acc, o) => acc && s >= o))
    }
    cases.init.foldRight(lit(cases.last._1)) { case ((lang, cond), rest) =>
      when(cond, lit(lang)).otherwise(rest)
    }
  }

  /** BPE-ish regex token count: words | numbers | single punctuation. */
  val tokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(tokenRegex), lit(0))).cast("long")

  def wsTokenCount(text: Column): Column = size(wsTokens(text)).cast("long")

  /** Deterministic stratified (per-group quota) sampling: rank rows
    * inside each group by the md5 of a key column and keep the first
    * `quota`. md5 is bit-identical across engines, so the "random"
    * order is reproducible anywhere — the standard trick for sampling
    * a fixed mixture per source/domain in a training-data pipeline
    * without coordinating state.
    */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, group: Column,
                       key: Column, quota: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(md5(key.cast("string")), key)
    df.withColumn("__sr", row_number().over(w)).filter(col("__sr") <= quota).drop("__sr")
  }

  /** Corpus-trained unigram-LM quality score — the CCNet-style
    * language-model filtering axis (Wenzek et al. 2020 filter CommonCrawl
    * by LM perplexity; the unigram model is its self-contained,
    * engine-replayable core): per document, the summed and averaged
    * negative log-probability of its tokens under the corpus's own
    * unigram distribution. Low avg −log p ⇒ stereotypical/boilerplate
    * text; high ⇒ rare-token soup — both tails are what the filter
    * trims. Output: (doc_id, n_tokens, sum_lp_fp, avg_lp_fp).
    *
    * Exactness: each DISTINCT token's −ln(c/N) is quantized to the
    * 6-decimal fixed-point grid ONCE (Spark's `log` codegen calls
    * StrictMath.log, the bits DuckDB's ln reproduces — the t12
    * precedent), and everything after is BIGINT: per-doc sums weight
    * lp_fp by the exact term frequency, the average is integer `div`.
    * No floating-point accumulation order exists anywhere.
    *
    * Scale posture (the t9 plan family): one (doc, token) partial-agg
    * shuffle; the vocabulary table derives from it via an exchange-
    * reused token shuffle; N is a one-row broadcast; the score join is
    * unhinted (AQE broadcasts a small vocabulary, shuffles a 100 TB
    * corpus's web-scale one); final per-doc aggregation is the only
    * other exchange. The corpus is scanned once.
    */
  def unigramLogprob(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(wsTokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val c = tf.groupBy("tok").agg(sum("tf").as("c"))
    val n = c.agg(sum("c").as("n"))
    val lp = c.crossJoin(broadcast(n))
      .select(col("tok"),
        floor(-log(col("c").cast("double") / col("n").cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("lp_fp"))
    tf.join(lp, "tok")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * col("lp_fp")).as("sum_lp_fp"))
      .withColumn("avg_lp_fp", expr("sum_lp_fp div n_tokens"))
      .select("doc_id", "n_tokens", "sum_lp_fp", "avg_lp_fp")
  }

  /** The a–z word tokenizer shared by the retrieval/index family
    * (t9 tfidf, t16 BM25, t17 heavy hitters, t18 postings): lowercase,
    * split on `[^a-z]+`, keep terms of at least `minTermLen` chars —
    * ONE spelling for every operator whose DuckDB twin replays
    * `regexp_split_to_array(lower(text), '[^a-z]+')`, so a tokenizer
    * tweak has exactly one SQL twin family to update. `keep` columns
    * ride along (empty for corpus-level consumers).
    */
  private def azTerms(docs: org.apache.spark.sql.DataFrame, keep: Seq[Column],
                      textCol: Column, minTermLen: Int): org.apache.spark.sql.DataFrame =
    docs.select(keep :+ explode(split(lower(textCol), "[^a-z]+")).as("term"): _*)
      .filter(length(col("term")) >= minTermLen)

  /** BM25 retrieval scoring of the corpus against a fixed query-term
    * set — the relevance ranking the reference's consumers run over a
    * landed corpus (and the standard retrieval baseline next to the a*
    * vector searches; Robertson/Spärck Jones BM25 with the usual
    * k1 = 1.2, b = 0.75 and the Lucene `ln(1 + (N - df + 0.5)/(df + 0.5))`
    * non-negative idf).
    *
    * Plan shape (the t9 family): ONE corpus scan feeds the (doc, term)
    * partial-agg shuffle; document length and term df both derive from
    * that aggregated table (dl via a doc-keyed agg of it, df via the
    * t9 `count(tf >= 1)` guard that keeps the exchange reusable); N and
    * Σdl are one-row broadcasts; the query-term filter cuts the scored
    * stream to |Q| rows per doc BEFORE any further join, and df rows for
    * those |Q| terms broadcast. The global top-k is orderBy+limit —
    * TakeOrderedAndProject's per-partition heaps, never a global sort.
    * At 100 TB: one scan, two keyed exchanges (both Θ(corpus)), then
    * everything is Θ(docs·|Q|) or smaller.
    *
    * Exactness contract: every per-(doc, term) contribution hits a
    * 4-decimal fixed point (floor(x·1e4 + 0.5), the a4/a5 convention —
    * floor, not round, because round's half-tie rule differs across
    * engines) BEFORE the per-doc sum, so the total is a BIGINT sum of
    * BIGINTs — partial-aggregate merge order can never matter, and the
    * DuckDB twin replays the identical double sequence (same
    * parenthesization, same BIGINT→DOUBLE promotions, ln on the same
    * IEEE argument).
    */
  def bm25TopDocs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, queryTerms: Seq[String], k: Int,
                  minTermLen: Int = 3): org.apache.spark.sql.DataFrame = {
    // the explicit isNotNull mirrors the constraint the downstream
    // doc_id join would otherwise push into ONLY the joined branches —
    // with it stated up front, every branch's subtree below the
    // (doc, term) exchange is canonically identical and ReuseExchange
    // can fire. base (not raw docs) also feeds N below, so a null-id
    // row is a true no-op rather than inflating every idf/avgdl.
    val base = docs.filter(col(idCol).isNotNull)
    val tf = azTerms(base, Seq(col(idCol).as("doc_id")), col(textCol), minTermLen)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // dl aggregates the already-aggregated tf table (same exchange)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    // The query filter is wrapped so its predicate REFERENCES tf: a bare
    // term.isin(Q) pushes below the (doc, term) aggregation and into the
    // scan branch, which makes this branch's exchange canonically
    // different from tf's — ReuseExchange then never fires and the
    // corpus is scanned, lowercased, split and exploded once PER BRANCH
    // (t9's count(tf >= 1) guard, applied to a filter; tf >= 1 is
    // always true, so semantics are untouched). Asserted in
    // PlanAuditSpec.
    val qtf = tf.filter(when(col("tf") >= 1, col("term")).isin(queryTerms: _*))
    // df per query term aggregates the filtered slice — correct (other
    // terms can't change a term's df) and tiny (≤ |Q| rows): broadcast
    val dfreq = qtf.groupBy("term")
      .agg(count(when(col("tf") >= 1, lit(1))).as("df"))
    val n = base.agg(count(lit(1)).as("n"))
    val total = dl.agg(sum("dl").as("total"))
    val avgdl = col("total").cast("double") / col("n").cast("double")
    val idf = log((col("n").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val contrib = idf * (col("tf") * (lit(1.2) + lit(1.0))) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / avgdl))
    val scored = qtf
      .join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(n)).crossJoin(broadcast(total))
      .select(col("doc_id"),
        floor(contrib * lit(10000.0) + lit(0.5)).cast("long").as("c_fp"))
    val top = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), sum("c_fp").as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(k)
    // rank over the k surviving rows only (a k-row single-task window,
    // not a global sort — the heavy ordering was TakeOrdered above)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select("doc_id", "rank", "n_hits", "score_fp")
  }

  /** Exact corpus heavy hitters (tokens with count ≥ `threshold`)
    * through a Count-Min sketch candidate filter — the
    * Cormode/Muthukrishnan sketch-then-verify shape for the regime
    * where the token vocabulary is web-scale: a plain
    * `groupBy(token).count()` is map-side combined, but its exchange
    * still carries every per-partition-distinct token, which at 100 TB
    * of web text (vocabulary ≫ memory, dominated by hapax noise) is the
    * dominant shuffle. Here NOTHING full-vocabulary ever shuffles:
    *
    *  - pass 1 folds the token stream into a d×w CMS grid (explode d
    *    hash rows per token, partial-agg to ≤ d·w rows per partition;
    *    the exchange carries ≤ d·w·partitions tiny cells). The grid
    *    (d·w longs, a few hundred KB) is a DOCUMENTED bounded
    *    driver-side collect (the d11 InSet precedent) re-broadcast as
    *    array literals.
    *  - pass 2 re-scans (column-pruned — the trade is a second cheap
    *    scan for never shuffling the vocabulary) and keeps only tokens
    *    whose CMS estimate `min_j grid[j][h_j(tok)]` clears the
    *    threshold — a codegen `least(element_at(...))` chain over the
    *    broadcast literals, no UDF. CMS never underestimates (counts
    *    only increase), so the surviving candidates are a SUPERSET of
    *    the true heavy hitters; the exact groupBy over candidate
    *    occurrences (a shuffle bounded by candidate mass, not
    *    vocabulary) plus the final `count ≥ threshold` filter trims the
    *    collisions' false positives.
    *
    * The output is therefore EXACT — the sketch is purely a shuffle-
    * volume device, which is what makes the operator oracle-checkable
    * by a plain GROUP BY/HAVING twin with no hash replication at all —
    * and w-INVARIANT, so the corpus-sized default width ([[cmsWidthFor]])
    * never appears in the oracle, only in the shuffle volume.
    */
  def heavyHitters(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   threshold: Long, d: Int = 4, w: Int = 0,
                   minTermLen: Int = 3): org.apache.spark.sql.DataFrame = {
    // w ≤ 0 = "size from the corpus" (the production default; explicit
    // w remains for the fuzz spec's forced-collision w = 2 regime).
    // The count is a parquet-footer scan on a bare table read — the
    // same sanctioned scalar as lshPlanesFor/ivfCellsFor sizing.
    val w1 = if (w > 0) w else cmsWidthFor(docs.count())
    val toks = azTerms(docs, Seq.empty, col(textCol), minTermLen)
    def cell(j: Int) = pmod(xxhash64(lit(j), col("term")), lit(w1)).cast("int")
    val cms = toks
      .select(explode(array((0 until d).map(j =>
        struct(lit(j).as("row"), cell(j).as("cell"))): _*)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("n"))
      .collect() // bounded: ≤ d·w cells, independent of corpus size
    graft.Metrics.set("t17", "w" -> w1.toLong, "grid_cells" -> cms.length.toLong)
    val grid = Array.fill(d)(Array.fill(w1)(0L))
    cms.foreach(r => grid(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    // grid rows ride the plan as codegen REFERENCE OBJECTS, not literal
    // arrays: at corpus-sized w a typedlit's w children tax every
    // Catalyst transform and bloat every plan print (r16 VERDICT #3)
    val est = least((0 until d).map(j =>
      graft.functions.HashExpressions.cmsLookup(cell(j), grid(j))): _*)
    toks.filter(est >= threshold)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .orderBy(col("n").desc, col("term").asc)
  }

  /** t17's corpus-sized CMS width — the d5/d10 sizing precedent
    * (lshPlanesFor/ivfCellsFor): w grows linearly with the corpus so
    * the expected colliding mass per cell (≈ total tokens / w) stays
    * CONSTANT as the corpus scales. A fixed w lets collisions inflate
    * the candidate set the exact verify must shuffle — the very cost
    * t17 exists to avoid (r16 VERDICT #3). Clamped to [1024, 2^18]:
    * the floor keeps small corpora from degenerate collision rates,
    * the ceiling caps the documented bounded driver collect at
    * d·2^18 cells (8 MB of longs at d = 4) — past ~2^15 documents per
    * unit width the candidate set grows with the corpus again, the
    * explicit trade for keeping the grid driver-resident. Output is
    * exact at ANY width, so this is a shuffle-volume knob only.
    */
  def cmsWidthFor(nDocs: Long): Int =
    math.min(1L << 18, math.max(1024L, 8L * nDocs)).toInt

  /** Corpus-trained BIGRAM LM quality score (t19) — the t14 CCNet
    * filtering axis at conditional order: per doc, the add-one-smoothed
    * negative log-likelihood of its word bigrams under the corpus's own
    * bigram model, `-ln((c2(a,b) + 1) / (c1(a) + V))` with `c1` the
    * context mass and `V` the distinct-context count. Degenerate
    * repetition that a unigram model scores as "likely" (common words,
    * looping) surfaces here as improbable TRANSITIONS.
    *
    * Plan (the t14 shape, one conditional order up): one scan feeds the
    * (doc, gram) partial-agg shuffle via the ngram kernel; the bigram
    * vocabulary, context mass and V all derive from that aggregated
    * table (vocabulary-sized work); V is a 1-row broadcast; the score
    * join is unhinted (AQE broadcasts a small vocabulary, shuffles a
    * web-scale one). Per-gram lp hits the 1e6 grid once
    * (floor(x·1e6 + 0.5)), all accumulation is BIGINT (tf-weighted
    * sums, integer-div average) — cross-engine exact. Docs with < 2
    * tokens have no bigrams and no row (the caller's policy layer).
    */
  def bigramLogprob(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val tf2 = docs
      .select(col(idCol).as("doc_id"), wsTokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.HashExpressions.ngrams(col("w"), 2)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("tf"))
    val c2 = tf2.groupBy("gram").agg(sum("tf").as("c2"))
    val ctx = c2.withColumn("ctx", substring_index(col("gram"), " ", 1))
    val c1 = ctx.groupBy("ctx").agg(sum("c2").as("c1"))
    // count(c1 >= 1), not count(1): a bare count lets Catalyst prune
    // every aggregate out of this branch (only DISTINCT ctx is needed),
    // collapsing it to a distinct over raw grams whose exchange no
    // longer matches tf2's — and the corpus is then scanned and
    // tokenized a second time just to count the vocabulary (the
    // t9/t14 elision class; c1 >= 1 is always true). Asserted in
    // PlanAuditSpec.
    val v = c1.agg(count(when(col("c1") >= 1, lit(1))).as("v"))
    val lp = ctx.join(c1, "ctx").crossJoin(broadcast(v))
      .select(col("gram"),
        floor(-log((col("c2") + lit(1L)).cast("double")
            / (col("c1") + col("v")).cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("lp_fp"))
    tf2.join(lp, "gram")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        sum(col("tf") * col("lp_fp")).as("sum_lp_fp"))
      .withColumn("avg_lp_fp", expr("sum_lp_fp div n_bigrams"))
      .select("doc_id", "n_bigrams", "sum_lp_fp", "avg_lp_fp")
  }

  /** Blocked inverted-index build (t18) — the posting-list layout a
    * search/retrieval stack lands next to the corpus (Lucene's
    * block-postings shape): per token, doc-distinct postings in doc_id
    * order, cut into fixed `blockSize` blocks, each block summarized by
    * its size and an order-sensitive md5 fingerprint of the id
    * sequence. Blocks — not whole lists — are the scale contract: a
    * stopword-grade token's postings at 100 TB are millions of ids,
    * and one row per BLOCK keeps every output row bounded while the
    * fingerprints still pin the exact layout a loader would mmap.
    *
    * Plan: one tokenizing scan; the (doc, term) dedup exchange; one
    * term-keyed window for posting ranks (the block cut), whose
    * partitioning the block aggregation REUSES (HashPartitioning(term)
    * already clusters (term, block) — no third exchange, asserted in
    * PlanAuditSpec). Fingerprints are md5 over the comma-joined sorted
    * id block, bit-reproducible in any engine.
    */
  def postingsIndex(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, blockSize: Int = 128,
                    minTermLen: Int = 3): org.apache.spark.sql.DataFrame = {
    // a non-positive blockSize would make `__r div blockSize` null and
    // silently fingerprint whole lists under block_no = null
    require(blockSize > 0, "postingsIndex needs blockSize > 0")
    val tok = azTerms(docs, Seq(col(idCol).as("doc_id")), col(textCol), minTermLen)
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy("doc_id")
    tok
      .withColumn("__r", (row_number().over(w) - 1).cast("long"))
      .withColumn("block_no", expr(s"__r div $blockSize"))
      .groupBy("term", "block_no")
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")))).as("ids_md5"))
  }

  /** Within-document n-gram repetition (the Gopher/C4 family of
    * repetition quality rules): the fraction of a document's word
    * n-grams that are repeats of an earlier n-gram —
    * `1 - distinct/total`. High values flag boilerplate, keyword
    * stuffing and degenerate generations that near-dup detection across
    * documents never sees. One scan, no shuffle, all codegen'd
    * collection functions, so at 100 TB it rides the document read like
    * the other t* scores.
    */
  def repetitionScore(tokens: Column, n: Int): (Column, Column, Column) = {
    // one O(tokens) kernel pass (HashKernels.ngramStats) instead of the
    // old transform(sequence, slice+concat_ws) + array_distinct column
    // chain, which re-materialized the gram array once per consuming
    // output column (t6 at sf0.1: 7.0 s → ~0.4 s). The three returned
    // columns embed semantically-identical kernel subtrees, which
    // whole-stage codegen's subexpression elimination evaluates once
    // per row when they land in one projection (timed; spot-check with
    // Prof if the consumer shape changes).
    val st = graft.functions.HashExpressions.ngramStats(tokens, n)
    val total = st.getField("total")
    val distinct = st.getField("n_distinct")
    val rep = when(total === 0L, lit(0.0))
      .otherwise(lit(1.0) - distinct.cast("double") / total.cast("double"))
    (total, distinct, rep)
  }

  /** PII patterns restricted to constructs that evaluate identically
    * under Java regex (Spark codegen) and RE2 (the DuckDB oracle): plain
    * character classes, bounded quantifiers and ASCII `\b` boundaries —
    * no lookaround, no backreferences, no engine-specific classes. That
    * restriction is what makes the scrub oracle-checkable; a production
    * deployment extends the pattern set, not the mechanism.
    */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Per-category PII hit counts over the RAW text (email, ipv4, phone). */
  def piiCounts(text: Column): (Column, Column, Column) =
    (size(regexp_extract_all(text, lit(emailRe), lit(0))).cast("long"),
      size(regexp_extract_all(text, lit(ipv4Re), lit(0))).cast("long"),
      size(regexp_extract_all(text, lit(phoneRe), lit(0))).cast("long"))

  /** Redacted text: categories replace in a FIXED order (email → ip →
    * phone) so the result is deterministic — earlier replacements insert
    * no digits, so later patterns can never match inside a placeholder.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      lit(emailRe), lit("<EMAIL>")),
      lit(ipv4Re), lit("<IP>")),
      lit(phoneRe), lit("<PHONE>"))

  /** Greedy contiguous sequence packing — the training-batch shaping
    * step of an LLM pipeline: documents are laid end to end per group in
    * `order`, and each doc is assigned the pack (fixed token `budget`)
    * in which it STARTS, with its offset inside that pack. One window
    * (= one shuffle keyed on the group) per call; packing a whole corpus
    * runs embarrassingly parallel across group keys (source, shard,
    * date...), which is why the contract is per-group contiguity rather
    * than a global order. Integer `div` keeps pack ids exact past 2^53
    * cumulative tokens, where double-floor arithmetic would drift.
    */
  def sequencePack(df: org.apache.spark.sql.DataFrame, group: Column,
                   order: Column, tokens: Column, budget: Long): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(group).orderBy(order)
    df.withColumn("n_tokens", tokens)
      .withColumn("__cumb", coalesce(sum(col("n_tokens")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pack_id", expr(s"__cumb div ${budget}L"))
      .withColumn("pack_offset", col("__cumb") % budget)
      .drop("__cumb")
  }

  /** Corpus-level TF-IDF: the top-`k` most characteristic terms per
    * document. Terms are the `[a-z]+` runs of the lowercased text (length
    * ≥ `minTermLen`); score = tf · ln(N/df). Ranking is on the SCORE,
    * rounded to 4 decimals so both engines compare the identical double
    * (the rounded value is what the hash check already proves equal
    * cross-engine), with a fully deterministic integer tie-break
    * (tf desc, df asc, term asc). Ranking on raw integer keys instead
    * would be consistent-but-wrong: tf=3, df=N scores 3·ln(1)=0 yet
    * would outrank tf=2, df=1 scoring 2·ln(N) — score-desc ranking sinks
    * ubiquitous (df≈N, score≈0) terms naturally, with no stopword list.
    *
    * Scale shape: one explode scan, then aggregations with map-side
    * combine — a term in every document collapses to ≤ #partitions
    * partial rows before its shuffle, so corpus-scale stopword skew never
    * concentrates raw rows. The vocabulary (doc-frequency) side joins
    * back on `term`; it is Catalyst's choice to broadcast it while it
    * fits and AQE's to split a skewed shuffle join when it doesn't —
    * deliberately unhinted. N is a driver scalar (one pruned-scan count),
    * the sanctioned kind of driver materialization: O(1), not O(rows).
    */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, k: Int, minTermLen: Int = 3): org.apache.spark.sql.DataFrame = {
    val nDocs = docs.select(idCol).count().toDouble
    val tf = azTerms(docs, Seq(col(idCol)), col(textCol), minTermLen)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // df = docs where the term appears at least once. The tf >= 1 guard
    // is always true, but it must stay: a plain count(*) lets Catalyst
    // prune tf out of this branch, degrading it to a distinct whose
    // exchange is canonically DIFFERENT from tf's — so ReuseExchange
    // never fired and the corpus was scanned, lowercased, split and
    // exploded TWICE (the dominant cost of the query). count(tf) is not
    // enough either: NullPropagation rewrites count(non-nullable) back
    // to count(1). The un-foldable reference keeps both branches sharing
    // one scan + one (id, term) shuffle, and df aggregates the
    // already-aggregated tf table (tiny, map-side combined) — asserted
    // in PlanAuditSpec.
    val dfreq = tf.groupBy("term")
      .agg(count(when(col("tf") >= 1, lit(1))).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("tfidf", round(col("tf") * log(lit(nDocs) / col("df")), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus-level bigram collocations: the `k` most frequent adjacent
    * word pairs, with instance count and document frequency. One explode
    * scan feeds a partial-aggregating groupBy (a boilerplate bigram that
    * appears everywhere collapses to ≤ #partitions rows before its
    * shuffle), and the global top-k is orderBy+limit, which Spark
    * executes as TakeOrderedAndProject — per-partition heaps of size k,
    * never a single-partition global sort. Tie-break on the gram string
    * makes the cut deterministic.
    *
    * In a training-data pipeline this is the corpus-health view that
    * catches template boilerplate ("click here", "all rights reserved")
    * before it reaches dedup.
    */
  def bigramCollocations(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    // adjacent pairs are the n=2 case of the shingle kernel (identical
    // strings: tokens are never null, so concat(a, ' ', b) and the
    // kernel's concat_ws agree); the size gate only drops docs that
    // contributed zero grams anyway, replacing the interpreted
    // slice+zip_with+concat chain with one codegen pass
    docs.select(col(idCol).as("__doc"), wsTokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col("__doc"),
        explode(graft.functions.HashExpressions.ngrams(col("__t"), 2)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n"), countDistinct(col("__doc")).as("n_docs"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(k)
  }

  /** Temperature-weighted domain mixture sampling — the data-mixing step
    * of a training pipeline: draw ~`target` documents with per-group
    * quotas proportional to sqrt(group size) (temperature 0.5 — large
    * sources are down-weighted, small sources over-represented, every
    * source keeps at least one row). All quota arithmetic is INTEGER:
    * weights are floor(sqrt(n)) (IEEE sqrt of an exact integer is
    * correctly rounded, so the floor is exact for n < 2^52) and the
    * allocation is `target * w div sum(w)` — no floating-point
    * accumulation whose reduction order could differ between engines or
    * between runs. Row selection inside a group is the md5-ordered rank
    * of [[stratifiedSample]], so the draw is reproducible anywhere with
    * no coordinated RNG state. The group-count aggregate is tiny
    * (one row per source) and broadcast back; the corpus shuffles once,
    * on the group key, for the ranking window.
    */
  def domainMixSample(df: org.apache.spark.sql.DataFrame, group: Column,
                      key: Column, target: Long): org.apache.spark.sql.DataFrame = {
    val counts = df.groupBy(group.as("__g")).agg(count(lit(1)).as("__n"))
    val weighted = counts.withColumn("__w", floor(sqrt(col("__n").cast("double"))).cast("long"))
    val quotas = weighted
      .crossJoin(broadcast(weighted.agg(sum(col("__w")).as("__tw"))))
      .withColumn("__quota", greatest(lit(1L), expr(s"(${target}L * __w) div __tw")))
      .select(col("__g"), col("__quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(md5(key.cast("string")), key)
    df.join(broadcast(quotas), group === col("__g"))
      .withColumn("__sr", row_number().over(w))
      .filter(col("__sr") <= col("__quota"))
      .drop("__g", "__quota", "__sr")
  }

  /** Deterministic document-quality score in [0,1]:
    * 0.3·min(tokens/100, 1) + 0.4·stopword-ratio + 0.3·(1 − punct-ratio).
    * Emitted unrounded: the double arithmetic is bit-identical to the
    * oracle's (same op order), while round() implementations legitimately
    * disagree on exact .5 boundaries across engines.
    */
  def qualityScore(text: Column, nChars: Column): Column = {
    val nTok = wsTokenCount(text).cast("double")
    // the kernel's s_en field — identical count to
    // stopHits(text, stopwords("en")), one token scan instead of an
    // interpreted filter
    val stopRatio = graft.functions.HashExpressions.langScores(text)
      .getField("s_en").cast("double") / nTok
    val punct = size(regexp_extract_all(text, lit("[^a-z0-9 ]"), lit(0))).cast("double")
    val punctRatio = punct / nChars.cast("double")
    least(nTok / 100.0, lit(1.0)) * 0.3 + stopRatio * 0.4 + (lit(1.0) - punctRatio) * 0.3
  }

  /** Per-source quality-decile assignment — the calibration step that
    * turns a raw quality score into filter/curriculum thresholds
    * ("drop the bottom two deciles per domain", "sample decile-weighted").
    * Deciles are PER SOURCE, which is both the methodologically right
    * granularity (scores aren't comparable across domains) and the
    * scale-safe one: the ntile window shuffles on the source key, so no
    * global single-partition sort exists anywhere (the q16 surrogateDim
    * lesson). Ordering ties break on the document id, making the decile
    * boundary deterministic in any engine; NTILE itself is standard SQL
    * integer arithmetic (first `mod` buckets get the extra row).
    */
  def qualityDeciles(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, nCharsCol: String,
                     sourceCol: String): org.apache.spark.sql.DataFrame = {
    val score = qualityScore(col(textCol), col(nCharsCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(score.asc, col(idCol).asc)
    docs.select(col(idCol), col(sourceCol), score.as("score"),
      ntile(10).over(w).cast("long").as("decile"))
  }

  /** Character-distribution statistics per document — the
    * entropy-family quality signals (a low-entropy doc is boilerplate,
    * key-mashing, or a binary blob that survived text extraction; both
    * CCNet and Gopher filter on distributional degeneracy). Output per
    * doc: `n_chars` (exact), `n_distinct` (alphabet size), `simpson_fp`
    * (Simpson diversity 1 − Σp², 6-decimal fixed point) and
    * `entropy_fp` (Shannon entropy in bits, 6-decimal fixed point).
    *
    * Exactness: character counts, Σn and Σn² are BIGINT-exact, so
    * `simpson_fp` goes through one deterministic double sequence over
    * exact integers (cast, ÷total, ÷total, 1−, ·1e6, +0.5, floor —
    * IEEE-identical in any engine). Shannon terms need a log, which no
    * cross-engine contract makes bit-exact: each PER-CHARACTER term
    * −p·ln(p)/ln(2) is quantized to the 1e6 grid FIRST (a ~1-ulp
    * library disagreement flips a floor only within ~1e-11 of a grid
    * boundary) and the per-doc sum then runs on BIGINTs —
    * order-independent across partial-aggregate merges, never a double
    * accumulation whose merge order could change the bits (the a5/a7
    * rule).
    *
    * Scale posture: ZERO shuffle. The histogram is computed per row by
    * a custom codegen expression ([[graft.functions.HashKernels
    * .charStats]]) — one in-loop pass per document, bounded by the
    * alphabet — so the operator is a pure projection riding the corpus
    * scan, like a4. (The first formulation exploded one row per
    * character into two bounded-alphabet aggregations; correct, but a
    * Generate fan-out and two exchanges that the kernel makes
    * unnecessary.) Output values are BIT-IDENTICAL to that
    * formulation — the kernel replays the same double sequence per
    * Shannon term, using StrictMath.log because that is what Spark's
    * own log codegen calls.
    *
    * Unicode contract: "character" means a CODE POINT. Spark's
    * `length`/`split(text, "")` operate on UTF8String code points
    * (verified: length("😀😀ab") = 4 and the empty split yields the
    * two emoji intact), which is also DuckDB's `string_split` /
    * `length` semantics — the engines agree on all planes, astral
    * symbols included, so the oracle comparison needs no BMP
    * restriction.
    */
  def charStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String): org.apache.spark.sql.DataFrame =
    docs
      // empty docs are excluded, not divided by — and the exclusion
      // filters on the RAW column, BEFORE the kernel projection: a
      // filter on __cs.total would be alias-substituted below the
      // Project (PushPredicateThroughNonJoin) and evaluate the whole
      // histogram kernel TWICE per row (caught by the r12 review; the
      // length() predicate instead pushes to the parquet scan).
      // Precondition: one row per id — this is a per-DOCUMENT statistic
      // (a projection cannot, and should not, merge histograms of rows
      // that share an id; the previous aggregate formulation silently
      // did, which made duplicate-id corruption look like one long doc).
      .filter(length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"),
        graft.functions.HashExpressions.charStats(col(textCol)).as("__cs"))
      .select(col("doc_id"),
        col("__cs.total").as("n_chars"),
        col("__cs.n_distinct").as("n_distinct"),
        floor((lit(1.0) - col("__cs.sumsq").cast("double") / col("__cs.total").cast("double")
          / col("__cs.total").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("simpson_fp"),
        col("__cs.entropy_fp").as("entropy_fp"))
}
