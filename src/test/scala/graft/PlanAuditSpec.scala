package graft

import org.apache.spark.sql.execution.ExplainMode

import graft.queries.RelationalSuite
import graft.SparkEntry

/** Plan-shape audits: the properties that matter at 100 TB — pushdown,
  * pruning, broadcast vs shuffle, partial aggregation — asserted on the
  * optimized/executed plans of the shipped queries.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q2: predicate and projection reach the parquet scan") {
    val plan = planOf("q2_filter_pushdown")
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("o_orderstatus"), "filter column should be pushed")
    // pruned read schema: only the 3 referenced columns of orders
    assert(!plan.contains("o_comment"), "unreferenced columns must be pruned")
  }

  test("q4: dimension joins broadcast — fact side never shuffles for the join") {
    val plan = planOf("q4_broadcast_join")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val plan = planOf("q1_pricing_summary")
    val hashAggs = "HashAggregate".r.findAllIn(plan).length
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got $hashAggs")
  }

  test("q5: snowflake join keeps exactly the fact-fact shuffle") {
    val plan = planOf("q5_multi_join")
    assert(plan.contains("BroadcastHashJoin")) // dims broadcast
  }

  test("whole-stage codegen covers the custom hash expressions") {
    val df = SparkEntry.queries("t4_fingerprint")(spark, sfDir)
    df.collect() // finalize the adaptive plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    // '*(n)' marks a WholeStageCodegen stage; the Project computing the
    // fingerprint must carry it (a UDF or eval-only expression would not)
    assert("""\*\(\d+\) Project \[.*graft_fingerprint""".r.findFirstIn(plan).isDefined,
      s"fingerprint expression must stay inside whole-stage codegen:\n$plan")
  }

  test("no accidental cartesian products across the whole query surface") {
    // streaming queries execute on construction; audit the batch surface
    val names = SparkEntry.queries.keys.filterNot(_.startsWith("st")).toSeq.sorted
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.optimizedPlan.toString
      // a1/a2/a3 intentionally broadcast tiny query sets against the
      // corpus (BroadcastNestedLoopJoin); an unhinted cross join of two
      // large inputs would surface as Cartesian/Join Cross without hints
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("t1: language ID is a single scan, no joins or extra shuffles") {
    val df = SparkEntry.queries("t1_lang_id")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Join"))
  }

  test("d3: minhash runs as a native expression, not a UDF") {
    val df = SparkEntry.queries("d3_dedup_minhash_lsh")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_minhash"), "native expression should appear in plan")
    assert(!plan.contains("UDF"), "no Scala UDFs in the dedup hot path")
  }

  test("t6: repetition score is a single scan, no joins or extra shuffles") {
    val df = SparkEntry.queries("t6_repetition_score")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Join"))
  }

  test("d7: the benchmark gram set broadcasts — the corpus probe never shuffles") {
    val df = SparkEntry.queries("d7_decontaminate")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("d9: the corpus probe is a bloom might_contain filter feeding a broadcast verify join") {
    val df = SparkEntry.queries("d9_bloom_decontaminate")(spark, sfDir)
    df.collect() // finalize the adaptive plan before inspecting it
    // FINAL adaptive plan only: the executed-plan string appends the
    // initial plan below a separator, and a pre-AQE SortMergeJoin that
    // AQE converts to broadcast at runtime must not fail the assert
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the prefilter must run as the runtime-filter expression (codegen
    // might_contain over the sketch literal), not as a join against the
    // raw gram strings; with a SMALL eval set the unhinted verify join
    // must still land broadcast (spool size is known to the planner) —
    // a LARGE eval set flipping to shuffle is the designed behavior,
    // not this fixture's
    assert(plan.contains("might_contain"), "bloom probe missing from the plan")
    assert(plan.contains("BroadcastHashJoin"), "exact verify join must broadcast")
    assert(!plan.contains("SortMergeJoin"), "corpus side must not shuffle")
  }

  test("d9: past the broadcast ceiling the verify join flips to shuffle and stays exact") {
    // The unhinted verify join is the POINT of d9 — the gate's small
    // eval set always lands broadcast, so the motivating branch (a
    // too-large gram spool flipping the join to shuffle over the
    // prefiltered sliver) was untested until r13. Force the flip by
    // zeroing both broadcast thresholds (planner + AQE) and assert the
    // join runs as a shuffle join WITH the bloom probe still in front,
    // and that the output is bit-identical to the broadcast branch's
    // (d9 at its own 13-gram window — not d7, whose window is 8).
    val broadcastBranch = SparkEntry.queries("d9_bloom_decontaminate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val df = SparkEntry.queries("d9_bloom_decontaminate")(spark, sfDir)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == broadcastBranch,
        "shuffle-branch d9 diverged from the broadcast branch's exact result")
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.contains("might_contain"), "bloom probe missing from the shuffle branch")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"verify join did not flip to shuffle\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"a broadcast join survived threshold -1\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("t14: one corpus scan, exchange-reused vocabulary, 1-row N broadcast") {
    val df = SparkEntry.queries("t14_unigram_logprob")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the corpus is tokenized ONCE: the vocabulary (token counts) and N
    // both derive from reused exchanges of the (doc, token) aggregate,
    // not from re-scanning documents
    assert("FileScan".r.findAllIn(plan).length == 1,
      s"t14 must scan the corpus once\n$plan")
    assert("ReusedExchange".r.findAllIn(plan).length >= 2,
      s"t14 vocabulary/N derivation lost exchange reuse\n$plan")
    // the only nested-loop is the deliberate 1-row N cross-broadcast;
    // the score join itself must stay a hash equi-join on the token
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1,
      s"t14: unexpected nested-loop count\n$plan")
    assert(plan.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) && l.contains("tok#")),
      s"t14 score join lost its token equi-key\n$plan")
  }

  test("q13/q14/q32: grouping constructs are one Expand + one partial-aggregated shuffle") {
    // rollup/cube/grouping-sets must all plan as a single Expand feeding
    // a partial+final aggregate pair — the replicate-then-aggregate shape
    // whose shuffle carries pre-combined rows. A plan that lost the
    // partial aggregate would shuffle |grouping sets| x |input| rows.
    Seq("q13_rollup", "q14_cube", "q32_grouping_sets").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert("Expand".r.findAllIn(plan).length == 1,
        s"$name: expected exactly one Expand\n$plan")
      val hashAggs = "HashAggregate".r.findAllIn(plan).length
      assert(hashAggs >= 2, s"$name: expected partial+final HashAggregate\n$plan")
    }
  }

  test("d2/d4/d8: bucketed candidate joins stay hash-joinable (no nested-loop degeneration)") {
    // same failure mode the d3/d5 audit pins, for the other bucketed
    // dedup families: d2's shingle inverted-index self-join, d4's
    // simhash pigeonhole-block join and d8's window-hash posting join
    // must remain equi-joins — a degeneration to nested-loop scans every
    // bucket pair quadratically. The grep must run on the PHYSICAL plan:
    // the logical tree names these nodes 'Join Cross'/'Join Inner', so a
    // physical-node grep over optimizedPlan can never fire (r12 review).
    Seq("d2_dedup_ngram_jaccard", "d4_dedup_simhash",
        "d8_dedup_substring").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name: bucket join degenerated\n$plan")
    }
  }

  test("d3/d5/d10: salted candidate joins stay equi-joins and prune singleton buckets") {
    // d10's centroid ASSIGNMENT is a legitimate conditionless broadcast
    // nested-loop against the dim-scale centroid sample (the a1/a3
    // argmax pattern), and BOTH sides of the salted self-join re-derive
    // the assignment subtree, so it prints twice (AQE dedupes the
    // actual work via exchange reuse). The candidate join itself must
    // stay an equi-join: budget 2 for d10 — a degeneration adds a third
    // — and 0 for d3/d5.
    val bnljBudget = Map("d10_dedup_semantic" -> 2).withDefaultValue(0)
    // the candidate join's equi-keys per operator: a degeneration that
    // hides under the BNLJ budget (e.g. if the optimizer ever dedupes
    // d10's twice-printed assignment subtree, freeing a budget slot)
    // still fails the POSITIVE check below — some hash-join line must
    // carry every bucket key AND the salt (r12 ADVICE).
    val joinKeys = Map(
      "d3_dedup_minhash_lsh" -> Seq("band#", "bh#", "salt#"),
      "d5_dedup_embedding" -> Seq("tbl#", "bucket#", "salt#"),
      "d10_dedup_semantic" -> Seq("cid#", "salt#"))
    Seq("d3_dedup_minhash_lsh", "d5_dedup_embedding",
        "d10_dedup_semantic").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // physical plan, not optimizedPlan: the logical tree never spells
      // 'BroadcastNestedLoopJoin'/'CartesianProduct', so the old grep
      // could not fire (r12 review finding)
      val plan = df.queryExecution.executedPlan.toString
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      assert(bnlj <= bnljBudget(name) && !plan.contains("CartesianProduct"),
        s"$name: salted join degenerated ($bnlj nested-loop joins)\n$plan")
      val hashJoinLines = plan.linesIterator.filter(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
          l.contains("BroadcastHashJoin")).toSeq
      assert(hashJoinLines.exists(l => joinKeys(name).forall(l.contains)),
        s"$name: no hash join keyed on ${joinKeys(name).mkString("+")} — " +
          s"candidate join lost its equi-keys\n$plan")
      // singleton-bucket pruning: the window count runs BEFORE the
      // 16-way salt explode so empty buckets are never replicated (plans
      // print top-down, so upstream window text appears AFTER the
      // downstream Generate [salt#..] that consumes it)
      val lplan = df.queryExecution.optimizedPlan.toString
      val wIdx = lplan.indexOf("windowspecdefinition")
      val eIdx = lplan.indexOf("[salt#")
      assert(wIdx >= 0 && eIdx >= 0 && wIdx > eIdx,
        s"$name: prune-window / salt-explode shape missing (window@$wIdx salt@$eIdx)")
    }
  }

  test("incremental-ingest anti-join broadcasts the existing-key side") {
    val incoming = graft.sources.Tables.lineitem(spark, sfDir)
    val existing = graft.sources.Tables.orders(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("o_orderkey").as("l_orderkey"))
    val plan = graft.sources.Sinks.notYetIngested(incoming, existing, "l_orderkey")
      .queryExecution.executedPlan.toString
    // the fact side must stream through unshuffled; only the key set moves
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("t12: char stats is a pure projection — no Generate fan-out, no shuffle") {
    // the one-pass codegen kernel must keep t12 riding the corpus scan:
    // an explode-per-character formulation would show a Generate and
    // two aggregation exchanges here (the r12 first cut did)
    val plan = graft.operators.TextAnalysis
      .charStats(graft.sources.Tables.documents(spark, sfDir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate"), plan)
    // exactly ONE kernel call per row: a filter phrased on the struct
    // output gets alias-substituted below the Project and evaluates the
    // histogram twice (the r12 review catch — the empty-doc exclusion
    // must stay on the raw length() predicate)
    assert("graft_char_stats".r.findAllIn(plan).length == 1,
      s"t12 kernel must appear exactly once in the plan\n$plan")
  }

  test("a4: int8 quantization is a pure projection — no shuffle at all") {
    val df = SparkEntry.queries("a4_embed_quantize")(spark, sfDir)
    // strip the final orderBy (presentation-only in the query wrapper):
    // the operator itself must not exchange
    val plan = graft.operators.Similarity
      .quantizeInt8(graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(df.count() > 0)
  }

  test("a3/d10: corpus cell assignment is a partial aggregate, never a window sort") {
    // the argmin over n·cells scored rows must be min(struct(-cos, cid))
    // — a window spelling sorts every scored row before its rank filter
    // (measured 33× slower on the corpus-sized assignment at gen10);
    // the agg keeps one running winner per id map-side so only (id,
    // winner) reaches the exchange. Query-side top-nProbe windows are
    // fine (sample-sized); the CORPUS-sided assignment is what scales.
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.operators.Similarity.md5Sample(e, "vec_id", "embedding",
      16, "cid", "cw")
    val assign = graft.operators.Similarity.nearestCells(
      e.selectExpr("vec_id AS id", "embedding AS v"), cents, "id", "v", "cw")
    val plan = assign.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"assignment must carry no window (argmin is an aggregate)\n${plan.take(4000)}")
    assert(plan.contains("min(struct"),
      s"argmin must be a min(struct) aggregate\n${plan.take(4000)}")
    // and it is PARTIAL: an aggregate runs below the id exchange, so one
    // winner per id per partition is all that ever shuffles
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(id")
    assert(exchangeIdx >= 0, plan.take(4000))
    assert(plan.indexOf("min(struct", exchangeIdx) >= 0,
      s"no partial min below the exchange\n${plan.take(4000)}")
  }

  test("t20: chunking is one scan + one Generate — no shuffle at any corpus size") {
    // strided chunking is a pure map-side projection (split once,
    // explode a computed index range, slice per chunk): nothing may
    // aggregate or exchange — that property IS the 100 TB story
    val plan = graft.operators.TextAnalysis
      .chunkWindows(graft.sources.Tables.documents(spark, sfDir),
        "doc_id", "text", window = 12, stride = 7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert("Generate".r.findAllIn(plan).length == 1,
      s"exactly one explode expected\n$plan")
  }

  test("d2: the prefix-filtered strategy stays equi-joined — no cartesian, no payload in the candidate space") {
    // the fixture's df stats route the adaptive front door to the direct
    // path, so the prefix path's plan shape is pinned here explicitly:
    // every join hash-joinable (the s-key candidate join, the ids-only
    // re-join, the size joins), no BroadcastNestedLoopJoin/CartesianProduct
    val sh = graft.operators.Dedup.shingles(
      graft.sources.Tables.documents(spark, sfDir), "doc_id", "text", 3)
    val dfreq = sh.groupBy("s").agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("df"))
    val plan = graft.operators.Dedup.jaccardPrefix(sh, dfreq, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    // candidate generation emits ids only: the candidate dedup must be
    // an aggregate keyed on exactly (id_a, id_b) — a regression that
    // carries the shingle text (or any payload) into the distinct would
    // change its grouping keys
    assert("HashAggregate\\(keys=\\[id_a#\\d+L?, id_b#\\d+L?\\]".r.findFirstIn(plan).isDefined,
      s"candidate distinct must key on ids only:\n$plan")
  }

  test("q24: the scale-posture percentile path plans the bounded sketch, never the exact aggregate") {
    // exact `percentile` buffers every distinct group value (O(group)
    // state — an oracle-scale tool, not a 100 TB aggregate); the posture
    // path must plan Greenwald–Khanna approx_percentile with a partial
    // phase riding the scan
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val specs = Seq(("l_quantity", 0.5, "med_qty"), ("l_extendedprice", 0.9, "p90_price"))
    val approx = graft.operators.Relational
      .percentileSummary(li, "l_returnflag", specs, exact = false)
    val plan = approx.queryExecution.executedPlan.toString
    assert(plan.contains("percentile_approx"), s"scale path must sketch:\n$plan")
    // the exact aggregate prints as `percentile(` — a substring the
    // sketch's `percentile_approx(` can never produce
    assert(!plan.contains("percentile("),
      s"exact percentile must not appear in the scale-posture plan:\n$plan")
    assert(plan.contains("partial_"), s"sketch must partial-aggregate map-side:\n$plan")
    // the sketch at default accuracy stays within a tight rank tolerance
    // of the exact twin on the fixture
    val ex = graft.operators.Relational
      .percentileSummary(li, "l_returnflag", specs, exact = true)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    approx.collect().foreach { r =>
      val (m, p) = ex(r.getString(0))
      assert(math.abs(r.getDouble(1) - m) / math.max(m, 1.0) < 0.02, s"median drift: $r vs $m")
      assert(math.abs(r.getDouble(2) - p) / math.max(p, 1.0) < 0.02, s"p90 drift: $r vs $p")
    }
  }

  test("a6: PQ codebook broadcasts and the argmin is partial-aggregated before the shuffle") {
    val df = SparkEntry.queries("a6_pq_encode")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the kCodes-way candidate fan-in must shrink map-side: a plan that
    // shuffled every (vector, sub, code) scored row would carry m·kCodes
    // rows per vector instead of m
    assert(plan.contains("BroadcastHashJoin"), "codebook join must broadcast")
    assert(!plan.contains("SortMergeJoin"), "corpus side must not shuffle for the join")
    assert("partial_min|partial\\(?min".r.findFirstIn(plan).isDefined ||
      "Aggregate".r.findAllIn(plan).length >= 2,
      s"argmin must have a partial phase:\n$plan")
  }

  test("t10: bigram top-k is partial-agg + TakeOrdered, never a global sort of all grams") {
    val plan = graft.operators.TextAnalysis
      .bigramCollocations(graft.sources.Tables.documents(spark, sfDir), "doc_id", "text", 100)
      .queryExecution.executedPlan.toString
    val hashAggs = "HashAggregate".r.findAllIn(plan).length
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("a1/a3/q9: rank<=k windows get a partial WindowGroupLimit before the shuffle") {
    // The 100 TB safety of every "rank <= k" window rests on Spark 4.1's
    // InferWindowGroupLimit inserting a group limit BEFORE the window
    // shuffle: without it a1 materializes the whole corpus per query
    // partition and a3 shuffles corpus x nProbe rows before dropping all
    // but k. That plan shape is load-bearing, so a conf or version change
    // that loses it must fail here, not melt a cluster.
    Seq("a1_ann_brute_topk", "a3_ann_ivf", "a7_pq_adc", "a8_sq_adc",
        "q9_window_rank_topk", "t9_tfidf").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name: no WindowGroupLimit in the physical plan\n$plan")
      assert(plan.linesIterator.exists(l =>
          l.contains("WindowGroupLimit") && l.contains("Partial")),
        s"$name: WindowGroupLimit is not partial (map-side) before the exchange\n$plan")
    }
  }

  test("bucketed landing: fact join + agg on the bucket key is exchange-free") {
    // Sinks.bucketed pays the shuffle at WRITE time; this pins the
    // payoff: re-joining two tables bucketed on the join key (and then
    // aggregating on it) must introduce ZERO Exchange — at 100 TB this
    // is the difference between one shuffle and none on every repeated
    // fact join. The merge hint blocks the broadcast path (sf0.001 dims
    // fit under the 64 MB threshold) so the test exercises the bucketed
    // SMJ a fact⋈fact join takes at scale.
    import org.apache.spark.sql.functions.{col, max, sum}
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    val li = graft.sources.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val ord = graft.sources.Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    try {
      graft.sources.Sinks.bucketed(li, "graft_bkt_lineitem", "l_orderkey", 8,
        path = Some(s"$dir/li"))
      graft.sources.Sinks.bucketed(ord, "graft_bkt_orders", "o_orderkey", 8,
        path = Some(s"$dir/ord"))
      val j = spark.table("graft_bkt_lineitem").hint("merge")
        .join(spark.table("graft_bkt_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("qty"), max("o_totalprice").as("price"))
      assert(j.collect().nonEmpty) // finalize the (possibly adaptive) plan
      val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed fact join/agg must not shuffle:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      graft.sources.Spool.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("compaction input: bucketed-table read elides its own-key repartition; the path read keeps it") {
    // The r15 compaction defect, pinned as a pair of plan shapes.
    // Reading a bucketed CATALOG table and repartitioning on its own
    // bucket column yields NO Exchange: the relation's bucket spec
    // already satisfies HashPartitioning(col, n), so Catalyst drops the
    // user repartition — and then disables the bucketed scan too, since
    // no remaining operator requires the distribution. A bucketed
    // writer fed that plan receives scan-order partitions and emits one
    // file per (task, bucket): a "compaction" that compacts nothing,
    // silently (query results are identical either way). Reading the
    // same files by PATH carries no bucket spec, so the Exchange
    // survives — which is why compactBucketedTable reads by path. Both
    // shapes are pinned so a Spark upgrade that changes the elision
    // behavior is caught, not silently absorbed.
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_elide").toString
    val base = spark.range(0, 10000).toDF("id").withColumn("v", col("id") * 2)
    try {
      graft.sources.Sinks.bucketed(base, "graft_elide_t", "id", 8,
        path = Some(s"$dir/t"))
      def finalPlan(d: org.apache.spark.sql.DataFrame): String = {
        d.collect() // finalize the (possibly adaptive) plan
        d.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      }
      val viaTable = finalPlan(spark.table("graft_elide_t").repartition(8, col("id")))
      val viaPath = finalPlan(
        spark.read.schema(spark.table("graft_elide_t").schema).parquet(s"$dir/t")
          .repartition(8, col("id")))
      assert(!viaTable.contains("Exchange"),
        s"bucket-spec elision no longer fires — revisit compactBucketedTable's rationale:\n$viaTable")
      assert(viaPath.contains("Exchange"),
        s"path read must keep the repartition Exchange (compaction depends on it):\n$viaPath")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_elide_t")
      graft.sources.Spool.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("d11: the landed band index streams into a broadcast probe without shuffling") {
    // the incremental-dedup payoff: probing an arriving batch must cost
    // the BATCH, so the corpus-sized `_bands` scan has to reach its join
    // as the STREAMED side of a BroadcastHashJoin with no Exchange in
    // between — a shuffle of the index here is the 100 TB bottleneck
    // this operator exists to remove
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("d11_dedup_incremental")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    // AQE wraps the final plan in leaf-like nodes (AdaptiveSparkPlanExec,
    // per-stage QueryStageExec), so a plain collect sees nothing — unwrap
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(allNodes)
    }
    val joins = allNodes(df.queryExecution.executedPlan)
      .collect { case b: BroadcastHashJoinExec => b }
    def streamedOf(b: BroadcastHashJoinExec): SparkPlan =
      if (b.buildSide.toString.contains("Right")) b.left else b.right
    // the probe join is the one KEYED on the band-bucket key; downstream
    // verify joins also have the bands scan in their lineage but join on id
    val probe = joins.filter(b =>
      b.leftKeys.mkString(",").contains("bkey") &&
        streamedOf(b).toString.contains("graft_d11_idx_bands"))
    assert(probe.nonEmpty, "no broadcast join streaming the _bands index found:\n" +
      df.queryExecution.executedPlan.toString)
    probe.foreach { b =>
      assert(!allNodes(streamedOf(b)).exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"the index side of the d11 probe join must not shuffle:\n${streamedOf(b)}")
    }
  }

  test("d13: the landed assign index streams into a broadcast probe without shuffling") {
    // the semantic twin of the d11 pin: the corpus-sized `_assign` scan
    // must reach its same-cell join as the STREAMED side of a
    // BroadcastHashJoin with no Exchange in between — an index shuffle
    // here is the 100 TB bottleneck the incremental design removes
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("d13_semantic_incremental")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(allNodes)
    }
    val joins = allNodes(df.queryExecution.executedPlan)
      .collect { case b: BroadcastHashJoinExec => b }
    def streamedOf(b: BroadcastHashJoinExec): SparkPlan =
      if (b.buildSide.toString.contains("Right")) b.left else b.right
    val probe = joins.filter(b =>
      b.leftKeys.mkString(",").contains("cid") &&
        streamedOf(b).toString.contains("graft_d13_idx_assign"))
    assert(probe.nonEmpty, "no broadcast join streaming the _assign index found:\n" +
      df.queryExecution.executedPlan.toString)
    probe.foreach { b =>
      assert(!allNodes(streamedOf(b)).exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"the index side of the d13 probe join must not shuffle:\n${streamedOf(b)}")
    }
  }

  test("t9: tf and df share one corpus scan via exchange reuse") {
    // the df branch aggregates the ALREADY-AGGREGATED tf table by
    // reusing tf's (id, term) shuffle — without the reuse the corpus is
    // scanned, lowercased, split and exploded twice (the dominant cost;
    // the tf>=1 count guard in tfidfTopTerms exists to keep the two
    // branches canonically identical). AQE only installs ReusedExchange
    // at execution, so finalize the plan first.
    val df = SparkEntry.queries("t9_tfidf")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"t9: df branch no longer reuses tf's exchange — corpus scanned twice\n$plan")
    // exactly one parquet scan of documents in the FINAL adaptive plan
    // (the executed-plan string also prints the initial plan below the
    // final one, so slice at the '+- == Initial Plan ==' separator)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(finalPlan).length == 1,
      s"t9: expected a single corpus scan in the final plan\n$finalPlan")
  }

  test("d8: posting gate precedes the pair join and both sides share one corpus scan") {
    val df = SparkEntry.queries("d8_dedup_substring")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).length == 1,
      s"d8: expected one corpus scan in the final plan\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"d8: the self-join sides no longer share the window-hash exchange\n$plan")
    // the singleton/boilerplate window gate (windowspecdefinition over h)
    // must run BEFORE the pair join consumes the postings
    assert(plan.contains("windowspecdefinition"), plan)
  }

  test("t16: the scored/dl/df/total branches share one tokenizing scan via exchange reuse") {
    // bm25TopDocs guards its query filter (when(tf >= 1, term).isin)
    // and states the doc_id isNotNull constraint up front so every
    // branch below the (doc, term) exchange is canonically identical —
    // without either, the corpus is scanned, lowercased, split and
    // exploded once per branch (4×)
    val df = SparkEntry.queries("t16_bm25")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("ReusedExchange"),
      s"t16: branches no longer reuse the (doc, term) exchange\n$finalPlan")
    // one tokenizing scan + the column-pruned 1-row N count scan
    assert("FileScan parquet".r.findAllIn(finalPlan).length <= 2,
      s"t16: expected at most two corpus scans in the final plan\n$finalPlan")
    // the global top-k is per-partition heaps, never a full sort
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan)
  }

  test("t17: the verify pass filters by the CMS estimate BEFORE its exchange") {
    // sketch-then-verify only pays off if the exact aggregation's
    // shuffle input is already candidate-only: the codegen
    // least(element_at(...)) estimate filter must sit below the final
    // groupBy exchange, and the whole query must never shuffle the
    // full vocabulary (the CMS grid exchange carries ≤ d·w·partitions
    // cells, the verify exchange only candidate occurrences)
    val df = SparkEntry.queries("t17_heavy_hitters")(spark, sfDir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(finalPlan.contains("graft_cms_lookup"),
      s"t17: CMS estimate filter gone from the verify scan\n$finalPlan")
    // the grid rides as reference objects, never as w-element literal
    // arrays (a corpus-sized w would bloat every plan transform)
    assert(!finalPlan.contains("element_at"),
      s"t17: grid regressed to literal-array element_at\n$finalPlan")
    // structural anchor, not bare indexOf: the verify exchange is the
    // one partitioned on term; the estimate filter must sit in ITS
    // subtree (printed after it), i.e. the shuffle input is already
    // candidate-only. A filter hoisted above that exchange prints
    // before it, leaving the tail segment lookup-free.
    val termEx = finalPlan.lastIndexOf("Exchange hashpartitioning(term")
    assert(termEx >= 0, s"t17: no term-keyed verify exchange in the plan\n$finalPlan")
    assert(finalPlan.substring(termEx).contains("graft_cms_lookup"),
      s"t17: estimate filter no longer below the verify exchange\n$finalPlan")
    assert(finalPlan.contains("partial_count") || finalPlan.contains("partial"),
      s"t17: verify aggregation lost its map-side partial\n$finalPlan")
    // the corpus-sized width actually engaged (sf0.001 docs → the 1024
    // floor would need < 128 docs; Metrics records the resolved w)
    assert(Metrics.scalar("t17", "w").exists(_ >= 1024L))
  }

  test("a9: probes, codebook and ADC tables broadcast; candidates never cartesian") {
    val df = SparkEntry.queries("a9_ivf_pq")(spark, sfDir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    assert("BroadcastHashJoin".r.findAllIn(finalPlan).length >= 2,
      s"a9: expected the probe/ADC joins to broadcast\n$finalPlan")
    // the per-pair ADC sum partial-aggregates before its exchange
    assert(finalPlan.contains("partial_sum"),
      s"a9: pair sum lost its map-side partial\n$finalPlan")
  }

  test("t18: the block aggregation reuses the window's term partitioning (two exchanges total)") {
    // dedup (doc, term) + the term-keyed posting-rank window are the
    // only shuffles; HashPartitioning(term) already clusters
    // (term, block_no), so the block groupBy must NOT add a third
    val df = SparkEntry.queries("t18_postings")(spark, sfDir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(shuffles <= 2,
      s"t18: expected <= 2 shuffles (dedup + window), got $shuffles\n$finalPlan")
    assert("FileScan parquet".r.findAllIn(finalPlan).length == 1,
      s"t18: expected one corpus scan\n$finalPlan")
  }

  test("t19: one tokenizing scan; the c2/c1/V branches reuse the (doc, gram) exchange") {
    // the V (distinct-context) branch is the elision hazard: a bare
    // count(1) over c1 lets Catalyst prune the aggregates and collapse
    // the branch to a distinct over raw grams — a second full corpus
    // scan + tokenization (the count(c1 >= 1) guard in bigramLogprob
    // exists for this)
    val df = SparkEntry.queries("t19_bigram_logprob")(spark, sfDir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(finalPlan.contains("ReusedExchange"),
      s"t19: derived branches no longer reuse the (doc, gram) exchange\n$finalPlan")
    assert("FileScan parquet".r.findAllIn(finalPlan).length == 1,
      s"t19: expected a single corpus scan in the final plan\n$finalPlan")
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}
