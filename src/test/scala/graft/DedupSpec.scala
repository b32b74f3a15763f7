package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog again and again until done"
  private lazy val docs = Seq(
    (0L, base),
    (1L, base), // exact dup of 0
    (2L, base.replace("lazy", "sleepy")), // near dup of 0
    (3L, "completely different content about spark query engines and shuffles here"),
    (4L, "another unrelated document mentioning parquet column pruning and pushdown")
  ).toDF("doc_id", "text")

  test("exactDedup groups identical content and keeps min id") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 4)
    val byId = out.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byId(0L) == 2L) // docs 0 and 1 collapse onto keep_id 0
    assert(Seq(2L, 3L, 4L).forall(byId(_) == 1L))
  }

  test("ngramJaccardPairs finds exact and near duplicates, no false pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    val exact = pairs.find(p => p._1 == 0L && p._2 == 1L).get
    assert(exact._3 == 1.0)
  }

  test("corpus sizing rules: lshPlanesFor / ivfCellsFor clamp, grow, and match the oracle formulas") {
    // the exact formulas the d5/d10 DuckDB oracles replay — a drift here
    // desynchronizes the engines at non-gate scales
    assert(Dedup.lshPlanesFor(0) == 4 && Dedup.lshPlanesFor(200) == 4)
    assert(Dedup.lshPlanesFor(2000) == 4)      // gate scales: historical 4
    assert(Dedup.lshPlanesFor(20000) == 8)     // 10x: bucket pop pinned ~128
    assert(Dedup.lshPlanesFor(1L << 40) == 20) // clamp ceiling
    // monotone non-decreasing over a wide sweep
    val planes = (1 to 30).map(e => Dedup.lshPlanesFor(1L << e))
    assert(planes == planes.sorted)
    assert(Dedup.ivfCellsFor(0) == 16 && Dedup.ivfCellsFor(200) == 16)
    assert(Dedup.ivfCellsFor(2000) == 45)      // ceil(sqrt(2000))
    assert(Dedup.ivfCellsFor(20000) == 142)    // ceil(sqrt(20000))
    val cells = (1 to 30).map(e => Dedup.ivfCellsFor(1L << e))
    assert(cells == cells.sorted)
  }

  test("jaccard strategy fuzz: direct and prefix-filtered paths are bit-identical on both corpus shapes") {
    // the adaptive front door picks by measured df stats; this pins the
    // exactness claim the branch rests on — BOTH strategies must produce
    // the identical pair set on a rare-tail corpus (prefix's home turf)
    // and a closed-tiny-vocab corpus (direct's), against a scalar
    // Jaccard reference
    val rnd = new scala.util.Random(7171)
    Seq(("closed", 8), ("heaps", 4000)).foreach { case (shape, vocabSize) =>
      val docs2 = {
        // every 10th doc is a near-copy of its predecessor so qualifying
        // pairs exist in both shapes
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, String)]
        (0 until 60).foreach { i =>
          val nw = 6 + rnd.nextInt(20)
          val base = (0 until nw).map(_ => s"w${rnd.nextInt(vocabSize)}").mkString(" ")
          buf += ((i.toLong, if (i % 10 == 9 && buf.nonEmpty) buf(i - 1)._2 + " tail" else base))
        }
        buf.toSeq.toDF("doc_id", "text")
      }
      val sh = Dedup.shingles(docs2, "doc_id", "text", 2)
      val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
      def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = norm(Dedup.jaccardDirect(sh, 0.5))
      val prefix = norm(Dedup.jaccardPrefix(sh, dfreq, 0.5))
      assert(direct == prefix, s"shape=$shape strategies diverged")
      // scalar reference over the same distinct-bigram sets
      val sets = docs2.collect().map { r =>
        val t = r.getString(1).split(" ")
        r.getLong(0) -> t.sliding(2).map(_.mkString(" ")).toSet
      }.toMap
      val expected = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size
        j = inter.toDouble / (sets(a).size + sets(b).size - inter)
        if j >= 0.5
        // HALF_UP like Spark's round(col, 4); math.rint is HALF_EVEN and
        // would spuriously diverge on exact .5 ties
      } yield (a, b, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      assert(direct == expected, s"shape=$shape vs scalar reference")
      assert(expected.nonEmpty, s"shape=$shape produced no qualifying pairs")
    }
  }

  test("minhashLshPairs recovers the same duplicate pairs as exact Jaccard") {
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, k = 64,
        bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("substringPairs flags any shared k-token run; boilerplate windows are gated") {
    import spark.implicits._
    val run = (1 to 20).map(i => s"tok$i").mkString(" ") // a 20-token verbatim run
    val boiler = (1 to 16).map(i => s"lic$i").mkString(" ") // 16-token license header
    val d = Seq(
      (0L, s"$run alpha beta gamma"),                      // shares `run` with 1
      (1L, s"completely different head then $run"),        // partial overlap: span, not jaccard
      (2L, "no overlap with anything here at all " + (1 to 20).map(i => s"z$i").mkString(" ")),
      (3L, s"$boiler unique tail three"),                  // boilerplate-only overlap
      (4L, s"$boiler unique tail four"),
      (5L, s"$boiler unique tail five")
    ).toDF("doc_id", "text")
    // k=16: docs 0/1 share five 16-token windows of the 20-token run
    val pairs = Dedup.substringPairs(d, "doc_id", "text", k = 16)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 1L), (3L, 4L), (3L, 5L), (4L, 5L)), pairs.mkString("; "))
    assert(pairs.find(p => p._1 == 0L && p._2 == 1L).get._3 == 5L)
    // with the boilerplate gate tightened, the license-header trio drops
    // out (its only shared window exceeds maxPostings) while the real
    // span pair survives through its rarer windows
    val gated = Dedup.substringPairs(d, "doc_id", "text", k = 16, maxPostings = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated == Set((0L, 1L)), gated.toString)
  }

  test("simhashPairs links near-identical docs only") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", blocks = 4, maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)))
    assert(!got.exists(p => p._2 >= 3L)) // unrelated docs never pair
  }

  test("simhashPairs fuzz: EXACT pair set vs brute-force hamming (pigeonhole completeness)") {
    // Unlike the probabilistic LSH families, d4's contract is exact:
    // pigeonhole (maxHamming < blocks) guarantees every qualifying pair
    // shares a block, and the popcount verify kills every false
    // candidate — so the output must EQUAL the brute-force pair set,
    // on randomized near-dup corpora, for every (blocks, maxHamming).
    val rnd = new scala.util.Random(97)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val docs = (0 until 20).flatMap { i =>
      val toks = (0 until 12 + rnd.nextInt(10)).map(_ => vocab(rnd.nextInt(vocab.size)))
      val edited = toks.updated(rnd.nextInt(toks.length), vocab(rnd.nextInt(vocab.size)))
      Seq((2L * i, toks.mkString(" ")), (2L * i + 1, edited.mkString(" ")))
    }
    val df = docs.toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"),
        graft.functions.HashExpressions.simhash(split(col("text"), " ")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq((4, 2), (4, 3), (8, 7)).foreach { case (blocks, maxH) =>
      val got = Dedup.simhashPairs(df, "doc_id", "text", blocks, maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expected = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)).toLong if h <= maxH
      } yield (a, b, h)).toSet
      assert(got == expected,
        s"blocks=$blocks maxH=$maxH: missing=${(expected -- got).take(3)} phantom=${(got -- expected).take(3)}")
    }
  }

  test("embeddingDedupPairs finds high-cosine pairs within LSH buckets") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.1f, 0.0f, 0.2f)),
      (1L, Array(0.99f, 0.11f, 0.01f, 0.19f)), // ~same direction as 0
      (2L, Array(-1.0f, 0.5f, 0.3f, -0.2f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingDedupPairs(vecs, "vec_id", "embedding",
        tables = 8, planes = 2, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)))
  }

  test("semanticDedupPairs matches a scalar SemDeDup reference (cells + in-cell cosine)") {
    val rnd = new scala.util.Random(31)
    // three tight direction clusters plus noise: near-dups live in the
    // same Voronoi cell, so the cell partition must not lose them
    val centersF = Seq(Array(1.0, 0.2, -0.3, 0.5), Array(-0.6, 0.9, 0.1, -0.2),
      Array(0.2, -0.4, 1.0, 0.3))
    val vecs = (0L until 24L).map { i =>
      val c = centersF((i % 3).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.15).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Dedup.semanticDedupPairs(df, "vec_id", "embedding",
        nCentroids = 4, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // scalar reference: same md5 centroid sample, same argmax-cosine
    // assignment with (cos desc, cid asc) tie-break, same verify
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val cents = vecs.sortBy { case (id, _) => (md5hex(id.toString), id) }.take(4)
    def cell(v: Array[Float]): Long =
      cents.map { case (cid, cw) => (-cos(v, cw), cid) }.min._2
    val expected = (for {
      (a, va) <- vecs; (b, vb) <- vecs
      if a < b && cell(va) == cell(vb) && cos(va, vb) >= 0.9
    } yield (a, b)).toSet
    assert(got == expected)
    assert(expected.nonEmpty) // the fixture must actually exercise the verify
  }

  test("degenerate corpus: 500 near-identical docs complete through the salted candidate joins") {
    // mass-duplicated boilerplate differing in one token — survives an
    // exact-dedup pre-pass, then every doc lands in the SAME LSH band /
    // hyperplane bucket. Without the candidate salt the whole |bucket|^2
    // pair space expands inside one task; with it the pair SET must be
    // unchanged while the work is split 16 ways. 500 docs -> 124750
    // pairs, a scaled-down model of the 100 TB boilerplate cluster.
    // ~80 shared tokens with ONE differing token: only 3 of ~80 shingles
    // differ, so every pair shares a band with probability ~1-1e-8 (the
    // candidate-recall assertion below is deterministic given the fixed
    // minhash seeds, and the margin makes it robust to reseeding)
    val nDocs = 500
    val boiler = Seq(
      "terms of service apply to every user of this website all rights",
      "reserved by the operator and its affiliates worldwide including any",
      "subsidiary agent or assign hereof the materials on this site are",
      "provided as is without warranty of any kind either express or",
      "implied including but not limited to fitness for a particular purpose")
      .mkString(" ")
    val degenerate = (0L until nDocs.toLong)
      .map(i => (i, s"$boiler account identifier number $i"))
      .toDF("doc_id", "text")
    val lsh = Dedup.minhashLshPairs(degenerate, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.2)
    assert(lsh.count() == nDocs.toLong * (nDocs - 1) / 2)

    val vecs = (0L until nDocs.toLong)
      .map(i => (i, Array(1.0f, 1e-6f * i, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val emb = Dedup.embeddingDedupPairs(vecs, "vec_id", "embedding",
      tables = 4, planes = 4, threshold = 0.999)
    // every vector is near-parallel: all pairs bucket together and all
    // verify above threshold
    assert(emb.count() == nDocs.toLong * (nDocs - 1) / 2)

    // semantic cells hit the same wall when a cell degenerates: with a
    // single centroid every vector lands in ONE Voronoi cell and the
    // whole pair space crosses the salted in-cell join — the pair set
    // must survive the 16-way split intact. (More centroids would also
    // SPLIT this near-parallel family across cell boundaries and lose
    // cross-cell pairs — the documented SemDeDup recall trade, which is
    // why production runs d5 alongside d10.)
    val sem = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding",
      nCentroids = 1, threshold = 0.999)
    assert(sem.count() == nDocs.toLong * (nDocs - 1) / 2)
  }

  test("repetitionScore measures within-doc n-gram repetition") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "a b a b a b"),              // 4 3-grams, 2 distinct -> 0.5
      (2L, "x y"),                      // shorter than the window -> zeros
      (3L, "one two three four")        // all distinct -> 0.0
    ).toDF("doc_id", "text")
    val (total, dist, rep) = TextAnalysis.repetitionScore(
      TextAnalysis.wsTokens(col("text")), 3)
    val out = df.select(col("doc_id"), total.as("t"), dist.as("d"), rep.as("r"))
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 4L && out(0).getLong(2) == 2L && out(0).getDouble(3) == 0.5)
    assert(out(1).getLong(1) == 0L && out(1).getLong(2) == 0L && out(1).getDouble(3) == 0.0)
    assert(out(2).getDouble(3) == 0.0)
  }

  test("benchmarkContamination flags corpus docs sharing an 8-gram with the benchmark") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text") // 9 tokens -> two 8-grams
    val corpus = Seq(
      (1L, "prefix words the quick brown fox jumps over the lazy dog suffix"),
      (2L, "completely unrelated text with eight or more words in this row")
    ).toDF("doc_id", "text")
    val out = Dedup.benchmarkContamination(corpus, bench, "doc_id", "text", 8)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L)) // only the leaking doc
    assert(out.head.getLong(1) == 2L) // both benchmark 8-grams collide
  }

  test("bloomDecontaminate is exact: identical to benchmarkContamination (bloom is a prefilter)") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words the quick brown fox jumps over the lazy dog suffix"),
      (2L, "completely unrelated text with eight or more words in this row")
    ).toDF("doc_id", "text")
    val exact = Dedup.benchmarkContamination(corpus, bench, "doc_id", "text", 8)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // a deliberately tiny sketch (high fpp) still yields the exact result:
    // false positives die in the verification join
    val bloomed = Dedup.bloomDecontaminate(corpus, bench, "doc_id", "text", 8,
        expectedItems = 8, numBits = 64)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bloomed == exact && exact == Seq((1L, 2L)))
  }

  test("decontamination fuzz: d7 and d9 both match a scalar distinct-gram intersection") {
    // random corpora with deliberately shared phrase fragments; the
    // scalar reference computes |distinct n-grams(doc) ∩ distinct
    // n-grams(eval)| directly, and BOTH decontamination realizations
    // (broadcast grams, bloom prefilter + verify) must reproduce it
    val rnd = new scala.util.Random(13579)
    val vocab = Vector("one", "two", "three", "four", "five", "six")
    val n = 3
    def doc(): String =
      (0 until 6 + rnd.nextInt(10)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = (0L until 40L).map(i => (i, doc()))
    val bench = (100L until 110L).map(i => (i, doc()))
    val cdf = corpus.toDF("doc_id", "text")
    val bdf = bench.toDF("doc_id", "text")
    def grams(t: String): Set[String] =
      t.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val benchGrams = bench.flatMap(b => grams(b._2)).toSet
    val expected = corpus
      .map { case (id, t) => id -> grams(t).count(benchGrams) }
      .filter(_._2 > 0).toMap
    Seq(
      Dedup.benchmarkContamination(cdf, bdf, "doc_id", "text", n),
      Dedup.bloomDecontaminate(cdf, bdf, "doc_id", "text", n)
    ).foreach { out =>
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected.map { case (k, v) => k -> v.toLong })
    }
    assert(expected.nonEmpty, "fixture must contain contaminated docs")
  }

  test("bloomDecontaminate with an empty eval set flags nothing") {
    val corpus = Seq((1L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val bench = corpus.limit(0)
    assert(Dedup.bloomDecontaminate(corpus, bench, "doc_id", "text", 8).isEmpty)
  }

  test("dedupClusters computes transitive components with min-id labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (3L, 4L))
      .toDF("id_a", "id_b")
    val got = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L))
  }

  test("dedupClusters fuzz: random pair graphs match a scalar union-find") {
    // the linkrank treatment for the component labeler: randomized graph
    // shapes (sparse, clustered, ring fragments, isolated pairs) must
    // reproduce an independent scalar union-find's min-id components
    val rnd = new scala.util.Random(2718)
    (1 to 4).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val nEdges = n / 2 + rnd.nextInt(n)
      val edges = (0 until nEdges).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        val got = Dedup.dedupClusters(edges.toDF("id_a", "id_b"), maxIter = 60)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
          .map(x => x -> find(x)).toMap
        assert(got == expected, s"trial $trial (n=$n, edges=${edges.size}) diverged")
      }
    }
  }

  test("dedupClusters: deep component chains converge with bounded lineage") {
    // a 200-hop path would need 200 one-hop label-propagation rounds;
    // star rewriting must close it in O(log) rounds, with the every-3rd-
    // round checkpoint keeping the result's physical lineage anchored at
    // the last truncation instead of replaying every round's windows
    val path = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(path, maxIter = 20)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 200L).map(_ -> 0L).toMap)
    val rounds = graft.Metrics.scalar("d6", "rounds")
      .getOrElse(fail("dedupClusters left no d6 round count in graft.Metrics"))
    assert(rounds <= 12,
      s"200-hop path took $rounds star rounds — not log-convergent")
    // a round contributes ~15 RDD nodes; the checkpoint interval caps the
    // chain at <=3 rounds past the last truncation
    val depth = out.rdd.toDebugString.linesIterator.size
    assert(depth < 120,
      s"result lineage spans $depth RDDs — checkpointing is not truncating it:\n${out.rdd.toDebugString}")
  }

  test("incremental minhash probe is bit-identical to full recompute on batch pairs") {
    // the d11 contract: land the corpus slice as a bucketed index, probe
    // the batch, and the result must equal minhashLshPairs over the FULL
    // set restricted to pairs with >= 1 batch member — including the
    // rounded est_jaccard, parquet-roundtripped signatures and all
    val all = graft.sources.Tables.documents(spark, sfDir)
    val corpus = all.filter(col("doc_id") % 5 =!= 2)
    val batch = all.filter(col("doc_id") % 5 === 2)
    val dir = graft.sources.Spool.tempRoot("d11_parity")
    try {
      Dedup.landMinhashIndex(corpus, "doc_id", "text", n = 3, k = 64,
        bands = 16, "graft_d11_spec", dir)
      val got = Dedup.incrementalMinhashPairs(spark, batch, "doc_id", "text",
        "graft_d11_spec", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = Dedup.minhashLshPairs(all, "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.3)
        .filter(col("id_a") % 5 === 2 || col("id_b") % 5 === 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.nonEmpty, "parity slice produced no pairs — split keeps the test vacuous")
      assert(got == want)
    } finally {
      Seq("sigs", "bands", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_d11_spec_$s"))
    }
  }

  test("absorbed batch probes bit-identically to a fresh land over the union") {
    // the continuous-ingest loop: land A, absorb B, probe C — the result
    // must equal the full recompute over A∪B∪C restricted to C-involving
    // pairs, proving the appended sigs/band rows are indistinguishable
    // from landed ones (C×B matches verify against B's ABSORBED
    // parquet-roundtripped signatures)
    val all = graft.sources.Tables.documents(spark, sfDir)
    val a = all.filter(col("doc_id") % 5 < 3)
    val b = all.filter(col("doc_id") % 5 === 3)
    val c = all.filter(col("doc_id") % 5 === 4)
    val dir = graft.sources.Spool.tempRoot("d11_absorb")
    try {
      Dedup.landMinhashIndex(a, "doc_id", "text", n = 3, k = 64,
        bands = 16, "graft_d11_abs", dir)
      Dedup.absorbMinhashBatch(spark, b, "doc_id", "text", "graft_d11_abs")
      val meta = spark.table("graft_d11_abs_meta").head()
      assert(meta.getLong(3) == a.count() + b.count(),
        "absorb did not advance meta n_docs to the union size")
      val got = Dedup.incrementalMinhashPairs(spark, c, "doc_id", "text",
        "graft_d11_abs", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = Dedup.minhashLshPairs(all, "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.3)
        .filter(col("id_a") % 5 === 4 || col("id_b") % 5 === 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.nonEmpty, "absorb parity slice produced no pairs — split keeps the test vacuous")
      // at least one pair must span C×B — otherwise the absorbed rows
      // were never exercised and the parity is vacuous for the append
      assert(got.exists { case (x, y, _) => x % 5 == 3 || y % 5 == 3 },
        "no C-B pair in the parity set — absorbed index rows untested")
      assert(got == want)
    } finally {
      Seq("sigs", "bands", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_d11_abs_$s"))
    }
  }

  test("compaction rewrites absorbed small files to one per bucket, probes bit-identically") {
    // land A, absorb B then C (each append adds ~one file per touched
    // bucket), compact, and the probe of D must be bit-identical while
    // the band table is back to <= nBuckets files
    val all = graft.sources.Tables.documents(spark, sfDir)
    val a = all.filter(col("doc_id") % 5 < 2)
    val b = all.filter(col("doc_id") % 5 === 2)
    val c = all.filter(col("doc_id") % 5 === 3)
    val d = all.filter(col("doc_id") % 5 === 4)
    val dir = graft.sources.Spool.tempRoot("d11_compact")
    try {
      Dedup.landMinhashIndex(a, "doc_id", "text", n = 3, k = 64,
        bands = 16, "graft_d11_cmp", dir, nBuckets = 8)
      Dedup.absorbMinhashBatch(spark, b, "doc_id", "text", "graft_d11_cmp")
      Dedup.absorbMinhashBatch(spark, c, "doc_id", "text", "graft_d11_cmp")
      val pre = Dedup.incrementalMinhashPairs(spark, d, "doc_id", "text",
        "graft_d11_cmp", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val preMeta = spark.table("graft_d11_cmp_meta").head()
      Dedup.MinhashIndex.compact(spark, "graft_d11_cmp")
      val m = graft.Metrics.get("d11.compact")
        .getOrElse(fail("compaction left no d11.compact Metrics entry"))
      // two appends on top of the land => strictly more files than
      // buckets before; exactly one file per NON-EMPTY bucket after
      assert(m("bands_files_before").asInstanceOf[Long] > 8,
        s"fixture did not accumulate small files: $m")
      assert(m("bands_files_after").asInstanceOf[Long] <= 8, s"compaction left small files: $m")
      assert(m("sigs_files_after").asInstanceOf[Long] <= 8, s"compaction left small files: $m")
      val post = Dedup.incrementalMinhashPairs(spark, d, "doc_id", "text",
        "graft_d11_cmp", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pre.nonEmpty, "compaction parity slice produced no pairs — vacuous")
      assert(post == pre, "probe result changed across compaction")
      assert(spark.table("graft_d11_cmp_meta").head() == preMeta,
        "compaction touched the meta row")
      // the swapped-in tables must still carry the bucket spec (the
      // probe's co-location/pruning contract): Spark records it in the
      // table description
      val desc = spark.sql("DESCRIBE FORMATTED graft_d11_cmp_bands")
        .collect().map(r => s"${r.getString(0)} ${r.getString(1)}").mkString("\n")
      assert(desc.contains("Num Buckets") && desc.contains("8"),
        s"compacted table lost its bucket spec:\n$desc")
      // a fresh absorb on the compacted index keeps working (the loop
      // continues after compaction)
      Dedup.absorbMinhashBatch(spark,
        b.withColumn("doc_id", col("doc_id") + 1000000L),
        "doc_id", "text", "graft_d11_cmp")
      assert(spark.table("graft_d11_cmp_meta").head().getLong(3) ==
        preMeta.getLong(3) + b.count(), "post-compaction absorb lost the meta advance")
    } finally {
      Seq("sigs", "bands", "meta", "sigs_compacting", "bands_compacting",
        "sigs_precompact", "bands_precompact")
        .foreach(s => spark.sql(s"DROP TABLE IF EXISTS graft_d11_cmp_$s"))
    }
  }

  test("st13 compaction collapses the delta history; later verdicts bit-identical") {
    // run the same land → classify × 3 pipeline twice, once compacting
    // before the last batch: every verdict set must match exactly (the
    // collapsed batch_id = -1 rows are the same prior the probe's own
    // per-batch-max + sum aggregation would produce), the segdf table
    // must be back to <= nBuckets files, and the delta history gone
    val all = graft.sources.Tables.documents(spark, sfDir)
    val a = all.filter(col("doc_id") % 5 < 2).select("doc_id", "text")
    val chunks = (2 to 4).map(i =>
      all.filter(col("doc_id") % 5 === i).select("doc_id", "text"))
    def run(tb: String, compactBefore: Int): Seq[Set[(Long, String, Long)]] = {
      val dir = graft.sources.Spool.tempRoot(tb)
      try {
        Dedup.landSegDfIndex(spark, a, "doc_id", "text", 10, tb, dir, nBuckets = 8)
        chunks.zipWithIndex.map { case (ch, i) =>
          if (i == compactBefore) Dedup.SegDfIndex.compact(spark, tb)
          val out = s"$dir/out$i"
          Dedup.SegDfIndex.ingest(spark, tb, 8, out, ())(
            Dedup.segDfBatch(spark, ch, "doc_id", "text", tb,
              i.toLong, window = 10, minDf = 2))
          spark.read.parquet(out).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        }
      } finally {
        Seq("segdf", "docs", "segdf_compacting", "docs_compacting",
          "segdf_precompact", "docs_precompact")
          .foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${tb}_$s"))
      }
    }
    val plain = run("graft_st13_cmp_a", compactBefore = -1)
    val comp = run("graft_st13_cmp_b", compactBefore = 2)
    assert(plain == comp, "verdicts changed across compaction")
    assert(plain.exists(_.exists(_._3 > 0)),
      "fixture never dropped a segment — parity is vacuous")
    val m = graft.Metrics.get("st13.compact")
      .getOrElse(fail("compaction left no st13.compact Metrics entry"))
    assert(m("segdf_files_before").asInstanceOf[Long] > 8,
      s"fixture did not accumulate small files: $m")
    assert(m("segdf_files_after").asInstanceOf[Long] <= 8,
      s"compaction left small files: $m")
    assert(m("docs_files_after").asInstanceOf[Long] <= 8, s"$m")
  }

  test("repeated compaction keeps working (generation tracking survives the swap)") {
    // compact twice with an absorb in between: the second rewrite must
    // find the recorded generation on the swapped-in table (a property,
    // not a path parse), version to _c2, and still leave one file per
    // bucket — the continuous-ingest cadence (absorb… compact, absorb…
    // compact) exercised end-to-end
    val all = graft.sources.Tables.documents(spark, sfDir)
    val a = all.filter(col("doc_id") % 5 < 2)
    val b = all.filter(col("doc_id") % 5 === 2)
    val c = all.filter(col("doc_id") % 5 === 3)
    val d = all.filter(col("doc_id") % 5 === 4)
    val dir = graft.sources.Spool.tempRoot("d11_recompact")
    try {
      Dedup.landMinhashIndex(a, "doc_id", "text", n = 3, k = 64,
        bands = 16, "graft_d11_rcmp", dir, nBuckets = 8)
      Dedup.absorbMinhashBatch(spark, b, "doc_id", "text", "graft_d11_rcmp")
      Dedup.MinhashIndex.compact(spark, "graft_d11_rcmp")
      Dedup.absorbMinhashBatch(spark, c, "doc_id", "text", "graft_d11_rcmp")
      val pre = Dedup.incrementalMinhashPairs(spark, d, "doc_id", "text",
        "graft_d11_rcmp", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      Dedup.MinhashIndex.compact(spark, "graft_d11_rcmp")
      val m = graft.Metrics.get("d11.compact")
        .getOrElse(fail("second compaction left no d11.compact Metrics entry"))
      assert(m("bands_files_after").asInstanceOf[Long] <= 8, s"second compaction left small files: $m")
      assert(m("sigs_files_after").asInstanceOf[Long] <= 8, s"second compaction left small files: $m")
      // the second rewrite landed in a _c2 sibling (generation advanced,
      // not reset or double-suffixed)
      val loc = spark.sql("DESCRIBE FORMATTED graft_d11_rcmp_bands")
        .filter(col("col_name") === "Location").head().getString(1)
      assert(loc.endsWith("_c2"), s"expected a _c2 generation directory, got $loc")
      val post = Dedup.incrementalMinhashPairs(spark, d, "doc_id", "text",
        "graft_d11_rcmp", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pre.nonEmpty, "recompaction parity slice produced no pairs — vacuous")
      assert(post == pre, "probe result changed across the second compaction")
    } finally {
      Seq("sigs", "bands", "meta", "sigs_compacting", "bands_compacting",
        "sigs_precompact", "bands_precompact")
        .foreach(s => spark.sql(s"DROP TABLE IF EXISTS graft_d11_rcmp_$s"))
    }
  }

  test("cleanPipeline: composition equals the stage-by-stage recompute and every stage bites") {
    // the fixture carries no exact duplicates, so re-ingest every 5th
    // text under a high id — the re-crawl shape the exact stage exists
    // for (and the stage-order point: those copies must NOT inflate the
    // boilerplate df counts the line stage filters by)
    val raw = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val docs = raw.unionByName(
      raw.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val total = docs.count()
    // stage-by-stage recompute through the same public operators,
    // materialized between stages — the pipeline must equal it exactly
    val keepIds = docs.groupBy(sha2(col("text").cast("binary"), 256))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s1 = docs.join(keepIds, Seq("doc_id"), "left_semi").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(s1.size < total, "exact-dedup stage dropped nothing — vacuous")
    import spark.implicits._
    val cleaned = Dedup.lineDedup(s1.toDF("doc_id", "text"), "doc_id", "text",
      window = 10, minDf = 2, keepFirst = true)
    val cleanedRows = cleaned.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(cleanedRows.exists(_._3 > 0), "line-dedup stage dropped nothing — vacuous")
    val scored = cleanedRows.filter(_._2.nonEmpty).map { case (id, t, nd) =>
      val row = Seq((id, t, t.length.toLong)).toDF("doc_id", "clean_text", "n")
        .select(graft.operators.TextAnalysis.qualityScore(
          col("clean_text"), col("n")).as("s")).head()
      (id, t, nd, row.getDouble(0))
    }
    assert(scored.exists(_._4 < 0.5), "score filter dropped nothing — vacuous")
    val want = scored.filter(_._4 >= 0.5)
      .map { case (id, t, nd, s) => id -> (t, nd, s) }.toMap
    val got = Dedup.cleanPipeline(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == want,
      s"only-pipeline=${(got.keySet -- want.keySet).take(3)} " +
        s"only-staged=${(want.keySet -- got.keySet).take(3)}")
    // the fused plan stays join/agg-shaped: no window, no cartesian
    val plan = Dedup.cleanPipeline(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("cleanPipeline full recipe: decontaminate + scrub stages equal the staged recompute and bite") {
    // the d19 contract: the optional stages compose in the CCNet/Dolma
    // order (dedup -> decontaminate CLEANED text -> scrub -> score the
    // SCRUBBED text) and the one-plan pipeline equals running the four
    // standalone operators with materialization between stages. PII is
    // injected t7-style so the scrub has something to redact; the
    // decontamination window is the spec-scale 8 (d7's) so the eval
    // overlap survives cleaning at sf0.001.
    val raw = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val inj = raw.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), col("doc_id") % 256, lit(".17")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call 555-867-5309"))
          .otherwise(lit(""))).as("text"))
    val bench = raw.filter(col("doc_id") % 10 === 0)
    val n = 8
    // staged recompute via the standalone public operators
    val keepIds = inj.groupBy(sha2(col("text").cast("binary"), 256))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s1 = inj.join(keepIds, Seq("doc_id"), "left_semi")
    val cleaned = Dedup.lineDedup(s1, "doc_id", "text",
      window = 10, minDf = 2, keepFirst = true).localCheckpoint()
    val contaminated = Dedup.bloomDecontaminate(
        cleaned.select(col("doc_id"), col("clean_text").as("text")),
        bench, "doc_id", "text", n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(contaminated.nonEmpty, "decontamination stage dropped nothing — vacuous")
    val decon = cleaned.filter(!col("doc_id").isin(contaminated.toSeq: _*))
    val scrubbed = decon.withColumn("clean_text",
      graft.operators.TextAnalysis.piiRedact(col("clean_text")))
    val scrubChanged = decon.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val scrubbedRows = scrubbed.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(scrubbedRows.exists { case (id, t, _) => t != scrubChanged(id) },
      "scrub stage redacted nothing — vacuous")
    val want = scrubbedRows.filter(_._2.nonEmpty).flatMap { case (id, t, nd) =>
      import spark.implicits._
      val s = Seq((t, t.length.toLong)).toDF("clean_text", "n")
        .select(graft.operators.TextAnalysis.qualityScore(
          col("clean_text"), col("n")).as("s")).head().getDouble(0)
      if (s >= 0.5) Some(id -> (t, nd, s)) else None
    }.toMap
    val pipeline = Dedup.cleanPipeline(inj, "doc_id", "text",
      window = 10, minDf = 2, minScore = 0.5,
      decontaminate = Some(bench), decontamN = n, scrubPii = true)
    val got = pipeline.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == want,
      s"only-pipeline=${(got.keySet -- want.keySet).take(3)} " +
        s"only-staged=${(want.keySet -- got.keySet).take(3)}")
    // the anti-join references the reassembly twice: the exchange must
    // be REUSED, never recomputed (the r17 fold lesson, pinned)
    val plan = pipeline.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      "cleaned reassembly recomputed for the decontamination side:\n" + plan.take(3000))
  }

  test("lineDedup drops cross-document repeated segments and reassembles in order") {
    // the d16 contract vs a scalar recompute: fixed-width segments
    // occurring in >= minDf distinct docs vanish from every doc; kept
    // segments rejoin in positional order; untouched docs round-trip
    // text-identically; no doc id is lost
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val got = Dedup.lineDedup(docs, "doc_id", "text", window = 10, minDf = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val raw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def segsOf(t: String): Seq[String] =
      t.split(" ").grouped(10).map(_.mkString(" ")).filter(_.nonEmpty).toSeq
    val df = raw.toSeq.flatMap { case (id, t) => segsOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.size }
    val want = raw.map { case (id, t) =>
      val ss = segsOf(t)
      val (kept, dropped) = ss.partition(s => df(s) < 2)
      id -> ((kept.mkString(" "), dropped.size.toLong))
    }
    assert(want.exists(_._2._2 > 0), "no repeated segment at this sf — vacuous")
    assert(want.exists { case (id, (_, nd)) => nd > 0 && raw(id) != want(id)._1 })
    val untouched = want.filter(_._2._2 == 0)
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, (ct, _)) =>
      assert(ct == raw(id), s"untouched doc $id did not round-trip") }
    assert(got == want)

    // keep-first variant: the same recompute, but a repeated segment
    // survives inside its minimum-doc_id host
    val gotKF = Dedup.lineDedup(docs, "doc_id", "text", window = 10,
      minDf = 2, keepFirst = true)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val firstHost = raw.toSeq.flatMap { case (id, t) => segsOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).min }
    val wantKF = raw.map { case (id, t) =>
      val (kept, dropped) = segsOf(t).partition(s =>
        df(s) < 2 || firstHost(s) == id)
      id -> ((kept.mkString(" "), dropped.size.toLong))
    }
    // non-vacuity: some repeated segment is actually preserved in its
    // first host (d17 strictly drops less than d16 somewhere)
    assert(wantKF.exists { case (id, (_, nd)) => nd < want(id)._2 },
      "keep-first never preserved a canonical copy — vacuous")
    assert(gotKF == wantKF)
  }

  test("incrementalSurvivors classifies batch docs by the earliest near-dup neighbor") {
    // the d14 contract, checked against a scalar reimplementation over
    // the full-recompute pair set: batch doc x is a dup iff some pair
    // links it to a landed doc or a smaller-id batch mate; dup_of is
    // the minimum such neighbor; survivors (and pairless docs) are new
    val all = graft.sources.Tables.documents(spark, sfDir)
    val corpus = all.filter(col("doc_id") % 5 < 3)
    val batch = all.filter(col("doc_id") % 5 >= 3)
    val dir = graft.sources.Spool.tempRoot("d14_spec")
    try {
      Dedup.landMinhashIndex(corpus, "doc_id", "text", n = 3, k = 64,
        bands = 16, "graft_d14_spec", dir)
      val got = Dedup.incrementalSurvivors(spark, batch, "doc_id", "text",
        "graft_d14_spec", threshold = 0.5)
        .collect().map(r => (r.getLong(0),
          Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2))).toSet
      val pairs = Dedup.minhashLshPairs(all, "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
      val want = batchIds.map { x =>
        val earlier = pairs.collect {
          case (a, b) if b == x && (!batchIds(a) || a < x) => a
          case (a, b) if a == x && (!batchIds(b) || b < x) => b
        }
        (x, if (earlier.isEmpty) None else Some(earlier.min), earlier.isEmpty)
      }
      assert(want.exists(_._2.isDefined), "no duplicate in the batch — test is vacuous")
      assert(want.exists { case (_, d, _) => d.exists(batchIds) },
        "no intra-batch earlier neighbor exercised")
      assert(want.exists { case (_, d, _) => d.exists(e => !batchIds(e)) },
        "no landed earlier neighbor exercised")
      assert(got == want)
    } finally {
      Seq("sigs", "bands", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_d14_spec_$s"))
    }
  }

  test("incrementalSemanticSurvivors classifies batch vectors by the earliest near-dup neighbor") {
    // the d15 contract (the embedding twin of the d14 test): batch
    // vector x is a dup iff some frozen-centroid pair links it to a
    // landed vector or a smaller-id batch mate; dup_of is the minimum
    // such neighbor; survivors (and pairless vectors) are new
    val all = graft.sources.Tables.embeddings(spark, sfDir)
    val corpus = all.filter(col("vec_id") % 5 < 3)
    val batch = all.filter(col("vec_id") % 5 >= 3)
    val dir = graft.sources.Spool.tempRoot("d15_spec")
    try {
      Dedup.landSemanticIndex(corpus, "vec_id", "embedding", "graft_d15_spec", dir)
      val got = Dedup.incrementalSemanticSurvivors(spark, batch, "vec_id",
        "embedding", "graft_d15_spec", threshold = 0.2)
        .collect().map(r => (r.getLong(0),
          Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2))).toSet
      val pairs = Dedup.semanticDedupPairs(
        all.select(col("vec_id").as("id"), col("embedding").as("v")),
        spark.table("graft_d15_spec_cents"), threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
      val want = batchIds.map { x =>
        val earlier = pairs.collect {
          case (a, b) if b == x && (!batchIds(a) || a < x) => a
          case (a, b) if a == x && (!batchIds(b) || b < x) => b
        }
        (x, if (earlier.isEmpty) None else Some(earlier.min), earlier.isEmpty)
      }
      assert(want.exists(_._2.isDefined), "no duplicate in the batch — test is vacuous")
      assert(want.exists { case (_, d, _) => d.exists(batchIds) },
        "no intra-batch earlier neighbor exercised")
      assert(want.exists { case (_, d, _) => d.exists(e => !batchIds(e)) },
        "no landed earlier neighbor exercised")
      assert(got == want)
    } finally {
      Seq("cents", "assign", "vecs", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_d15_spec_$s"))
    }
  }

  test("incremental semantic probe is bit-identical to frozen-centroid recompute on batch pairs") {
    // the d13 contract: land the corpus slice (centroids frozen at land
    // time), probe the batch — result must equal the frozen-centroid
    // semanticDedupPairs over ALL vectors restricted to batch-involving
    // pairs, including the 6-dp cosine (landed centroid/vector rows are
    // parquet roundtrips, exact for doubles)
    val all = graft.sources.Tables.embeddings(spark, sfDir)
    val corpus = all.filter(col("vec_id") % 5 =!= 2)
    val batch = all.filter(col("vec_id") % 5 === 2)
    val dir = graft.sources.Spool.tempRoot("d13_parity")
    try {
      Dedup.landSemanticIndex(corpus, "vec_id", "embedding", "graft_d13_spec", dir)
      val got = Dedup.incrementalSemanticPairs(spark, batch, "vec_id", "embedding",
        "graft_d13_spec", threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = Dedup.semanticDedupPairs(
        all.select(col("vec_id").as("id"), col("embedding").as("v")),
        spark.table("graft_d13_spec_cents"), threshold = 0.2)
        .filter(col("id_a") % 5 === 2 || col("id_b") % 5 === 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.nonEmpty, "parity slice produced no pairs — split keeps the test vacuous")
      assert(got == want)
    } finally {
      Seq("cents", "assign", "vecs", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_d13_spec_$s"))
    }
  }

  test("absorbed embedding batch probes bit-identically against the frozen centroids") {
    // land A, absorb B, probe C — must equal the frozen-centroid (A's
    // centroids!) recompute over A∪B∪C restricted to C-involving pairs,
    // proving absorbed assignment/vector rows are indistinguishable from
    // landed ones and the quantizer stayed frozen across the absorb
    val all = graft.sources.Tables.embeddings(spark, sfDir)
    val a = all.filter(col("vec_id") % 5 < 3)
    val b = all.filter(col("vec_id") % 5 === 3)
    val c = all.filter(col("vec_id") % 5 === 4)
    val dir = graft.sources.Spool.tempRoot("d13_absorb")
    try {
      Dedup.landSemanticIndex(a, "vec_id", "embedding", "graft_d13_abs", dir)
      Dedup.absorbSemanticBatch(spark, b, "vec_id", "embedding", "graft_d13_abs")
      assert(spark.table("graft_d13_abs_meta").head().getLong(0) == a.count() + b.count(),
        "absorb did not advance meta n_docs to the union size")
      val got = Dedup.incrementalSemanticPairs(spark, c, "vec_id", "embedding",
        "graft_d13_abs", threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = Dedup.semanticDedupPairs(
        all.select(col("vec_id").as("id"), col("embedding").as("v")),
        spark.table("graft_d13_abs_cents"), threshold = 0.2)
        .filter(col("id_a") % 5 === 4 || col("id_b") % 5 === 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.nonEmpty, "absorb parity slice produced no pairs — vacuous")
      assert(got.exists { case (x, y, _) => x % 5 == 3 || y % 5 == 3 },
        "no C-B pair in the parity set — absorbed index rows untested")
      assert(got == want)
    } finally {
      Seq("cents", "assign", "vecs", "meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_d13_abs_$s"))
    }
  }

  test("d13 staleness advisory: absorbs past 2x the frozen sizing flag, a re-land clears") {
    // the missing half of the frozen-quantizer versioning contract: the
    // docstrings say "meta's n_docs vs n_cents is the signal to watch" —
    // this watches it. landSemanticIndex auto-sizes by ivfCellsFor, so
    // crossing 2x the frozen sizing needs a corpus that GROWS 4x+ after
    // land: replicate the 500 fixture vectors to 2000 ids. Land 100
    // (16 cells), absorb the other 1900: ivfCellsFor(2000) = 45 >= 2*16
    // -> stale. Re-land over the grown corpus (45 cells), absorb a
    // sliver: 45 < 90 -> clear. Probe parity is advisory-independent
    // (the absorb-parity spec above).
    val base = graft.sources.Tables.embeddings(spark, sfDir)
    val all = (0 until 4).map(i => base.select(
        (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val dir = graft.sources.Spool.tempRoot("d13_stale")
    try {
      Dedup.landSemanticIndex(all.filter(col("vec_id") < 100),
        "vec_id", "embedding", "graft_d13_stale", s"$dir/one")
      Dedup.absorbSemanticBatch(spark, all.filter(col("vec_id") >= 100),
        "vec_id", "embedding", "graft_d13_stale")
      val st = Metrics.get("d13.stale").get
      assert(st("stale") == true, s"expected stale advisory: $st")
      assert(st("frozen_cents") == 16L && st("sized_cells") ==
        Dedup.ivfCellsFor(all.count()).toLong, st.toString)

      Dedup.landSemanticIndex(all.filter(col("vec_id") < 3000490L),
        "vec_id", "embedding", "graft_d13_stale2", s"$dir/two")
      Dedup.absorbSemanticBatch(spark, all.filter(col("vec_id") >= 3000490L),
        "vec_id", "embedding", "graft_d13_stale2")
      val st2 = Metrics.get("d13.stale").get
      assert(st2("stale") == false, s"re-land must clear the advisory: $st2")
    } finally {
      Seq("cents", "assign", "vecs", "meta").foreach(s => {
        spark.sql(s"DROP TABLE IF EXISTS graft_d13_stale_$s")
        spark.sql(s"DROP TABLE IF EXISTS graft_d13_stale2_$s")
      })
    }
  }

  test("semantic compaction rewrites absorbed small files to one per bucket, probes bit-identically") {
    // the d13 twin of the d11 compaction contract: land A, absorb B
    // then C (each append adds ~one file per touched bucket on _assign
    // AND _vecs), compact, and the probe of D must be bit-identical
    // while both tables are back to <= nBuckets files; centroids and
    // meta untouched (compaction never re-quantizes)
    val all = graft.sources.Tables.embeddings(spark, sfDir)
    val a = all.filter(col("vec_id") % 5 < 2)
    val b = all.filter(col("vec_id") % 5 === 2)
    val c = all.filter(col("vec_id") % 5 === 3)
    val d = all.filter(col("vec_id") % 5 === 4)
    val dir = graft.sources.Spool.tempRoot("d13_compact")
    try {
      Dedup.landSemanticIndex(a, "vec_id", "embedding", "graft_d13_cmp", dir,
        nBuckets = 8)
      Dedup.absorbSemanticBatch(spark, b, "vec_id", "embedding", "graft_d13_cmp")
      Dedup.absorbSemanticBatch(spark, c, "vec_id", "embedding", "graft_d13_cmp")
      val pre = Dedup.incrementalSemanticPairs(spark, d, "vec_id", "embedding",
        "graft_d13_cmp", threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val preMeta = spark.table("graft_d13_cmp_meta").head()
      val preCents = spark.table("graft_d13_cmp_cents").collect().toSet
      Dedup.SemanticIndex.compact(spark, "graft_d13_cmp")
      val m = graft.Metrics.get("d13.compact")
        .getOrElse(fail("compaction left no d13.compact Metrics entry"))
      assert(m("assign_files_before").asInstanceOf[Long] > 8,
        s"fixture did not accumulate small files: $m")
      assert(m("assign_files_after").asInstanceOf[Long] <= 8, s"compaction left small files: $m")
      assert(m("vecs_files_after").asInstanceOf[Long] <= 8, s"compaction left small files: $m")
      val post = Dedup.incrementalSemanticPairs(spark, d, "vec_id", "embedding",
        "graft_d13_cmp", threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pre.nonEmpty, "compaction parity slice produced no pairs — vacuous")
      assert(post == pre, "probe result changed across semantic compaction")
      assert(spark.table("graft_d13_cmp_meta").head() == preMeta,
        "compaction touched the meta row")
      assert(spark.table("graft_d13_cmp_cents").collect().toSet == preCents,
        "compaction touched the frozen centroids")
      val desc = spark.sql("DESCRIBE FORMATTED graft_d13_cmp_assign")
        .collect().map(r => s"${r.getString(0)} ${r.getString(1)}").mkString("\n")
      assert(desc.contains("Num Buckets") && desc.contains("8"),
        s"compacted table lost its bucket spec:\n$desc")
      // the loop continues: a fresh absorb on the compacted index works
      Dedup.absorbSemanticBatch(spark,
        b.withColumn("vec_id", col("vec_id") + 1000000L),
        "vec_id", "embedding", "graft_d13_cmp")
      assert(spark.table("graft_d13_cmp_meta").head().getLong(0) ==
        preMeta.getLong(0) + b.count(), "post-compaction absorb lost the meta advance")
    } finally {
      Seq("cents", "assign", "vecs", "meta", "assign_compacting",
        "vecs_compacting", "assign_precompact", "vecs_precompact")
        .foreach(s => spark.sql(s"DROP TABLE IF EXISTS graft_d13_cmp_$s"))
    }
  }

  test("dedupSurvivors emits a complete manifest: components labeled, singletons survive") {
    val ids = (0L to 9L).toDF("vec_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.dedupSurvivors(ids, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val want = (0L to 9L).map { i =>
      val c = if (i <= 2) 0L else if (i == 4 || i == 7) 4L else i
      (i, c, i == c)
    }.toSet
    assert(got == want)
  }

  test("dedupSurvivors with no pairs labels everything its own survivor") {
    val ids = (0L to 4L).toDF("vec_id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.dedupSurvivors(ids, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == (0L to 4L).map(i => (i, i, true)).toSet)
  }

  test("incremental exact-dedup classifies batch docs against the landed sha index") {
    val corpus = Seq((0L, "aaa"), (1L, "bbb"), (2L, "aaa")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "aaa"), // dup of corpus survivor 0
      (11L, "ccc"), (12L, "ccc"), // new content, 11 is the batch survivor
      (13L, "ddd") // genuinely new singleton
    ).toDF("doc_id", "text")
    val dir = graft.sources.Spool.tempRoot("d1_inc")
    try {
      Dedup.landShaIndex(corpus, "doc_id", "text", "graft_d1_spec", dir)
      val rows = Dedup.incrementalExactDedup(spark, batch, "doc_id", "text", "graft_d1_spec")
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3), r.getBoolean(4))))
        .toMap
      assert(rows(10L) == ((Some(0L), 10L, false))) // corpus copy wins
      assert(rows(11L) == ((None, 11L, true))) // first of new content
      assert(rows(12L) == ((None, 11L, false))) // batch-internal dup
      assert(rows(13L) == ((None, 13L, true)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_d1_spec_sha")
    }
  }

  test("dedupClusters uses a RELIABLE checkpoint when the session has a checkpoint dir") {
    // with a checkpoint dir configured, the every-3rd-round truncation
    // must write through it (surviving executor loss) instead of
    // localCheckpoint — observable as RDD checkpoint files in the dir
    // (the 60-hop path needs >3 star rounds, so the branch fires)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val path = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val got = Dedup.dedupClusters(path, maxIter = 20).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (0L to 60L).map(_ -> 0L).toMap)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"no checkpoint files under $dir")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("GraftSession.local() always configures a checkpoint dir (reliable branch live under the harness)") {
    // Verify/Bench build their session through GraftSession.local(); if
    // that session carried no checkpoint dir, dedupClusters would
    // silently fall back to localCheckpoint under the driver harness —
    // the exact gap round-8's audit flagged. local() must therefore
    // always leave one configured (a Spool temp root when none is set).
    val s = graft.engine.GraftSession.local()
    try assert(s.sparkContext.getCheckpointDir.isDefined,
      "GraftSession.local() left no checkpoint dir configured")
    finally s.sparkContext.setCheckpointDir(null)
  }

  test("m5/hammingPairs: crafted signatures exercise every hamming band and block boundary") {
    // drive the shared pigeonhole machinery directly with signatures at
    // the boundaries the corpus stub can't reach: hamming 0 (exact),
    // 1..3 within one block, 3 spread across blocks (still one shared
    // block), 4 (over threshold, dropped), and 4 spread so NO block
    // matches (pigeonhole-dropped before the verify)
    val base = 0x0123456789ABCDL // fits in 61 bits
    val sigs = Seq(
      (0L, base),
      (1L, base),                          // hamming 0
      (2L, base ^ 1L),                     // hamming 1, block 0 differs
      (3L, base ^ 7L),                     // hamming 3, block 0 differs
      (4L, base ^ (1L | (1L << 16) | (1L << 32))), // hamming 3 across 3 blocks, block 3 shared
      (5L, base ^ 15L),                    // hamming 4 in one block: over threshold
      (6L, base ^ (1L | (1L << 16) | (1L << 32) | (1L << 48))) // h=4, no shared block
    ).toDF("id", "sig")
    val got = Dedup.hammingPairs(sigs, blocks = 4, maxHamming = 3, tag = "m5spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // scalar reference: all pairs with popcount(xor) <= 3
    val m = Seq(0L -> base, 1L -> base, 2L -> (base ^ 1L), 3L -> (base ^ 7L),
      4L -> (base ^ (1L | (1L << 16) | (1L << 32))), 5L -> (base ^ 15L),
      6L -> (base ^ (1L | (1L << 16) | (1L << 32) | (1L << 48))))
    val want = (for {
      (ia, sa) <- m; (ib, sb) <- m if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(got == want, s"only-got=${got -- want} only-want=${want -- got}")
    assert(want.exists(_._3 == 0) && want.exists(_._3 == 1) && want.exists(_._3 == 3),
      "fixture must span the hamming bands")
    assert(!want.exists(p => p._1 == 0L && p._2 == 5L), "h=4 must be dropped")
  }

  test("m5: re-ingested payloads pair at hamming 0 through the stub signature") {
    val reing = docs.withColumn("doc_id", col("doc_id") + 100L)
    val withPayload = Multimodal.withPayloadMeta(
      docs.select("doc_id", "text").unionByName(reing.select("doc_id", "text")),
      "doc_id", "text")
    val pairs = Multimodal.phashNearDup(withPayload, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // every original pairs with its re-ingest at hamming 0; docs 0 and 1
    // share identical text so the cross pairs appear too
    assert(pairs.forall(_._3 == 0L))
    (0L to 4L).foreach { i =>
      assert(pairs.contains((i, i + 100L, 0L)), s"missing re-ingest pair for $i")
    }
    assert(pairs.contains((0L, 1L, 0L)), "exact text dup pair missing")
  }

  test("frame sampling emits every k-th frame per decoded doc") {
    val withPayload = Multimodal.withPayloadMeta(docs, "doc_id", "text")
    val decoded = Multimodal.decodeBatch(withPayload, "doc_id", "payload")
    val frames = Multimodal.sampleFrames(decoded, everyKth = 2).collect()
    val nFrames = decoded.collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val byDoc = frames.groupBy(_.getLong(0))
    nFrames.foreach { case (id, n) =>
      assert(byDoc(id).length == (n + 1) / 2, s"doc $id n=$n")
      assert(byDoc(id).map(_.getInt(1)).sorted.toSeq == (0 until n by 2).toSeq)
    }
  }

  test("multimodal fuzz: frame sampling and resize planning match scalar references") {
    // the stub decoder's VALUES are fake; the frame/resize arithmetic
    // around it is the real deliverable — fuzz it against independent
    // scalar folds (md5 via MessageDigest, floor math in BigDecimal-free
    // doubles mirroring the column expressions)
    val rnd = new scala.util.Random(4242)
    val decodedRows = (0 until 120).map { i =>
      (i.toLong, 1 + rnd.nextInt(2048), 1 + rnd.nextInt(2048), 1 + rnd.nextInt(24), 0.5)
    }
    val decoded = decodedRows.toDF("doc_id", "width", "height", "n_frames", "mean_luma")

    Seq(1, 2, 3, 7).foreach { k =>
      val got = Multimodal.sampleFrames(decoded, everyKth = k).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val md = java.security.MessageDigest.getInstance("MD5")
      val expected = decodedRows.flatMap { case (id, w, h, nf, _) =>
        (0 until nf by k).map { fi =>
          val hex = md.digest(s"$id:$fi:$w:$h".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (id, fi) -> java.lang.Long.parseLong(hex.take(15), 16)
        }
      }.toMap
      assert(got == expected, s"k=$k")
    }

    val boxes = Seq(64, 333, 1024)
    boxes.foreach { box =>
      val got = Multimodal.resizePlan(decoded, "width", "height", box)
        .select("doc_id", "out_w", "out_h").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      decodedRows.foreach { case (id, w, h, _, _) =>
        val scale = math.min(math.min(box.toDouble / w, box.toDouble / h), 1.0)
        val (ow, oh) = (math.floor(w * scale).toLong, math.floor(h * scale).toLong)
        assert(got(id) == (ow, oh), s"box=$box dims=${(w, h)}")
        assert(ow <= box && oh <= box, s"box=$box overflow: ${got(id)}")
        assert(ow <= w && oh <= h, s"box=$box upscaled: ${got(id)}")
      }
    }
  }

  test("ImageIoDecoder: real PNG/GIF payloads decode through the same batch contract") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def img(w: Int, h: Int, rgb: Int): BufferedImage = {
      val b = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) b.setRGB(x, y, rgb)
      b
    }
    def png(b: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(b, "png", bos); bos.toByteArray
    }
    def gif(frames: Seq[BufferedImage]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    val payloads = Seq(
      (1L, png(img(8, 5, 0xffffff))), // white: luma 1.0
      (2L, png(img(3, 7, 0x000000))), // black: luma 0.0
      (3L, png(img(4, 4, 0xff0000))), // pure red: Rec.601 luma 0.299
      (4L, gif(Seq(img(6, 6, 0x000000), img(6, 6, 0xffffff), img(6, 6, 0x000000)))),
      (5L, Array[Byte](1, 2, 3, 4)) // no registered reader: dropped
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodeBatch(payloads, "doc_id", "payload",
        Multimodal.ImageIoDecoder.decode)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "undecodable payload must drop, not die")
    assert(out(1L)._1 == 8 && out(1L)._2 == 5 && out(1L)._3 == 1)
    assert(math.abs(out(1L)._4 - 1.0) < 1e-9)
    assert(out(2L) == ((3, 7, 1, 0.0)))
    assert(math.abs(out(3L)._4 - 0.299) < 1e-9)
    // the GIF container reports every frame; luma comes from frame 0 (black)
    assert(out(4L)._3 == 3, s"gif frame count: ${out(4L)}")
    assert(out(4L)._4 == 0.0)
    // and the frame-sampling stage composes off the real decoder's counts
    val frames = Multimodal.sampleFrames(
      Multimodal.decodeBatch(payloads, "doc_id", "payload",
        Multimodal.ImageIoDecoder.decode), everyKth = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(frames.count(_._1 == 4L) == 2) // frames 0 and 2
  }

  test("m5 real leg: dHash over decoded luma — gradient bits, perturbation hamming, near-dup pairs") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // grayscale pixels (v,v,v): Rec.601 luma == v exactly, so the 9×8
    // cell averages are fully controlled by the ramp below
    def grayImg(w: Int, h: Int)(v: (Int, Int) => Int): BufferedImage = {
      val b = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = math.max(0, math.min(255, v(x, y)))
        b.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      b
    }
    def png(b: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(b, "png", bos); bos.toByteArray
    }
    // left→right luma ramp: every 9-grid cell strictly brighter than its
    // left neighbor → all 64 gradient bits set
    val ramp = png(grayImg(90, 80)((x, _) => x * 255 / 90))
    assert(Multimodal.dhash64(ramp).contains(-1L))
    // reversed ramp: every right cell strictly darker → no bit set;
    // constant image: no STRICT increase → no bit set
    val reversed = png(grayImg(90, 80)((x, _) => (89 - x) * 255 / 90))
    assert(Multimodal.dhash64(reversed).contains(0L))
    assert(Multimodal.dhash64(png(grayImg(90, 80)((_, _) => 128))).contains(0L))
    assert(Multimodal.dhash64(Array[Byte](9, 9, 9)).isEmpty) // undecodable
    // one-cell perturbation: blacking out grid cell (row 0, col 1)
    // (x ∈ [10, 20), y ∈ [0, 10)) flips exactly bit 0 (cell 1 was
    // brighter than cell 0; cell 2 stays brighter than the now-black
    // cell 1) — hamming 1 against the clean ramp
    val perturbed = png(grayImg(90, 80)((x, y) =>
      if (x >= 10 && x < 20 && y < 10) 0 else x * 255 / 90))
    val Seq(hRamp, hPert) =
      Seq(ramp, perturbed).map(p => Multimodal.dhash64(p).get)
    assert(java.lang.Long.bitCount(hRamp ^ hPert) == 1)
    // end-to-end: byte-identical copies pair at hamming 0, the
    // perturbation pairs at hamming 1, the reversed gradient shares no
    // 16-bit block with the ramp (64 differing bits) and never
    // surfaces, the undecodable payload drops silently
    val docs = Seq(
      (1L, ramp), (2L, ramp.clone()), (3L, perturbed), (4L, reversed),
      (5L, Array[Byte](1, 2, 3))
    ).toDF("doc_id", "payload")
    val pairs = Multimodal.dhashNearDup(docs, "doc_id", "payload")
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs == Seq((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("multimodal stub decode is deterministic and preserves row count") {
    val withPayload = Multimodal.withPayloadMeta(docs, "doc_id", "text")
    val out = Multimodal.decodeBatch(withPayload, "doc_id", "payload")
      .orderBy("doc_id").collect()
    assert(out.length == 5)
    // identical payloads decode identically
    assert(out(0).toSeq.drop(1) == out(1).toSeq.drop(1))
    assert(out.forall(r => r.getInt(1) >= 64 && r.getInt(2) >= 64))
  }

  test("guardedBatch: pass-through, partial and full replay, empty batch — all paths equal the anti-join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = graft.sources.Spool.tempRoot("guarded_batch")
    // landed ids 0..9, bucketed by id; nBuckets=512 -> cap=711 (pruned
    // branch); nBuckets=8 -> cap=12 (over-cap branch for a 20-id batch)
    def mk(tb: String, nBuckets: Int): Unit =
      graft.sources.Sinks.bucketed(
        (0L until 10L).toDF("id"), tb, "id", nBuckets,
        path = Some(s"$dir/$tb"))
    try {
      mk("gb_big", 512)
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      def batch(r: Range) = r.map(_.toLong).toDF("doc_id")
      // all-new batch: passes through untouched (each survivor comes with
      // its distinct id count)
      val fresh = Dedup.guardedBatch(spark, batch(20 until 30), "gb_big", 512, "t.g", "doc_id")
      assert(fresh.isDefined && ids(fresh.get._1) == (20L until 30L).toSet && fresh.get._2 == 10)
      // partial replay: exactly the landed ids are dropped
      val part = Dedup.guardedBatch(spark, batch(5 until 15), "gb_big", 512, "t.g", "doc_id")
      assert(part.isDefined && ids(part.get._1) == (10L until 15L).toSet && part.get._2 == 5)
      // full replay and empty batch: the cycle is skipped
      assert(Dedup.guardedBatch(spark, batch(0 until 10), "gb_big", 512, "t.g", "doc_id").isEmpty)
      assert(Dedup.guardedBatch(spark, batch(0 until 0), "gb_big", 512, "t.g", "doc_id").isEmpty)
      // over-cap (nBuckets=8 -> cap=12 < 20 batch ids): same three verdicts
      // through the unpruned intersect + anti-join fallback paths
      mk("gb_small", 8)
      val over = Dedup.guardedBatch(spark, batch(5 until 25), "gb_small", 8, "t.g", "doc_id")
      assert(over.isDefined && ids(over.get._1) == (10L until 25L).toSet && over.get._2 == 15)
      assert(Dedup.guardedBatch(spark, (0L until 10L).toDF("doc_id"), "gb_small", 8, "t.g", "doc_id").isEmpty)
      val freshO = Dedup.guardedBatch(spark, batch(30 until 50), "gb_small", 8, "t.g", "doc_id")
      assert(freshO.isDefined && ids(freshO.get._1) == (30L until 50L).toSet && freshO.get._2 == 20)
    } finally Seq("gb_big", "gb_small").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("guardedBatch over the cap: one landed-intersect job, the join spelling's survivors") {
    val dir = graft.sources.Spool.tempRoot("guarded_batch_cap")
    // landed ids 0..9 over 8 buckets (cap 12); a 20-id partial replay
    graft.sources.Sinks.bucketed((0L until 10L).toDF("id"), "gb_cap", "id", 8,
      path = Some(s"$dir/gb_cap"))
    val sc = spark.sparkContext
    val log = new Prof.JobLog
    sc.addSparkListener(log)
    try {
      val batchIds = 5L until 25L
      val rec = log.record(sc)(
        Dedup.guardedBatch(spark, batchIds.toDF("doc_id"), "gb_cap", 8, "t.cap", "doc_id"))
      assert(graft.Metrics.get("t.cap").exists(_("bucket_pruned") == false),
        "expected the over-cap branch")
      assert(rec.jobs.count(_.desc == "t.cap: landed-intersect") == 1,
        s"landed-intersect jobs: ${rec.jobs}")
      // the join spelling: the landed ids joined to the broadcast batch ids
      val hit = spark.table("gb_cap").select("id")
        .join(broadcast(batchIds.toDF("id")), Seq("id"))
        .collect().map(_.getLong(0)).toSet
      val want = batchIds.filterNot(hit).toSet
      val (fresh, nIds) = rec.value.get
      assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet == want)
      assert(nIds == want.size && want.size == 15)
    } finally {
      sc.removeSparkListener(log)
      spark.sql("DROP TABLE IF EXISTS gb_cap")
    }
  }
}
