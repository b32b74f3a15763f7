package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteTopK returns the exact nearest neighbors on a known example") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteTopK(vecs.filter($"vec_id" === 0L), vecs,
        "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L)) // closest then orthogonal
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 2L))
  }

  test("quantizeInt8 maps the max-magnitude component to ±127 and zero vectors to zero") {
    val vecs = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f)),   // scale 127: q = [127, -63, 32]
      (1L, Array(0.0f, 0.0f, 0.0f))      // zero vector: scale 0, all zeros
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    // q_sum = 127 - 63 + 32 = 96; q_l2 = 127^2 + 63^2 + 32^2 = 21122;
    // scale_fp = floor(127 * 1e6 + 0.5) — 6-decimal fixed point
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 127000000L)
    assert(out(0).getLong(3) == 96L && out(0).getLong(4) == 21122L)
    assert(out(0).getLong(5) == -63L && out(0).getLong(6) == 127L)
    assert(out(1).getLong(2) == 0L && out(1).getLong(3) == 0L &&
      out(1).getLong(4) == 0L)
    // floor(x+0.5) rounding: -0.5*127 = -63.5 -> floor(-63) = -63
  }

  test("int8 kernels fuzz-match the column-formulation twin the oracle replays") {
    // The r13 O(d) codegen kernels (Int8Stats / Int8Codes) replaced a
    // functions._ column formulation whose arithmetic the DuckDB oracle
    // still replays verbatim — so that formulation, evaluated by
    // Spark's own higher-order-function interpreter, is the
    // independent twin here. Random dims/magnitudes plus the edge
    // cases: zero vector, one-element, denormal-small max (the 1e12
    // scale clamp), sign-flips, exact-half rounding boundaries.
    val rnd = new scala.util.Random(2024)
    val vecs = (0L until 40L).map { i =>
      val d = 1 + rnd.nextInt(9)
      val mag = math.pow(10.0, rnd.nextInt(26) - 13).toFloat
      (i, Array.fill(d)((rnd.nextFloat() * 2 - 1) * mag))
    } ++ Seq(
      (40L, Array(0.0f, 0.0f)),          // zero vector: scale 0
      (41L, Array(1.0e-13f)),            // clamp: 127/mx > 1e12
      (42L, Array(0.5f, -0.5f, 1.0f)),   // ±63.5 half boundaries
      (43L, Array(-0.0f)))               // negative zero: scale 0
    val df = vecs.toDF("vec_id", "embedding")
    val twinScale = {
      val mx = array_max(transform($"embedding", x => abs(x.cast("double"))))
      when(mx > 0, least(lit(127.0) / mx, lit(1.0e12))).otherwise(lit(0.0))
    }
    val twinQ = transform($"embedding",
      x => floor(x.cast("double") * twinScale + lit(0.5)).cast("long"))
    val twin = df.select($"vec_id",
      size($"embedding").cast("long").as("n_dims"),
      floor(twinScale * lit(1000000.0) + lit(0.5)).cast("long").as("scale_fp"),
      aggregate(twinQ, lit(0L), (a, b) => a + b).as("q_sum"),
      aggregate(twinQ, lit(0L), (a, b) => a + b * b).as("q_l2"),
      array_min(twinQ).as("q_min"),
      array_max(twinQ).as("q_max")).orderBy("vec_id").collect().toSeq
    val got = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .orderBy("vec_id").collect().toSeq
    assert(got.map(_.toSeq) == twin.map(_.toSeq))
    // the a8 code arrays and BIGINT dot against the same twin
    val codesTwin = df.select($"vec_id", twinQ.as("q")).orderBy("vec_id")
      .collect().map(_.getSeq[Long](1)).toSeq
    val codesGot = df.select($"vec_id",
        graft.functions.HashExpressions.int8Codes($"embedding").as("q"))
      .orderBy("vec_id").collect().map(_.getSeq[Long](1)).toSeq
    assert(codesGot == codesTwin)
    val dotTwin = df.as("a").join(df.as("b"), $"a.vec_id" < $"b.vec_id")
      .filter(size($"a.embedding") === size($"b.embedding"))
      .select($"a.vec_id", $"b.vec_id",
        aggregate(zip_with(
            graft.functions.HashExpressions.int8Codes($"a.embedding"),
            graft.functions.HashExpressions.int8Codes($"b.embedding"),
            (p, q) => p * q), lit(0L), (acc, v) => acc + v).as("dot"),
        graft.functions.HashExpressions.longDot(
          graft.functions.HashExpressions.int8Codes($"a.embedding"),
          graft.functions.HashExpressions.int8Codes($"b.embedding")).as("kdot"))
      .collect()
    assert(dotTwin.nonEmpty)
    dotTwin.foreach(r => assert(r.getLong(2) == r.getLong(3), r.toString))
    // length mismatch: zip_with pads with null → null; longDot must agree
    val mm = df.filter($"vec_id".isin(41L, 42L))
      .agg(collect_list(struct($"vec_id", $"embedding")).as("vs"))
      .select(
        graft.functions.HashExpressions.longDot(
          graft.functions.HashExpressions.int8Codes(element_at($"vs", 1)("embedding")),
          graft.functions.HashExpressions.int8Codes(element_at($"vs", 2)("embedding"))).as("d"))
      .collect()
    assert(mm.head.isNullAt(0))
  }

  test("labelCentroids computes exact fixed-point means per label and position") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 7),
      (1L, Array(0.0f, 1.0f), 7),
      (2L, Array(0.5f, 0.5f), 9)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(vecs, "label", "embedding")
      .orderBy("label", "pos").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // label 7: mean of (1,0) and (0,1) = (0.5, 0.5); label 9: (0.5, 0.5);
    // centroid_fp is the mean at 6-decimal fixed point (0.5 -> 500000)
    assert(out.toSeq == Seq(
      (7, 0L, 2L, 1000000L, 500000L), (7, 1L, 2L, 1000000L, 500000L),
      (9, 0L, 1L, 500000L, 500000L), (9, 1L, 1L, 500000L, 500000L)))
  }

  test("pqEncode matches a scalar reference and quantizes codebook members to themselves") {
    // 20 deterministic 8-dim vectors, m=2 subspaces, k=4 codes
    val rnd = new scala.util.Random(77)
    val vecs = (0L until 20L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(df, "vec_id", "embedding", m = 2, kCodes = 4)
      .orderBy("vec_id", "sub").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // scalar reference: same md5 codebook sample, same left-to-right
    // double fold, same (dist, code) tie-break
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val codebook = vecs.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(4).zipWithIndex.map { case ((_, v), code) => (code.toLong, v) }
    val expected = (for {
      (id, v) <- vecs; sub <- 0 until 2
    } yield {
      val w = v.length / 2
      val vs = v.slice(sub * w, sub * w + w)
      val scored = codebook.map { case (code, cw) =>
        val cs = cw.slice(sub * w, sub * w + w)
        val dist = vs.zip(cs).foldLeft(0.0) { case (acc, (p, q)) =>
          acc + (p.toDouble - q.toDouble) * (p.toDouble - q.toDouble)
        }
        (dist, code)
      }.min
      (id, sub.toLong, scored._2, math.floor(scored._1 * 1000000.0 + 0.5).toLong)
    }).sortBy(t => (t._1, t._2))
    assert(got.toSeq == expected)

    // every codebook member must encode to its own code with zero error
    val own = codebook.map(_._1).toSet
    val byId = got.groupBy(_._1)
    codebook.foreach { case (code, _) =>
      val id = vecs.sortBy { case (i, _) => (md5hex(i.toString), i) }.apply(code.toInt)._1
      byId(id).foreach { case (_, _, c, dfp) =>
        assert(c == code && dfp == 0L, s"codebook member $id should self-encode")
      }
    }
    assert(got.forall { case (_, _, c, dfp) => own.contains(c) && dfp >= 0L })
  }

  test("pqAdcTopK matches a scalar ADC reference and ranks by compressed distance") {
    val rnd = new scala.util.Random(99)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val got = Similarity.pqAdcTopK(queries, df, "vec_id", "embedding",
        k = 4, m = 2, kCodes = 4)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // scalar reference: encode (as in the pqEncode spec), then ADC =
    // sum over subs of fixed-point table entries, rank by (adc, id)
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val m = 2; val w = 8 / m
    val codebook = vecs.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(4).zipWithIndex.map { case ((_, v), code) => (code.toLong, v) }
    def sq(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) =>
        acc + (p.toDouble - q.toDouble) * (p.toDouble - q.toDouble)
      }
    val codes = vecs.flatMap { case (id, v) =>
      (0 until m).map { sub =>
        val vs = v.slice(sub * w, sub * w + w)
        val best = codebook.map { case (c, cw) => (sq(vs, cw.slice(sub * w, sub * w + w)), c) }.min
        (id, sub, best._2)
      }
    }
    val expected = (for { (qid, qv) <- vecs.take(3) } yield {
      val table = (for { sub <- 0 until m; (c, cw) <- codebook } yield
        ((sub, c), math.floor(sq(qv.slice(sub * w, sub * w + w),
          cw.slice(sub * w, sub * w + w)) * 1000000.0 + 0.5).toLong)).toMap
      vecs.filter(_._1 != qid).map { case (nid, _) =>
        val adc = codes.filter(_._1 == nid).map { case (_, sub, c) => table((sub, c)) }.sum
        (adc, nid)
      }.sorted.take(4).zipWithIndex.map { case ((adc, nid), i) =>
        (qid, nid, adc, (i + 1).toLong)
      }
    }).flatten
    assert(got.toSeq == expected)
  }

  test("sqAdcTopK matches a scalar int8-ADC reference, zero vectors score 0") {
    val rnd = new scala.util.Random(123)
    val vecs = (0L until 29L).map(i => (i, Array.fill(6)(rnd.nextFloat() * 2 - 1))) :+
      (29L, Array.fill(6)(0.0f)) // zero vector: code all-zero, cos_fp 0
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.sqAdcTopK(df.filter($"vec_id" < 3), df, "vec_id", "embedding", k = 4)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // scalar reference: a4's quantization rule, exact integer dot/norms,
    // the same deterministic double sequence for cos_fp, (desc, id) rank
    def code(v: Array[Float]): Array[Long] = {
      val mx = v.map(x => math.abs(x.toDouble)).max
      val sc = if (mx > 0) math.min(127.0 / mx, 1.0e12) else 0.0
      v.map(x => math.floor(x.toDouble * sc + 0.5).toLong)
    }
    val coded = vecs.map { case (id, v) =>
      val q = code(v); (id, q, q.map(x => x * x).sum)
    }
    val expected = coded.filter(_._1 < 3).flatMap { case (qid, qq, n2q) =>
      coded.filter(_._1 != qid).map { case (nid, cq, n2c) =>
        val dot = qq.zip(cq).map { case (a, b) => a * b }.sum
        val fp = if (n2q > 0 && n2c > 0)
          math.floor(dot.toDouble / (math.sqrt(n2q.toDouble) * math.sqrt(n2c.toDouble))
            * 1000000.0 + 0.5).toLong
        else 0L
        (nid, fp)
      }.sortBy { case (nid, fp) => (-fp, nid) }.take(4).zipWithIndex
        .map { case ((nid, fp), i) => (qid, nid, fp, (i + 1).toLong) }
    }
    assert(got.toSeq == expected)

    // int8 ADC must agree with exact brute-force on most of the top-k:
    // quantization error shifts scores, not the neighborhood structure
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.bruteTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sqAdcTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sq.size == 50)
    val recall = (brute & sq).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall") // int8 is near-lossless at this dim
  }

  test("ivfTopK probes nearest cells and achieves useful recall") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.bruteTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", 5, nCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.size == 50)
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("annRecall equals the scalar intersection of each method's top-k with exact") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    def topkSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topkSet(Similarity.bruteTopK(q, e, "vec_id", "embedding", 5))
    val byMethod = Map(
      "lsh" -> topkSet(Similarity.lshTopK(q, e, "vec_id", "embedding", 5,
        tables = 8, planes = 4)),
      "ivf" -> topkSet(Similarity.ivfTopK(q, e, "vec_id", "embedding", 5,
        nCentroids = 16, nProbe = 4)),
      "pq" -> topkSet(Similarity.pqAdcTopK(q, e, "vec_id", "embedding", 5,
        m = 4, kCodes = 16)),
      "ivfpq" -> topkSet(Similarity.ivfPqTopK(q, e, "vec_id", "embedding", 5,
        nCentroids = 16, nProbe = 4, m = 4, kCodes = 16)),
      "ivfpq_refine" -> topkSet(Similarity.ivfPqRefineTopK(q, e, "vec_id",
        "embedding", 5, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16,
        refine = 4)))
    val got = Similarity.annRecall(q, e, "vec_id", "embedding", k = 5,
        tables = 8, planes = 4, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16,
        refine = 4)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // every (query, method) cell reports — including methods that found
    // nothing for a query (n_hit 0), never a dropped row
    assert(got.size == exact.map(_._1).size * 5)
    got.foreach { case ((qid, m), (nHit, recallFp)) =>
      val want = byMethod(m).count { case (a, b) => a == qid && exact((a, b)) }
      assert(nHit == want, s"($qid, $m): $nHit vs scalar $want")
      assert(recallFp == math.floor(nHit * 1000000.0 / 5 + 0.5).toLong)
    }
    // the eval is discriminating on this corpus: not all cells perfect
    assert(got.values.exists(_._1 < 5), "all-perfect recall — vacuous eval")
    // ...and on the compressed paths specifically: PQ distortion is the
    // thing this eval exists to quantify, so the pq/ivfpq rows must not
    // be uniformly perfect either
    assert(Seq("pq", "ivfpq").exists(m =>
      got.exists { case ((_, mm), (nHit, _)) => mm == m && nHit < 5 }),
      "compressed-path recall all-perfect — vacuous for PQ tuning")
    // the refine row's whole point: aggregate recall strictly above the
    // plain compressed path it corrects (the a12 spec pins per-query
    // composition; this pins that the a11 report SHOWS the improvement)
    def total(m: String) =
      got.collect { case ((_, mm), (nHit, _)) if mm == m => nHit }.sum
    assert(total("ivfpq_refine") > total("ivfpq"),
      s"refine row ${total("ivfpq_refine")} not above ivfpq ${total("ivfpq")}")
  }

  test("a10 probe recall IS the ivfpq recall row (probe bit parity, recall-side)") {
    // the deployment statement: tuning a landed index's recall needs no
    // separate harness — annRecall's ivfpq row measures the a10 probe,
    // because probe ≡ ivfPqTopK is bit parity. Recompute recall FROM the
    // probe's own output and assert it equals the ivfpq rows.
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    Similarity.landIvfPqIndex(e, "vec_id", "embedding", 16, 4, 16,
      "a11_probe_recall", graft.sources.Spool.dir(spark, "a11pr"))
    val probed = Similarity.ivfPqProbe(spark, q, "vec_id", "embedding",
        "a11_probe_recall", k = 5, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probeRecall = exact.map(_._1).map(qid =>
      qid -> probed.count { case (a, b) => a == qid && exact((a, b)) }.toLong).toMap
    val ivfpqRows = Similarity.annRecall(q, e, "vec_id", "embedding", k = 5,
        tables = 8, planes = 4, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16)
      .filter($"method" === "ivfpq").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(probeRecall == ivfpqRows)
  }

  test("ivfPqTopK equals a7's ADC scores filtered to a3's probed cells") {
    // the composition contract: a9 = (a7 pairs) ∩ (query probes × cell
    // members), scores bit-identical — proven by recomputing both sides
    // from the already-tested operators
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    val a9 = Similarity.ivfPqTopK(q, e, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // unrestricted ADC scores for every pair (k large enough to keep all)
    val n = e.count().toInt
    val full = Similarity.pqAdcTopK(q, e, "vec_id", "embedding",
        k = n, m = 4, kCodes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the cell filter, recomputed via ivfTopK's own assignment (k = n
    // keeps every cell member a query probes)
    val cells = Similarity.ivfTopK(q, e, "vec_id", "embedding",
        k = n, nCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.view.filterKeys(cells).toMap
    // a9's ranked output = top-5 of expected per query, same fixed-point scores
    val byQ = expected.groupBy(_._1._1)
    val expTop = byQ.flatMap { case (qid, m) =>
      m.toSeq.sortBy { case ((_, nid), fp) => (fp, nid) }.take(5)
        .zipWithIndex.map { case (((_, nid), fp), i) => (qid, nid) -> (fp, i + 1L) }
    }
    assert(a9 == expTop)
  }

  test("a12 refine: exact re-rank of the a9 pool, recall never below plain ivfpq") {
    // composition contract: a12 = exact-cosine top-5 of a9's top-20
    // pool — proven by recomputing both sides from the already-tested
    // operators (the a9-parity shape of the ivfPqTopK spec)
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    val got = Similarity.ivfPqRefineTopK(q, e, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16, refine = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val pool = Similarity.ivfPqTopK(q, e, "vec_id", "embedding",
        k = 20, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val vecs = e.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cosZ(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, r)) => acc + p * r }
      val (na, nb) = (dot(a, a), dot(b, b))
      if (na == 0 || nb == 0) 0.0 else dot(a, b) / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = pool.groupBy(_._1).toSeq.flatMap { case (qid, nbs) =>
      nbs.toSeq.map { case (_, nid) =>
        (nid, BigDecimal(cosZ(vecs(qid), vecs(nid)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (nid, c) => (-c, nid) }.take(5)
        .zipWithIndex.map { case ((nid, c), i) => (qid, nid) -> (c, i + 1L) }
    }.toMap
    assert(got == want)
    // refine's purpose: recall@5 at least matches (and here beats) the
    // ADC-only ranking — PQ distortion is corrected by the exact pass
    val exact = Similarity.bruteTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Similarity.ivfPqTopK(q, e, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rRef = (exact & got.keySet).size
    val rPlain = (exact & plain).size
    assert(rRef >= rPlain, s"refine recall $rRef < plain $rPlain")
    assert(rRef > rPlain, s"refine did not improve recall on this corpus ($rRef) — vacuous")
  }

  test("a10 landed IVF-PQ index: probe ≡ a9, absorb chunking-invariant, compaction bit-parity") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

    // 1. probe of an index landed from the FULL corpus is bit-identical
    //    to the self-contained a9 composition with the same parameters —
    //    the landed layout changes plan shape, never scores
    Similarity.landIvfPqIndex(e, "vec_id", "embedding", 16, 4, 16,
      "a10_spec_full", graft.sources.Spool.dir(spark, "a10sp_full"))
    val probedFull = rows(Similarity.ivfPqProbe(spark, q, "vec_id", "embedding",
      "a10_spec_full", k = 5, nProbe = 4))
    val a9 = rows(Similarity.ivfPqTopK(q, e, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16))
    assert(probedFull == a9)

    // 2. frozen-codebook absorb is chunking-invariant: land 90%, absorb
    //    the arriving 10% as one chunk vs two — probes bit-identical
    //    (the codebook is frozen, so absorb order cannot matter)
    val landed = e.filter($"vec_id" % 10 =!= 8)
    val arrivals = e.filter($"vec_id" % 10 === 8)
    Similarity.landIvfPqIndex(landed, "vec_id", "embedding", 16, 4, 16,
      "a10_spec_one", graft.sources.Spool.dir(spark, "a10sp_one"))
    Similarity.absorbIvfPqBatch(spark, arrivals, "vec_id", "embedding", "a10_spec_one")
    val probeOne = rows(Similarity.ivfPqProbe(spark, q, "vec_id", "embedding",
      "a10_spec_one", k = 5, nProbe = 4))
    Similarity.landIvfPqIndex(landed, "vec_id", "embedding", 16, 4, 16,
      "a10_spec_two", graft.sources.Spool.dir(spark, "a10sp_two"))
    Similarity.absorbIvfPqBatch(spark, arrivals.filter($"vec_id" % 20 === 8),
      "vec_id", "embedding", "a10_spec_two")
    Similarity.absorbIvfPqBatch(spark, arrivals.filter($"vec_id" % 20 =!= 8),
      "vec_id", "embedding", "a10_spec_two")
    val probeTwo = rows(Similarity.ivfPqProbe(spark, q, "vec_id", "embedding",
      "a10_spec_two", k = 5, nProbe = 4))
    assert(probeOne == probeTwo)
    assert(Similarity.IvfPqIndex.readMeta(spark, "a10_spec_one").nDocs ==
      Similarity.IvfPqIndex.readMeta(spark, "a10_spec_two").nDocs)

    // 3. compaction retires the absorb small files (back to ≤ 1 file per
    //    bucket) with bit-identical probe results — codes AND the _vecs
    //    side table (which takes the same one-file-per-absorb debt)
    val refineBefore = rows(Similarity.ivfPqProbeRefine(spark, q, "vec_id",
      "embedding", "a10_spec_two", k = 5, nProbe = 4, refine = 4))
    Similarity.IvfPqIndex.compact(spark, "a10_spec_two")
    val before = Metrics.scalar("a10.compact", "codes_files_before").get
    val after = Metrics.scalar("a10.compact", "codes_files_after").get
    assert(before > after, s"compaction must shrink files: $before -> $after")
    assert(after <= 32, s"one file per non-empty bucket, got $after")
    val vBefore = Metrics.scalar("a10.compact", "vecs_files_before").get
    val vAfter = Metrics.scalar("a10.compact", "vecs_files_after").get
    assert(vBefore > vAfter, s"vecs compaction must shrink files: $vBefore -> $vAfter")
    assert(rows(Similarity.ivfPqProbe(spark, q, "vec_id", "embedding",
      "a10_spec_two", k = 5, nProbe = 4)) == probeTwo)
    assert(rows(Similarity.ivfPqProbeRefine(spark, q, "vec_id", "embedding",
      "a10_spec_two", k = 5, nProbe = 4, refine = 4)) == refineBefore)
  }

  test("a13 probe-refine ≡ ivfPqRefineTopK over the landed corpus (bit parity)") {
    // the landed-layout twin of the probe ≡ a9 parity pin: refine over
    // the _vecs side table changes where the floats are READ FROM,
    // never a score or a tie-break
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    Similarity.landIvfPqIndex(e, "vec_id", "embedding", 16, 4, 16,
      "a13_spec", graft.sources.Spool.dir(spark, "a13sp"))
    val probed = rows(Similarity.ivfPqProbeRefine(spark, q, "vec_id",
      "embedding", "a13_spec", k = 5, nProbe = 4, refine = 4))
    val recomputed = rows(Similarity.ivfPqRefineTopK(q, e, "vec_id",
      "embedding", k = 5, nCentroids = 16, nProbe = 4, m = 4, kCodes = 16,
      refine = 4))
    assert(probed == recomputed)
    // the refine pass actually bit (else this spec pins nothing the
    // plain-probe parity doesn't): some rank differs from ADC-only
    val adcOnly = rows(Similarity.ivfPqProbe(spark, q, "vec_id", "embedding",
        "a13_spec", k = 5, nProbe = 4))
      .map(r => (r(0), r(1))) // (query, neighbor) in rank order
    assert(probed.map(r => (r(0), r(1))) != adcOnly,
      "refine re-rank changed nothing on this corpus — vacuous")
  }

  test("a10 absorb: redelivery guard drops replayed ids; staleness advisory fires and re-land clears it") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

    // land a SMALL slice with a DELIBERATELY under-sized quantizer (8
    // cells); absorbing the rest takes ivfCellsFor(n) past 2×8
    val landed = e.filter($"vec_id" < 100)
    val arrivals = e.filter($"vec_id" >= 100)
    Similarity.landIvfPqIndex(landed, "vec_id", "embedding", 8, 4, 16,
      "a10_guard", graft.sources.Spool.dir(spark, "a10gd"))
    val m1 = Similarity.absorbIvfPqBatch(spark, arrivals, "vec_id", "embedding", "a10_guard")
    val probe1 = rows(Similarity.ivfPqProbe(spark, q, "vec_id", "embedding",
      "a10_guard", k = 5, nProbe = 4))

    // at-least-once replay of the SAME batch: the guard absorbs nothing
    // — n_docs unchanged, probe bit-identical (duplicate code rows
    // would double adc_fp and corrupt every ranking)
    val m2 = Similarity.absorbIvfPqBatch(spark, arrivals, "vec_id", "embedding", "a10_guard")
    assert(m2.nDocs == m1.nDocs, s"replay advanced n_docs: ${m1.nDocs} -> ${m2.nDocs}")
    assert(rows(Similarity.ivfPqProbe(spark, q, "vec_id", "embedding",
      "a10_guard", k = 5, nProbe = 4)) == probe1)
    // ...and a PARTIALLY overlapping batch absorbs only its fresh ids
    val m3 = Similarity.absorbIvfPqBatch(spark,
      e.filter($"vec_id" >= 90 && $"vec_id" < 110), // 90..99 landed, 100..109 absorbed
      "vec_id", "embedding", "a10_guard")
    assert(m3.nDocs == m2.nDocs, "overlapping batch must add zero new ids here")
    // ...and a replay whose ids carry DIFFERENT vectors is dropped too
    // (upsert-skip: first write wins). This is the case a codes-side
    // cell-pruned guard cannot catch — the changed vector encodes into
    // a different cell, outside the batch's own pruned slice — so it
    // pins that the guard is keyed on the id-bucketed _vecs table
    val mutated = e.filter($"vec_id" >= 100 && $"vec_id" < 110)
      .withColumn("embedding", reverse($"embedding"))
    val m4 = Similarity.absorbIvfPqBatch(spark, mutated,
      "vec_id", "embedding", "a10_guard")
    assert(m4.nDocs == m3.nDocs, "changed-vector replay must absorb nothing")
    assert(rows(Similarity.ivfPqProbe(spark, q, "vec_id", "embedding",
      "a10_guard", k = 5, nProbe = 4)) == probe1,
      "changed-vector replay corrupted the probe")

    // staleness: the corpus (500) outgrew the 8-cell quantizer —
    // ivfCellsFor(500) = 23 >= 2*8
    val st = Metrics.get("a10.stale").get
    assert(st("stale") == true, s"expected stale advisory: $st")
    assert(st("frozen_cents") == 8L && st("n_docs") == e.count())

    // re-land at the grown corpus's own sizing = the explicit
    // re-quantization: the advisory clears on the next absorb
    val cells = graft.operators.Dedup.ivfCellsFor(e.count())
    Similarity.landIvfPqIndex(e.filter($"vec_id" < 490), "vec_id", "embedding",
      cells, 4, 16, "a10_guard2", graft.sources.Spool.dir(spark, "a10gd2"))
    Similarity.absorbIvfPqBatch(spark, e.filter($"vec_id" >= 490),
      "vec_id", "embedding", "a10_guard2")
    val st2 = Metrics.get("a10.stale").get
    assert(st2("stale") == false, s"re-land must clear the advisory: $st2")
  }

  test("lshTopK achieves high recall vs brute force on real embeddings") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.bruteTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(q, e, "vec_id", "embedding", 5, tables = 8, planes = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall") // approximate, but far above chance
    assert(lsh.size == 50) // k results for every query
  }
}
