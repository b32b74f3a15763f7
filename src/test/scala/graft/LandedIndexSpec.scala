package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.operators.{Batch, Dedup, LandedIndex, Similarity}
import graft.sources.{Spool, Tables}

class LandedIndexSpec extends SparkSpec {

  /** Absorb one batch through the family's threaded cycle, persist the
    * advanced meta, and read it back: the codec must round-trip it
    * under the pinned on-disk column layout.
    */
  private def roundTrip[M](index: LandedIndex[M], tb: String, landed: M, cols: Seq[String])
                          (absorb: M => M): Unit =
    try {
      val advanced = absorb(landed)
      assert(advanced != landed, s"${index.family}: the absorb did not advance the meta")
      index.persist(spark, tb, advanced)
      assert(index.readMeta(spark, tb) == advanced)
      assert(spark.table(s"${tb}_meta").columns.toSeq == cols)
    } finally index.catalogTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${tb}_$t"))

  test("meta codec: threaded meta reads back equal, under the pinned _meta column layout") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") < 200)
    val embs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .filter(col("vec_id") < 200)
    val landDocs = docs.filter(col("doc_id") % 5 < 3)
    val batchDocs = docs.filter(col("doc_id") % 5 === 3)
    val landEmbs = embs.filter(col("vec_id") % 5 < 3)
    val batchEmbs = embs.filter(col("vec_id") % 5 === 3)
    val root = Spool.tempRoot("meta_codec")

    val mh = "graft_codec_mh"
    roundTrip(Dedup.MinhashIndex, mh,
      Dedup.landMinhashIndex(landDocs, "doc_id", "text", n = 3, k = 64, bands = 16, mh,
        s"$root/mh", nBuckets = 8),
      Seq("n", "k", "bands", "n_docs", "n_buckets")) { meta =>
      Dedup.MinhashIndex.ingest(spark, mh, meta.nBuckets, s"$root/mh_pairs", meta)(
        Dedup.minhashBatch(spark, batchDocs, "doc_id", "text", mh, threshold = 0.5, meta))
    }

    val sem = "graft_codec_sem"
    roundTrip(Dedup.SemanticIndex, sem,
      Dedup.landSemanticIndex(landEmbs, "vec_id", "embedding", sem, s"$root/sem",
        nBuckets = 8),
      Seq("n_docs", "n_buckets", "n_cents")) { meta =>
      val advanced = Dedup.SemanticIndex.ingest(spark, sem, meta.nBuckets,
        s"$root/sem_pairs", meta)(Dedup.semanticBatch(spark, batchEmbs, "vec_id",
        "embedding", sem, threshold = 0.4, meta, Similarity.localTable(spark, s"${sem}_cents")))
      // an index landed before n_cents joined the row still reads: the
      // frozen-centroid count falls back to the _cents cardinality
      spark.createDataFrame(Seq((advanced.nDocs, advanced.nBuckets)))
        .toDF("n_docs", "n_buckets").write.mode(SaveMode.Overwrite)
        .option("path", s"$root/sem_meta2").saveAsTable(s"${sem}_meta")
      assert(Dedup.SemanticIndex.readMeta(spark, sem) ==
        advanced.copy(nCents = spark.table(s"${sem}_cents").count().toInt))
      advanced
    }

    val pq = "graft_codec_pq"
    roundTrip(Similarity.IvfPqIndex, pq,
      Similarity.landIvfPqIndex(landEmbs, "vec_id", "embedding", nCentroids = 8, m = 4,
        kCodes = 16, pq, s"$root/pq", nBuckets = 8),
      Seq("n_docs", "n_cents", "m", "k_codes", "n_buckets")) { meta =>
      Similarity.IvfPqIndex.ingest(spark, pq, meta.nBuckets, s"$root/pq_verdicts", meta)(
        Similarity.ivfPqBatch(spark, batchEmbs, "vec_id", "embedding", pq, k = 5, nProbe = 4,
          meta, (Similarity.localTable(spark, s"${pq}_cents"),
            Similarity.localTable(spark, s"${pq}_cb"))))
    }
  }

  private def docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    .filter(col("doc_id") < 200)

  /** Land a small MinHash index at `tb`, run `body` with its landed meta
    * and a scratch root, then drop its tables.
    */
  private def withMinhash(tb: String)(body: (Dedup.MinhashMeta, String) => Unit): Unit = {
    val root = Spool.tempRoot(tb)
    try body(Dedup.landMinhashIndex(docs.filter(col("doc_id") % 5 < 3), "doc_id", "text",
      n = 3, k = 64, bands = 16, tb, s"$root/idx", nBuckets = 8), root)
    finally Dedup.MinhashIndex.catalogTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${tb}_$t"))
  }

  private def batchOf(tb: String, meta: Dedup.MinhashMeta): Batch =
    Dedup.minhashBatch(spark, docs.filter(col("doc_id") % 5 === 3), "doc_id", "text", tb,
      threshold = 0.5, meta)

  /** The descriptions of the Spark jobs `f` runs, in submission order. */
  private def jobDescs[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val log = new Prof.JobLog
    sc.addSparkListener(log)
    try { val r = log.record(sc)(f); (r.value, r.jobs.map(_.desc)) }
    finally sc.removeSparkListener(log)
  }

  test("absorb appends the tables in declared order, the guard last, and counts its rows") {
    withMinhash("graft_step_order") { (meta, _) =>
      val batch = batchOf("graft_step_order", meta)
      val (n, descs) = jobDescs(
        Dedup.MinhashIndex.absorb(spark, "graft_step_order", meta.nBuckets)(batch.absorb: _*))
      assert(descs.filter(_.startsWith("cycle: absorb")) ==
        Seq("cycle: absorb bands", "cycle: absorb sigs"), s"absorb jobs: $descs")
      assert(n == batch.absorb.last.count() && n > 0)
    }
  }

  test("a row list of the wrong length is rejected before any job runs") {
    withMinhash("graft_step_len") { (meta, root) =>
      val batch = batchOf("graft_step_len", meta)
      val (_, absorbJobs) = jobDescs(intercept[IllegalArgumentException](
        Dedup.MinhashIndex.absorb(spark, "graft_step_len", meta.nBuckets)(batch.absorb.head)))
      assert(absorbJobs.isEmpty, s"a rejected absorb ran jobs: $absorbJobs")
      val (_, ingestJobs) = jobDescs(intercept[IllegalArgumentException](
        Dedup.MinhashIndex.ingest(spark, "graft_step_len", meta.nBuckets, s"$root/spool", meta)(
          Batch(batch.spool, batch.absorb :+ batch.absorb.last))))
      assert(ingestJobs.isEmpty, s"a rejected ingest ran jobs: $ingestJobs")
    }
  }

  test("ingest spools the batch before its first absorb job and advances the meta") {
    withMinhash("graft_step_spool") { (meta, root) =>
      val batch = batchOf("graft_step_spool", meta)
      val (advanced, descs) = jobDescs(Dedup.MinhashIndex.ingest(spark, "graft_step_spool",
        meta.nBuckets, s"$root/spool", meta)(batch))
      val lastSpool = descs.lastIndexOf("cycle: spool")
      val firstAbsorb = descs.indexWhere(_.startsWith("cycle: absorb"))
      assert(lastSpool >= 0 && firstAbsorb > lastSpool, s"ingest jobs: $descs")
      assert(advanced == meta.copy(nDocs = meta.nDocs + batch.absorb.last.count()))
    }
  }

  test("a provably empty batch absorbs 0 rows and leaves n_docs unchanged") {
    withMinhash("graft_step_empty") { (meta, _) =>
      val batch = batchOf("graft_step_empty", meta)
      Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        _.filter(lit(false)), _.limit(0)).foreach { empty =>
        assert(Dedup.MinhashIndex.absorb(spark, "graft_step_empty", meta.nBuckets)(
          batch.absorb.map(empty): _*) == 0L)
        Dedup.absorbMinhashBatch(spark, empty(docs), "doc_id", "text", "graft_step_empty")
        assert(Dedup.MinhashIndex.readMeta(spark, "graft_step_empty").nDocs == meta.nDocs)
      }
    }
  }
}
