package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, LandedIndex, Similarity}
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
      Dedup.probeAbsorbMinhashBatch(spark, batchDocs, "doc_id", "text", mh,
        threshold = 0.5, s"$root/mh_pairs", meta)
    }

    val sem = "graft_codec_sem"
    roundTrip(Dedup.SemanticIndex, sem,
      Dedup.landSemanticIndex(landEmbs, "vec_id", "embedding", sem, s"$root/sem",
        nBuckets = 8),
      Seq("n_docs", "n_buckets", "n_cents")) { meta =>
      val advanced = Dedup.probeAbsorbSemanticBatch(spark, batchEmbs, "vec_id",
        "embedding", sem, threshold = 0.4, s"$root/sem_pairs", meta,
        Similarity.localTable(spark, s"${sem}_cents"))
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
      Similarity.probeAbsorbIvfPqBatch(spark, batchEmbs, "vec_id", "embedding", pq,
        k = 5, nProbe = 4, s"$root/pq_verdicts", meta,
        (Similarity.localTable(spark, s"${pq}_cents"), Similarity.localTable(spark, s"${pq}_cb")))
    }
  }
}
