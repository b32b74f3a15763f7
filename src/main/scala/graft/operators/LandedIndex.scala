package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A landed index's one-row `<tableBase>_meta` table, written and read
  * by column name. `columns` fixes the on-disk names, types and order;
  * `encode` lists a meta's values in that order; `decode` builds a meta
  * from the stored row (with the session and table base for a field an
  * older layout lacks).
  */
private[graft] final case class MetaCodec[M](columns: Seq[(String, DataType)],
                                             encode: M => Seq[Any],
                                             decode: (Row, SparkSession, String) => M) {
  private val schema = StructType(columns.map { case (n, t) =>
    StructField(n, t, nullable = false) })

  /** Write `meta` as the `_meta` table, an external table at `path`. */
  def write(spark: SparkSession, tableBase: String, meta: M, path: String): Unit =
    spark.createDataFrame(java.util.Collections.singletonList(Row.fromSeq(encode(meta))),
        schema)
      .write.mode(SaveMode.Overwrite).option("path", path)
      .saveAsTable(s"${tableBase}_meta")

  def read(spark: SparkSession, tableBase: String): M =
    decode(spark.table(s"${tableBase}_meta").head(), spark, tableBase)
}

/** One bucketed table of a landed index: its catalog suffix, its bucket
  * column, and the rewrite compaction applies to its rows.
  */
private[graft] final case class IndexTable(suffix: String, bucketCol: String,
                                           compaction: DataFrame => DataFrame = identity)

/** One landed-index family (MinHash, semantic, IVF-PQ, segment-df): the
  * lifecycle steps every family shares, written once.
  *
  *  - `family` tags the family's Metrics entries (`<family>.compact`);
  *  - `tables` are its bucketed tables in ABSORB ORDER. The last one is
  *    the redelivery guard: an ingest drain drops every arriving id it
  *    already holds, so it must commit last — a crash between two
  *    appends then replays the whole absorb;
  *  - `frozen` are the unbucketed tables fixed at land (quantizers);
  *  - `meta` is the `_meta` codec; the segment-df index keeps none.
  */
private[graft] final case class LandedIndex[M](family: String, tables: Seq[IndexTable],
                                               frozen: Seq[String],
                                               meta: Option[MetaCodec[M]]) {
  def guard: String = tables.last.suffix

  /** Every catalog table of the index, for a caller that drops it. */
  def catalogTables: Seq[String] =
    frozen ++ tables.map(_.suffix) ++ meta.map(_ => "meta")

  def readMeta(spark: SparkSession, tableBase: String): M =
    meta.getOrElse(throw new IllegalStateException(s"$family index keeps no _meta"))
      .read(spark, tableBase)

  /** Write `m` as the `_meta` row, an external table at `path`. */
  def writeMeta(spark: SparkSession, tableBase: String, m: M, path: String): Unit =
    meta.foreach(_.write(spark, tableBase, m, path))

  /** Overwrite the `_meta` row of an index landed at `tableBase`, in
    * place (at its catalog location).
    */
  def persist(spark: SparkSession, tableBase: String, m: M): Unit =
    if (meta.isDefined) writeMeta(spark, tableBase, m,
      LandedIndex.describe(spark, s"${tableBase}_meta")("Location"))

  /** Append `rows` to the index table `suffix` as one absorb job, labelled
    * `cycle: absorb <suffix>`, then refresh the table. The bucketed append
    * refreshes by PATH only; a reader that already resolved the table
    * holds an identifier-keyed cached relation whose file listing
    * predates the append (observed: a streaming probe loop missing every
    * row the previous batch absorbed), so the table is invalidated by
    * name and the next probe lists afresh.
    *
    * `rows` must be a JOIN-FREE plan or one whose joins a hint pins
    * ([[Dedup.withAqeOff]]): with AQE off the append's exchange and write
    * run as ONE job instead of one per stage; the explicit repartition
    * pins the partition count either way, so the file layout is
    * identical.
    */
  def append(spark: SparkSession, tableBase: String, suffix: String, nBuckets: Int)
            (rows: DataFrame): Unit = {
    val t = s"${tableBase}_$suffix"
    Dedup.withDesc(spark, s"cycle: absorb $suffix") {
      Dedup.withAqeOff(rows)(graft.sources.Sinks.bucketed(_, t, bucketCol(suffix),
        nBuckets, mode = SaveMode.Append))
    }
    spark.catalog.refreshTable(t)
  }

  /** Land `rows` as the index table `suffix`: an external bucketed table
    * at `<dir>/<suffix>`.
    */
  def land(tableBase: String, dir: String, suffix: String, nBuckets: Int)
          (rows: DataFrame): Unit =
    graft.sources.Sinks.bucketed(rows, s"${tableBase}_$suffix", bucketCol(suffix),
      nBuckets, path = Some(s"$dir/$suffix"))

  private def bucketCol(suffix: String): String = tables.find(_.suffix == suffix)
    .getOrElse(throw new IllegalArgumentException(s"$family index has no $suffix table"))
    .bucketCol

  /** Rewrite every bucketed table of the index at `tableBase` back to one
    * file per bucket, applying each table's compaction transform.
    *
    * Every absorb appends ~one new file per touched bucket, so after B
    * batches a bucket's probe-side scan opens O(B) small files — the
    * classic ingest small-files debt. Probe results are bit-identical
    * before and after (spec-pinned per family); bucket pruning and
    * co-location keep working, and the frozen tables and `_meta` are
    * untouched (compaction never re-quantizes). The `<family>.compact`
    * Metrics entry reports `<suffix>_files_before`/`_after` per table.
    * Cadence is the caller's choice; run it with no concurrent writer.
    */
  def compact(spark: SparkSession, tableBase: String): Unit = {
    val counts = tables.flatMap { t =>
      val (before, after) = LandedIndex.compactBucketedTable(spark,
        s"${tableBase}_${t.suffix}", t.bucketCol, t.compaction)
      Seq(s"${t.suffix}_files_before" -> before, s"${t.suffix}_files_after" -> after)
    }
    graft.Metrics.set(s"$family.compact", counts: _*)
  }
}

private[graft] object LandedIndex {

  /** `DESCRIBE FORMATTED table` as a (field → value) map: a catalog
    * command whose rows the driver already holds, so no Spark job.
    */
  def describe(spark: SparkSession, table: String): Map[String, String] =
    spark.sql(s"DESCRIBE FORMATTED $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** Bucket count of a bucketed table, from its catalog description. */
  def numBuckets(spark: SparkSession, table: String): Int =
    describe(spark, table)("Num Buckets").trim.toInt

  private def asLocalPath(loc: String): java.nio.file.Path = {
    val uri = new java.net.URI(loc)
    if (uri.getScheme == null) java.nio.file.Paths.get(loc)
    else java.nio.file.Paths.get(uri)
  }

  private def parquetFileCount(loc: String): Long = {
    val s = java.nio.file.Files.walk(asLocalPath(loc))
    try s.filter(p => p.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  /** Compaction generation of a bucketed index table, tracked as a table
    * property (`graft.compact.gen`, absent = 0) rather than parsed from
    * the path — a user-supplied index dir that legitimately ends in
    * `_c<digits>` must not be mangled by a suffix heuristic.
    */
  private def tableGen(spark: SparkSession, t: String): Int =
    spark.sql(s"SHOW TBLPROPERTIES $t")
      .filter(col("key") === "graft.compact.gen")
      .collect().headOption.map(_.getString(1).toInt).getOrElse(0)

  /** Rewrite one bucketed index table to one file per (non-empty)
    * bucket, with the table's own bucket count; returns (files_before,
    * files_after).
    *
    * The input is read by PATH, NOT via `spark.table(t)`: the catalog
    * relation's bucket spec already satisfies
    * `HashPartitioning(bucketCol, nBuckets)`, so Catalyst elides the
    * user `repartition` — and then, with no operator left that requires
    * the distribution, disables the bucketed scan too. The writer then
    * receives scan-order partitions and emits one file per (task,
    * bucket): a "compaction" that compacts nothing, silently (probe
    * results stay bit-identical either way). A path read carries no
    * bucket spec, so the repartition Exchange survives planning
    * (PlanAuditSpec pins both plan shapes) and — because `repartition`
    * uses the same hash family as the bucketed writer's bucket-id
    * assignment — each output task holds exactly one bucket's rows and
    * writes exactly one file.
    *
    * The rewrite stages to a versioned sibling directory (`…_c1`,
    * `…_c2`, …; generation from [[tableGen]]) under a temp catalog
    * name, then swaps rename-aside → rename-over → drop-aside, so a
    * catalog entry pointing at live index data exists at every step: a
    * crash before the first rename leaves the live table untouched; a
    * crash mid-swap leaves the data reachable under the `_precompact` /
    * `_compacting` names (all tables are external — drops and renames
    * never move or delete files); only after the swap completes are the
    * old files deleted.
    */
  def compactBucketedTable(spark: SparkSession, t: String, bcol: String,
                           transform: DataFrame => DataFrame): (Long, Long) = {
    val desc = describe(spark, t)
    val oldLoc = desc("Location")
    val nBuckets = desc("Num Buckets").trim.toInt
    val before = parquetFileCount(oldLoc)
    val gen = tableGen(spark, t)
    val base = if (gen == 0) oldLoc else {
      val sfx = s"_c$gen"
      require(oldLoc.endsWith(sfx),
        s"$t: location $oldLoc does not end with recorded generation suffix $sfx")
      oldLoc.dropRight(sfx.length)
    }
    val newLoc = s"${base}_c${gen + 1}"
    val staged = s"${t}_compacting"
    val aside = s"${t}_precompact"
    spark.sql(s"DROP TABLE IF EXISTS $staged")
    spark.sql(s"DROP TABLE IF EXISTS $aside")
    graft.sources.Sinks.bucketed(
      transform(spark.read.schema(spark.table(t).schema).parquet(oldLoc)),
      staged, bcol, nBuckets, path = Some(newLoc))
    spark.sql(s"ALTER TABLE $staged SET TBLPROPERTIES ('graft.compact.gen'='${gen + 1}')")
    spark.sql(s"ALTER TABLE $t RENAME TO $aside")
    spark.sql(s"ALTER TABLE $staged RENAME TO $t")
    spark.sql(s"DROP TABLE $aside") // external: catalog entry only, files stay
    graft.sources.Spool.deleteRecursively(asLocalPath(oldLoc))
    spark.catalog.refreshTable(t)
    (before, parquetFileCount(newLoc))
  }
}
