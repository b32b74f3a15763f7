package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
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

/** What one ingest micro-batch yields: the rows `spool` appends to the
  * drain's spool, and one row set per bucketed table of the index, in
  * its `tables` order.
  */
private[graft] final case class Batch(spool: DataFrame, absorb: Seq[DataFrame])

/** One landed-index family (MinHash, semantic, IVF-PQ, segment-df): the
  * lifecycle steps every family shares, written once.
  *
  *  - `family` tags the family's Metrics entries (`<family>.compact`);
  *  - `tables` are its bucketed tables in absorb order, the redelivery
  *    guard last (see [[absorb]]);
  *  - `frozen` are the unbucketed tables fixed at land (quantizers);
  *  - `meta` is the `_meta` codec; the segment-df index keeps none;
  *  - `absorbed(meta, n)` is the meta after an absorb of `n` guard rows.
  */
private[graft] final case class LandedIndex[M](family: String, tables: Seq[IndexTable],
                                               frozen: Seq[String],
                                               meta: Option[MetaCodec[M]],
                                               absorbed: (M, Long) => M) {
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

  /** One ingest cycle over the index at `tableBase`: append `batch.spool`
    * to the parquet spool at `spoolDir` (its jobs labelled `cycle:
    * spool`), then [[absorb]] `batch.absorb`, and return the meta
    * advanced from `meta`. The meta is returned, not written: a drain
    * threads it through its cycles and persists it once.
    *
    * The spool append comes first because it MATERIALIZES the batch's
    * probe: the probe scans the index lazily, so absorbing first would
    * let it see the batch's own rows (self-pairs, a vector among its own
    * neighbours).
    */
  def ingest(spark: SparkSession, tableBase: String, nBuckets: Int, spoolDir: String,
             meta: M)(batch: Batch): M = {
    requireRowSets(batch.absorb)
    Dedup.withDesc(spark, "cycle: spool") {
      batch.spool.write.mode(SaveMode.Append).parquet(spoolDir)
    }
    absorbed(meta, absorb(spark, tableBase, nBuckets)(batch.absorb: _*))
  }

  /** Append `rows`, one row set per table, to the index at `tableBase`
    * in `tables` order, and return the count of rows appended to the
    * guard table.
    *
    * The guard table commits LAST, which makes a crash mid-absorb safe:
    * an ingest drain drops every arriving id the guard already holds,
    * so a crash before the guard append leaves the batch absent there
    * and the replay re-absorbs it whole. The duplicate rows it re-appends
    * to the earlier tables are harmless (the probes' candidate sides are
    * distinct-ed, segment-df sums a per-batch max, and compaction
    * rewrites them away). The reverse order would let the guard drop the
    * replay while its rows in the other tables are missing.
    */
  def absorb(spark: SparkSession, tableBase: String, nBuckets: Int)(rows: DataFrame*): Long = {
    requireRowSets(rows)
    tables.zip(rows).init.foreach { case (t, r) => append(spark, tableBase, t, nBuckets, r) }
    LandedIndex.counted(rows.last)(append(spark, tableBase, tables.last, nBuckets, _))
  }

  private def requireRowSets(rows: Seq[DataFrame]): Unit =
    require(rows.length == tables.length, s"$family index absorbs one row set per table " +
      s"(${tables.map(_.suffix).mkString(", ")}), got ${rows.length}")

  /** Append `rows` to the index table `t` as one absorb job, labelled
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
  private def append(spark: SparkSession, tableBase: String, t: IndexTable, nBuckets: Int,
                     rows: DataFrame): Unit = {
    val name = s"${tableBase}_${t.suffix}"
    Dedup.withDesc(spark, s"cycle: absorb ${t.suffix}") {
      Dedup.withAqeOff(rows)(graft.sources.Sinks.bucketed(_, name, t.bucketCol,
        nBuckets, mode = SaveMode.Append))
    }
    spark.catalog.refreshTable(name)
  }

  /** Land `rows` as the index table `suffix`: an external bucketed table
    * at `<dir>/<suffix>`. Returns the count of rows written.
    */
  def land(tableBase: String, dir: String, suffix: String, nBuckets: Int)
          (rows: DataFrame): Long =
    LandedIndex.counted(rows)(graft.sources.Sinks.bucketed(_, s"${tableBase}_$suffix",
      bucketCol(suffix), nBuckets, path = Some(s"$dir/$suffix")))

  /** Land `rows` as the frozen table `suffix`: an external, unbucketed
    * table at `<dir>/<suffix>`.
    */
  def landFrozen(tableBase: String, dir: String, suffix: String)(rows: DataFrame): Unit = {
    require(frozen.contains(suffix), s"$family index has no frozen $suffix table")
    rows.write.mode(SaveMode.Overwrite).option("path", s"$dir/$suffix")
      .saveAsTable(s"${tableBase}_$suffix")
  }

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

  /** Run `write` over `rows` with their row count riding it as an
    * observe() aggregate, and return the count: no second pass over
    * what was just written. When `rows` is provably empty,
    * PropagateEmptyRelation removes the CollectMetrics node with the
    * rest of the plan and the observation completes metric-less; the
    * fallback recount then scans that empty input.
    */
  private def counted(rows: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(rows.observe(obs, count(lit(1)).as("n")))
    obs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(rows.count())
  }

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
