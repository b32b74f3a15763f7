package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink side of the engine (reference: deep-field db/models.py SQLite
  * star schema + pages.py:92-116 InsertablePage.update_db).
  *
  * Spark-native posture: columnar partitioned files are the primary sink
  * (what a 100 TB pipeline writes); the JDBC sink covers the reference's
  * relational-database semantics (tested against embedded Derby). The
  * incremental-ingest helper reproduces the "skip pages already in DB"
  * anti-join (same operator as q7).
  */
object Sinks {

  /** Partitioned parquet write — the scale path. `partitionBy` columns
    * become directory partitions so downstream scans prune on them.
    */
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
              mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** ORC twin of the parquet sink — the other splittable columnar
    * format Spark ships a native vectorized reader for (predicate
    * pushdown + partition pruning verified in SinksSpec). Avro is
    * deliberately absent: the spark-avro datasource jar is not part of
    * this build's classpath.
    */
  def orc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
          mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  def csv(df: DataFrame, path: String, header: Boolean = true,
          mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  def json(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** JDBC relational sink (the reference's SQLite role — db/models.py:1-71
    * declares the peewee/SQLite star schema this generalizes). Kept
    * DB-agnostic on purpose: tested against embedded Derby (no SQLite
    * driver exists in this offline build), so SQLite-dialect specifics
    * (native ON CONFLICT upsert, type affinity, single-writer locking)
    * are a documented deployment-time gap — see README "Known
    * deviation". Executors write batches in parallel — cap with
    * `numPartitions` so the database isn't hammered by hundreds of
    * connections at cluster scale.
    */
  def jdbc(df: DataFrame, url: String, table: String,
           mode: SaveMode = SaveMode.Append, numPartitions: Int = 8,
           batchSize: Int = 1000, createColumnTypes: Option[String] = None): Unit = {
    val w = df.coalesce(numPartitions).write.mode(mode)
      .option("batchsize", batchSize.toString)
    createColumnTypes.foreach(t => w.option("createTableColumnTypes", t))
    w.jdbc(url, table, new java.util.Properties())
  }

  def readJdbc(spark: org.apache.spark.sql.SparkSession, url: String, table: String): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties())

  /** True when `table` exists in the target database, via JDBC metadata —
    * NOT exception sniffing: a transient connectivity error propagates to
    * the caller instead of being mistaken for "table absent" (which would
    * silently degrade an upsert into a duplicate-producing blind append).
    */
  def tableExists(url: String, table: String): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      try {
        var found = false
        while (!found && rs.next()) found = rs.getString(3).equalsIgnoreCase(table)
        found
      } finally rs.close()
    } finally conn.close()
  }

  /** Idempotent insert-if-absent on a natural key — the reference's
    * update_db semantics (pages.py:97-106 re-runs without duplicating;
    * db/models.py:14-28 enforces unique natural keys): anti-join the
    * incoming batch against the target's existing keys, then append only
    * the remainder. Re-running the same batch is a no-op. The key scan
    * reads one column (broadcast when small), never the incoming fact.
    *
    * Not transactional across concurrent writers — two simultaneous
    * upserts of the same key can both pass the anti-join; the reference
    * is single-writer and so is this guarantee. For concurrent writers
    * keep a DB-side unique constraint as the backstop.
    */
  def jdbcUpsert(df: DataFrame, url: String, table: String, key: String,
                 numPartitions: Int = 8, batchSize: Int = 1000): Unit =
    jdbcUpsert(df, url, table, Seq(key), numPartitions, batchSize)

  /** Composite-natural-key variant (the reference's play table keys on
    * (game, play_num), models.py:79-83).
    *
    * The incoming batch is deduplicated on the natural key first (the
    * reference's per-row exists_in_db check cannot double-insert within
    * a batch; a set-oriented anti-join can, so the dedup restores that
    * guarantee). Rows with a NULL in ANY key column are dropped and
    * counted loudly — a NULL key can never satisfy the anti-join
    * equality, so keeping such rows would re-insert them on every run
    * (and a unique index can't protect them); they are not silently part
    * of the idempotence contract.
    *
    * The existing-key read is BOUNDED to the batch's leading-key range
    * when that key is numeric/temporal — the range predicate is pushed
    * into the database scan, so a long-running per-batch caller (the st6
    * streaming sink) pays O(batch key range) per batch, not O(target
    * table), which would otherwise grow without bound over the stream's
    * lifetime. String keys deliberately fall back to the full key scan:
    * pushing a string range assumes the database collates like Spark's
    * binary UTF-8 ordering, and a case-insensitive or locale collation
    * (e.g. MySQL defaults) could exclude stored keys Spark would match,
    * turning the upsert into a duplicate producer.
    */
  def jdbcUpsert(df: DataFrame, url: String, table: String, keys: Seq[String],
                 numPartitions: Int, batchSize: Int): Unit = {
    val spark = df.sparkSession
    // NULL-key audit: rides the write's own pass as an observed metric —
    // a separate counting aggregation would recompute the batch once per
    // upsert call (per MICRO-BATCH in the st6 streaming sink). When the
    // schema says no key column is nullable, skip the audit plumbing
    // entirely.
    val keysNullable = keys.exists(k => df.schema(k).nullable)
    val anyKeyNull = keys.map(col(_).isNull).reduce(_ || _)
    val obs = new org.apache.spark.sql.Observation(s"graft_upsert_audit_$table")
    val audited =
      if (keysNullable)
        df.observe(obs, sum(when(anyKeyNull, 1L).otherwise(0L)).as("n_null"))
          .filter(!anyKeyNull)
      else df
    val batch = audited.dropDuplicates(keys)
    if (!tableExists(url, table))
      // String natural keys become VARCHAR, not the dialect's default
      // CLOB/TEXT: key columns must stay comparable (and indexable) for
      // the existing-key anti-join — Derby, for one, refuses
      // comparisons on CLOB outright.
      jdbc(batch, url, table, SaveMode.Append, numPartitions, batchSize,
        createColumnTypes = varcharKeys(batch, keys))
    else {
      val existing = existingKeysScan(spark, url, table, batch, keys)
      jdbc(notYetIngested(batch, existing, keys), url, table,
        SaveMode.Append, numPartitions, batchSize)
    }
    if (keysNullable) {
      // the write (or the bounded-scan min/max pass) has consumed the
      // observed plan, so this does not block; null means zero rows flowed
      val nNull = obs.get.get("n_null").collect { case n: Long => n }.getOrElse(0L)
      if (nNull > 0)
        log.warn(s"jdbcUpsert($table): dropped $nNull row(s) whose natural key " +
          s"(${keys.mkString(", ")}) contains NULL — un-upsertable rows would " +
          "re-insert on every run")
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True when `dt` orders identically in Spark and in any sane database
    * — the precondition for pushing a range bound into the target scan.
    */
  private def rangeBoundable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | DateType | TimestampType | BooleanType => true
      case _ => false // strings: DB collation may not be binary
    }
  }

  /** The existing-key read for an upsert of `batch`: bounded to the
    * batch's leading-key [min, max] when the leading key is
    * numeric/temporal (collation-safe), else the full key columns.
    */
  def existingKeysScan(spark: org.apache.spark.sql.SparkSession, url: String,
                       table: String, batch: DataFrame, keys: Seq[String]): DataFrame = {
    val leadType = batch.schema(keys.head).dataType
    if (rangeBoundable(leadType)) {
      val b = batch.agg(min(col(keys.head)).as("lo"), max(col(keys.head)).as("hi")).head()
      if (b.isNullAt(0)) // empty batch: nothing can match
        readJdbc(spark, url, table).select(keys.head, keys.tail: _*).limit(0)
      else boundedExistingKeys(spark, url, table, keys, b.get(0), b.get(1))
    } else
      readJdbc(spark, url, table).select(keys.head, keys.tail: _*)
  }

  /** `createTableColumnTypes` clause pinning string-typed key columns to
    * VARCHAR(512) (natural keys are short by construction — ids, names).
    */
  private def varcharKeys(df: DataFrame, keys: Seq[String]): Option[String] = {
    val ks = df.schema.fields
      .filter(f => keys.contains(f.name)
        && f.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(512)")
    if (ks.isEmpty) None else Some(ks.mkString(", "))
  }

  /** The existing-key scan for an upsert, restricted to the incoming
    * batch's `[lo, hi]` leading-key range. The filter is pushed down to
    * the JDBC source (a WHERE clause in the generated query — asserted
    * in SinksSpec), and bounding on the LEADING key of a composite
    * key is a safe over-approximation: the anti-join still compares full
    * keys, the bound only shrinks what the database ships. Callers
    * should route through [[existingKeysScan]], which only bounds
    * numeric/temporal keys — a pushed string range is only safe when
    * the database's collation is binary (as Derby's UCS_BASIC is).
    */
  def boundedExistingKeys(spark: org.apache.spark.sql.SparkSession, url: String,
                          table: String, keys: Seq[String], lo: Any, hi: Any): DataFrame =
    readJdbc(spark, url, table).select(keys.head, keys.tail: _*)
      .filter(col(keys.head) >= lit(lo) && col(keys.head) <= lit(hi))

  /** Bucketed table: pre-shuffles rows into `nBuckets` by the
    * join key at WRITE time, so every later join/aggregation on that key
    * is exchange-free (the scan exposes the hash partitioning — the
    * zero-Exchange read path is plan-audited in PlanAuditSpec). This is
    * the co-located-join posture for fact⋈fact at 100 TB: pay the
    * shuffle once when the table lands, not on every query. `path` makes
    * the table EXTERNAL at an explicit location (the posture for a
    * shared-FS landing zone); None lands it under the session warehouse.
    *
    * The writer co-partitions on the bucket column first: Spark's
    * bucketed writer emits one file per (task, bucket), so an
    * un-co-partitioned N-task input writes up to N files per bucket
    * PER WRITE — at index scale (thousands of buckets × a wide scan)
    * that is millions of files from the land alone. After the
    * repartition each task holds whole buckets and every write (land
    * or append) emits at most one file per touched bucket.
    * The repartition is free when the input is already hash-partitioned
    * on the key (e.g. out of a groupBy on the same column — Catalyst
    * elides the redundant exchange). Callers feeding this writer FROM a
    * read of the same bucketed table must read by PATH (see
    * LandedIndex.compactBucketedTable): a catalog-table read's bucket spec
    * elides the repartition and then disables the bucketed scan,
    * silently destroying the one-file-per-bucket layout.
    *
    * PARALLELISM: every write co-partitions into the largest divisor d
    * of `nBuckets` that is not above the session's
    * `spark.sql.shuffle.partitions`, so it runs one task wave. That keeps
    * one file per touched bucket: repartition and the bucketed writer
    * use the same hash family (Murmur3, seed 42; HashPartitioning's
    * partitionIdExpression), and h ≡ h' (mod nBuckets) implies
    * h ≡ h' (mod d) when d divides nBuckets, so every bucket's rows land
    * wholly inside one task. Tasks past the slot count only add waves,
    * and each write task pays 25–28 ms of CPU deserializing the job's
    * Hadoop configuration (other tasks ~1 ms): at `local[4]` a 32-bucket
    * land ran 32 tasks on 4 slots. Appends are batch-sized (the absorb
    * path) and also keep d ≤ 8, so a cluster-sized shuffle-partition
    * count cannot bring back a wave of near-empty write tasks on every
    * micro-batch. A land's write parallelism is bounded by `nBuckets`
    * too, so corpus-scale lands take corpus-scale bucket counts
    * (thousands at 100 TB; the same sizing that makes the probe-side
    * bucket prune effective). The default 32 in callers is the
    * verification-scale setting. A large land through a small bucket
    * count is a parallelism cliff whose fix is the bucket count, not
    * skipping the co-partition (which would bring back the
    * one-file-per-(task, bucket) debt).
    */
  def bucketed(df: DataFrame, table: String, bucketCol: String, nBuckets: Int,
               mode: SaveMode = SaveMode.Overwrite,
               path: Option[String] = None): Unit = {
    val slots = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val width = if (mode == SaveMode.Append) math.min(8, slots) else slots
    // trying EVERY width: a powers-of-two probe would serialize any odd
    // bucket count (15, 21, any odd production sizing) through ONE task
    val parts = (math.min(width, nBuckets) to 1 by -1).find(nBuckets % _ == 0).getOrElse(1)
    val w = df.repartition(parts, col(bucketCol)).write.mode(mode)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
    path.foreach(p => w.option("path", p))
    w.saveAsTable(table)
  }

  /** Incremental ingest: keep only rows whose key is not yet in the
    * target (deep-field's exists_in_db skip, bbref_pages.py:58-63), as a
    * left_anti join — the fact side streams through one shuffle (or none
    * when the existing-keys side broadcasts).
    */
  def notYetIngested(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    notYetIngested(incoming, existing, Seq(key))

  def notYetIngested(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.head, keys.tail: _*).distinct(), keys, "left_anti")
}
