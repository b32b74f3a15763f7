package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated star schema (TESTDATA.md).
  *
  * All loaders are plain parquet scans: projection and predicate pushdown
  * are left to Catalyst (verified in `PlanAuditSpec`). At cluster scale the
  * same call reads a partitioned table; nothing here assumes single-file
  * layout.
  *
  * SCHEMA MEMO. `spark.read.parquet(path)` with no schema infers it by
  * reading a footer inside a Spark job of its own, on every call. Every
  * load here goes through [[parquet]], which memoizes the inferred
  * schema per session, WEAKLY keyed by the session (the entry dies with
  * it). Within a session a memoized schema serves a load only when all
  * of these match:
  *  - the path;
  *  - the reader options (the events stream's `pathGlobFilter`);
  *  - the session's values of the confs that change what parquet
  *    inference returns (`SchemaConfs`, `nanosAsLong` among them);
  *  - a fingerprint of the leaf files: name, length and mtime of every
  *    file the read lists, through its own filesystem and glob.
  * The first load of a key runs Spark's own inference, unchanged; every
  * later one reads with `spark.read.schema(memoized)`, which lists the
  * files but runs no job, and keeps that relation only if its listing
  * matches the fingerprint. A file set rewritten in place (another file
  * name, length or mtime) infers again and replaces the entry: a new
  * shape is never read through the old schema. Every call returns a
  * FRESH relation with fresh expression ids, never a cached DataFrame,
  * so two loads of one table self-join like two scans.
  */
object Tables {
  /** Session confs that change the schema parquet inference returns. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private final case class SchemaKey(path: String, options: Map[String, String],
                                     confs: Seq[Option[String]])
  /** A memoized inference: the schema and the leaf files it was read from. */
  private final case class Inferred(files: Seq[(String, Long, Long)], schema: StructType)

  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, Inferred]]()

  /** (name, length, mtime) of every file `df` scans, read back from the
    * file index Spark built for it: the listing, filesystem and glob of
    * the read itself, at no second listing.
    */
  private def leafFiles(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.listFiles(Nil, Nil) }
      .flatten.flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted

  /** A parquet scan of `path` with `options`, its schema taken from the
    * session's memo (see the object doc).
    */
  private[graft] def parquet(spark: SparkSession, path: String,
                             options: Map[String, String] = Map.empty): DataFrame = {
    def reader = spark.read.options(options) // a reader is mutable: one per read
    val key = SchemaKey(path, options, SchemaConfs.map(spark.conf.getOption))
    val memo = schemas.synchronized {
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[SchemaKey, Inferred]())
    }
    Option(memo.get(key))
      .map(m => (m.files, reader.schema(m.schema).parquet(path)))
      .collect { case (files, df) if leafFiles(df) == files => df }
      .getOrElse {
        val df = reader.parquet(path)
        memo.put(key, Inferred(leafFiles(df), df.schema))
        df
      }
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `events.ts` has shipped in two physical shapes across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects outright — read as a nanos LONG via the legacy conf)
    * and plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark
    * reads as TIMESTAMP_NTZ). [[normalizeEventTs]] maps either to the
    * engine-wide convention: a micros-precision TIMESTAMP in the
    * session's UTC zone. Truncation, not rounding, on the nanos path,
    * matching how every ms/sec-level comparison floors.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(t(spark, dir, "events"))
  }

  /** Surface `ts` as a micros TIMESTAMP regardless of physical type.
    * The NTZ→LTZ cast reinterprets the naive value in the session time
    * zone, which [[graft.engine.GraftSession]] pins to UTC — the same
    * instant DuckDB's oracle sees reading the file natively.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, expr, lit, raise_error, timestamp_micros, when}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Nanos-only LONG contract guard: a future testdata generation
    // shipping millis or micros as INT64 would otherwise be silently
    // scaled 1000x wrong. Any nanos-since-epoch value after 1990 exceeds
    // 6.3e17 while micros/millis stay below ~4e15, so a lower bound
    // separates the encodings; the check is one codegen'd comparison per
    // row (no driver-side sampling job) and raises on the first bad row.
    val NanosFloor = 631152000000000000L // 1990-01-01T00:00Z in nanos
    df.schema("ts").dataType match {
      // integer division: `/` would promote the ~1e18 ns long to double
      // (53-bit mantissa) and floor to the wrong microsecond for ~12% of
      // ms-aligned values
      case LongType =>
        // NULL passes through as a NULL timestamp (what the NTZ path and
        // the DuckDB oracle both produce) — without the explicit branch a
        // null ts would fall into raise_error with a NULL-concat message,
        // aborting the load with an undiagnosable null-message error
        df.withColumn("ts", timestamp_micros(
          when(col("ts").isNull, lit(null).cast(LongType))
            .when(col("ts") >= NanosFloor, expr("ts div 1000"))
            .otherwise(raise_error(concat(
              lit("events.ts LONG is not nanos-since-epoch (got "),
              col("ts").cast("string"), lit(")"))))))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
