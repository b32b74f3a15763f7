package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Pins the loader contracts in [[graft.sources.Tables]] — above all the
  * events.ts physical-type normalization, whose failure mode is a silent
  * 1000x timestamp scale error (ADVICE r10), and the schema memo: a
  * repeat load runs no job, a rewritten table is re-inferred, and every
  * load is a fresh relation.
  */
class TablesSpec extends SparkSpec {

  test("normalizeEventTs truncates a nanos LONG ts to micros") {
    import spark.implicits._
    // 2025-01-01T00:00:00.123456789Z — the trailing 789 ns must truncate,
    // not round (matching how every downstream ms/sec comparison floors)
    val out = Tables.normalizeEventTs(Seq(1735689600123456789L).toDF("ts"))
    assert(out.schema("ts").dataType.typeName == "timestamp")
    assert(out.select(unix_micros(col("ts"))).head.getLong(0) == 1735689600123456L)
  }

  test("normalizeEventTs raises on a non-nanos INT64 ts instead of scaling it 1000x") {
    import spark.implicits._
    // the same instant encoded as MILLIS: under the old behavior this
    // would silently become 1970-01-21; now it must fail loudly
    val e = intercept[Exception] {
      Tables.normalizeEventTs(Seq(1735689600123L).toDF("ts")).collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse("")).mkString("\n")
    assert(chain.contains("nanos"), s"unexpected error chain:\n$chain")
  }

  test("events loader surfaces ts as a micros timestamp at gate scale") {
    val ev = Tables.events(spark, sfDir)
    assert(ev.schema("ts").dataType.typeName == "timestamp")
    // plausibility: every testdata generation puts events in 2020-2030
    val (lo, hi) = (1577836800L, 1893456000L)
    val r = ev.agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts")))).head
    assert(r.getLong(0) >= lo && r.getLong(1) <= hi,
      s"events.ts outside the plausible window: ${r.getLong(0)}..${r.getLong(1)}")
  }

  test("a second load of a table runs no Spark job and keeps Spark's inferred schema") {
    val sc = spark.sparkContext
    val log = new Prof.JobLog
    sc.addSparkListener(log)
    try {
      Tables.lineitem(spark, sfDir)
      val second = log.record(sc)(Tables.lineitem(spark, sfDir))
      assert(second.jobs.isEmpty, s"the second load ran jobs: ${second.jobs}")
      assert(second.value.schema == spark.read.parquet(s"$sfDir/lineitem.parquet").schema)
    } finally sc.removeSparkListener(log)
  }

  test("a table rewritten with an extra column shows that column on the next load") {
    import spark.implicits._
    val dir = graft.sources.Spool.tempRoot("tables_rewrite")
    val path = s"$dir/orders.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "o_comment").write.parquet(path)
    (1 to 2).foreach { _ =>
      assert(Tables.orders(spark, dir).columns.toSeq == Seq("o_orderkey", "o_comment"))
    }
    Seq((3L, "c", 7)).toDF("o_orderkey", "o_comment", "o_extra")
      .write.mode("overwrite").parquet(path)
    val again = Tables.orders(spark, dir)
    assert(again.columns.toSeq == Seq("o_orderkey", "o_comment", "o_extra"))
    assert(again.select("o_extra").collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("two loads of one table are two relations: their self-join resolves both sides") {
    val (a, b) = (Tables.orders(spark, sfDir), Tables.orders(spark, sfDir))
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty, "the two loads share expression ids")
    val pairs = a.join(b, a("o_custkey") === b("o_custkey") && a("o_orderkey") < b("o_orderkey"))
    val want = a.groupBy("o_custkey").count()
      .select(sum(col("count") * (col("count") - 1) / 2).cast("long")).head.getLong(0)
    assert(pairs.count() == want)
  }
}
