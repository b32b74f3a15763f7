package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Resilience contract (round-8 postmortem — the driver's gate once
  * produced an empty `{}`): the oracle contract is written FIRST and the
  * query outputs land one directory per query as each finishes, with a
  * per-query progress/elapsed line on stderr — so a run killed or timed
  * out mid-way still leaves usable partial rows and names the query it
  * died in, instead of zeroing the whole round's signal.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name filter for local spot-checks
    // (the driver always passes exactly two args → runs everything)
    val keep: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_ => true)
    val spark = graft.engine.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Pin the s6/s7 star-oracle landing dir to THIS output dir (not the
    // default pid-scoped temp path): repeated — including name-filtered —
    // Verify runs against the same outDir then land and reference the
    // same files, so oracle_sql.json stays consistent with whatever a
    // previous full run landed instead of pointing at a fresh pid dir
    // nobody populated.
    graft.queries.ScrapeSuite.setStarOracleDir(
      new java.io.File(outDir).getAbsolutePath + "/_star_oracle")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the contract goes down BEFORE any query runs: a partial dump is
    // then checkable for every query directory that exists
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the RESTRICTED (md5 1/16 arrival-slice) twins of the fold oracles,
    // for big-corpus replays the full SQL cannot finish (tools/
    // check_slice.py consumes this; the driver's gate ignores it)
    val sliced = graft.queries.DocumentSuite.slicedScaleOracles
      .map { case (k, (sql, filt)) =>
        s"${q(k)}: {${q("oracle")}: ${q(sql)}, ${q("filter")}: ${q(filt)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/sliced_oracle_sql.json"), sliced)
    // cost-ascending, not alphabetical: a timeout then truncates only the
    // expensive scrape/streaming tail (see SparkEntry.gateOrder)
    val names = SparkEntry.gateOrder(SparkEntry.queries.keys).filter(keep)
    val t00 = System.nanoTime()
    names.zipWithIndex.foreach { case (name, i) =>
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(f"[verify ${i + 1}%2d/${names.size}] $name ok " +
          f"${(System.nanoTime() - t0) / 1e9}%.1fs (total ${(System.nanoTime() - t00) / 1e9}%.0fs)")
      } catch { case NonFatal(e) =>
        System.err.println(f"[verify ${i + 1}%2d/${names.size}] $name FAILED " +
          f"after ${(System.nanoTime() - t0) / 1e9}%.1fs: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
