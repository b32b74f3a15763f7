package graft

import scala.util.control.NonFatal

import graft.engine.GraftSession

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // warm up codegen/JIT and the page/file caches of EVERY benchmarked
    // input so the first timed reader of each doesn't absorb one-time
    // cold-IO costs; every input is touched equally, outside every timed
    // region, and no timed query's own plan is pre-compiled. The noop
    // sink (guide §1.4) reads every COLUMN BYTE — the old count() warmed
    // parquet footers only, so a dropped page cache (the r19 driver run)
    // landed the full cold-disk cost on whichever timed query read each
    // input first, 8–21× skew on untouched single-scan keys. This is
    // variance reduction for attribution, never result caching: nothing
    // computed here is a query, and nothing is persisted.
    // An unreadable input is named on stderr and the run goes on: the
    // queries that read it then fail in the timed loop, flagged ok:false.
    def warm(path: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      try df.write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] warm-up of $path failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      val path = s"$sfDir/$t.parquet"
      warm(path)(spark.read.parquet(path))
    }
    // events needs the nanos conf; warm through the same loader queries use
    warm(s"$sfDir/events.parquet")(graft.sources.Tables.events(spark, sfDir))
    // the s-family reads the HTML fixture tree (wholetext), never touched
    // by the table loop above
    val fixtures = graft.queries.ScrapeSuite.FixtureDir
    warm(fixtures)(graft.sources.HtmlSource.pages(spark, fixtures))
    // per-query progress on stderr (stdout stays the single JSON line);
    // cost-ascending order (SparkEntry.gateOrder) so a wall-clock-limited
    // run finishes the cheap queries before the scrape/streaming tail
    val ordered = SparkEntry.gateOrder(SparkEntry.queries.keys)
      .map(n => n -> SparkEntry.queries(n))
    val t00 = System.nanoTime()
    var results = Vector.empty[(String, Double, Boolean)]
    // complete machine-readable JSON of the results-so-far: a run killed
    // mid-way (round 9's bench died rc=124 → "parsed": null) leaves this
    // file parseable for everything that completed; "partial":true marks
    // a snapshot, the final rewrite drops the flag
    def resultJson(rs: Seq[(String, Double, Boolean)], partial: Boolean): String = {
      // a failed query records its time-to-fail but is flagged ok:false —
      // a crash must never read as a fast success. Successes omit the
      // (default-true) flag and secs round to 3 decimals: the driver
      // keeps only a 2000-char stdout tail and every byte shaved lets
      // more per-query entries survive the truncation (r19 VERDICT #3).
      val qs = rs.map { case (k, v, ok) =>
        val okField = if (ok) "" else ""","ok":false"""
        s"""\"$k\":{"sec":${math.round(v * 1000) / 1000.0}$okField}"""
      }.mkString("{", ",", "}")
      val failed = rs.filterNot(_._3).map(_._1)
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val partialField = if (partial) s""","partial":true,"completed":${rs.size},"of":${ordered.size}""" else ""
      s"""{"metric":"total","value":${rs.map(_._2).sum},"unit":"sec","queries":$qs,"failed":${failed.size},"failed_queries":$failedJson,"sf":"$sfDir"$partialField}"""
    }
    val partialPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PARTIAL", "BENCH_PARTIAL.json"))
    ordered.zipWithIndex.foreach { case ((name, fn), i) =>
      // one full GC at the streaming-family boundary: the ~66 batch
      // queries before it leave old-gen debt that otherwise lands on the
      // first stateful drains (measured r11: st2 14.8s late-JVM vs 5.1s
      // fresh-JVM, same code/data/idle host). Collecting OUTSIDE the
      // timed region keeps each query's number attributable to the
      // query, not to heap history; one collection costs far less wall
      // than the noise it removes.
      if (name.startsWith("st") && (i == 0 || !ordered(i - 1)._1.startsWith("st")))
        System.gc()
      val t0 = System.nanoTime()
      // evaluate via the ALREADY-PLANNED physical plan (toRdd), not
      // .count(): count() wraps the query in a fresh Aggregate and the
      // optimizer then prunes every column the count doesn't need — for
      // map-only queries (t12 kernel, a4 quantize) the timed run would
      // execute only the scan, and even grouped queries would drop
      // unreferenced aggregate expressions. toRdd.count() materializes
      // every output row of the plan as built, so the number measures
      // the query, not a column-pruned shadow of it. (r12 ADVICE.)
      val ok =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          System.err.println(
            s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      results :+= ((name, sec, ok))
      System.err.println(f"[bench ${i + 1}%2d/${ordered.size}] $name " +
        f"$sec%.2fs ok=$ok (total ${(System.nanoTime() - t00) / 1e9}%.0fs)")
      // atomic-enough rewrite (tmp + move) so a kill mid-write can't
      // leave a torn JSON file behind
      try {
        val tmp = partialPath.resolveSibling(partialPath.getFileName.toString + ".tmp")
        java.nio.file.Files.writeString(tmp, resultJson(results, partial = true) + "\n")
        java.nio.file.Files.move(tmp, partialPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case _: Throwable => () } // partial file is best-effort
    }
    val finalJson = resultJson(results, partial = false)
    try java.nio.file.Files.writeString(partialPath, finalJson + "\n")
    catch { case _: Throwable => () }
    println(finalJson)
    // compact per-family summary as the FINAL stdout line: the driver
    // stores a 2000-char stdout tail, which the ~4 KB full line has
    // overflowed every round (BENCH_r01–r19 all `parsed: null`) — this
    // line plus sbt's footer fits the tail whole, so the round-over-round
    // total finally parses. Full per-query data stays in the line above
    // and in BENCH_PARTIAL.json (authoritative, rewritten per query).
    val fams = results.groupBy { case (k, _, _) => k.takeWhile(!_.isDigit) }
      .toSeq.sortBy(_._1)
      .map { case (f, rs) =>
        s""""$f":${math.round(rs.map(_._2).sum * 1000) / 1000.0}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${results.map(_._2).sum},""" +
      s""""unit":"sec","n":${results.size},"failed":${results.count(!_._3)},""" +
      s""""families":$fams,"sf":"$sfDir"}""")
    spark.stop()
  }
}
