package graft
import org.apache.spark.sql.SparkSession

/** Benchmark harness: per-query wall time at SPARK_GRAFT_SF_DIR.
  *
  * Hygiene: execution is forced through the `noop` datasource sink —
  * a `.count()` would let Catalyst prune projections, benchmarking
  * narrow per-row queries (text_*, scoring pipelines) as little more
  * than scan+count. One untimed warm-up pass over every query (first
  * -touch parquet IO + the per-dir memoized caches), then
  * SPARK_GRAFT_BENCH_RUNS (default 3) timed passes run INTERLEAVED
  * (pass-by-pass round-robin over all queries, not run-by-run per
  * query), so a transient host-contention window inflates one pass of
  * many queries — absorbed by the per-query median — instead of all
  * runs of whichever query it lands on.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = LocalSession("graft-bench")
    // A failing query must fail LOUDLY: its time-to-crash is not a
    // benchmark number, and a silent catch would let a regression that
    // breaks a query read as a speedup. Errors are collected per
    // query, emitted in the JSON, and fail the process.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    val entries = SparkEntry.queries.toSeq
    // GC counters: deltas over the whole timed region distinguish "plan
    // regressed" from "pass went cold / GC storm" without a re-run
    // (round 9's contam_ngram false alarm). Totals only — per-query GC
    // attribution in a shared JVM would be noise.
    def gcTotals(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
    }
    // Warm-up pass, now TIMED per query as `cold_sec` (r19, VERDICT r18
    // item 2): for the result-memoized entries (curate_corpus,
    // semantic_dedup, bpe_apply, …) the timed passes below read a
    // (session, dir)-keyed memo, so their medians measure a LogicalRDD
    // noop-write, not the operator. The first pass is the one that
    // actually computes them — publish it. Caveats stated in the JSON
    // consumer docs (OPTIMIZATION_r19.md): cold_sec also carries
    // first-touch parquet IO and JIT warm-up, so it is an upper bound
    // on a cold query, and for non-memoized queries the warm median
    // stays the comparable number. The `queries` medians keep their
    // exact r18-and-earlier semantics — nothing removed or renamed.
    // Heap after full GCs before the cold pass, after it and after the
    // timed passes: what the session keeps (memo entries, sinks, caches).
    def heapAfterGcMb(): Double = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val heapBeforeCold = heapAfterGcMb()
    val coldTimes = entries.map { case (name, fn) => name -> once(name, fn) }
    val heapAfterCold = heapAfterGcMb()
    val (gcMs0, gcN0) = gcTotals()
    val passes = (1 to runs).map(_ => entries.map { case (name, fn) => once(name, fn) })
    val (gcMs1, gcN1) = gcTotals()
    val heapAfterTimed = heapAfterGcMb()
    val perQuery = entries.zipWithIndex.map { case ((name, _), i) =>
      name -> passes.map(_(i)).sorted
    }
    val results = perQuery.map { case (name, times) =>
      name -> times(times.length / 2)
    }.toMap
    def jsonStr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\n\\r\\t]", " ").take(300) + "\""
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query [min, median, max] over the timed passes: a wide spread
    // with a normal min means contention, not a plan change
    val spread = perQuery.map { case (k, ts) =>
      s"\"" + k + s"\":[${ts.head},${ts(ts.length / 2)},${ts.last}]"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"\"" + k + "\":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val coldJson = coldTimes.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val coldTotal = coldTimes.map(_._2).sum
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val gc = s""""gc_sec":${(gcMs1 - gcMs0) / 1e3},"gc_count":${gcN1 - gcN0}"""
    val heap = Seq("before_cold" -> heapBeforeCold, "after_cold" -> heapAfterCold,
      "after_timed" -> heapAfterTimed).map { case (k, v) => "\"" + k + "\":" + math.round(v * 10) / 10.0 }
      .mkString("\"heap_after_gc_mb\":{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"cold_sec":$coldJson,"cold_total_sec":$coldTotal,$gc,$heap,"runs":$runs,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // ALSO persist to a file: stdout alone has been destroyed three
    // rounds running (driver tail-truncation + rc=1), losing all
    // timing data. The file is written before any failure exit so
    // partial timings survive a red run.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"bench: could not write $outPath: $e") }
    spark.stop()
    // The driver's capture keeps only the LAST 2000 chars of stdout,
    // and the full line above is ~11 KB — BENCH_r8–r11 all landed
    // "parsed": null because the tail window started mid-line. Emit a
    // line that FITS the window as the very last thing this program
    // prints (after session shutdown): summary totals, the 25 slowest
    // query medians (the informative end of the profile), and a
    // pointer to the full per-query file.
    val topQs = results.toSeq.sortBy(-_._2).take(25)
      .map { case (k, v) => "\"" + k + "\":" + (math.round(v * 1000) / 1000.0) }
      .mkString("{", ",", "}")
    // cold (first-pass) times in the compact line too, trimmed to the
    // 12 slowest so the line still fits the driver's 2000-char stdout
    // tail window; the full cold_sec map is in the full-json file.
    val topCold = coldTimes.sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + (math.round(v * 100) / 100.0) }
      .mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":$topQs,"queries_truncated_to":25,"cold_total_sec":${math.round(coldTotal * 100) / 100.0},"cold_queries_top12":$topCold,$gc,$heap,"runs":$runs,"n_errors":${errors.size},"sf":"$sfDir","full_json":"$outPath"}"""
    println(compact)
    if (errors.nonEmpty) {
      System.err.println(s"bench: ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
