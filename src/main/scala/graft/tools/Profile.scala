package graft.tools

/** Per-query profile (not part of the driver contract):
  *
  *   runMain graft.tools.Profile <sfDir> <outDir> <query|query#part...>
  *
  * For each named SparkEntry query (`name#part` resolves the pre-cut
  * build plans of `SparkEntry.auditPlans`): runs it twice through the
  * noop sink, which computes every column of every row, so narrow
  * per-row work is actually timed, unlike count(). It prints the cold
  * time (first pass: first-touch parquet IO, JIT warm-up and the
  * per-(session, dir) memo builds) and the warm time (the state
  * Bench's timed passes see), then writes the warm pass's formatted
  * post-execution plan to `<outDir>/<query>.txt`. The session is
  * [[graft.LocalSession]], the one Bench and Verify run on, so the
  * captured plans are the plans they run; GRAFT_CONF changes it.
  *
  * Recipes:
  *   - plan of one memoized entry, e.g. the connected-components
  *     fixpoint: `Profile <sf> <out> dedup_groups`
  *   - pagerank's loop with AQE off: `GRAFT_CONF=spark.sql.adaptive.enabled=false
  *     Profile <sf> <out> pagerank pagerank#step`
  *   - state-store partition sweep of a streaming entry, one JVM per
  *     value: `for p in 32 16 8 4 2 1; do GRAFT_CONF=graft.stream.statePartitions=$p
  *     Profile <sf> <out>/p$p stream_join; done`
  *   - dedup_substring's build against its apply step:
  *     `Profile <sf> <out> dedup_substring dedup_substring_apply dedup_substring_apply#build`
  *   - operator choices (broadcast vs sort-merge join, top-k vs global
  *     sort, pushed filters, read schemas): grep the written plans.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Profile <sfDir> <outDir> <query|query#part...>")
    val dir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.LocalSession("graft-profile")
    args.drop(2).foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        graft.SparkEntry.auditPlans.getOrElse(name,
          sys.error(s"unknown query '$name'")))
      spark.sparkContext.setJobDescription(s"profile: $name")
      def pass(): (Double, org.apache.spark.sql.DataFrame) = {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        df.write.mode("overwrite").format("noop").save()
        ((System.nanoTime() - t0) / 1e9, df)
      }
      val (cold, _) = pass()
      val (warm, df) = pass()
      // explain AFTER execution so AQE-finalized choices are visible in
      // the text where the plan is adaptive
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"),
        f"-- $name%s  noop-sink cold: $cold%.3f s  warm: $warm%.3f s  ($dir%s)\n" + plan)
      println(f"[profile] $name%-32s cold $cold%8.3f s  warm $warm%8.3f s -> $outDir/$name.txt")
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
