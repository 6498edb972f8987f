package graft.tools

import org.apache.spark.sql.SparkSession

/** Profiling probe for the stateful streaming entries (not part of
  * the driver contract): times a named SparkEntry streaming query
  * under a sweep of `graft.stream.statePartitions` values — the
  * explicit state-store partition count every in-process stream run
  * starts with (StreamingJobs.withStateParts). Usage:
  *
  *   runMain graft.tools.StreamProbe <sfDir> <query...>
  *
  * GRAFT_STREAM_PARTS=<n,n,...> overrides the sweep. Each (parts,
  * query) cell re-runs the FULL stream (these entries execute on
  * construction), so the numbers are end-to-end wall times of the same
  * work at different state layouts; the warm-up run uses the
  * input-sized default, and the conf is unset after each query's sweep.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("stream_join")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sweep = sys.env.get("GRAFT_STREAM_PARTS")
      .map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(Seq(cpus.toInt, 16, 8, 4, 2, 1))
    for (name <- names) {
      val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      // one warm-up run at the session default (parquet IO, JIT)
      fn(spark, dir).write.mode("overwrite").format("noop").save()
      for (p <- sweep) {
        spark.conf.set("graft.stream.statePartitions", p.toString)
        spark.sparkContext.setJobDescription(s"streamprobe: $name parts=$p")
        val t0 = System.nanoTime()
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[streamprobe] $name%-24s parts=$p%-3d $sec%8.3f s")
      }
      spark.conf.unset("graft.stream.statePartitions")
    }
    spark.stop()
  }
}
