package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession setup every graft `main` runs on (Bench,
  * Verify, TrainHmm and the tools):
  *
  *   - `local[cpus]` and `spark.sql.shuffle.partitions = cpus`, where
  *     cpus is SPARK_GRAFT_CPUS if set, else every core of the host
  *   - UTC session time zone (`Tables.normalizeEventTs` reads NTZ
  *     timestamps as UTC), UI off, log level WARN
  *   - GRAFT_CONF="k=v;k=v" entries, applied LAST so they override
  *     everything above — including `spark.master`. The layout-
  *     differential gate (tools/layout_gate.sh) runs the whole surface
  *     under an adversarial layout this way (odd parallelism, AQE off,
  *     auto-broadcast off, tiny input splits, interpreted expressions).
  */
object LocalSession {
  def apply(app: String): SparkSession = {
    val builder = SparkSession.builder().appName(app)
    settings(sys.env).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session confs `apply` sets for environment `env`. */
  private[graft] def settings(env: Map[String, String]): Map[String, String] = {
    val cpus = env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors).toString
    val overrides = env.get("GRAFT_CONF").toSeq
      .flatMap(_.split(';').filter(_.nonEmpty)).map { kv =>
        require(kv.contains("="), s"bad GRAFT_CONF entry (expected key=value): '$kv'")
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ overrides
  }
}
