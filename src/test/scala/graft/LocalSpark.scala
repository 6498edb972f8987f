package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs. */
object LocalSpark {
  lazy val spark: SparkSession = {
    // the mains' session setup under a pinned environment, so the specs
    // see one layout whatever the host or the caller's GRAFT_CONF
    val builder = SparkSession.builder().appName("graft-test")
    LocalSession.settings(Map("SPARK_GRAFT_CPUS" -> "4")).foreach { case (k, v) =>
      builder.config(k, v)
    }
    val s = builder.getOrCreate()
    // snapshot hygiene keys before ANY spec can touch the conf: every
    // conf access goes through spark.conf, which forces this initializer
    // first, so the snapshot can never baseline already-polluted values
    snapshot = Some(hygieneKeys.map(k =>
      k -> scala.util.Try(s.conf.get(k)).toOption.flatMap(Option(_))).toMap)
    s
  }

  @volatile private var snapshot: Option[Map[String, Option[String]]] = None

  val sfDir = "/root/testdata/sf0.001"

  /** Temporarily set session confs around `body`, restoring afterwards.
    *
    * Hygiene rules (round-9 cross-suite pollution class):
    *   - `conf.get` may return NULL for keys with no non-null default
    *     (e.g. spark.sql.adaptive.autoBroadcastJoinThreshold): a null save
    *     means "was unset", never a restorable value — restoring it via
    *     `conf.set(k, null)` throws and strands every later key.
    *   - each key restores inside its own Try so one bad key can never
    *     abort the loop and leave test-sized thresholds in the shared
    *     session for every suite that runs after.
    */
  def withSessionConf[A](pairs: (String, String)*)(body: => A): A = {
    pristineConf // snapshot hygiene keys BEFORE the first mutation
    val conf = spark.conf
    val saved = pairs.map { case (k, _) =>
      k -> scala.util.Try(conf.get(k)).toOption.flatMap(Option(_))
    }
    try {
      pairs.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally saved.foreach { case (k, prev) =>
      scala.util.Try(prev match {
        case Some(v) => conf.set(k, v)
        case None    => conf.unset(k)
      })
    }
  }

  /** Keys that, if stranded by a conf-mutating spec, poison every later
    * suite in the shared JVM (broadcast disabled → phantom cartesians). */
  val hygieneKeys: Seq[String] = Seq(
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes")

  /** Pristine values of the hygiene keys, captured eagerly inside the
    * `spark` initializer (so it is always taken before any spec can
    * mutate the session conf — suite ordering is not fixed). null-valued
    * keys (no non-null default) snapshot as None. */
  def pristineConf: Map[String, Option[String]] = { spark; snapshot.get }

  /** Fail loudly (with the offending keys) if a prior suite left the shared
    * session in a non-pristine state. Call from beforeAll of plan-sensitive
    * suites and afterAll of conf-mutating ones: a poisoned session should
    * fail HERE with a clear message, not as a phantom plan regression. */
  def assertSessionHygiene(where: String): Unit = {
    val conf = spark.conf
    val dirty = pristineConf.toSeq.sortBy(_._1).flatMap { case (k, want) =>
      val cur = scala.util.Try(conf.get(k)).toOption.flatMap(Option(_))
      if (cur != want) Some(s"$k=${cur.getOrElse("<unset>")} (pristine ${want.getOrElse("<unset>")})")
      else None
    }
    assert(dirty.isEmpty,
      s"shared session poisoned at $where: ${dirty.mkString(", ")} — " +
        "a conf-mutating spec failed to restore (use LocalSpark.withSessionConf)")
  }

  /** True iff `df` is a lineage cut ([[graft.Lineage.cut]], what every
    * [[graft.Memo]] entry is): its analyzed plan is a single LogicalRDD
    * over an already-checkpointed RDD — materialized rows, not a
    * replayable plan.
    */
  def isLineageCut(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.isCheckpointed
      case _                                             => false
    }
}
