package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Session-scoped memoization of derived relations: the one memo
  * mechanism of the operator families.
  *
  * Materialization policy: an entry keeps ROWS, never a plan. The
  * caller passes the unmaterialized build and the memo stores
  * [[Lineage.cut]] of it, run inside `computeIfAbsent`, so concurrent
  * callers of one key wait for a single build. Once the cut has run,
  * the build plan (its broadcast hash relations, a Tungsten page each)
  * is garbage, and consumers read an O(1) LogicalRDD instead of
  * re-analyzing it. A cut materializes the same rows in the same
  * partition order, so outputs are unchanged.
  *
  * Key: (session, [[Tables.contentKey]] of the table the build reads,
  * params). Cut blocks die with their SparkContext, so another session
  * never sees them, and an in-place corpus rewrite is a miss, never a
  * stale hit. Entries of a STOPPED context are swept on every access,
  * with their reliable-checkpoint dir. Each `name` gets its own map: a
  * build may memoize a sub-relation (ngram → shingles), and a nested
  * computeIfAbsent on one ConcurrentHashMap fails.
  */
object Memo {
  private val caches = new ConcurrentHashMap[String, ConcurrentHashMap[String, DataFrame]]()

  def apply(name: String, spark: SparkSession, dir: String, table: String, params: Any*)(
      build: => DataFrame): DataFrame = {
    val cache = caches.computeIfAbsent(name, _ => new ConcurrentHashMap[String, DataFrame]())
    val it = cache.values().iterator()
    while (it.hasNext) {
      val df = it.next()
      if (df.sparkSession.sparkContext.isStopped) { Lineage.dropCheckpoint(df); it.remove() }
    }
    val key = (Seq(SessionKey(spark), Tables.contentKey(spark, dir, table)) ++ params).mkString("|")
    cache.computeIfAbsent(key, _ => Lineage.cut(build))
  }
}
