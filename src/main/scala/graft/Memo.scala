package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.sources.Tables

/** Session-scoped memoization of derived state: the one cache
  * mechanism of the library. It has two scopes over one key and one
  * sweep.
  *
  *   - [[value]], the pure-data scope: driver-side results such as
  *     Lloyd centroids, PQ codebooks, BPE merge tables and trained
  *     models (the model the reference broadcasts as data,
  *     BaumWelchDriver.java:118-137), and Sequencer's per-corpus
  *     vocabulary and sequences.
  *   - [[apply]], the frame scope: [[value]] applied to
  *     [[Lineage.cut]] of the build. An entry keeps ROWS, never a
  *     plan. Once the cut has run, the build plan (its broadcast hash
  *     relations, a Tungsten page each) is garbage, and consumers read
  *     an O(1) LogicalRDD instead of re-analyzing it. A cut
  *     materializes the same rows in the same partition order, so
  *     outputs are unchanged.
  *
  * Key: (session, [[Tables.contentKey]] of the table the build reads,
  * params). Entries are bound to their session's context, so another
  * session never sees them, and an in-place corpus rewrite is a miss,
  * never a stale hit. The build runs inside `computeIfAbsent`, so
  * concurrent callers of one key wait for a single build. Entries of
  * a STOPPED context are swept on every access, a frame entry with
  * its reliable-checkpoint dir. Each `name` gets its own map: a build
  * may memoize a sub-result (ngram → shingles, model → vocabulary),
  * and a nested computeIfAbsent on one ConcurrentHashMap fails.
  *
  * No library call leaves a CacheManager entry behind, with one
  * exception by design: Sequencer's sequences persist lazily inside
  * their value entry. The EM trainer iterates them once per
  * iteration, as the reference caches its input sequences, and a cut
  * there would move the trainer's Spark work and retained heap.
  */
object Memo {
  private final case class Entry(sc: SparkContext, value: Any)

  private val caches = new ConcurrentHashMap[String, ConcurrentHashMap[String, Entry]]()

  def apply(name: String, spark: SparkSession, dir: String, table: String, params: Any*)(
      build: => DataFrame): DataFrame =
    value(name, spark, dir, table, params: _*)(Lineage.cut(build))

  def value[T](name: String, spark: SparkSession, dir: String, table: String, params: Any*)(
      build: => T): T = {
    val cache = caches.computeIfAbsent(name, _ => new ConcurrentHashMap[String, Entry]())
    cache.values().removeIf { e =>
      val stopped = e.sc.isStopped
      if (stopped) e.value match {
        case ds: Dataset[_] => Lineage.dropCheckpoint(ds)
        case _              =>
      }
      stopped
    }
    val key = (Seq(SessionKey(spark), Tables.contentKey(spark, dir, table)) ++ params).mkString("|")
    cache.computeIfAbsent(key, _ => Entry(spark.sparkContext, build)).value.asInstanceOf[T]
  }
}
