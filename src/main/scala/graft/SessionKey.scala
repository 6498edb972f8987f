package graft

import org.apache.spark.sql.SparkSession

/** Stable per-session cache-key prefix, shared by every per-(session,
  * dir) cache and scratch path: a counter minted once per session
  * OBJECT (identity-keyed WeakHashMap — the boxed-Long value holds no
  * reference back to the session, so the entry is collectable).
  * Unique for the JVM's lifetime, unlike identityHashCode, which can
  * collide across sessions.
  */
object SessionKey {
  private val ids = new java.util.WeakHashMap[SparkSession, java.lang.Long]()
  private val idGen = new java.util.concurrent.atomic.AtomicLong()

  def apply(spark: SparkSession): String = ids.synchronized {
    var id = ids.get(spark)
    if (id == null) { id = idGen.incrementAndGet(); ids.put(spark, id) }
    id.toString
  }
}
