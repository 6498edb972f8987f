package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage cuts for iterative plans (PageRank, connected components,
  * BPE, distributed ntile).
  *
  * `localCheckpoint()` severs lineage and keeps the blocks ONLY on
  * executors — the fastest cut (no DFS write), but unrecoverable: on
  * a real cluster with dynamic allocation, losing one executor
  * mid-loop kills the job (no lineage left to replay, no reliable
  * replica). The reference's own fault-tolerance story is reliable
  * per-iteration model dirs (BaumWelchDriver.java:118-137); the
  * dataframe-loop equivalent is a reliable `checkpoint()` into
  * `spark.checkpoint.dir`.
  *
  * [[cut]] picks per-deployment: when a checkpoint dir is configured
  * (`sc.setCheckpointDir` / `spark.checkpoint.dir`, as any 100 TB
  * job conf would set) it takes the reliable, replayable path;
  * otherwise it falls back to eager `localCheckpoint()`. Both yield a
  * LogicalRDD so loop-step analysis cost stays O(1) in the step
  * number.
  *
  * Storage lifecycle differs by path. localCheckpoint blocks are
  * freed by the ContextCleaner once the RDD is unreferenced. Reliable
  * checkpoint FILES are not: Spark only deletes them when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
  * false, and read at context start — not settable after the fact).
  * An iterative loop that cut every step would therefore leave one
  * full dataset copy per step on the cluster FS for the application
  * lifetime. [[Loop]] is the fix: one handle per loop VARIABLE, whose
  * `cut` deletes the previous cut's checkpoint dir as soon as the new
  * cut is materialized (eager checkpoint ⇒ the new files are complete
  * and self-contained, so the superseded dir is provably dead).
  * Growth is then one checkpoint per live loop variable, not per
  * iteration.
  *
  * The reliable path also persists before checkpointing:
  * `Dataset.checkpoint(eager)` runs TWO jobs (the eager action, then
  * the ReliableCheckpointRDD file write), so without a persist the
  * upstream plan computes twice. The persist is dropped as soon as
  * the checkpoint files exist.
  */
object Lineage {
  def cut[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      try ds.checkpoint(eager = true)
      finally ds.unpersist(blocking = false)
    } else ds.localCheckpoint()

  /** The reliable-checkpoint dir backing a dataset returned by
    * [[cut]], if any (None on the localCheckpoint path).
    */
  private def checkpointDirOf(ds: Dataset[_]): Option[Path] =
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.getCheckpointFile.map(new Path(_))
      case _              => None
    }

  /** Delete the reliable-checkpoint dir backing a [[cut]] result once
    * nothing reads it any more (a memo entry swept with its stopped
    * context); a no-op on the localCheckpoint path.
    */
  private[graft] def dropCheckpoint(ds: Dataset[_]): Unit =
    checkpointDirOf(ds).foreach { p =>
      p.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** Per-loop-variable lineage manager: `loop.cut(next)` cuts like
    * [[cut]] and then deletes the checkpoint dir of the PREVIOUS cut
    * made through this handle — safe exactly because each handle
    * tracks one loop variable, where step N+1's eager cut supersedes
    * step N entirely. Do NOT route loop-invariant datasets (e.g. a
    * degree table read by every iteration) through a handle that also
    * cuts the iteration variable: use plain [[cut]] for those. The
    * FINAL cut's dir is kept — it backs the dataset handed to the
    * caller — so a loop leaves exactly one dir, not one per step.
    */
  final class Loop {
    private var last: Option[Path] = None

    def cut[T](ds: Dataset[T]): Dataset[T] = {
      val out = Lineage.cut(ds)
      checkpointDirOf(out).foreach { fresh =>
        val conf = ds.sparkSession.sparkContext.hadoopConfiguration
        last.filter(_ != fresh)
          .foreach(old => old.getFileSystem(conf).delete(old, true))
        last = Some(fresh)
      }
      out
    }

    /** Delete the final tracked checkpoint dir too — callable only
      * when the loop's last cut is fully consumed (e.g. its result
      * was collected to the driver), so no live dataset reads it.
      */
    def drop(spark: org.apache.spark.sql.SparkSession): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      last.foreach(p => p.getFileSystem(conf).delete(p, true))
      last = None
    }
  }
}
