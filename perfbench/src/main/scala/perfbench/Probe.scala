package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw between two span boundaries. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  /** (start, end) wall-clock millis of every finished job. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  var batches, inputRows, triggerMs, addBatchMs, commitMs = 0L
  var stateRows, stateMemBytes = 0L
  /** Largest output row count of any join in the executed plans. */
  var maxJoinRows = 0L

  def merge(o: Counters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    jobIntervals ++= o.jobIntervals
    batches += o.batches; inputRows += o.inputRows; triggerMs += o.triggerMs
    addBatchMs += o.addBatchMs; commitMs += o.commitMs
    stateRows += o.stateRows; stateMemBytes += o.stateMemBytes
    maxJoinRows = math.max(maxJoinRows, o.maxJoinRows)
    this
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_ms" -> taskMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "batches" -> batches, "input_rows" -> inputRows,
    "trigger_ms" -> triggerMs, "add_batch_ms" -> addBatchMs, "commit_ms" -> commitMs,
    "state_rows" -> stateRows, "state_mem_bytes" -> stateMemBytes,
    "max_join_rows" -> maxJoinRows)
}

/** The listeners the benchmark registers on the session it measures:
  * Spark jobs, stages and tasks; finished query executions (for the
  * SQL row counts of join operators); streaming progress.  Events
  * accumulate into the current segment, which the tracer takes at each
  * span boundary after draining the listener bus.
  */
final class Probe(spark: SparkSession) {
  private var seg = new Counters
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  // per streaming query: the state size at its latest progress
  private val stateNow = scala.collection.mutable.HashMap.empty[java.util.UUID, (Long, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      seg.jobs += 1
      seg.jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized { seg.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      seg.tasks += 1
      if (e.reason != Success) seg.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        seg.taskMs += m.executorRunTime
        seg.cpuNs += m.executorCpuTime
        seg.gcMs += m.jvmGCTime
        seg.inputBytes += m.inputMetrics.bytesRead
        seg.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        seg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        seg.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val rows = Probe.joinRows(qe.executedPlan)
      Probe.this.synchronized { seg.maxJoinRows = math.max(seg.maxJoinRows, rows) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        seg.batches += 1
        seg.inputRows += p.numInputRows
        seg.triggerMs += ms("triggerExecution")
        seg.addBatchMs += ms("addBatch")
        seg.commitMs += ms("walCommit") + ms("commitOffsets")
        val ops = p.stateOperators
        if (ops.nonEmpty)
          stateNow(p.id) = (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Drain the listener bus, then hand over everything counted since
    * the previous call. */
  def takeSegment(): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = seg
      stateNow.values.foreach { case (rows, mem) => out.stateRows += rows; out.stateMemBytes += mem }
      stateNow.clear()
      seg = new Counters
      out
    }
  }
}

object Probe {
  /** Every operator of an executed plan, looking through adaptive
    * query stages, reused exchanges and cached relations. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case r: ReusedExchangeExec => operators(r.child)
    case i: InMemoryTableScanExec => i +: operators(i.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(operators)
  }

  def joinRows(p: SparkPlan): Long =
    operators(p).iterator
      .filter(o => o.nodeName.contains("Join") || o.nodeName.contains("Cartesian"))
      .flatMap(_.metrics.get("numOutputRows").map(_.value))
      .foldLeft(0L)(math.max)
}
