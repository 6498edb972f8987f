package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced call: a named interval with the span that caused it and
  * the listener counters seen while it was the innermost open span. */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  var endNs: Long = startNs
  /** Wall-clock millis, the time base of Spark's listener events. */
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = startMs
  val self = new Counters
  val children = ArrayBuffer.empty[Span]
  def seconds: Double = (endNs - startNs) / 1e9
  def selfSeconds: Double = (endNs - startNs - children.map(c => c.endNs - c.startNs).sum) / 1e9
  def subtree: Iterator[Span] = Iterator.single(this) ++ children.iterator.flatMap(_.subtree)
  /** Counters of this span and everything under it. */
  def inclusive: Counters = subtree.foldLeft(new Counters)((acc, s) => acc.merge(s.self))
}

/** Spans around the benchmark's calls into graft, kept in memory and
  * written out when the run ends.  With `probe = None` (the untraced
  * run) `span` only runs its body. */
final class Tracer(probe: Option[Probe], val runId: String) {
  private val stack = scala.collection.mutable.Stack.empty[Span]
  val roots = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T = probe match {
    case None => body
    case Some(p) =>
      boundary(p)
      val parent = stack.headOption
      val s = new Span(nextId, parent.fold(-1)(_.id), name, System.nanoTime())
      nextId += 1
      parent.fold(roots += s)(_.children += s)
      stack.push(s)
      try body
      finally {
        boundary(p)
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
      }
  }

  /** Counters since the last boundary belong to the span open then. */
  private def boundary(p: Probe): Unit = {
    val seg = p.takeSegment()
    stack.headOption.foreach(_.self.merge(seg))
  }

  def toJson: String = Json(Map(
    "run_id" -> runId,
    "spans" -> roots.iterator.flatMap(_.subtree).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> s.selfSeconds, "run_id" -> runId, "counters" -> s.self.toMap)
    }.toSeq))
}
