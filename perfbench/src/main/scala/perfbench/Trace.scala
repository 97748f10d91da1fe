package perfbench

import scala.collection.mutable

/** One traced call into a public entry point of the engine. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, runId: String) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name, "run_id" -> runId,
    "start_s" -> startNs / 1e9, "end_s" -> endNs / 1e9)
}

/** In-memory span recorder. Spans nest by call order (parent −1 is a
  * root) and are written out once, when the run ends. Disabled, `span`
  * runs its body and records nothing.
  */
final class Trace(val runId: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime() - t0
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, start, System.nanoTime() - t0, runId)
      }
    }

  def all: Seq[Span] = spans.sortBy(_.id).toSeq
}
