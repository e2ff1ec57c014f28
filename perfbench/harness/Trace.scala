package perfbench

import scala.collection.mutable

/** One timed region of a traced pass. `layer` names the module the
  * time belongs to; the root span of a pass has no layer. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    op: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest through a parent stack and are
  * written out only when the run ends, so recording costs two clock
  * reads and one buffer append per span. */
final class SpanRecorder {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, layer: String, op: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, name, layer, parent, op, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}
