package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the enclosing span on the same
  * thread (-1 at the root); `req` identifies the round, pass or micro-batch
  * the call belongs to, so spans of one request can be grouped.
  */
final case class Span(id: Int, layer: String, name: String, parent: Int, req: Int,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are only kept when `enabled` (the traced
  * run) and `active` (the traced run switches recording off for the passes
  * it compares against, to measure the tracing overhead); otherwise a call
  * pays one branch. Nothing is written until [[Main]] dumps the buffer at
  * the end of the run.
  */
final class Spans(val enabled: Boolean) {
  @volatile var active: Boolean = enabled

  private val buf = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  @volatile var request: Int = -1

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!(enabled && active)) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val req = request
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { buf += Span(id, layer, name, parent, req, start, end) }
      }
    }

  /** A span timed elsewhere (a micro-batch reported by a streaming listener). */
  def record(layer: String, name: String, parent: Int, req: Int, startNs: Long, endNs: Long): Unit =
    if (enabled && active) synchronized {
      buf += Span(nextId, layer, name, parent, req, startNs, endNs)
      nextId += 1
    }

  def all: Seq[Span] = synchronized(buf.toList)

  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "layer" -> s.layer, "name" -> s.name, "parent" -> s.parent,
    "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Spans {
  /** Measured cost of recording one span (nested, as the harness nests
    * them), in ns: the traced run's overhead estimate is this times the
    * spans it recorded.
    */
  def costNs(n: Int = 50000): Double = {
    val probe = new Spans(true)
    var sink = 0L
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += probe("probe", "outer")(probe("probe", "inner")(i.toLong)); i += 2 }
      (System.nanoTime() - t0).toDouble / n
    }.last + (if (sink == 42) 1 else 0)
  }
}
