package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is -1 for an op's root span. */
final case class Span(op: String, id: Int, name: String, parent: Int,
    startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are opened around the benchmark's own
  * calls into the program's public functions; each op gets its own id and
  * one root span. Nothing is written until [[toJson]] at the end. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = ""

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(op, id, name, parent, System.nanoTime(), 0L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Opens a new op (its own id) whose root span is named `name`. */
  def op[T](opId: String, name: String)(body: => T): T = {
    op = opId
    span(name)(body)
  }

  /** Self time per span name within one op: duration minus the part of it
    * its child spans cover. */
  def selfTimes(opId: String): Map[String, Double] = {
    val mine = spans.filter(_.op == opId)
    val childSum = mine.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durS).sum }
    mine.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durS - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def rootS(opId: String): Double =
    spans.find(s => s.op == opId && s.parent == -1).map(_.durS).getOrElse(0.0)

  def toJson: String = spans.map { s =>
    s"""{"op":"${s.op}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
