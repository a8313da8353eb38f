package graft.perfbench

import scala.collection.mutable

/** One timed call into a layer: `parent` is the id of the enclosing span
  * (-1 at the root), `traceId` the shard key or query name it belongs to.
  */
final case class Span(id: Int, name: String, traceId: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for single-threaded code. Spans nest by call
  * order; nothing is written until [[json]] is called at the end of a run.
  * A disabled tracer runs the body and records nothing, which is how the
  * untraced twin of a traced replay is timed.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String, traceId: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, name, traceId, parent, System.nanoTime(), 0L)
      open = id :: open
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        open = open.tail
      }
    }

  // System.nanoTime() minus wall-clock nanos, to place events timed in
  // epoch milliseconds (Spark's listener events) on the spans' time base
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Add a span observed elsewhere in epoch milliseconds (e.g. a Spark job). */
  def record(name: String, traceId: String, parent: Int, startMs: Long, endMs: Long): Unit =
    spans += Span(spans.size, name, traceId, parent,
      startMs * 1000000L + epochToNano, endMs * 1000000L + epochToNano)

  def lastId: Int = spans.size - 1

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  /** Σ duration per span name. */
  def total(name: String): Double = spans.iterator.filter(_.name == name).map(_.seconds).sum

  /** Σ self time (duration minus direct children) per span name. */
  def selfSeconds: Map[String, Double] = {
    val child = new Array[Double](spans.size)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    spans.groupMapReduce(_.name)(s => s.seconds - child(s.id))(_ + _)
  }

  def json: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val ss = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","trace":"${Json.esc(s.traceId)}","parent":${s.parent},""" +
        s""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }
    val cs = counters.map { case (k, v) => s""""$k":${Json.num(v)}""" }
    val self = selfSeconds.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
    s"""{"spans":${ss.mkString("[", ",\n", "]")},"counters":${cs.mkString("{", ",", "}")},""" +
      s""""self_s":${self.mkString("{", ",", "}")}}"""
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
