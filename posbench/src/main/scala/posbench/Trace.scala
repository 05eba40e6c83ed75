package posbench

import scala.collection.mutable.ArrayBuffer

/** One span: a call into a layer, with the span that caused it and the
  * id of the cycle or operation it belongs to. Times are nanoseconds
  * from the tracer's origin.
  */
final case class Span(id: Int, parent: Int, name: String, opId: Long,
    start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Disabled, `apply` only runs the body, so
  * an untraced run pays nothing for the call sites. Spans are kept
  * until the run ends and written out then.
  */
final class Tracer(val on: Boolean) {
  private val origin = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var opId: Long = -1L

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime() - origin
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, opId, t0, System.nanoTime() - origin)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Total seconds per span name. */
  def totals: Map[String, Double] =
    done.groupMapReduce(_.name)(_.seconds)(_ + _)

  /** Self seconds per layer: each span's duration minus the union of
    * its children's intervals.
    */
  def selfByLayer: Map[String, Double] = {
    val children = done.groupBy(_.parent)
    done.map { s =>
      val covered = Tracer.unionLength(
        children.get(s.id).fold(Seq.empty[(Long, Long)])(_.map(c => (c.start, c.end)).toSeq))
      s.layer -> (s.end - s.start - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    done.sortBy(_.id).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":${s.opId},"start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** Length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
