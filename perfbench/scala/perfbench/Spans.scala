package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. A span is (id, parent,
  * name, start, end) in nanoTime; the parent is the innermost open span
  * on the calling thread. Disabled, `span` only runs its body. Spans are
  * written once, when the run ends; a span's self time is its duration
  * minus the union of its children's intervals. */
final class Spans(val enabled: Boolean) {
  import Spans.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0
  @volatile var recordNs = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val r0 = System.nanoTime()
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val start = System.nanoTime()
      recordNs += start - r0
      try body
      finally {
        val end = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized(done += Span(id, parent, name, start, end))
        recordNs += System.nanoTime() - end
      }
    }

  /** Record an interval measured elsewhere (e.g. a progress event). */
  def add(name: String, start: Long, end: Long): Unit = if (enabled) synchronized {
    nextId += 1
    done += Span(nextId, stack.get.headOption.getOrElse(0), name, start, end)
  }

  def all: Seq[Span] = synchronized(done.toList)

  /** name -> summed self seconds. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        iv.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = curE max b
        }
        if (curE > curS) covered += curE - curS
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
}
