package graft.perfbench

import java.io.PrintWriter

import scala.collection.mutable.ArrayBuffer

/** Spans recorded by the traced run, kept in memory and written out
  * when the run ends. Times are epoch microseconds. A span's parent is
  * the innermost earlier span that covers it, so the recording sites
  * need not know each other. */
final class Trace {
  import Trace.Span

  private val spans = ArrayBuffer[Span]()
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def usOfNanoTime(ns: Long): Long = (ns + epochOffsetNs) / 1000L

  def add(name: String, startUs: Long, endUs: Long): Unit = synchronized {
    spans += Span(name, startUs, math.max(startUs, endUs), spans.size)
  }

  def addNanos(name: String, startNs: Long, endNs: Long): Unit =
    add(name, usOfNanoTime(startNs), usOfNanoTime(endNs))

  /** (span, parent id or -1), parents by interval containment. */
  private def linked: Seq[(Span, Int)] = synchronized {
    val sorted = spans.sortBy(s => (s.startUs, -s.endUs, s.id)).toIndexedSeq
    val open = scala.collection.mutable.Stack[Span]()
    sorted.map { s =>
      while (open.nonEmpty && open.top.endUs < s.endUs) open.pop()
      val parent = if (open.nonEmpty) open.top.id else -1
      open.push(s)
      (s, parent)
    }
  }

  /** Total self time per span name in ms: duration minus the part
    * of the interval its children cover. */
  def selfMs: Seq[(String, Double, Int)] = {
    val l = linked
    val children = l.groupBy(_._2)
    l.groupBy(_._1.name).toSeq.map { case (name, ss) =>
      val self = ss.map { case (s, _) =>
        val kids = children.getOrElse(s.id, Nil).map(_._1)
          .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0L; var upTo = s.startUs
        kids.foreach { case (a, b) =>
          val from = math.max(a, upTo)
          if (b > from) { covered += b - from; upTo = b }
        }
        (s.endUs - s.startUs) - covered
      }.sum
      (name, self / 1000.0, ss.size)
    }.sortBy(-_._2)
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = new PrintWriter(path.toFile, "UTF-8")
    try linked.foreach { case (s, p) =>
      w.println(s"""{"id":${s.id},"parent":$p,"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
    } finally w.close()
  }
}

object Trace {
  final case class Span(name: String, startUs: Long, endUs: Long, id: Int)
}
