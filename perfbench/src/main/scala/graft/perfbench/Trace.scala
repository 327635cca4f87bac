package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run.
  *
  * Spans are kept in a buffer while the run is measured and written out
  * once at the end, so the traced run pays no I/O per span. A span's
  * self time is its duration minus the durations of its direct
  * children.
  */
final class Trace {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]

  def add(name: String, parent: Int, startNs: Long, endNs: Long,
      attrs: Map[String, String] = Map.empty): Int = {
    spans += Span(spans.size, parent, name, startNs, endNs, attrs)
    spans.size - 1
  }

  def selfNs(id: Int): Long = Trace.selfNs(spans.toSeq, id)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val a = s.attrs.map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }
      s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        s""""start_ns":${s.startNs},"dur_ns":${s.durNs},"self_ns":${selfNs(s.id)}""" +
        (if (a.isEmpty) "" else a.mkString(",", ",", "")) + "}"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long, attrs: Map[String, String]) {
    def durNs: Long = endNs - startNs
  }

  val Root: Int = -1

  def selfNs(spans: Seq[Span], id: Int): Long =
    spans(id).durNs - spans.iterator.filter(_.parent == id).map(_.durNs).sum
}
