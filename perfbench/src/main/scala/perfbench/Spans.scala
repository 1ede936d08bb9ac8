package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span store for a traced run. Spans are keyed by workload,
  * pass and lane (batch) or by tick sequence id (stream), carry their
  * layer, and are written out once at the end of the run. Times are
  * epoch ms so listener events (which Spark stamps in epoch ms) and the
  * benchmark's own spans share one clock. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, layer: String, name: String,
      key: String, start: Long, end: Long)
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, layer: String, name: String, key: String,
      start: Long, end: Long): Long =
    if (!enabled) -1L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, layer, name, key, start, end))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: a span's length minus the union of its
    * children's intervals, summed per layer. Unfinished spans (end <= 0)
    * are skipped. */
  def selfTimeMs: Map[String, Long] = {
    val done = all.filter(s => s.end > 0 && s.end >= s.start)
    val kids = done.groupBy(_.parent)
    done.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Intervals.unionLength(
          kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)
        s.end - s.start - covered
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"key":${Json.str(s.key)},""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Minimal JSON rendering for the result records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
