package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One traced interval: spans of one workload run share `trace`, and
  * `parent` points at the span that caused this one (0 = none). Times are
  * epoch nanoseconds so spans timed here line up with Spark's event
  * timestamps. */
final case class TSpan(trace: String, id: Long, parent: Long, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span buffer, written out once when the run ends. */
final class Tracer(val trace: String) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[TSpan]
  // nanoTime is monotonic but has no epoch; Spark stamps events in epoch ms
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now(): Long = System.nanoTime() + epochOffset
  def newId(): Long = ids.incrementAndGet()
  def record(id: Long, parent: Long, name: String, start: Long, end: Long): Unit =
    buf.add(TSpan(trace, id, parent, name, start, end))

  /** Time `body` as a span named `name` under `parent`; the body gets
    * the new span's id so it can parent its own spans. */
  def span[T](name: String, parent: Long)(body: Long => T): T = {
    val id = newId()
    val t0 = now()
    try body(id) finally record(id, parent, name, t0, now())
  }

  def spans: Vector[TSpan] = buf.asScala.toVector.sortBy(s => (s.start, s.id))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"trace":"${s.trace}","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Interval arithmetic behind self time and stage coverage. */
object TraceMath {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLen(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover. */
  def selfTimes(spans: Seq[TSpan]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLen(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** (count, total ns, self ns) per span name. */
  def byName(spans: Seq[TSpan]): Vector[(String, Int, Long, Long)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).toVector.map { case (n, ss) =>
      (n, ss.size, ss.map(_.dur).sum, ss.map(s => self(s.id)).sum)
    }.sortBy(-_._3)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
