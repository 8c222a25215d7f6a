package graft.perfbench

import scala.collection.mutable

/** Order statistics over latency samples, and a tiny JSON writer for the
  * result line (the harness has no JSON library of its own to lean on).
  */
object Stats {

  /** Nearest-rank percentile `p` (0..100) of unsorted samples; NaN if none. */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toArray.sorted
      val rank = math.ceil(p / 100.0 * s.length).toInt
      s(math.min(s.length - 1, math.max(0, rank - 1)))
    }

  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)

  /** The highest of p99, p97, p95, p90 and p75 that still has at least ten
    * samples beyond it, as `(percentile, value)`; the maximum (percentile
    * 100) when there are too few samples for any of them. p97 is there for
    * cache_serve: 4-12% of its reads wait out the keep-alive stall, so its
    * p95 falls now in the stall and now below it, while p97 stays in it. */
  def tail(xs: collection.Seq[Double]): (Double, Double) = {
    val n = xs.length
    Seq(99.0, 97.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9)
      .map(p => (p, pct(xs, p))).getOrElse((100.0, pct(xs, 100)))
  }

  /** A latency summary: median, tail percentile and sample count. */
  def summary(xs: collection.Seq[Double]): Map[String, Any] = {
    val (p, v) = tail(xs)
    Map("p50" -> median(xs), "tail_pct" -> p, "tail" -> v, "n" -> xs.length)
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case o => json(o.toString)
  }
}

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so harness
  * timings and Spark listener event times (epoch ms) share one axis. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  /** Waits until `due`: sleeps to within a millisecond of it, then spins,
    * so an open loop sends on time rather than when the scheduler wakes
    * it. */
  def awaitTime(due: Long): Unit = {
    val sleep = due - now() - 1000000L
    if (sleep > 0) Thread.sleep(sleep / 1000000L, (sleep % 1000000L).toInt)
    while (now() < due) Thread.onSpinWait()
  }
}

/** A traced interval: one call at a layer boundary, under its parent. */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

/** Spans kept in memory while a traced run measures, written at the end.
  * A span is (id, parent, name, start, end) in epoch nanoseconds
  * ([[Clock]]); spans of one request or event share the root's subtree.
  * Disabled tracers record nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(id, parent, name, start, end))

  /** Times `f` as a span named `name` under `parent`; returns its value. */
  def span[T](name: String, parent: Long)(f: Long => T): T =
    if (!enabled) f(0L)
    else {
      val id = nextId()
      val t0 = Clock.now()
      try f(id) finally record(id, parent, name, t0, Clock.now())
    }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Self time per span name, in ms: each span's duration minus the part of
    * its interval that its children cover. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    ss.foreach { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var cur = Long.MinValue
      cs.foreach { case (a, b) =>
        val from = math.max(a, cur)
        if (b > from) covered += b - from
        cur = math.max(cur, b)
      }
      acc(s.name) += (s.end - s.start - covered) / 1e6
    }
    acc.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach(s => sb.append(Stats.json(Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))).append('\n'))
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
