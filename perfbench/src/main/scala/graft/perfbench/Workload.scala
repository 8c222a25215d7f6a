package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its seed and measuring time, the
  * tracer and Spark counters, a fresh work directory, and its parameters
  * (`perfbench/workloads.json`). */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, tracer: Tracer,
                     counters: SparkCounters, work: Path, params: Map[String, Any]) {
  def num(k: String): Double = params(k) match {
    case d: Double => d; case n: Int => n.toDouble; case n: Long => n.toDouble
    case o => sys.error(s"parameter $k is not a number: $o")
  }
  def int(k: String): Int = num(k).toInt
  def nums(k: String): Seq[Double] = params(k) match {
    case xs: Seq[_] => xs.map { case d: Double => d; case o => sys.error(s"parameter $k: $o is not a number") }
    case _ => Seq(num(k)) // a one-element list arrives as a plain number
  }
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** A workload's outcome. `setupEndNs` is the [[Clock]] time of its first
  * timed operation. `common` holds the end-to-end metrics every workload
  * measures (`latency_p50_ms`, `latency_tail_ms`, `fresh_p50_ms`,
  * `rate_per_s`, `cpu_s`, each defined per workload in `workloads.json`);
  * `named` holds the workload's own metrics as (value, unit); `detail` is
  * printed for the reader. */
final case class Outcome(attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
                         setupEndNs: Long, common: Map[String, Double],
                         named: Map[String, (Double, String)], perLayer: Map[String, Double],
                         detail: Map[String, Any])

/** Failure accounting shared by a workload's threads. */
final class Tally {
  private val att = new java.util.concurrent.atomic.AtomicLong()
  private val bad = new java.util.concurrent.atomic.AtomicLong()
  private val why = mutable.LinkedHashMap[String, Long]()
  def ok(): Unit = att.incrementAndGet()
  def fail(reason: String): Unit = {
    att.incrementAndGet(); bad.incrementAndGet()
    synchronized { why(reason) = why.getOrElse(reason, 0L) + 1 }
  }
  def attempted: Long = att.get
  def failed: Long = bad.get
  def reasons: Map[String, Long] = synchronized(why.toMap)
}

object FileTree {
  /** (files, `.crc` files) under a directory tree; (0, 0) if it is absent. */
  def count(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        var n = 0L; var crc = 0L
        s.filter(p => Files.isRegularFile(p)).forEach { p =>
          n += 1; if (p.getFileName.toString.endsWith(".crc")) crc += 1
        }
        (n, crc)
      } finally s.close()
    }
}
