package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One trigger of a streaming query, from its `StreamingQueryProgress`. */
final case class Trigger(query: String, batchId: Long, startNs: Long, durations: Map[String, Long],
                         rows: Long, stateRows: Long, stateMem: Long, stateCommitMs: Long) {
  def endNs: Long = startNs + durations.getOrElse("triggerExecution", 0L) * 1000000L
}

/** Collects every query's progress (and a trigger span with the jobs it
  * ran, when tracing), and any query that died. */
final class StreamWatch(counters: SparkCounters, tracer: Tracer) extends StreamingQueryListener {
  private val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val deaths = new ConcurrentLinkedQueue[String]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => deaths.add(x.take(300)))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp)
    val startNs = start.getEpochSecond * 1000000000L + start.getNano
    val st = p.stateOperators.headOption
    val t = Trigger(p.id.toString, p.batchId, startNs,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L))
    triggers.add(t)
    tracer.record(counters.triggerSpan(t.query, t.batchId), 0L, "stream.trigger", t.startNs, t.endNs)
  }

  def all: Seq[Trigger] = triggers.asScala.toSeq
  def died: Seq[String] = deaths.asScala.toSeq

  /** `stream.*` metrics over the non-empty triggers that started at or
    * after `fromNs`. */
  def metrics(fromNs: Long): Map[String, Double] = {
    val ts = all.filter(t => t.rows > 0 && t.startNs >= fromNs)
    def d(k: String) = Stats.median(ts.map(_.durations.getOrElse(k, 0L).toDouble))
    val last = all.groupBy(_.query).values.map(_.maxBy(_.batchId))
    Map(
      "stream.batches" -> ts.size.toDouble,
      "stream.rows_per_batch_p50" -> Stats.median(ts.map(_.rows.toDouble)),
      "stream.batch_ms_p50" -> d("triggerExecution"),
      "stream.addBatch_ms_p50" -> d("addBatch"),
      "stream.latestOffset_ms_p50" -> d("latestOffset"),
      "stream.queryPlanning_ms_p50" -> d("queryPlanning"),
      "stream.walCommit_ms_p50" -> d("walCommit"),
      "stream.commitOffsets_ms_p50" -> d("commitOffsets"),
      "stream.state_rows_end" -> last.map(_.stateRows).sum.toDouble,
      "stream.state_mem_bytes_end" -> last.map(_.stateMem).sum.toDouble,
      "stream.state_commit_ms_p50" -> Stats.median(ts.filter(_.stateRows > 0).map(_.stateCommitMs.toDouble)))
  }
}

object StreamWatch {
  /** The first of a key's sorted store-call times inside a trigger (1 ms
    * slack for the epoch-ms trigger clock). */
  def firstIn(times: Map[String, Array[Long]], key: String, t: Trigger): Option[Long] =
    times.get(key).flatMap { ts =>
      val i = java.util.Arrays.binarySearch(ts, t.startNs) match { case x if x >= 0 => x; case x => -x - 1 }
      if (i < ts.length && ts(i) <= t.endNs + 1000000L) Some(ts(i)) else None
    }

  /** Files written but not yet committed, at the start of each trigger from
    * `fromNs` on, as (trigger start, files). */
  def backlog(triggers: Seq[Trigger], fileBatch: Map[String, Long], written: Seq[(String, Long)],
              fromNs: Long): Seq[(Long, Int)] =
    triggers.filter(_.startNs >= fromNs).map { t =>
      val done = triggers.filter(_.endNs <= t.startNs).map(_.batchId).toSet
      (t.startNs, written.count { case (f, at) => at <= t.startNs && !fileBatch.get(f).exists(done) })
    }

  /** The file stream source's log in a query checkpoint: which batch read
    * each input file (file name -> batch id). Compacted log files carry the
    * entries of every batch they replace. */
  def fileBatches(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val PathRe = "\"path\":\"([^\"]*)\"".r
    val BatchRe = "\"batchId\":(\\d+)".r
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.endsWith(".tmp") && !n.endsWith(".crc")
    }.flatMap { f =>
      Files.readAllLines(f).asScala.drop(1).flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }
    }.toMap
    finally s.close()
  }
}
