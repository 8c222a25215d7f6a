package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work per phase, seen from a `SparkListener`: jobs, stages, tasks,
  * task time, shuffle, spill and output bytes, plus how many jobs were
  * async broadcast/subquery builds or driver collects, and the job
  * intervals (for the driver gap). The harness names the phase with the
  * local property [[Phase]] on its driver thread; Spark copies local
  * properties into every job the thread (or a broadcast/subquery future it
  * spawns) submits, so attribution survives the asynchronous listener bus.
  */
final class SparkCounters(tracer: Tracer) extends SparkListener {
  import SparkCounters._

  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0; var taskMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var output = 0L
    var asyncJobs = 0; var collectJobs = 0
    val sites = mutable.Map[String, Int]().withDefaultValue(0) // jobs per call site
    val intervals = mutable.ArrayBuffer[(Long, Long)]() // job start/end, epoch ms
  }

  private val byPhase = mutable.LinkedHashMap[String, Acc]()
  private val jobPhase = mutable.Map[Int, String]()
  private val jobStartMs = mutable.Map[Int, Long]()
  private val stagePhase = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobSpan = mutable.Map[Int, Long]()
  private val jobParent = mutable.Map[Int, Long]()
  private val phaseSpan = mutable.Map[String, Long]()
  private val triggerSpans = new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()

  /** Spans of phases, so job spans can name their parent. */
  def setPhaseSpan(phase: String, spanId: Long): Unit = synchronized { phaseSpan(phase) = spanId }

  /** The span id of a streaming query's trigger, shared by the trigger span
    * and the spans of the jobs it ran. */
  def triggerSpan(queryId: String, batchId: Long): Long =
    triggerSpans.computeIfAbsent((queryId, batchId), _ => tracer.nextId())

  def acc(phase: String): Acc = synchronized(byPhase.getOrElseUpdate(phase, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val query = prop("sql.streaming.queryId")
    val phase = prop(Phase).orElse(query.map(_ => "stream")).getOrElse("none")
    // a job's call site is its result stage's name, e.g. "collect at X.scala:12"
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val a = byPhase.getOrElseUpdate(phase, new Acc)
    a.jobs += 1
    a.sites(site) += 1
    if (site.contains("CompletableFuture")) a.asyncJobs += 1
    if (site.startsWith("collect at") || site.startsWith("collectAsList at") ||
        site.startsWith("toLocalIterator at")) a.collectJobs += 1
    jobPhase(e.jobId) = phase
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach { s => stagePhase(s) = phase; stageJob(s) = e.jobId }
    jobSpan(e.jobId) = tracer.nextId()
    jobParent(e.jobId) = (for (q <- query; b <- prop("streaming.sql.batchId"))
      yield triggerSpan(q, b.toLong)).getOrElse(phaseSpan.getOrElse(phase, 0L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobPhase.get(e.jobId).foreach { ph =>
      val t0 = jobStartMs.getOrElse(e.jobId, e.time)
      byPhase(ph).intervals += ((t0, e.time))
      tracer.record(jobSpan(e.jobId), jobParent(e.jobId), "spark.job",
        t0 * 1000000L, e.time * 1000000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val phase = stagePhase.getOrElse(si.stageId, "none")
    val a = byPhase.getOrElseUpdate(phase, new Acc)
    a.stages += 1
    Option(si.taskMetrics).foreach { m =>
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.output += m.outputMetrics.bytesWritten
    }
    for (s <- si.submissionTime; c <- si.completionTime)
      tracer.record(tracer.nextId(), stageJob.get(si.stageId).flatMap(jobSpan.get).getOrElse(0L),
        "spark.stage", s * 1000000L, c * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = byPhase.getOrElseUpdate(stagePhase.getOrElse(e.stageId, "none"), new Acc)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
  }

  /** Wall time of `[fromMs, toMs]` not covered by any of the phase's jobs. */
  def driverGapMs(phase: String, fromMs: Long, toMs: Long): Long = synchronized {
    val iv = acc(phase).intervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var cur = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, cur)
      if (b > from) covered += b - from
      cur = math.max(cur, b)
    }
    (toMs - fromMs) - covered
  }
}

object SparkCounters {
  val Phase = "perfbench.phase"

  def install(sc: SparkContext, tracer: Tracer): SparkCounters = {
    val l = new SparkCounters(tracer)
    sc.addSparkListener(l)
    l
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Process-level counters: GC time and count, and process CPU time. */
object Jvm {
  import scala.jdk.CollectionConverters._

  final case class Snap(gcMs: Long, gcCount: Long, cpuNs: Long, wallNs: Long)

  def snap(): Snap = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
      case _ => 0L
    }
    Snap(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum, cpu, System.nanoTime())
  }

  /** `jvm.*`/`proc.*` metrics between two snapshots. */
  def metrics(a: Snap, b: Snap): Map[String, Double] = {
    val cpuS = (b.cpuNs - a.cpuNs) / 1e9
    val wallS = (b.wallNs - a.wallNs) / 1e9
    Map("jvm.gc_ms" -> (b.gcMs - a.gcMs).toDouble, "jvm.gc_count" -> (b.gcCount - a.gcCount).toDouble,
      "proc.cpu_s" -> cpuS,
      "proc.cpu_util" -> cpuS / (wallS * Runtime.getRuntime.availableProcessors()))
  }
}
