package graft.perfbench

import java.nio.file.{Files, Paths}
import graft.Sessions

/** One benchmark run in a fresh JVM:
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cpus <n> --work <dir> --artifacts <dir> --out <file>
  *        [--param key=value]...
  * }}}
  * `perfbench/run.py` builds the classpath, starts this main and turns the
  * JSON it writes to `--out` into the benchmark's result line. List
  * parameters are comma-separated.
  */
object Main {
  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  // The program's HTTP server keeps non-daemon pool threads after stop(),
  // so the JVM ends by an explicit exit, also when the run fails.
  def main(args: Array[String]): Unit =
    try { run(args); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => (k.drop(2), v) }.toSeq
    def opt(k: String) = opts.collectFirst { case (`k`, v) => v }.getOrElse(sys.error(s"missing --$k"))
    val params: Map[String, Any] = opts.collect { case ("param", kv) =>
      val (k, v) = kv.span(_ != '=')
      val raw = v.drop(1)
      k -> (if (raw.contains(',')) raw.split(',').toSeq.map(_.toDouble)
            else raw.toDoubleOption.getOrElse(raw))
    }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val cpus = opt("cpus")
    val work = Files.createDirectories(Paths.get(opt("work")))
    val tracer = new Tracer(trace)

    val spark = Sessions.local(cpus = cpus, logLevel = "ERROR")
    val counters = SparkCounters.install(spark.sparkContext, tracer)
    val sparkReady = Clock.now()
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toInt, tracer, counters, work, params)
    val out = try workload match {
      case "release_fold" => ReleaseFold.run(ctx, Paths.get(opt("artifacts")))
      case "cdc_stream" => CdcStream.run(ctx)
      case "cache_serve" => CacheServe.run(ctx)
      case other => sys.error(s"unknown workload $other")
    } finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    }
    if (trace) tracer.write(work.resolve("spans.jsonl"))
    val self = if (trace) tracer.selfMs.map { case (k, v) => s"self_ms.$k" -> v } else Map.empty
    val result = Map(
      "workload" -> workload, "attempted" -> out.attempted, "failed" -> out.failed,
      "correct" -> out.checks.forall(_._2),
      "checks" -> out.checks.map { case (c, ok) => Map("check" -> c, "ok" -> ok) },
      "setup_end_s" -> out.setupEndNs / 1e9, "spark_ready_s" -> sparkReady / 1e9,
      "common" -> out.common,
      "named" -> out.named.map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) },
      "per_layer" -> (out.perLayer ++ self + ("jvm.peak_rss_mb" -> peakRssMb)),
      "detail" -> (out.detail ++ Map("spans" -> tracer.all.size)),
      "box" -> Map("local" -> s"local[$cpus]", "spark" -> spark.version,
        "jvm" -> System.getProperty("java.version"),
        "cpus_visible" -> Runtime.getRuntime.availableProcessors()))
    Files.writeString(Paths.get(opt("out")), Stats.json(result))
    spark.stop()
  }
}
