package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Curation, Dedup, ReleaseStream}

/** `release_fold`: a seeded 500-document corpus goes in as the `batches`
  * residue classes `doc_id % batches` through the ungated release ingest,
  * then a cold `releaseState` readout, warm readouts until the run's
  * seconds are spent (at least `warm_readouts`), then
  * `compactReleaseState`. Set-up computes the q132 batch relation over the
  * corpus and, unless `warmup_readouts` is 0, runs the same fold and that
  * many readouts once, untimed, into a root of its own, so the timed fold
  * starts from compiled code rather than measuring the JIT. Each phase is
  * timed from outside and counted by the Spark listener; every readout
  * must equal the q132 relation.
  */
object ReleaseFold {

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def rowsOf(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  def run(ctx: Ctx, artifacts: Path): Outcome = {
    val spark = ctx.spark
    val tally = new Tally
    val docs = Gen.documents(ctx.seed, ctx.int("docs"))
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(d =>
        Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)), 1), DocSchema)
    val batches = ctx.int("batches")
    val folds = (0 until batches).map(b => s"fold.b$b")
    val phases = folds ++ Seq("readout.cold", "readout.warm", "compact")
    def fold(root: Path, b: Int): Unit = ReleaseStream.releaseIngestBatch(
      corpus.filter(pmod(col("doc_id"), lit(batches.toLong)) === b), b.toLong, root.toString)
    def readout(root: Path): Set[Seq[Any]] = rowsOf(ReleaseStream.releaseState(spark, root.toString))

    // set-up: the q132 relation every readout must equal, then the untimed
    // warm-up fold and readouts
    spark.sparkContext.setLocalProperty(SparkCounters.Phase, "setup")
    val twin0 = Clock.now()
    val twin = rowsOf(Curation.releaseExport(corpus,
      Dedup.nearDupClusters(corpus.select("doc_id", "text"), 800, cache = false)))
    val twinS = (Clock.now() - twin0) / 1e9
    val warmRoot = ctx.dir("release-warmup")
    val warmup = scala.util.Try {
      val n = ctx.int("warmup_readouts")
      if (n > 0) (0 until batches).foreach(fold(warmRoot, _))
      Seq.fill(n)(readout(warmRoot))
    }
    spark.sparkContext.setLocalProperty(SparkCounters.Phase, null)

    val root = ctx.dir("release-state")
    val roots = Seq(root, artifacts)
    val wall = mutable.LinkedHashMap[String, Double]()
    val files = mutable.LinkedHashMap[String, (Long, Long)]()
    val windows = mutable.LinkedHashMap[String, (Long, Long)]()
    val setupEnd = Clock.now()
    val jvm0 = Jvm.snap()

    def phase[T](name: String)(f: => T): Option[T] = ctx.tracer.span(name, 0L) { id =>
      ctx.counters.setPhaseSpan(name, id)
      spark.sparkContext.setLocalProperty(SparkCounters.Phase, name)
      val before = roots.map(FileTree.count)
      val t0 = Clock.now()
      val r = try Some(f) catch {
        case e: Exception => tally.fail(s"$name: ${e.getClass.getSimpleName}"); None
      }
      val t1 = Clock.now()
      if (r.isDefined) tally.ok()
      spark.sparkContext.setLocalProperty(SparkCounters.Phase, null)
      val after = roots.map(FileTree.count)
      wall(name) = (t1 - t0) / 1e9
      windows(name) = (t0 / 1000000L, t1 / 1000000L)
      files(name) = (after.map(_._1).sum - before.map(_._1).sum, after.map(_._2).sum - before.map(_._2).sum)
      r
    }

    (0 until batches).foreach(b => phase(s"fold.b$b")(fold(root, b)))
    val cold = phase("readout.cold")(readout(root))
    // warm readouts fill the rest of the run's seconds; the first is the
    // phase "readout.warm", the others "readout.repeat" (counted apart)
    val stopAt = setupEnd + ctx.seconds * 1000000000L
    val warm = mutable.ArrayBuffer[(Set[Seq[Any]], Double)]()
    var going = true
    while (going && (warm.size < ctx.int("warm_readouts") || Clock.now() < stopAt)) {
      val name = if (warm.isEmpty) "readout.warm" else "readout.repeat"
      val rows = phase(name)(readout(root))
      warm += ((rows.getOrElse(Set.empty), wall(name) * 1000))
      going = rows.isDefined
    }
    val cpuS = (Jvm.snap().cpuNs - jvm0.cpuNs) / 1e9
    phase("compact")(ReleaseStream.compactReleaseState(spark, root.toString))
    val jvm = Jvm.metrics(jvm0, Jvm.snap())

    // the stream==batch check: the folded state reads out as the q132
    // relation over the whole corpus, warm-up, cold, warm and compacted
    spark.sparkContext.setLocalProperty(SparkCounters.Phase, "check")
    val compacted = scala.util.Try(readout(root))
    val checks = Seq(
      "warm-up readouts equal the q132 relation" -> warmup.toOption.exists(_.forall(_ == twin)),
      "cold readout equals the q132 relation" -> cold.contains(twin),
      "warm readouts equal the q132 relation" -> warm.forall(_._1 == twin),
      "compacted readout equals the q132 relation" -> compacted.toOption.contains(twin))
    checks.filterNot(_._2).foreach { case (c, _) => tally.fail(c) }

    SparkCounters.drain(spark.sparkContext)
    val perLayer = mutable.LinkedHashMap[String, Double]()
    phases.foreach { p =>
      val a = ctx.counters.acc(p)
      val (f, crc) = files.getOrElse(p, (0L, 0L))
      val (w0, w1) = windows.getOrElse(p, (0L, 0L))
      perLayer ++= Seq(
        s"$p.wall_s" -> wall.getOrElse(p, Double.NaN), s"$p.jobs" -> a.jobs.toDouble,
        s"$p.stages" -> a.stages.toDouble, s"$p.tasks" -> a.tasks.toDouble,
        s"$p.task_ms" -> a.taskMs.toDouble,
        s"$p.shuffle_read_bytes" -> a.shuffleRead.toDouble,
        s"$p.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
        s"$p.spill_bytes" -> a.spill.toDouble, s"$p.output_bytes" -> a.output.toDouble,
        s"$p.files_added" -> f.toDouble, s"$p.crc_files_added" -> crc.toDouble,
        s"$p.async_jobs" -> a.asyncJobs.toDouble, s"$p.collect_jobs" -> a.collectJobs.toDouble,
        s"$p.driver_gap_ms" -> ctx.counters.driverGapMs(p, w0, w1).toDouble)
    }
    val foldS = folds.map(wall.getOrElse(_, Double.NaN)).sum
    val coldS = wall.getOrElse("readout.cold", Double.NaN)
    val warmMs = Stats.median(warm.map(_._2))
    Outcome(tally.attempted, tally.failed, checks, setupEnd,
      common = Map("latency_p50_ms" -> warmMs, "latency_tail_ms" -> coldS * 1000,
        "fresh_p50_ms" -> (foldS + coldS) * 1000, "rate_per_s" -> docs.size / foldS,
        "cpu_s" -> cpuS),
      named = Map("fold_s" -> (foldS, "s"), "readout_cold_s" -> (coldS, "s"),
        "readout_warm_s" -> (warmMs / 1000, "s"),
        "compact_s" -> (wall.getOrElse("compact", Double.NaN), "s")),
      perLayer = perLayer.toMap ++ jvm,
      detail = Map("docs" -> docs.size, "release_rows" -> twin.size, "q132_s" -> twinS,
        "warm_readouts" -> warm.size, "warm_readout_ms" -> warm.map(_._2),
        "top_call_sites" -> phases.map(p => p -> ctx.counters.acc(p).sites.toSeq.sortBy(-_._2)
          .take(6).map { case (k, n) => s"$n x $k" }).toMap,
        "failures" -> tally.reasons,
        "phase_table" -> phases.map(p => Map("phase" -> p, "wall_s" -> perLayer(s"$p.wall_s"),
          "jobs" -> perLayer(s"$p.jobs"), "stages" -> perLayer(s"$p.stages"),
          "tasks" -> perLayer(s"$p.tasks"), "files_added" -> perLayer(s"$p.files_added")))))
  }
}
