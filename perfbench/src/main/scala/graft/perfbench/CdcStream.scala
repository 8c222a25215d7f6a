package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.cdc.Envelope
import graft.schemas.Schemas
import graft.store.{InMemoryStore, SharedStores}
import graft.streaming.Pipeline

/** A seeded change-stream generator writing one file per period into a
  * directory that Spark's file stream source reads. Files are staged next
  * to the directory and moved in whole, so a reader never sees half a file.
  */
final class FileFeed(ctx: Ctx, dir: Path, stage: Path) {
  import FileFeed._

  private val gen = new Gen.ChangeStream(ctx.seed, ctx.int("keys"), ctx.num("skew"),
    ctx.num("snapshot_share"), ctx.num("delete_share"), ctx.num("malformed_share"))
  private val periodMs = ctx.int("file_ms")
  val files = mutable.ArrayBuffer[Written]()
  var lateMaxMs = 0.0

  /** Writes files at `rate` events/s for `seconds`; returns the window. */
  def run(rate: Double, seconds: Double): (Long, Long) = {
    val t0 = Clock.now()
    val ticks = math.max(1, math.round(seconds * 1000 / periodMs).toInt)
    (0 until ticks).foreach { k =>
      val due = t0 + (k + 1).toLong * periodMs * 1000000L
      lateMaxMs = math.max(lateMaxMs, (Clock.now() - due) / 1e6)
      Clock.awaitTime(due)
      val n = (math.floor(rate * (k + 1) * periodMs / 1000.0) - math.floor(rate * k * periodMs / 1000.0)).toInt
      val now = Clock.now()
      val lines = (0 until n).map(_ => gen.next(now / 1000L))
      val name = f"part-${files.size}%06d.jsonl"
      val tmp = stage.resolve(name)
      Files.writeString(tmp, lines.map(_._3).mkString("", "\n", "\n"))
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      files += Written(name, Clock.now(), lines.map { case (key, op, _) => Event(key, op, now) })
    }
    (t0, Clock.now())
  }
}

object FileFeed {
  /** One event: its key (None if malformed), op, and generation time (ns). */
  final case class Event(key: Option[Long], op: String, genNs: Long)
  /** One file: its name, when it became visible (ns), and its events. */
  final case class Written(name: String, atNs: Long, events: Seq[Event])
}

/** `cdc_stream`: seeded Debezium envelopes at a few fixed rates into the
  * file stream source, consumed concurrently by `Pipeline.invalidationQuery`
  * and `Pipeline.materializeQuery` against in-memory stores. Lag runs from
  * an event's generation to its DEL or PUT at the store (the later of the
  * two queries); afterwards the stores must equal the batch relations
  * `Envelope.invalidationSet` and `Envelope.latestState` over every line.
  */
object CdcStream {

  /** A streaming query, its store, which store calls apply an event, and
    * its checkpoint. */
  final case class Consumer(store: TimedStore, kinds: Set[String], query: StreamingQuery, ckpt: Path) {
    lazy val applies: Map[String, Array[Long]] = store.ops.filter(o => kinds(o.kind)).groupBy(_.key)
      .map { case (k, os) => k -> os.map(_.start).sorted.toArray }
    lazy val fileBatch: Map[String, Long] = StreamWatch.fileBatches(ckpt)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val watch = new StreamWatch(ctx.counters, ctx.tracer)
    spark.streams.addListener(watch)
    val tally = new Tally
    val input = ctx.dir("cdc-input")
    val feed = new FileFeed(ctx, input, ctx.dir("cdc-stage"))
    val maxFiles = ctx.int("max_files_per_trigger")
    def source = Pipeline.fileRecords(spark, input.toString, maxFiles)

    val invStore = new TimedStore(new InMemoryStore)
    val matStore = new TimedStore(new InMemoryStore)
    val (invCkpt, matCkpt) = (ctx.dir("ckpt-invalidate"), ctx.dir("ckpt-materialize"))
    val inv = Consumer(invStore, Set("del"), Pipeline.invalidationQuery(source,
      SharedStores.register(invStore), invCkpt.toString), invCkpt)
    val mat = Consumer(matStore, Set("put", "del"), Pipeline.materializeQuery(spark, source,
      SharedStores.register(matStore), matCkpt.toString), matCkpt)
    val consumers = Seq(inv, mat)
    def drain(): Unit = consumers.foreach(c => c.query.processAllAvailable())

    val rates = ctx.nums("rates")
    feed.run(rates.last, ctx.num("warmup_s"))
    drain()
    val warmFiles = feed.files.size
    val setupEnd = Clock.now()
    val jvm0 = Jvm.snap()
    val stepSeconds = ctx.seconds.toDouble / rates.size
    val windows = rates.map(r => r -> ctx.tracer.span(s"step.${r.toInt}eps", 0L)(_ => feed.run(r, stepSeconds)))
    val jvm = Jvm.metrics(jvm0, Jvm.snap())
    val drained = scala.util.Try(drain())
    consumers.foreach(c => c.query.stop())
    SparkCounters.drain(spark.sparkContext)

    // per event: the later of its store writes, one per consumer that acts
    // on it, each made by the trigger that read the event's file
    val byQuery = watch.all.groupBy(_.query).map { case (q, ts) => q -> ts.map(t => t.batchId -> t).toMap }
    def triggers(c: Consumer): Map[Long, Trigger] = byQuery.getOrElse(c.query.id.toString, Map.empty)
    def applied(c: Consumer, file: String, key: Long): Option[Long] =
      c.fileBatch.get(file).flatMap(triggers(c).get).flatMap(t => StreamWatch.firstIn(c.applies, key.toString, t))

    val lags = mutable.ArrayBuffer[(Long, Double)]() // (generated at, lag ms)
    val invLags = mutable.ArrayBuffer[Double]() // to the invalidating DEL alone
    var misses = 0L
    feed.files.drop(warmFiles).foreach { f =>
      f.events.foreach { e =>
        e.key.foreach { k =>
          val acting = if (e.op == "u" || e.op == "d") consumers else Seq(mat)
          val ts = acting.map(c => applied(c, f.name, k))
          if (ts.forall(_.isDefined)) {
            tally.ok()
            lags += ((e.genNs, (ts.flatten.max - e.genNs) / 1e6))
            if (acting.size > 1) invLags += (ts.head.get - e.genNs) / 1e6
          }
          else { misses += 1; tally.fail("event not applied in the batch that read it") }
        }
      }
    }

    // backlog: files visible to the source but not yet committed, sampled
    // at each trigger start of each consumer
    val backlog = consumers.flatMap(c => StreamWatch.backlog(triggers(c).values.toSeq, c.fileBatch,
      feed.files.map(f => (f.name, f.atNs)).toSeq, setupEnd))

    val steps = windows.map { case (rate, (s0, s1)) =>
      val ls = lags.filter { case (g, _) => g >= s0 && g <= s1 }.map(_._2)
      val bl = backlog.filter { case (t, _) => t >= s0 && t <= s1 }.map(_._2)
      // a backlog that grows shows as lag growing through the step; past
      // lag_limit_ms the step did not keep up
      val stepEvents = feed.files.filter(f => f.atNs >= s0 && f.atNs <= s1).map(_.events.count(_.key.isDefined)).sum
      val keptUp = ls.size == stepEvents && ls.forall(_ <= ctx.num("lag_limit_ms"))
      Map("rate_eps" -> rate, "lag_ms" -> Stats.summary(ls), "backlog_files_max" -> (bl :+ 0).max,
        "kept_up" -> keptUp, "applied_eps" -> ls.size / ((s1 - s0) / 1e9))
    }
    // the rate sustained at the highest step that kept up: its events that
    // reached the stores, over the time the step took to generate them
    val sustained = steps.takeWhile(_("kept_up").asInstanceOf[Boolean])
      .lastOption.map(_("applied_eps").asInstanceOf[Double]).getOrElse(0.0)

    // stream == batch over every line written
    val all = spark.read.text(input.toString)
    val parsed = Envelope.parse(all)
    val expectState = Envelope.latestState(parsed).collect().map(_.toSeq).toSet
    val gotState = materialized(spark, matStore).collect().map(_.toSeq).toSet
    val expectDel = Envelope.invalidationSet(all).collect().map(_.getString(0)).toSet
    val gotDel = invStore.ops.filter(_.kind == "del").map(_.key).toSet
    val checks = Seq(
      "materialized store equals Envelope.latestState" -> (gotState == expectState),
      "DEL set equals Envelope.invalidationSet" -> (gotDel == expectDel),
      "no query died and the drain completed" -> (watch.died.isEmpty && drained.isSuccess))
    checks.filterNot(_._2).foreach { case (c, _) => tally.fail(c) }

    val (lagP, lagTail) = Stats.tail(lags.map(_._2))
    val lagP50 = Stats.median(lags.map(_._2))
    val ingest = parsed.agg(count(lit(1))).head().getLong(0)
    Outcome(tally.attempted, tally.failed, checks, setupEnd,
      common = Map("latency_p50_ms" -> lagP50, "latency_tail_ms" -> lagTail,
        "fresh_p50_ms" -> Stats.median(invLags), "rate_per_s" -> sustained, "cpu_s" -> jvm("proc.cpu_s")),
      named = Map("cdc_lag_p50_ms" -> (lagP50, "ms"), (f"cdc_lag_p${lagP}%.0f_ms") -> (lagTail, "ms"),
        "cdc_max_eps" -> (sustained, "1/s")),
      perLayer = watch.metrics(setupEnd) ++ jvm ++ invStore.metrics(setupEnd) ++ Map(
        "stream.backlog_files_max" -> (backlog.map(_._2) :+ 0).max.toDouble,
        "cdc.records_in" -> feed.files.map(_.events.size).sum.toDouble,
        "cdc.malformed_dropped" -> (feed.files.map(_.events.size).sum - ingest).toDouble,
        "cdc.keys_invalidated" -> gotDel.size.toDouble,
        "cdc.del_useful_ratio" -> gotDel.size.toDouble / math.max(1, invStore.ops.count(_.kind == "del")),
        "gen.late_ms_max" -> feed.lateMaxMs) ++
        matStore.metrics(setupEnd).map { case (k, v) => k.replace("store.", "store.mat.") -> v },
      detail = Map("lag_percentile" -> lagP, "lag_samples" -> lags.size, "steps" -> steps,
        "misses" -> misses, "files" -> feed.files.size, "state_rows" -> expectState.size,
        "failures" -> tally.reasons, "query_deaths" -> watch.died))
  }

  /** The materialized store read back as the latest-state relation's rows. */
  private def materialized(spark: SparkSession, store: TimedStore): DataFrame = {
    import spark.implicits._
    val rows = store.contents.toSeq
    val after = Schemas.ENVELOPE("payload").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("after").dataType
    rows.toDF("k", "json")
      .select(from_json(col("json"), after).as("a"))
      .select(col("a.code").as("code"), col("a.name").as("name"), col("a.class").as("class"),
        col("a.libram").as("libram"), col("a.tendency").as("tendency"),
        timestamp_micros(col("a.created_at")).cast("timestamp_ntz").as("created_at"),
        timestamp_micros(col("a.updated_at")).cast("timestamp_ntz").as("updated_at"))
  }
}
