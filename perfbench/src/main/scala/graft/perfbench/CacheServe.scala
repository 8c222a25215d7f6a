package graft.perfbench

import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.util.Random
import graft.api.{CdcEngine, HttpApi, Json}
import graft.store.{MiniRespServer, RedisStore, SharedStores}
import graft.streaming.Pipeline

/** `cache_serve`: the paper's four scenarios over the wire. A seeded
  * `sinners` table sits behind `HttpApi`/`CdcEngine`, cached in a
  * `RedisStore` on a live `MiniRespServer` socket. An open loop offers
  * GETs (cache miss, hit, rebuild) and PUTs (CDC invalidation) at a few
  * fixed rates over keep-alive connections, while `Pipeline.invalidationQuery`
  * consumes the change log, drained into its file stream every period.
  */
object CacheServe {

  /** One scheduled request and what became of it ([[Clock]] ns). */
  final class Req(val due: Long, val put: Boolean, val code: Long, val body: Option[String]) {
    @volatile var send = 0L; @volatile var recv = 0L; @volatile var status = 0
    @volatile var free = 0L // when its connection became free for it
    @volatile var reply = ""
  }

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  // an envelope's after-image key and updated_at (epoch us)
  private val AfterRe = "\"after\":\\{\"code\":(\\d+),[^}]*\"updated_at\":(\\d+)\\}".r

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val watch = new StreamWatch(ctx.counters, ctx.tracer)
    spark.streams.addListener(watch)
    val tally = new Tally
    val rng = new Random(ctx.seed)
    val t00 = Clock.now()

    // the cache tier and the API over it
    val resp = new MiniRespServer
    val cache = new TimedStore(new RedisStore("127.0.0.1", resp.port))
    val engine = new CdcEngine(cache)
    val rows = ctx.int("rows")
    (1 to rows).foreach { c =>
      val r = Gen.row(rng, c.toLong, 0L, 0L)
      engine.createOne(c.toLong, r.name, r.clazz, r.libram, r.tendency)
    }
    engine.drainChangeLog() // the seed rows are the snapshot, not the stream
    val api = new HttpApi(engine).start()
    val seeded = Clock.now()

    // the CDC consumer: its own connection to the cache tier
    val delStore = new TimedStore(new RedisStore("127.0.0.1", resp.port))
    val input = ctx.dir("cdc-input")
    val stage = ctx.dir("cdc-stage")
    val ckpt = ctx.dir("ckpt-invalidate")
    val query = Pipeline.invalidationQuery(Pipeline.fileRecords(spark, input.toString,
      ctx.int("max_files_per_trigger")), SharedStores.register(delStore), ckpt.toString)
    val drained = mutable.ArrayBuffer[(String, Long, Seq[String])]() // file, written at, lines
    def drainOnce(): Unit = drained.synchronized {
      val lines = engine.drainChangeLog()
      if (lines.nonEmpty) {
        val name = f"part-${drained.size}%06d.jsonl"
        Files.writeString(stage.resolve(name), lines.mkString("", "\n", "\n"))
        Files.move(stage.resolve(name), input.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        drained += ((name, Clock.now(), lines))
      }
    }
    @volatile var draining = true
    val drainer = new Thread(() => {
      val period = ctx.int("drain_ms").toLong
      while (draining) { drainOnce(); Thread.sleep(period) }
    }, "perfbench-drain")
    drainer.setDaemon(true)
    drainer.start()

    // the offered load: Poisson arrivals per step (rate x seconds of them,
    // uniform over the step, which is a Poisson process given its count),
    // Zipf keys, ~10% PUTs
    val zipf = new Zipf(rows, ctx.num("skew"), new Random(ctx.seed * 31 + 7))
    val conns = ctx.int("connections")
    val port = api.boundPort
    def schedule(rate: Double, seconds: Double, t0: Long): Seq[Req] = {
      val at = Seq.fill(math.round(rate * seconds).toInt)(rng.nextDouble() * seconds).sorted
      at.map { t =>
        val put = rng.nextDouble() < ctx.num("write_share")
        new Req(t0 + (t * 1e9).toLong, put, zipf.next(),
          if (put) Some(s"""{"tendency":"T${rng.nextInt(1000000)}"}""") else None)
      }
    }
    val clients = (0 until conns).map(_ => new KeepAliveClient("127.0.0.1", port))
    def call(cl: KeepAliveClient, r: Req): (Int, String) =
      if (r.put) cl.send("PUT", s"/api/v1/sinners/update/${r.code}", r.body)
      else cl.send("GET", s"/api/v1/sinners/read/${r.code}", None)
    def offer(reqs: IndexedSeq[Req]): Unit = {
      val next = new AtomicInteger()
      val workers = clients.map { cl =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (i < reqs.size) {
            val r = reqs(i)
            r.free = Clock.now()
            Clock.awaitTime(r.due)
            r.send = Clock.now()
            try {
              val (st, body) = call(cl, r)
              r.status = st; r.reply = if (r.put) body else ""
            } catch { case _: java.io.IOException => r.status = -1 }
            r.recv = Clock.now()
            i = next.getAndIncrement()
          }
        }, "perfbench-conn")
      }
      workers.foreach(_.start())
      workers.foreach(_.join())
    }

    // a closed loop of requests, each on a fresh connection so the
    // keep-alive stall does not pace it; for warm-up only
    def burst(reqs: IndexedSeq[Req]): Unit = {
      val next = new AtomicInteger()
      val workers = (0 until conns).map(_ => new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val r = reqs(i)
          val cl = new KeepAliveClient("127.0.0.1", port)
          try r.status = call(cl, r)._1
          catch { case _: java.io.IOException => r.status = -1 }
          finally cl.close()
          i = next.getAndIncrement()
        }
      }, "perfbench-warm"))
      workers.foreach(_.start())
      workers.foreach(_.join())
    }

    val rates = ctx.nums("rates")
    val queryStarted = Clock.now()
    // warm-up: fill the cache and exercise the store path in process, run
    // the HTTP path and the invalidation query until they are compiled,
    // then offer the top rate over keep-alive connections; none of it is
    // sampled
    (1 to ctx.int("warm_reads")).foreach(_ => engine.readOne(zipf.next()))
    val hot = schedule(ctx.num("warm_requests"), 1.0, 0L).toIndexedSeq
    burst(hot)
    hot.foreach(r => if (r.status != 200) tally.fail(s"warm-up HTTP ${r.status}"))
    val warm = schedule(rates.last, ctx.num("warmup_s"), Clock.now() + 50000000L).toIndexedSeq
    offer(warm)
    drainOnce()
    query.processAllAvailable()
    warm.foreach(r => if (r.status != 200) tally.fail(s"warm-up HTTP ${r.status}"))
    val setupEnd = Clock.now()
    val jvm0 = Jvm.snap()
    val stepSeconds = ctx.seconds.toDouble / rates.size
    val steps = rates.map { rate =>
      val t0 = Clock.now() + 20000000L
      val reqs = schedule(rate, stepSeconds, t0).toIndexedSeq
      ctx.tracer.span(s"step.${rate.toInt}rps", 0L)(_ => offer(reqs))
      (rate, t0, t0 + (stepSeconds * 1e9).toLong, reqs)
    }
    val jvm = Jvm.metrics(jvm0, Jvm.snap())
    draining = false
    drainer.join()
    drainOnce()
    val caughtUp = scala.util.Try(query.processAllAvailable())
    query.stop()
    api.stop()
    clients.foreach(_.close())
    SparkCounters.drain(spark.sparkContext)

    val all = steps.flatMap(_._4)
    all.foreach { r =>
      if (r.status == 200) tally.ok() else tally.fail(s"${if (r.put) "PUT" else "GET"} HTTP ${r.status}")
    }
    def ms(a: Long, b: Long) = (b - a) / 1e6
    val reads = all.filter(r => !r.put && r.status == 200)
    val writes = all.filter(r => r.put && r.status == 200)

    // invalidation: a PUT's envelope (its key and new updated_at) -> the
    // drained file -> the trigger that read it -> that trigger's DEL of the key
    val fileOf = drained.flatMap { case (name, _, lines) =>
      lines.flatMap(l => AfterRe.findFirstMatchIn(l).map(m => (m.group(1).toLong, m.group(2).toLong) -> name))
    }.toMap
    val fileBatch = StreamWatch.fileBatches(ckpt)
    val triggers = watch.all.filter(_.query == query.id.toString).map(t => t.batchId -> t).toMap
    val backlog = StreamWatch.backlog(triggers.values.toSeq, fileBatch,
      drained.map { case (f, at, _) => (f, at) }.toSeq, setupEnd).map(_._2)
    val dels = delStore.ops.filter(_.kind == "del").groupBy(_.key)
      .map { case (k, os) => k -> os.map(_.start).sorted.toArray }
    val writtenAt = drained.map { case (f, at, _) => f -> at }.toMap
    // each invalidated PUT as (ms from its 200 to the DEL, ms from its
    // change landing in the stream's directory to the DEL)
    val invalidated = writes.flatMap { r =>
      val updated = Json.parseObject(r.reply).flatMap(_.get("updated_at")).collect {
        case Json.JStr(s) => val t = LocalDateTime.parse(s, TsFmt)
          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
      }
      val at = for {
        u <- updated; f <- fileOf.get((r.code, u)); b <- fileBatch.get(f); t <- triggers.get(b)
        del <- StreamWatch.firstIn(dels, r.code.toString, t)
      } yield (writtenAt(f), del)
      if (at.isEmpty) tally.fail("PUT not invalidated in the batch that read it")
      at.map { case (w, del) => (ms(r.recv, del), ms(w, del)) }
    }
    val invalidations = invalidated.map(_._1)
    val lags = invalidated.map(_._2)

    // per step: read latency against the limit, and whether it kept up —
    // a growing backlog shows as requests waiting ever longer for a
    // connection, so past backlog_limit_ms the step did not keep up
    val limit = ctx.num("read_p90_limit_ms")
    val stepRows = steps.map { case (rate, s0, s1, reqs) =>
      val rl = reqs.filter(r => !r.put && r.status == 200).map(r => ms(r.due, r.recv))
      val waits = reqs.map(r => ms(r.due, r.send))
      val keptUp = reqs.forall(_.status == 200) && waits.forall(_ <= ctx.num("backlog_limit_ms"))
      val done = reqs.count(_.status == 200) / ((reqs.map(_.recv).maxOption.getOrElse(s1) - s0) / 1e9)
      Map("rate_rps" -> rate, "read_ms" -> Stats.summary(rl), "conn_wait_ms" -> Stats.summary(waits),
        "kept_up" -> keptUp, "meets_limit" -> (keptUp && Stats.pct(rl, 90) <= limit),
        "served_rps" -> done, "requests" -> reqs.size)
    }
    val maxRps = stepRows.takeWhile(_("meets_limit").asInstanceOf[Boolean]).lastOption
      .map(_("served_rps").asInstanceOf[Double]).getOrElse(0.0)

    // after the drain, every cached key equals its table row
    val table = engine.readAll().map(s => s.code.toString -> s).toMap
    val cached = cache.contents
    val stale = cached.count { case (k, v) =>
      val o = Json.parseObject(v)
      def str(f: String) = o.flatMap(_.get(f)).collect { case Json.JStr(s) => s }
      !table.get(k).exists(s => str("name").contains(s.name) && str("class").contains(s.`class`) &&
        str("libram") == s.libram && str("tendency") == s.tendency &&
        str("updated_at").contains(TsFmt.format(s.updated_at)))
    }
    val checks = Seq(
      "every cached key equals its table row after the drain" -> (stale == 0),
      "every HTTP status is one the reference allows" -> all.forall(_.status == 200),
      "the invalidation query drained and did not die" -> (caughtUp.isSuccess && watch.died.isEmpty))
    checks.filterNot(_._2).foreach { case (c, _) => tally.fail(c) }

    if (ctx.tracer.enabled) traceRequests(ctx.tracer, all, cache.ops)
    val readMs = reads.map(r => ms(r.due, r.recv))
    val (readP, readTail) = Stats.tail(readMs)
    val delKeys = delStore.ops.filter(o => o.kind == "del" && o.start >= setupEnd).map(_.key)
    val out = Outcome(tally.attempted, tally.failed, checks, setupEnd,
      common = Map("latency_p50_ms" -> Stats.median(readMs), "latency_tail_ms" -> readTail,
        "fresh_p50_ms" -> Stats.median(lags), "rate_per_s" -> maxRps, "cpu_s" -> jvm("proc.cpu_s")),
      named = Map("read_p50_ms" -> (Stats.median(readMs), "ms"), (f"read_p${readP}%.0f_ms") -> (readTail, "ms"),
        "write_p50_ms" -> (Stats.median(writes.map(r => ms(r.due, r.recv))), "ms"),
        "invalidate_p50_ms" -> (Stats.median(invalidations), "ms"),
        "cdc_lag_p50_ms" -> (Stats.median(lags), "ms"), "serve_max_rps" -> (maxRps, "1/s")),
      perLayer = watch.metrics(setupEnd) ++ jvm ++ cache.metrics(setupEnd) ++
        delStore.metrics(setupEnd).filter(_._1.startsWith("store.del")) ++ Map(
        "api.request_ms_p50" -> Stats.median(all.map(r => ms(r.send, r.recv))),
        "api.conn_wait_ms_p50" -> Stats.median(all.map(r => ms(r.due, r.send))),
        "api.gen_late_ms_max" -> all.map(r => ms(math.max(r.due, r.free), r.send)).maxOption.getOrElse(0.0),
        "api.requests" -> all.size.toDouble,
        "api.failed" -> all.count(_.status != 200).toDouble,
        "stream.backlog_files_max" -> (backlog.toSeq :+ 0).max.toDouble,
        "cdc.records_in" -> drained.filter(_._2 >= setupEnd).map(_._3.size).sum.toDouble,
        "cdc.keys_invalidated" -> delKeys.toSet.size.toDouble,
        "cdc.del_useful_ratio" -> delKeys.toSet.size.toDouble / math.max(1, delKeys.size)),
      detail = Map("setup_parts_s" -> Map("seed" -> (seeded - t00) / 1e9,
          "query_start" -> (queryStarted - seeded) / 1e9, "warmup" -> (setupEnd - queryStarted) / 1e9),
        "read_percentile" -> readP,
        "read_ms_by_decile" -> (10 to 90 by 10).map(p => Stats.pct(readMs, p)),
        "read_ms_p91_to_p99" -> (91 to 99).map(p => Stats.pct(readMs, p)),
        "invalidations" -> invalidations.size, "steps" -> stepRows, "stale_cached_keys" -> stale,
        "cached_keys" -> cached.size, "failures" -> tally.reasons, "query_deaths" -> watch.died))
    delStore.close(); cache.close(); resp.close()
    out
  }

  /** Request spans (due -> response, with the connection wait and the
    * exchange as children) and, under each exchange, the engine's store
    * calls for the same key inside it. */
  private def traceRequests(tracer: Tracer, reqs: Seq[Req], ops: Seq[StoreOp]): Unit = {
    val byKey = ops.groupBy(_.key)
    reqs.foreach { r =>
      val id = tracer.nextId(); val ex = tracer.nextId()
      tracer.record(id, 0L, if (r.put) "http.put" else "http.get", r.due, r.recv)
      tracer.record(tracer.nextId(), id, "api.conn_wait", r.due, r.send)
      tracer.record(ex, id, "api.exchange", r.send, r.recv)
      byKey.getOrElse(r.code.toString, Nil).filter(o => o.start >= r.send && o.end <= r.recv)
        .foreach(o => tracer.record(tracer.nextId(), ex, s"store.${o.kind}", o.start, o.end))
    }
  }
}
