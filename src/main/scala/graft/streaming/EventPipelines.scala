package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming analytics over the `events` shape (SURVEY.md s2.5 E-8):
  * watermarked tumbling and session windows and streaming dedup. All
  * are DataFrame => DataFrame plan fragments — the same code path serves
  * readStream (tests use MemoryStream) and batch DataFrames.
  *
  * Watermarks bound state: a 10-minute watermark on event time means
  * window state older than that is evicted and later data is dropped —
  * the explicit late-data policy the reference never needed (its only
  * "stream op" was idempotent DEL, SURVEY.md s2.4).
  */
object EventPipelines {

  /** Tumbling 1-hour counts/sums per event type. */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Exact dedup by event_id alone. Streaming: within the watermark
    * horizon — a redelivery with a re-stamped event time is still dropped;
    * state is one entry per id, evicted once the watermark passes
    * (dropDuplicatesWithinWatermark is streaming-only, hence the branch —
    * the batch twin is a plain id-distinct).
    */
  def dedupById(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
    else
      events.dropDuplicates("event_id")

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks within the preceding hour (attribution). Both sides carry
    * watermarks, so join state is bounded by interval + watermark and
    * evicted as event time advances — the condition every unbounded
    * stream-stream join must satisfy.
    */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c, expr(
      """c_user = p_user AND
        |click_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts""".stripMargin))
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_ts"))
  }

  private val GAP_US = 30L * 60 * 1000000

  /** Batch gap-sessionization (q55): per-user sessions split where the gap
    * to the previous event reaches 30 minutes — the lag/cumulative-flag
    * window idiom, the batch twin of [[userSessions]]'s `session_window`
    * (`StreamingSpec` pins the two producing the same sessions). One
    * shuffle: both window passes and the final aggregate share the
    * per-user partitioning, and per-user state is a sort, not a
    * whole-corpus structure. All outputs are exact integers (epoch micros,
    * x1e4-scaled value sums), so the DuckDB oracle hash-matches.
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull, 1L)
          .when(col("ts_us") - col("prev_us") >= GAP_US, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0))
          .cast("int"))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"),
        sum(floor(col("value") * 10000 + lit(0.5)).cast("long")).as("value_x1e4"))
      .orderBy("user_id", "session_idx")
  }

  /** Open-session state carried between micro-batches by
    * [[sessionizeStateful]].
    */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long, valueX1e4: Long)

  /** A closed session as emitted downstream (same exact-integer fields as
    * the q55 batch output).
    */
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
                           n_events: Long, value_x1e4: Long)

  /** Streaming sessionization through CUSTOM state — the
    * flatMapGroupsWithState form of [[userSessions]]/[[sessionizeBatch]]:
    * one OpenSession per user carried across micro-batches, closed sessions
    * emitted exactly once, either when a later event arrives past the
    * 30-minute gap or when the event-time watermark passes the gap
    * (EventTimeTimeout). This is the escape hatch for session semantics the
    * declarative `session_window` cannot express (emit-on-close records,
    * state enrichment, custom merge rules); state is one fixed-size row per
    * ACTIVE user, evicted by timeout — bounded regardless of stream length.
    * StreamingSpec pins its closed-session output equal to the q55 batch
    * form on the same (in-order) event feed.
    */
  def sessionizeStateful(events: DataFrame)
  : org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    def close(u: Long, o: OpenSession): ClosedSession =
      ClosedSession(u, o.startUs, o.lastUs, o.n, o.valueX1e4)
    val fn: (Long, Iterator[(Long, java.sql.Timestamp, Long, Long)],
      GroupState[OpenSession]) => Iterator[ClosedSession] = { (user, evs, state) =>
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(user, _)).iterator
        state.remove()
        out
      } else {
        // within-batch order is not guaranteed; sort by event time
        val sorted = evs.toSeq.sortBy(_._3)
        var open = state.getOption
        val closed = Seq.newBuilder[ClosedSession]
        sorted.foreach { case (_, _, tsUs, vX) =>
          open match {
            case Some(o) if tsUs - o.lastUs >= GAP_US =>
              closed += close(user, o)
              open = Some(OpenSession(tsUs, tsUs, 1L, vX))
            case Some(o) =>
              // a late-but-within-watermark event may predate the open
              // session's first event: extend BOTH bounds or the emitted
              // start_us could postdate an event the session counts
              open = Some(OpenSession(math.min(o.startUs, tsUs),
                math.max(o.lastUs, tsUs), o.n + 1, o.valueX1e4 + vX))
            case None =>
              open = Some(OpenSession(tsUs, tsUs, 1L, vX))
          }
        }
        open.foreach { o =>
          state.update(o)
          // timeout fires once the WATERMARK passes last-event + gap (ms).
          // CLAMPED above the current watermark: a timeout in the
          // watermark's past makes setTimeoutTimestamp throw
          // IllegalArgumentException, killing the query in a restart loop.
          // FlatMapGroupsWithStateExec already drops watermark-late rows
          // before this function under EventTimeTimeout (StreamingSpec pins
          // that), so every surviving event satisfies ts >= watermark — the
          // clamp is defense-in-depth for paths that bypass that filter
          // (e.g. a future NoTimeout/processing-time variant reusing this
          // fold, or state restored across a watermark jump).
          state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs() + 1,
            o.lastUs / 1000 + GAP_US / 1000))
        }
        closed.result().iterator
      }
    }
    events
      .withWatermark("ts", "10 minutes")
      // the watermarked `ts` column must SURVIVE into the grouped Dataset —
      // projecting it away makes the analyzer reject EventTimeTimeout
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 10000 + lit(0.5)).cast("long").as("v"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Per-user session windows with a 30-minute gap. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))
}
