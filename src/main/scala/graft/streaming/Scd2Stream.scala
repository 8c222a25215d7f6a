package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Envelope
import graft.store.Manifests

/** Streaming SCD2 maintenance — the q123 history relation kept current by
  * an incremental Structured Streaming fold instead of a per-call batch
  * rebuild (the stream==batch twin every other stateful family already
  * has: clusters, chunks, centroid, BM25).
  *
  * Incremental kernel: closed versions are IMMUTABLE — the only rows a
  * new event can change are the OPEN (is_current=1) versions of the keys
  * it touches. Each micro-batch therefore re-enters just those open rows
  * as synthetic non-delete events at their own valid_from and re-runs
  * [[Envelope.scd2Fold]] (the literal batch kernel, shared so the two
  * paths can never drift) over synthetic ∪ delta; everything else carries
  * forward untouched. Requires the CDC contract the source already
  * guarantees: per-key lsn-ordered delivery (Debezium keys the topic by
  * primary key, so a key's events stay in one partition, in order).
  *
  * State layout is the label-state idiom (`Curation.streamingClusterIngest`)
  * applied to keys: rows live under `scd2Dir/batch=<id>/kbkt=<code mod 32>/`
  * and `batch=<id>/_MANIFEST` — written LAST, atomically (tmp + rename),
  * with a format-version header and an `END <n>` terminator — maps each
  * live key bucket to the batch directory owning its current rows. A
  * micro-batch rewrites ONLY the buckets its keys hash into (delta-sized
  * write) and READS only those buckets' prior state (delta-sized read:
  * [[scd2IngestBatch]] returns the paths it read and Scd2StreamSpec pins
  * the strict subset); every other bucket carries forward by manifest
  * reference. Replay safe: a retried batch resolves the newest committed
  * manifest strictly below its own id, recomputes deterministically, and
  * overwrites its own directory — a half-written attempt has no manifest
  * and is invisible.
  *
  * At 100 TB the state shuffle is keyed by primary key — the topic's own
  * partitioning — and per-batch I/O is proportional to the delta's bucket
  * coverage, never the accumulated history.
  */
object Scd2Stream {

  private val N_BUCKETS = 32L
  // format-version header from day one: a future layout migration fails
  // with an explicit message instead of a parse error (the round-12
  // label-manifest lesson)
  private val HEADER = "GRAFT_SCD2_MANIFEST v1"
  private val FORMAT =
    Manifests.Format("SCD2 state", Some(HEADER), Set("B"), (_, _) => ())
  private val COLS = Seq("code", "libram", "valid_from_lsn",
    "valid_to_lsn", "is_current")

  private def bucketOf(c: org.apache.spark.sql.Column) =
    pmod(c, lit(N_BUCKETS))

  /** The long-running ingest: raw change records (`value: string`, the
    * Kafka contract) → incrementally maintained SCD2 state under
    * `scd2Dir`.
    *
    * `pruneEvery` > 0 codes the retention policy: every K-th batch runs
    * [[pruneScd2States]] (retaining `keep` committed states) so the
    * unreferenced batch directories a long stream sheds are retired
    * automatically instead of by a maintenance window. Safe AFTER the
    * fold, unlike the release stream's compaction-first ordering: prune
    * is delete-only of dirs no retained manifest references, and
    * `keep >= 2` always preserves the newest manifest AND its
    * predecessor — exactly the replay anchor a re-run of the current
    * batch resolves.
    */
  def streamingScd2Ingest(records: DataFrame, scd2Dir: String,
                          checkpoint: String, pruneEvery: Int = 0,
                          keep: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(pruneEvery >= 0, "pruneEvery: 0 disables, else every K batches")
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scd2IngestWithPolicy(batch, batchId, scd2Dir, pruneEvery, keep)
        ()
      }
      .start()
  }

  /** [[scd2IngestBatch]] under the prune-every-K retention policy
    * (factored out so specs drive the policy itself).
    */
  private[graft] def scd2IngestWithPolicy(batch: DataFrame, batchId: Long,
                                          scd2Dir: String, pruneEvery: Int,
                                          keep: Int = 2): Seq[String] = {
    val read = scd2IngestBatch(batch, batchId, scd2Dir)
    if (pruneEvery > 0 && batchId > 0 && batchId % pruneEvery == 0)
      pruneScd2States(batch.sparkSession, scd2Dir, keep)
    read
  }

  /** One micro-batch of the fold (the foreachBatch body, factored out so
    * replay/equality specs can drive it directly). Returns the prior-state
    * directory paths the batch READ — the strict-subset evidence.
    */
  private[graft] def scd2IngestBatch(batch: DataFrame, batchId: Long,
                                     scd2Dir: String): Seq[String] = {
    val spark = batch.sparkSession
    val ev = Envelope.scd2Events(Envelope.parse(batch)).persist()
    try {
      val priorMan = latestOwners(spark, scd2Dir, batchId)
      // ≤32 bucket ids — bounded driver state, like the label-state fold
      val touched = ev.select(bucketOf(col("code")).as("b")).distinct()
        .collect().map(_.getLong(0)).toSet
      if (touched.isEmpty) { // empty batch: state unchanged, commit as-is
        commit(spark, scd2Dir, batchId, priorMan)
        return Seq.empty
      }
      val readPaths = bucketPaths(scd2Dir,
        priorMan.filter(kv => touched.contains(kv._1)))
      val prior = readState(spark, readPaths)
      val keys = ev.select("code").distinct()
      val flagged = prior
        .join(keys.withColumn("touch", lit(1)), Seq("code"), "left").persist()
      // immutable rows: untouched keys' versions + touched keys' CLOSED ones
      val keep = flagged
        .filter(col("touch").isNull || col("is_current") === 0)
        .select(COLS.map(col): _*)
      // each touched key's open version re-enters the fold as a synthetic
      // non-delete event at its own valid_from (op value is arbitrary
      // non-'d': the fold only dispatches on delete-ness)
      val synth = flagged
        .filter(col("touch") === 1 && col("is_current") === 1)
        .select(col("code"), lit("o").as("op"), col("libram"),
          col("valid_from_lsn").as("lsn"))
      val folded = Envelope.scd2Fold(
        synth.unionByName(ev.select("code", "op", "libram", "lsn")))
      val out = keep.unionByName(folded)
        .withColumn("kbkt", bucketOf(col("code"))).persist()
      out.write.mode("overwrite").partitionBy("kbkt")
        .parquet(s"$scd2Dir/batch=$batchId")
      // a touched bucket can end up EMPTY (its only key deleted before any
      // version opened): partitionBy writes no directory for it, so the
      // manifest carries only buckets that hold rows (the label-state rule)
      val written = out.select("kbkt").distinct()
        .collect().map(_.getLong(0)).toSet
      out.unpersist(); flagged.unpersist()
      commit(spark, scd2Dir, batchId,
        (priorMan -- touched) ++ written.map(_ -> batchId))
      readPaths
    } finally { ev.unpersist(); () }
  }

  /** The newest committed SCD2 state — equals [[Envelope.scd2History]]
    * over every record ingested so far (Scd2StreamSpec pins it, plus
    * replay idempotency; q130 lookups run against this relation via
    * [[Envelope.scd2Lookup]]).
    */
  def scd2State(spark: SparkSession, scd2Dir: String): DataFrame = {
    readState(spark,
      bucketPaths(scd2Dir, latestOwners(spark, scd2Dir, Long.MaxValue)))
      .orderBy("code", "valid_from_lsn")
  }

  /** Retire unreferenced SCD2 batch directories — the label-state
    * `pruneLabelStates` contract applied here: buckets carry forward by
    * manifest reference, so a batch directory stays live while any
    * bucket it wrote is still the current owner. Liveness = every owner
    * named by the newest `keep` committed manifests plus those
    * manifests' own directories; everything below the committed
    * frontier and outside that set is deleted. Delete-only and
    * idempotent (a crash mid-prune leaves extra history, never less);
    * directories AT or ABOVE the frontier are never touched — a
    * manifest-less dir there is an in-flight batch between its bucket
    * write and its manifest commit. Live data is thereby bounded at
    * ≤ 32 owner directories per retained manifest, never
    * stream-length-many.
    */
  def pruneScd2States(spark: SparkSession, scd2Dir: String,
                      keep: Int = 2): Unit = {
    require(keep >= 2, "keep >= 2: the newest state plus its replay anchor")
    val fs = new org.apache.hadoop.fs.Path(scd2Dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batches = Manifests.batches(fs, scd2Dir)
    val committed = Manifests.committed(fs, scd2Dir)
    if (committed.isEmpty) return
    val retained = committed.takeRight(keep)
    val live = retained.toSet ++ retained.flatMap(b =>
      owners(Manifests.read(fs, scd2Dir, b, FORMAT)).values)
    batches.filter(b => !live.contains(b) && b < committed.max).foreach(b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$scd2Dir/batch=$b"), true))
  }

  private def bucketPaths(scd2Dir: String,
                          man: Map[Long, Long]): Seq[String] =
    man.toSeq.map { case (b, o) => s"$scd2Dir/batch=$o/kbkt=$b" }

  private def readState(spark: SparkSession, paths: Seq[String]): DataFrame =
    if (paths.isEmpty)
      spark.range(0).selectExpr("id AS code", "CAST(NULL AS STRING) AS libram",
        "id AS valid_from_lsn", "id AS valid_to_lsn", "id AS is_current")
    else spark.read.parquet(paths: _*).select(COLS.map(col): _*)

  private def commit(spark: SparkSession, scd2Dir: String, batchId: Long,
                     man: Map[Long, Long]): Unit =
    Manifests.write(spark.sessionState.newHadoopConf(), scd2Dir, batchId,
      FORMAT, man.toSeq.sorted.map { case (b, o) =>
        Manifests.Entry("B", b.toString, o.toString) })

  private def owners(entries: Seq[Manifests.Entry]): Map[Long, Long] =
    entries.map(e => e.key.toLong -> e.value.toLong).toMap

  private def latestOwners(spark: SparkSession, scd2Dir: String,
                          below: Long): Map[Long, Long] =
    Manifests.latest(spark.sessionState.newHadoopConf(), scd2Dir, below,
      FORMAT).map(m => owners(m._2)).getOrElse(Map.empty)
}
