package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.Tables
import graft.store.{Compaction, Manifests}
import graft.operators.ReleaseStream.Scenarios

/** The composed training-data curation pipeline: quality scoring ->
  * quality gate -> exact near-dup removal -> curated corpus. This is the
  * shape a 100 TB text pipeline actually runs, expressed as ONE Spark plan:
  *
  *   1. per-row quality features (pure codegen'd expressions, no shuffle);
  *   2. the quality gate FIRST — it is cheap and shrinks the corpus before
  *      the expensive pair join (predicate order is the scale lever here);
  *   3. near-dup pairs at Jaccard >= 0.8 over survivors, via MinHash-LSH
  *      candidate pruning + exact verification on candidates only
  *      (Dedup.jaccardPairsLshVerified) — no shingle self-join over the
  *      full corpus anywhere in the composed plan;
  *   4. keep the lowest doc_id of each dup pair, anti-join out the rest.
  *
  * Deterministic end to end, so the whole composition is oracle-checked
  * (q32) — not just its stages.
  */
object Curation {

  private val QUALITY_MIN = 700L
  private val JACCARD_MIN = 800

  /** Null-safe whitespace token count for the quarantine projections.
    * `size(split(NULL,' '))` is -1 under Spark's default
    * `legacy.sizeOfNull`, but the DuckDB oracle's
    * `length(string_split(text,' '))` is NULL — and NULL-text rows land
    * exactly here (not_null:text is a gate rule), so the convention must
    * match: NULL text -> NULL n_tokens.
    */
  private[operators] def nTokensWs: org.apache.spark.sql.Column =
    when(col("text").isNull, lit(null).cast("long"))
      .otherwise(size(split(col("text"), " ")).cast("long"))

  /** Quality-scored corpus: doc_id, lang, n_tokens, quality_x1e3, text.
    * The score expressions are TextAnalysis's — one definition, one oracle
    * twin, shared with q26.
    */
  def scored(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      TextAnalysis.nTokensCol.as("n_tokens"),
      TextAnalysis.qualityCol.as("quality_x1e3"), col("text"))

  /** The full curation plan over any (doc_id, lang, text) relation.
    * Facade-reachable (Graft.curatedCorpus), so `cache=false`: no blocks
    * stay pinned for the JVM lifetime; callers wanting the intra-plan reuse
    * persist the input themselves.
    */
  def curate(docs: DataFrame): DataFrame = {
    val qualified = scored(docs).filter(col("quality_x1e3") >= QUALITY_MIN)
    val losers = Dedup
      .jaccardPairsLshVerified(qualified.select(col("doc_id"), col("text")),
        JACCARD_MIN, cache = false)
      .select(col("d2").as("doc_id")).distinct()
    qualified
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_tokens", "quality_x1e3")
      .orderBy("doc_id")
  }

  /** The strict curation plan: `curate`'s quality gate and LSH near-dup
    * removal, plus the round's two repetition gates between them —
    * documents flagged by intra-doc repetition (q51 Gopher rules) or
    * failing the corpus dup-passage keep (q52 CCNet signal) are dropped
    * before the pair join ever sees them. Gate order is the scale
    * argument again: each stage is strictly cheaper-per-row than the next
    * and shrinks its input — per-row expressions, then the linear
    * shingle-frequency join, then LSH pair verification last. Composition
    * of individually oracle-checked stages; RepetitionSpec pins the gate
    * and dedup invariants on the output. NOTE: strict is NOT simply
    * curate-minus-gated-docs, and not a subset of curate — a near-dup
    * loser whose winning partner is gated away legitimately survives here
    * (its pair never forms), which is the correct pipeline-order
    * semantics.
    */
  /** `txtPairs` optionally supplies the whole-corpus verified pair
    * relation (the build-once `DedupArtifacts.ensureVerifiedPairs`
    * artifact). Exactly equivalent to running LSH over the gated subset:
    * both candidate membership (two docs share a band bucket iff their
    * own signatures collide) and verification (exact Jaccard of the two
    * shingle sets) are PAIRWISE properties, so
    * pairs(gated) == pairs(corpus) ∩ gated×gated — the semi-joins below.
    * This is the nightly-pairs-build / daily-curation-report split a
    * production corpus service runs; ArtifactSpec pins the equality.
    */
  def curateStrict(docs: DataFrame, cache: Boolean = false,
                   txtPairs: Option[DataFrame] = None): DataFrame = {
    // `qualified` feeds four consumers, but cache=false is the MEASURED
    // default here, unlike the shingle pipelines: each consumer prunes to
    // 1-2 columns at the parquet scan, so persisting the full-text rows
    // (one wide InMemoryRelation, codegen fence, no pruning) benched ~2x
    // SLOWER than re-scanning columnar parquet (9.5s vs 4.7s warm at
    // sf0.1). Persist pays when the input is NOT a pruned columnar source.
    val qualified0 = scored(docs).filter(col("quality_x1e3") >= QUALITY_MIN)
    val qualified = if (cache) qualified0.persist() else qualified0
    val qtext = qualified.select(col("doc_id"), col("text"))
    // q51 gate: metrics exist only for >= 3-token docs; absent metrics keep
    // the doc (nothing to assess), hence anti-join on the flagged set
    val flagged = Repetition.repetitionMetrics(qtext)
      .filter(col("flagged") === 1).select("doc_id")
    val unkept = Repetition.dupPassageScore(qtext)
      .filter(col("keep") === 0).select("doc_id")
    val gated = qualified
      .join(flagged.union(unkept), Seq("doc_id"), "left_anti")
    val losers = txtPairs match {
      case Some(p) =>
        val g = gated.select("doc_id")
        p.select("d1", "d2")
          .join(g.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_semi")
          .join(g.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_semi")
          .select(col("d2").as("doc_id")).distinct()
      case None => Dedup
        .jaccardPairsLshVerified(gated.select(col("doc_id"), col("text")),
          JACCARD_MIN, cache = false)
        .select(col("d2").as("doc_id")).distinct()
    }
    gated
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_tokens", "quality_x1e3")
      .orderBy("doc_id")
  }

  /** Cross-modal near-dup union: pairs flagged by text (MinHash-LSH pruned,
    * exactly verified, Jaccard >= 0.8) and/or by embedding (cosine >= 0.45,
    * the q40 tail threshold), with the flagging modality attributed. The
    * doc/vec id spaces align row-for-row in the fixtures, which is exactly
    * the multimodal-table shape (one id, several representations) the
    * pipeline assumes. Scores are -1-coalesced rather than null so the
    * cross-engine compare never depends on null-vs-NaN dataframe coercion.
    */
  def crossModalPairs(docs: DataFrame, embs: DataFrame,
                      cache: Boolean = true,
                      txtPairs: Option[DataFrame] = None,
                      embPairs: Option[DataFrame] = None): DataFrame = {
    // txtPairs/embPairs let the catalog entry supply both verified pair
    // sets from build-once content-keyed artifacts (same pair sets by the
    // ArtifactSpec/AnnIndexSpec equality pins) instead of re-tokenizing /
    // re-scoring the exact pair space per query
    val txt = txtPairs.getOrElse(Dedup.jaccardPairsLshVerified(
      docs.select(col("doc_id"), col("text")), 800, cache = cache))
    val emb = embPairs.getOrElse(Dedup.embeddingNearDupPairs(embs, 4500))
    txt.as("t")
      .join(emb.as("e"),
        col("t.d1") === col("e.v1") && col("t.d2") === col("e.v2"), "full_outer")
      .select(
        coalesce(col("t.d1"), col("e.v1")).as("id1"),
        coalesce(col("t.d2"), col("e.v2")).as("id2"),
        coalesce(col("t.jaccard_x1e3"), lit(-1L)).as("jaccard_x1e3"),
        coalesce(col("e.cos_x1e4"), lit(-1L)).as("cos_x1e4"),
        when(col("t.d1").isNotNull && col("e.v1").isNotNull, lit("both"))
          .when(col("t.d1").isNotNull, lit("text"))
          .otherwise(lit("embedding")).as("modality"))
      .orderBy("id1", "id2")
  }

  /** The streaming form of the curation entry stage: per-row quality
    * scoring (pure expressions — identical plan fragment as the batch
    * `scored`) and stateful exact dedup on the content hash, so an
    * arriving duplicate of ANY previously seen document is dropped. State
    * is one 32-byte hash per distinct kept document. Near-dup removal is
    * deliberately NOT here: it needs corpus-wide joins, which is the
    * periodic batch compaction's job (run `curate` over accumulated
    * micro-batch output — same split as the reference's cache-aside +
    * batch-apply pattern). For bounded state under true unbounded streams,
    * compose with a watermark on an event-time column before the dedup.
    */
  def streamingCurate(docs: DataFrame): DataFrame =
    scored(docs)
      .filter(col("quality_x1e3") >= QUALITY_MIN)
      .withColumn("content_hash", sha2(col("text"), 256))
      .dropDuplicates("content_hash")
      .select("doc_id", "lang", "n_tokens", "quality_x1e3")

  /** Directory-partition fanout of the persisted incremental indexes: each
    * batch's rows land under `<probe-key bucket>=K` subdirectories so a
    * later batch's probe enumerates (and READS) only the buckets its own
    * keys hash into. 32 matches the test parallelism; a 100 TB deployment
    * raises it (the bucket count is a layout constant baked into one
    * index, not a cross-run contract — changing it means rebuilding the
    * index, same as any bucketed table).
    */
  private[operators] val IDX_BUCKETS = 32L

  private def bucketOf(c: org.apache.spark.sql.Column) =
    pmod(c, lit(IDX_BUCKETS))

  /** Enumerate the `batch=K/<bkCol>=B` partition directories of a bucketed
    * incremental index with K < `batchId` (replay safety: a failed
    * attempt's own partition is invisible to its retry) and B in `bkts`
    * (the probe pruning). A MISSING base dir means "first batch, no index
    * yet" and returns Nil; any OTHER filesystem failure propagates so a
    * transient mid-run error fails the batch loudly instead of silently
    * emitting within-batch pairs only.
    */
  private[operators] def prunedBatchPaths(spark: SparkSession, dir: String,
                                          batchId: Long, bkCol: String,
                                          bkts: Set[Long]): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return Nil
    require(fs.getFileStatus(base).isDirectory,
      s"incremental index path $dir exists but is not a directory")
    Compaction.recover(fs, dir)
    val wanted = bkts.map(b => s"$bkCol=$b")
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch=") &&
        s.getPath.getName.stripPrefix("batch=").toLong < batchId)
      .flatMap(s => fs.listStatus(s.getPath).toSeq)
      .filter(c => c.isDirectory && wanted.contains(c.getPath.getName))
      .map(_.getPath.toString)
  }

  /** The incremental index's relations and each one's bucket column. */
  private val INDEX_RELATIONS =
    Seq("docs" -> "dbkt", "bands" -> "bb", "post" -> "sbkt", "pbands" -> "pb")

  /** Swap the batch dirs below `upTo` of the flat batch-dir store at
    * `dir` into one `batch=0` dir through [[Compaction]] (recovering any
    * swap in flight first), when there are at least `minBatches` of them:
    * `write(rows, tmp)` writes the rewrite of their rows (`batch` column
    * dropped) to the swap's tmp dir.
    */
  private[operators] def swapBatches(spark: SparkSession, dir: String,
                                      upTo: Long, minBatches: Int)(
      write: (DataFrame, String) => Unit): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    Compaction.recover(fs, dir)
    val ids = Manifests.batches(fs, dir).filter(_ < upTo)
    if (ids.size >= minBatches)
      Compaction.compact(hconf, dir, ids, upTo) { (dirs, tmp) =>
        write(spark.read.option("basePath", dir).parquet(dirs: _*)
          .drop("batch"), tmp)
      }
  }

  /** Compact the accumulated batch directories of a bucketed incremental
    * index (both the near-dup `docs`/`bands` and the containment
    * `docs`/`post` layouts) into ONE `batch=0` directory per relation,
    * preserving the bucket partitioning. A stream of B batches otherwise
    * accumulates B directories per relation, and every probe's
    * enumeration (plus the filesystem's file count) grows with B even
    * though each read is bucket-pruned — periodic compaction caps both.
    *
    * MUST only be called with `upToBatch` <= the stream's committed
    * frontier (no batch < upToBatch can be replayed afterwards — its
    * directory no longer exists; Structured Streaming only ever replays
    * the last uncommitted batch, so compacting up to the checkpoint's
    * committed batch id is always safe, e.g. between runs or from a
    * maintenance job). Pair outputs are untouched. Crash-safe through
    * [[Compaction]], whose recovery runs before every index read
    * ([[prunedBatchPaths]]; IncrementalIndexSpec pins both crash windows).
    */
  def compactIncrementalIndex(spark: SparkSession, indexDir: String,
                              upToBatch: Long): Unit =
    for ((rel, bkCol) <- INDEX_RELATIONS)
      swapBatches(spark, s"$indexDir/$rel", upToBatch, 2) { (rows, tmp) =>
        writeBucketedBatch(rows, tmp, bkCol)
      }

  /** Compact a FLAT batch-dir store — the crawl-archive layout
    * ([[graft.operators.ReleaseStream.streamingReleaseIngest]]'s
    * `archiveDir` tee): merge every `batch=<id>` dir with id <
    * `upToBatch` into ONE `batch=0` dir through [[Compaction]] (whose
    * recovery must run before every read). Consolidation is
    * ROW-preserving and rows carry their own `ver` column, so as-of reads
    * stay exact with a row-level `ver < below` filter — unlike the
    * per-batch centroid index, whose consumers need batch identity from
    * DIRECTORY names and must refuse a compacted tree. Same
    * quiesced-frontier contract as the index compactor: no batch <
    * upToBatch may be replayed afterwards.
    */
  private[operators] def compactFlatBatchStore(spark: SparkSession,
                                               dir: String,
                                               upToBatch: Long): Unit =
    swapBatches(spark, dir, upToBatch, 2) { (rows, tmp) =>
      rows.write.mode("overwrite").parquet(tmp)
    }

  /** EXCISE a doc set from a bucketed incremental index: rewrite every
    * relation minus the given docs' rows, through [[Compaction]]'s swap
    * (the one crash-safe rewrite this index format has). Used by the
    * release residue repair
    * ([[graft.operators.ReleaseStream.refoldQuarResidue]]): a
    * quarantine-winning doc left in the index would keep minting pairs,
    * re-entering CC as a cluster node and skewing future roots/splits
    * away from the final-verdict batch twin.
    *
    * Cost posture: this is an index-SIZED rewrite, not delta-sized — a
    * leaf-level rewrite would be cheaper but this format has no
    * per-leaf commit protocol, and the repair runs at a quiesced
    * maintenance frontier where a consolidating rewrite (it also
    * compacts the batch dirs, bounding future probe enumeration) is the
    * posture compaction already pays. A 100 TB deployment shards its
    * index per corpus partition, making the rewrite shard-local.
    */
  private[operators] def exciseFromIncrementalIndex(spark: SparkSession,
                                                    indexDir: String,
                                                    docIds: DataFrame,
                                                    below: Long): Unit = {
    val ids = docIds.select("doc_id")
    for ((rel, bkCol) <- INDEX_RELATIONS)
      swapBatches(spark, s"$indexDir/$rel", below, 1) { (rows, tmp) =>
        writeBucketedBatch(rows.join(ids, Seq("doc_id"), "left_anti"), tmp,
          bkCol)
      }
  }

  /** Read the pruned subset of a bucketed incremental index, with
    * `schemaLike`'s columns; empty (zero paths) reads come back as an
    * empty frame of the same shape.
    */
  private[operators] def readPrunedIndex(spark: SparkSession, dir: String,
                                         batchId: Long, bkCol: String,
                                         bkts: Set[Long],
                                         schemaLike: DataFrame): DataFrame =
    readIndexPaths(spark, dir,
      prunedBatchPaths(spark, dir, batchId, bkCol, bkts), schemaLike)

  /** Read an already-enumerated path subset of a bucketed index (split
    * from [[readPrunedIndex]] so the ingest batches can RETURN the path
    * lists they actually read — the probe-I/O evidence GrowthSmoke's
    * streaming table and the flatness assertions are built on).
    */
  private[operators] def readIndexPaths(spark: SparkSession, dir: String,
                                        paths: Seq[String],
                                        schemaLike: DataFrame): DataFrame = {
    val cols = schemaLike.columns.map(col).toSeq
    if (paths.isEmpty) schemaLike.limit(0)
    else spark.read.schema(schemaLike.schema).option("basePath", dir)
      .parquet(paths: _*).select(cols: _*)
  }

  /** Read manifest-named leaf directories under their declared `schema`
    * (an empty local relation when there are none, which the optimizer
    * folds away). Spark infers a schema-less parquet read's schema with a
    * job of its own per call; a declared one plans from the paths alone.
    */
  private[operators] def readLeaves(spark: SparkSession, paths: Seq[String],
                                    schema: StructType): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(paths: _*)

  /** The one bucketed-store writer: overwrite `path` with `df` partitioned
    * by `bkCol`, and return the buckets written — the `bkCol=K`
    * directories under `path`, read by one filesystem listing instead of
    * a Spark job. A `partitionBy` overwrite clears `path` first and
    * creates no directory for an empty bucket, so the listing is exactly
    * the distinct bucket values of `df`'s rows (empty for an empty frame).
    *
    * Repartitions ON the bucket column: one file per bucket dir per batch
    * (the keyed-audit store lesson) — without it every shuffle
    * task writes its slice of every bucket and each pruned probe pays a
    * per-file open cost up to #shuffle-partitions times the data.
    */
  private[operators] def writeBucketedBatch(df: DataFrame, path: String,
                                            bkCol: String): Set[Long] = {
    df.repartition(col(bkCol)).write.mode("overwrite").partitionBy(bkCol)
      .parquet(path)
    listedBuckets(df.sparkSession, path, bkCol)
  }

  /** The `bkCol=K` directories directly under `path`, as bucket ids;
    * files (`_SUCCESS`, `.crc` sidecars) and other directories are not
    * buckets. A `bkCol=` directory whose value is not a number fails.
    */
  private[operators] def listedBuckets(spark: SparkSession, path: String,
                                       bkCol: String): Set[Long] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val prefix = s"$bkCol="
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map { s =>
        s.getPath.getName.stripPrefix(prefix).toLongOption.getOrElse(
          throw new IllegalStateException(s"bucket directory ${s.getPath} " +
            s"is not a numeric $bkCol value"))
      }.toSet
  }

  /** The distinct values of a bucket-id expression over `df`, collected
    * to the driver — bounded by IDX_BUCKETS values by construction, the
    * same ≤page-of-longs driver state as a broadcast threshold, never
    * data-sized.
    */
  private[operators] def bucketSet(df: DataFrame, bucket: Column): Set[Long] =
    df.select(bucket).distinct().collect().map(_.getLong(0)).toSet

  /** Streaming NEAR-dup ingest — the q64 incremental contract driven by
    * Structured Streaming: each micro-batch of `(doc_id, text)` docs is
    * indexed ([[Dedup.nearDupIndex]]), its verified pairs against the
    * accumulated index land in `pairsDir/batch=<id>`, and its index rows
    * under `indexDir` in a BUCKETED two-relation layout:
    *
    *   - `indexDir/docs/batch=<id>/dbkt=<doc_id mod 32>/` — doc-keyed
    *     `(doc_id, sig, sh)` rows (the verify side);
    *   - `indexDir/bands/batch=<id>/bb=<bh mod 32>/` — the banded
    *     `(doc_id, band, bh)` posting projection (the probe side).
    *
    * A later batch reads ONLY the bucket directories its own band hashes
    * (then its candidates' doc ids) fall into — per-batch probe I/O scales
    * with the delta's bucket coverage, not with the accumulated corpus,
    * which is what makes a long-running 100 TB stream viable (the old
    * layout re-read the ENTIRE index every micro-batch). Both bucket sets
    * are driver-collected but bounded at IDX_BUCKETS values each.
    *
    * Effective exactly-once WITHOUT a transactional table format: all
    * writes are per-batch-directory overwrites keyed by the checkpointed
    * batchId, so a replayed batch rewrites its own directories
    * deterministically, and the index read excludes the current batchId's
    * partition — a half-written failed attempt can neither duplicate
    * index rows nor leak into its own candidate join. Union of
    * `pairsDir` over any run == the whole-corpus q22 pair set
    * (StreamingSpec pins two-batch equality and replay idempotency;
    * IncrementalIndexSpec pins the strict-subset file pruning).
    */
  def streamingNearDupIngest(docs: DataFrame, indexDir: String,
                             pairsDir: String, checkpoint: String,
                             thresholdX1e3: Int = JACCARD_MIN)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupIngestBatch(batch, batchId, indexDir, pairsDir, thresholdX1e3)
        ()
      }
      .start()

  /** One micro-batch of the near-dup ingest (the foreachBatch body,
    * factored out so maintenance flows — e.g. an ingest resuming after
    * [[compactIncrementalIndex]] — are testable without a live stream).
    */
  /** Returns the (band-probe, doc-probe) directory paths the batch READ —
    * the probe-I/O evidence for the growth smoke; the streaming wrapper
    * discards it.
    */
  private[operators] def nearDupIngestBatch(batch: DataFrame, batchId: Long,
                                            indexDir: String, pairsDir: String,
                                            thresholdX1e3: Int)
      : (Seq[String], Seq[String]) = {
    val spark = batch.sparkSession
    val delta = Dedup.nearDupIndex(batch.select("doc_id", "text")).persist()
    val deltaB = Dedup.bandBuckets(delta.select("doc_id", "sig"),
        carrySig = false)
      .withColumn("bb", bucketOf(col("bh"))).persist()
    val bandPaths = prunedBatchPaths(spark, s"$indexDir/bands", batchId,
      "bb", bucketSet(deltaB, col("bb")))
    val idxBands = readIndexPaths(spark, s"$indexDir/bands", bandPaths,
      deltaB.drop("bb"))
    val cand = Dedup.nearDupCandidates(
      idxBands.unionByName(deltaB.drop("bb")), deltaB.drop("bb")).persist()
    val dbkts = bucketSet(
      cand.select(explode(array(col("d1"), col("d2"))).as("id")),
      bucketOf(col("id")))
    val docPaths = prunedBatchPaths(spark, s"$indexDir/docs", batchId,
      "dbkt", dbkts)
    val idxDocs = readIndexPaths(spark, s"$indexDir/docs", docPaths, delta)
    Dedup.nearDupVerify(cand, idxDocs.unionByName(delta), thresholdX1e3)
      .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
    writeBucketedBatch(delta.withColumn("dbkt", bucketOf(col("doc_id"))),
      s"$indexDir/docs/batch=$batchId", "dbkt")
    writeBucketedBatch(deltaB, s"$indexDir/bands/batch=$batchId", "bb")
    cand.unpersist(); deltaB.unpersist(); delta.unpersist()
    (bandPaths, docPaths)
  }

  /** Streaming CONTAINMENT ingest — [[streamingNearDupIngest]]'s contract
    * in the asymmetric regime (q90 driven by Structured Streaming): each
    * micro-batch is indexed ([[Dedup.containmentIndex]]), its inclusion
    * pairs against the accumulated index land in `pairsDir/batch=<id>`,
    * its index rows under `indexDir` in the bucketed two-relation layout:
    *
    *   - `indexDir/docs/batch=<id>/dbkt=<doc_id mod 32>/` — doc-keyed
    *     `(doc_id, sh, pref)` rows (the verify side);
    *   - `indexDir/post/batch=<id>/sbkt=<shingle mod 32>/` — exploded
    *     `(doc_id, shingle, is_pref)` postings (the probe side;
    *     `is_pref` marks the doc's rarest-prefix subset so BOTH probe
    *     directions read the one relation).
    *
    * The candidate probe needs index postings only for shingles the delta
    * itself carries (direction 1 probes delta prefixes against index
    * postings; direction 2 probes index PREFIX postings against delta
    * shingles, and prefix ⊆ full keeps its buckets inside the delta's full
    * set), so each micro-batch enumerates and reads only the matching
    * `sbkt` directories — probe I/O scales with the delta's bucket
    * coverage, not the accumulated corpus. Same effective-exactly-once
    * posture: per-batch-directory overwrites keyed by the checkpointed
    * batchId, index read excludes the current batch's partition. Union of
    * `pairsDir` over any run == the whole-corpus q87 pair set
    * (StreamingSpec pins two-batch equality and replay idempotency —
    * exactness under stale per-batch document frequencies is the q90
    * argument: any exact-length subset of a doc's shingles is a valid
    * prefix).
    */
  /** Streaming CLUSTER-LABEL maintenance — the q106 fold driven by
    * Structured Streaming: each micro-batch runs the full near-dup ingest
    * ([[nearDupIngestBatch]]: bucketed index + per-batch verified pairs),
    * then folds its fresh pairs into the previous batch's component
    * labels ([[Dedup.foldClusterLabels]]).
    *
    * The label state is BUCKETED BY CLUSTER: a component's rows all live
    * in `cbkt = cluster_id mod 32` (every row of a component carries the
    * same cluster_id), so a micro-batch rewrites ONLY the buckets whose
    * components its delta pairs touch and carries every other bucket
    * forward BY REFERENCE. Concretely, `labelsDir/batch=<id>/cbkt=K/`
    * holds the rewritten buckets and `labelsDir/batch=<id>/_MANIFEST`
    * (written LAST — the commit marker) maps each live bucket to the
    * batch directory that owns its current rows. A batch whose delta
    * merges two components touches exactly the buckets of the two old
    * roots plus the bucket of the merged root; ~10¹⁰ labels at 100 TB no
    * longer get rewritten per batch — the write (and the fold compute,
    * which contracts only the touched components + delta edges) is
    * delta-sized, the same fix the bucketed index layout applied to the
    * probe reads. The READ side is bucket-pruned too: a DOC-RESIDUE
    * mirror (`docmap/dbkt=<doc_id mod 32>/` rows of (doc_id, cbkt),
    * maintained under the same manifest) resolves the delta's endpoints
    * to their components' cluster buckets, so a batch reads only the
    * docmap buckets its endpoints hash into plus the label buckets those
    * endpoints' components live in — never the full prior label state
    * (round-11 verdict #2; the batch returns the path lists it read and
    * StreamingSpec pins the strict-subset read for a one-doc batch).
    *
    * Replay safety is unchanged in spirit: a retried batch resolves the
    * newest COMMITTED manifest strictly BELOW its own batchId and
    * rewrites its own directory + manifest deterministically; a
    * half-written attempt (data dirs, no manifest) is invisible. After
    * any prefix of the stream, [[labelState]] equals q49 over every
    * document ingested so far (StreamingSpec pins the two-batch case
    * against the whole-corpus labels, plus strict-subset bucket writes
    * for a one-doc batch).
    */
  def streamingClusterIngest(docs: DataFrame, indexDir: String,
                             pairsDir: String, labelsDir: String,
                             checkpoint: String,
                             thresholdX1e3: Int = JACCARD_MIN)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        clusterIngestBatch(batch, batchId, indexDir, pairsDir, labelsDir,
          thresholdX1e3)
        ()
      }
      .start()

  /** One micro-batch of the cluster-label ingest (the foreachBatch body,
    * factored out like [[nearDupIngestBatch]]). Touched-component
    * derivation: every label row whose value CHANGES this batch sits in a
    * component containing a delta-pair endpoint (new docs enter through
    * the pairs themselves; components with no endpoint are untouched by
    * the CC fold), the old bucket of such a row is `cbkt(old root)` and
    * its new bucket `cbkt(new root)` — and every touched component
    * contains an endpoint, so both root sets are reachable from the
    * endpoint set alone. Buckets outside that set are byte-identical to
    * the predecessor state and carry forward as manifest references.
    */
  /** Returns the (label-bucket, docmap-bucket) directory paths the batch
    * READ — the strict-subset read evidence, mirroring
    * [[nearDupIngestBatch]]'s probe-path return; the streaming wrapper
    * discards it.
    */
  private[graft] def clusterIngestBatch(batch: DataFrame, batchId: Long,
                                            indexDir: String, pairsDir: String,
                                            labelsDir: String,
                                            thresholdX1e3: Int)
      : (Seq[String], Seq[String]) = {
    val spark = batch.sparkSession
    nearDupIngestBatch(batch, batchId, indexDir, pairsDir, thresholdX1e3)
    val deltaPairs = readLeaves(spark, Seq(s"$pairsDir/batch=$batchId"),
        PAIR_SCHEMA).select("d1", "d2").persist()
    val priorMan = latestLabelCommit(spark, labelsDir, batchId)
      .map(_._2).getOrElse(LabelManifest(Map.empty, Map.empty))
    val eps = deltaPairs.select(col("d1").as("doc_id"))
      .union(deltaPairs.select(col("d2").as("doc_id"))).distinct().persist()
    // endpoint -> component-bucket resolution through the DOC-RESIDUE
    // mirror: enumerate only the docmap buckets the endpoints hash into
    // (delta-sized read), never the corpus-linear label relation
    val epDbkts = bucketSet(eps, bucketOf(col("doc_id")))
    val docmapPaths = docmapBucketPaths(labelsDir,
      priorMan.docs.filter(kv => epDbkts.contains(kv._1)))
    val epCbkts = bucketSet(
      readDocMapPaths(spark, docmapPaths).join(broadcast(eps), "doc_id"),
      col("cbkt"))
    // pruned prior read #1: exactly the label buckets holding the
    // endpoints' components (a component's rows all share its root's
    // residue, and an endpoint's cbkt IS its component's residue)
    val epLabelPaths = labelBucketPaths(labelsDir,
      priorMan.labels.filter(kv => epCbkts.contains(kv._1)))
    val priorTouched = readLabelPaths(spark, epLabelPaths).persist()
    val oldRoots = priorTouched.join(broadcast(eps), "doc_id")
      .select("cluster_id").distinct().persist()
    val changedOld = priorTouched
      .join(broadcast(oldRoots), Seq("cluster_id")).select("doc_id", "cluster_id")
      .persist()
    val folded = Dedup.foldClusterLabels(changedOld, deltaPairs).persist()
    val touched = bucketSet(changedOld.select("cluster_id")
      .union(folded.select("cluster_id")), bucketOf(col("cluster_id")))
    // a touched bucket can end up EMPTY (a merge moves a whole component
    // to another residue); partitionBy writes no directory for it, so the
    // manifest must carry only the buckets that actually hold rows —
    // touched-but-empty buckets DROP from the manifest (a dangling entry
    // would make every later read throw on the missing path)
    var written = Set.empty[Long]
    var carryPaths = Seq.empty[String]
    if (touched.nonEmpty) {
      // pruned prior read #2: rows carried inside the rewritten buckets
      // (folded roots can land in residues the endpoint lookup never
      // named, so this is a separate — still bucket-pruned — path set)
      carryPaths = labelBucketPaths(labelsDir,
        priorMan.labels.filter(kv => touched.contains(kv._1)))
      written = writeBucketedBatch(readLabelPaths(spark, carryPaths)
        .join(broadcast(oldRoots), Seq("cluster_id"), "left_anti")
        .select("doc_id", "cluster_id")
        .unionByName(folded.select("doc_id", "cluster_id"))
        .withColumn("cbkt", bucketOf(col("cluster_id"))),
        s"$labelsDir/batch=$batchId", "cbkt")
    }
    // docmap maintenance: every re-labeled doc (folded covers the touched
    // components' docs plus the delta's new docs) gets its new cbkt; a
    // doc's OWN residue never changes, so rewritten docmap buckets are
    // carry-minus-folded plus delta and never empty. Written AFTER the
    // label data (same batch dir), BEFORE the manifest commit.
    val docDelta = folded
      .select(col("doc_id"), bucketOf(col("cluster_id")).as("cbkt")).persist()
    val touchedD = bucketSet(docDelta, bucketOf(col("doc_id")))
    var writtenD = Set.empty[Long]
    if (touchedD.nonEmpty) {
      val dPaths = docmapBucketPaths(labelsDir,
        priorMan.docs.filter(kv => touchedD.contains(kv._1)))
      writtenD = writeBucketedBatch(readDocMapPaths(spark, dPaths)
        .join(broadcast(docDelta.select("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(docDelta)
        .withColumn("dbkt", bucketOf(col("doc_id"))),
        s"$labelsDir/batch=$batchId/docmap", "dbkt")
    }
    commitLabels(spark, labelsDir, batchId, LabelManifest(
      (priorMan.labels -- touched) ++ written.map(_ -> batchId),
      (priorMan.docs -- touchedD) ++ writtenD.map(_ -> batchId)))
    docDelta.unpersist(); folded.unpersist(); changedOld.unpersist()
    oldRoots.unpersist(); priorTouched.unpersist(); eps.unpersist()
    deltaPairs.unpersist()
    ((epLabelPaths ++ carryPaths).distinct, docmapPaths)
  }

  /** The directories [[clusterIngestBatch]] writes for `batchId`. */
  private[graft] def clusterIngestDirs(indexDir: String, pairsDir: String,
                                       labelsDir: String,
                                       batchId: Long): Seq[String] =
    Seq(s"$indexDir/docs/batch=$batchId", s"$indexDir/bands/batch=$batchId",
      s"$pairsDir/batch=$batchId", s"$labelsDir/batch=$batchId",
      s"$labelsDir/batch=$batchId/docmap")

  /** A committed batch's view of the label state: `labels` maps each live
    * cluster bucket (cbkt) to the batch directory owning its current
    * rows; `docs` does the same for the doc-residue mirror's dbkt
    * buckets.
    */
  private[operators] case class LabelManifest(labels: Map[Long, Long],
                                              docs: Map[Long, Long])

  // Headerless: the label manifest predates the format-version header.
  // Pre-r12 manifests had bare "<bucket> <owner>" lines, no L/D relation
  // tag and no END terminator: fail those with an explicit migration
  // message, not a misleading "truncated" error.
  private val LABEL_FORMAT = Manifests.Format("label-state", None,
    Set("L", "D"), (path, lines) => require(!(lines.nonEmpty &&
      lines.forall(l => l.trim.split(" ").length == 2 && !l.startsWith("L ") &&
        !l.startsWith("D ") && !l.startsWith("END "))),
      s"manifest $path is in the legacy 2-field format (written by a " +
        "pre-docmap graft version): the label-state format migrated to " +
        "tagged L/D entries with an END terminator — rebuild the label " +
        "state from the stream (delete the labels directory and replay)"))

  /** Commit a batch's label-state manifest, AFTER the bucket data. The
    * ingest's own replay only ever re-publishes an IDENTICAL body, but the
    * residue repair ([[exciseDocsFromClusterState]]) REWRITES the frontier
    * manifest with a different one — hence the atomic overwrite of
    * [[Manifests.publish]].
    */
  private def commitLabels(spark: SparkSession, labelsDir: String,
                           batchId: Long, man: LabelManifest): Unit =
    Manifests.write(spark.sessionState.newHadoopConf(), labelsDir,
      batchId, LABEL_FORMAT,
      man.labels.toSeq.sorted.map { case (b, o) =>
        Manifests.Entry("L", b.toString, o.toString) } ++
      man.docs.toSeq.sorted.map { case (b, o) =>
        Manifests.Entry("D", b.toString, o.toString) })

  private def labelManifest(entries: Seq[Manifests.Entry])
      : LabelManifest = {
    def rel(tag: String) = entries.filter(_.tag == tag)
      .map(e => e.key.toLong -> e.value.toLong).toMap
    LabelManifest(rel("L"), rel("D"))
  }

  /** The newest COMMITTED label manifest strictly below `batchId`. */
  private def latestLabelCommit(spark: SparkSession, labelsDir: String,
                                batchId: Long): Option[(Long, LabelManifest)] =
    Manifests.latest(spark.sessionState.newHadoopConf(),
      labelsDir, batchId, LABEL_FORMAT)
      .map { case (b, entries) => (b, labelManifest(entries)) }

  private def labelBucketPaths(labelsDir: String,
                               manifest: Map[Long, Long]): Seq[String] =
    manifest.toSeq.map { case (b, owner) => s"$labelsDir/batch=$owner/cbkt=$b" }

  private def docmapBucketPaths(labelsDir: String,
                                manifest: Map[Long, Long]): Seq[String] =
    manifest.toSeq
      .map { case (b, owner) => s"$labelsDir/batch=$owner/docmap/dbkt=$b" }

  /** The leaf schemas of the cluster-label state: the label buckets, the
    * docmap mirror, and the per-batch verified pairs. StoreSchemaSpec
    * pins them to what the writers write.
    */
  private[graft] val LABEL_SCHEMA =
    StructType.fromDDL("doc_id BIGINT, cluster_id BIGINT")
  private[graft] val DOCMAP_SCHEMA =
    StructType.fromDDL("doc_id BIGINT, cbkt BIGINT")
  private[graft] val PAIR_SCHEMA =
    StructType.fromDDL("d1 BIGINT, d2 BIGINT, jaccard_x1e3 BIGINT")

  private def readLabelPaths(spark: SparkSession,
                             paths: Seq[String]): DataFrame =
    readLeaves(spark, paths, LABEL_SCHEMA)

  private def readDocMapPaths(spark: SparkSession,
                              paths: Seq[String]): DataFrame =
    readLeaves(spark, paths, DOCMAP_SCHEMA)

  /** Resolve a manifest to its label relation: one parquet read over the
    * referenced `batch=<owner>/cbkt=<b>` leaf directories.
    */
  private def readLabelState(spark: SparkSession, labelsDir: String,
                             manifest: Map[Long, Long]): DataFrame =
    readLabelPaths(spark, labelBucketPaths(labelsDir, manifest))

  /** The newest committed label state of a [[streamingClusterIngest]]
    * directory — what a consumer (or a spec) reads. Equals q49 over every
    * document ingested so far.
    */
  def labelState(spark: SparkSession, labelsDir: String): DataFrame =
    labelStateAt(spark, labelsDir, Long.MaxValue)

  /** The committed label state as of batch `batchId` inclusive (the
    * newest committed manifest <= batchId).
    */
  def labelStateAt(spark: SparkSession, labelsDir: String,
                   batchId: Long): DataFrame =
    readLabelState(spark, labelsDir,
      latestLabelCommit(spark, labelsDir,
          if (batchId == Long.MaxValue) batchId else batchId + 1)
        .map(_._2.labels).getOrElse(Map.empty))

  /** EXCISE a doc set from the streaming cluster-label state: re-derive
    * the affected components WITHOUT those docs and commit the result
    * under the label-manifest protocol. The residue-repair constituent
    * of [[graft.operators.ReleaseStream.refoldQuarResidue]]: a
    * quarantine-winning doc is not just an inert label row (the release
    * readout drops label rows with no fact), it can be the BRIDGE that
    * merged two components — its final verdict splits them back, which
    * moves OTHER docs' roots, survivors and hash-splits.
    *
    * Store-driven and delta-sized: the docs resolve to their components
    * through the docmap mirror (the ingest's own endpoint path), the
    * components' internal edges re-read from the PAIRS LOG — an
    * append-only observation record whose entries stay true (the pair
    * WAS a verified near-dup); the repair only re-quotients the graph
    * without the excised nodes (edges incident to them drop with the
    * nodes). CC re-runs over those delta-sized edges only; every
    * untouched bucket carries forward by manifest reference. Data lands
    * in a fresh NEGATIVE generation dir (the compaction convention — it
    * can never shadow a stream batch id and its absence from the
    * below-id manifest resolution is harmless because the FRONTIER
    * manifest is atomically rewritten to own it).
    *
    * Members left edge-less become singletons and lose their label +
    * docmap rows (the ingest's own convention: only paired docs carry
    * labels). Idempotent: once the docs have no label rows, the repair
    * resolves zero components and no-ops.
    */
  private[operators] def exciseDocsFromClusterState(spark: SparkSession,
                                                    pairsDir: String,
                                                    labelsDir: String,
                                                    docIds: DataFrame,
                                                    below: Long = Long.MaxValue)
      : Unit = {
    val manOpt = latestLabelCommit(spark, labelsDir, below)
    if (manOpt.isEmpty) return
    val (frontier, man) = manOpt.get
    val ids = docIds.select("doc_id").distinct().persist()
    // 1. resolve the excised docs' components through the docmap mirror
    val rDbkts = bucketSet(ids, bucketOf(col("doc_id")))
    val dmPaths = docmapBucketPaths(labelsDir,
      man.docs.filter(kv => rDbkts.contains(kv._1)))
    val rCbkts = bucketSet(readDocMapPaths(spark, dmPaths)
      .join(ids, Seq("doc_id"), "left_semi"), col("cbkt"))
    val compPaths = labelBucketPaths(labelsDir,
      man.labels.filter(kv => rCbkts.contains(kv._1)))
    val compRows = readLabelPaths(spark, compPaths).persist()
    val oldRoots = compRows.join(ids, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct().persist()
    if (oldRoots.isEmpty) {
      Seq(ids, compRows, oldRoots).foreach(_.unpersist()); return
    }
    val members = compRows.join(oldRoots, Seq("cluster_id"), "left_semi")
      .persist()
    // 2. surviving internal edges off the pairs log (components are
    // edge-closed, so both-endpoints-in-members == all their edges)
    val fs = new org.apache.hadoop.fs.Path(pairsDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val pairDirs = Manifests.batches(fs, pairsDir).filter(_ < below)
      .map(b => s"$pairsDir/batch=$b")
    val keep = members.select("doc_id").join(ids, Seq("doc_id"), "left_anti")
    val edges =
      if (pairDirs.isEmpty)
        spark.range(0).selectExpr("id AS d1", "id AS d2")
      else spark.read.schema(PAIR_SCHEMA).option("basePath", pairsDir)
        .parquet(pairDirs: _*).select("d1", "d2")
        .join(keep.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_semi")
        .join(keep.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_semi")
    // 3. re-quotient: pure CC over the surviving edges (q49's min-root
    // convention — the batch twin's labels for these components)
    val relab = Dedup.foldClusterLabels(
      spark.range(0).selectExpr("id AS doc_id", "id AS cluster_id"), edges)
      .persist()
    // 4. rewrite the touched label buckets (old roots' residues plus the
    // new roots'); untouched buckets carry forward by reference
    val touched = rCbkts ++ bucketSet(relab, bucketOf(col("cluster_id")))
    val carryPaths = labelBucketPaths(labelsDir,
      man.labels.filter(kv => touched.contains(kv._1)))
    val gen = Manifests.freshGeneration(Manifests.batches(fs, labelsDir))
    val writtenL = writeBucketedBatch(readLabelPaths(spark, carryPaths)
      .join(oldRoots, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
      .unionByName(relab.select("doc_id", "cluster_id"))
      .withColumn("cbkt", bucketOf(col("cluster_id"))),
      s"$labelsDir/batch=$gen", "cbkt")
    // 5. docmap: every member either re-labels (new cbkt) or drops
    // (excised, or now a singleton); rewrite exactly their dbkt buckets
    val docDelta = relab
      .select(col("doc_id"), bucketOf(col("cluster_id")).as("cbkt")).persist()
    val touchedD = bucketSet(members, bucketOf(col("doc_id")))
    val dPaths = docmapBucketPaths(labelsDir,
      man.docs.filter(kv => touchedD.contains(kv._1)))
    val writtenD = writeBucketedBatch(readDocMapPaths(spark, dPaths)
      .join(members.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(docDelta)
      .withColumn("dbkt", bucketOf(col("doc_id"))),
      s"$labelsDir/batch=$gen/docmap", "dbkt")
    // 6. commit: the FRONTIER manifest atomically rewritten to own the
    // generation (touched-but-empty buckets drop — partitionBy writes no
    // directory for them)
    commitLabels(spark, labelsDir, frontier, LabelManifest(
      (man.labels -- touched) ++ writtenL.map(_ -> gen),
      (man.docs -- touchedD) ++ writtenD.map(_ -> gen)))
    Seq(ids, compRows, oldRoots, members, relab, docDelta)
      .foreach(_.unpersist())
  }

  /** Streaming BURST monitoring — q110 as a long-running stream: each
    * micro-batch reduces to its (event_type, hour, n) PARTIAL counts
    * (additive, so the persisted index is mergeable by construction) and
    * overwrites `countsDir/batch=<id>`; [[burstsFromCounts]] computes the
    * q110 flag report off the summed index at any time, equal to the
    * batch computation over every event ingested so far. Counts are the
    * cheapest possible state (type x hour rows per batch) — the raw
    * stream is never retained.
    */
  def streamingBurstIngest(events: DataFrame, countsDir: String,
                           checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Relational.hourlyCounts(batch)
          .write.mode("overwrite").parquet(s"$countsDir/batch=$batchId")
        ()
      }
      .start()

  /** The q110 burst report off a [[streamingBurstIngest]] counts index:
    * sum the per-batch partials, run the identical flag tail.
    */
  def burstsFromCounts(spark: SparkSession, countsDir: String): DataFrame =
    Relational.burstFlags(
      spark.read.parquet(countsDir)
        .groupBy("event_type", "h").agg(sum("n").as("n")))

  /** Streaming VOCABULARY-GROWTH monitoring — q113 as a long-running
    * stream: each micro-batch writes its two mergeable partials
    * (within-batch (token -> min slice), vocabulary-sized; per-slice
    * additive (n_docs, n_tokens), <=10 rows) and the raw text is never
    * retained. [[vocabGrowthFromIndex]] reproduces the batch q113 curve
    * over everything ingested so far at any time — exactly, because the
    * tail re-aggregates with sum-of-sums/min-of-mins. Replay safety is
    * the burst-index posture: a retried batch overwrites its own
    * `batch=<id>` directories idempotently.
    */
  def streamingVocabIngest(docs: DataFrame, vocabDir: String,
                           checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val d = TextAnalysis.vocabSlices(batch).persist()
        try {
          TextAnalysis.vocabCountPartials(d)
            .write.mode("overwrite").parquet(s"$vocabDir/counts/batch=$batchId")
          TextAnalysis.vocabTypePartials(d)
            .write.mode("overwrite").parquet(s"$vocabDir/types/batch=$batchId")
        } finally { d.unpersist(); () }
      }
      .start()

  /** The q113 curve off a [[streamingVocabIngest]] index: the identical
    * [[TextAnalysis.vocabCurve]] tail over the accumulated partials.
    */
  def vocabGrowthFromIndex(spark: SparkSession, vocabDir: String): DataFrame =
    TextAnalysis.vocabCurve(
      spark.read.parquet(s"$vocabDir/counts"),
      spark.read.parquet(s"$vocabDir/types"))

  /** Streaming CHUNK-INDEX ingest — q114 as a long-running stream: each
    * micro-batch chunks its documents ([[ChunkDedup.chunkCounts]]) and
    * writes its `(chunk_hash, n_tokens, doc_id, n_occ)` partials under
    * `chunksDir/batch=<id>` — APPEND-ONLY delta writes (the chunk
    * aggregate is distributive over disjoint doc batches, so there is no
    * state to rewrite, the cheapest posture in the streaming family);
    * replay safety is the per-batch-directory overwrite. The persisted
    * rows carry the md5 chunk identity, never the chunk text, so the
    * index is hash-sized — not a re-sorted copy of the corpus
    * (StreamingSpec pins the schema). [[chunkReportFromIndex]]
    * reproduces the batch q114 report over everything ingested so far,
    * through the IDENTICAL [[ChunkDedup.chunkReport]] tail
    * (StreamingSpec pins stream==batch and replay idempotency);
    * [[compactChunkIndex]] folds the accumulated per-batch deltas into
    * one directory so dir counts stay O(1) over a long stream.
    */
  def streamingChunkIngest(docs: DataFrame, chunksDir: String,
                           checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ChunkDedup.chunkCounts(batch.select("doc_id", "text"))
          .write.mode("overwrite").parquet(s"$chunksDir/batch=$batchId")
        ()
      }
      .start()

  /** The q114 report off a [[streamingChunkIngest]] index (finishing any
    * crashed compaction first, the [[prunedBatchPaths]] policy).
    */
  def chunkReportFromIndex(spark: SparkSession, chunksDir: String): DataFrame = {
    Compaction.recover(new org.apache.hadoop.fs.Path(chunksDir)
      .getFileSystem(spark.sessionState.newHadoopConf()), chunksDir)
    val idx = spark.read.parquet(chunksDir)
    // legacy-format detection: pre-r12 indexes keyed on the chunk TEXT
    // ('chunk' column, no 'chunk_hash') — fail with an explicit migration
    // message instead of a bare missing-column resolution error
    require(idx.columns.contains("chunk_hash"),
      s"chunk index at $chunksDir predates the hash-keyed format" +
        (if (idx.columns.contains("chunk")) " (it carries a text 'chunk' column)" else "") +
        ": the index format migrated to (chunk_hash, n_tokens, doc_id, n_occ)" +
        " — rebuild it (delete the index directory and replay the stream)")
    ChunkDedup.chunkReport(idx
      .select("chunk_hash", "n_tokens", "doc_id", "n_occ"))
  }

  /** Compact the accumulated per-batch chunk partials into ONE `batch=0`
    * directory — [[compactIncrementalIndex]]'s [[Compaction]] swap applied
    * to the append-only chunk index, which otherwise grows one directory
    * per batch forever. Because the partials are additive, compaction
    * also RE-AGGREGATES them (sum of
    * n_occ per (chunk_hash, n_tokens, doc_id)), so the compacted index
    * is no larger than the distinct (chunk, doc) relation regardless of
    * how many batches fed it. Same contract: `upToBatch` must be <= the
    * stream's committed frontier.
    */
  def compactChunkIndex(spark: SparkSession, chunksDir: String,
                        upToBatch: Long): Unit =
    swapBatches(spark, chunksDir, upToBatch, 2) { (rows, tmp) =>
      rows.groupBy("chunk_hash", "n_tokens", "doc_id")
        .agg(sum(col("n_occ")).as("n_occ"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Streaming CENTROID maintenance — q124's corpus-centroid state as a
    * long-running stream: each micro-batch of `(vec_id, embedding)`
    * reduces to its quantized per-component integer sums
    * ([[Similarity.centroidComponents]]: (pos, sq, n) — dim-sized,
    * additive, order-free) and overwrites `centDir/batch=<id>`; the raw
    * vectors are never retained. [[centroidFromIndex]] reconstructs the
    * exact whole-corpus component relation by summing the partials, so
    * scoring ANY relation against the running centroid (e.g. the newest
    * delta — embedding-QA at ingest time) pays only that relation's
    * scan. The burst/vocab-index replay posture: a retried batch
    * overwrites its own directory idempotently;
    * [[compactCentroidIndex]] folds the accumulated per-batch partials
    * into one directory so dir counts stay O(1) over a long stream.
    */
  def streamingCentroidIngest(embs: DataFrame, centDir: String,
                              checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    embs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        centroidIngestBatch(batch, batchId, centDir)
      }
      .start()

  /** One micro-batch of the centroid ingest (factored out so replay and
    * stream==batch specs drive it directly).
    */
  private[graft] def centroidIngestBatch(batch: DataFrame, batchId: Long,
                                         centDir: String): Unit = {
    Similarity.centroidComponents(Similarity.asDouble(batch))
      .write.mode("overwrite").parquet(s"$centDir/batch=$batchId")
    ()
  }

  /** The exact whole-corpus `(pos, sq, n)` component relation off a
    * [[streamingCentroidIngest]] index (sum-of-sums — integer-exact;
    * finishing any crashed compaction first, the [[prunedBatchPaths]]
    * policy).
    */
  def centroidFromIndex(spark: SparkSession, centDir: String): DataFrame = {
    Compaction.recover(new org.apache.hadoop.fs.Path(centDir)
      .getFileSystem(spark.sessionState.newHadoopConf()), centDir)
    spark.read.parquet(centDir)
      .groupBy("pos").agg(sum("sq").as("sq"), sum("n").as("n"))
  }

  /** Compact the accumulated per-batch centroid partials into ONE
    * `batch=0` directory — [[compactChunkIndex]]'s [[Compaction]] swap
    * applied to the centroid index. Each batch directory is only
    * dim-sized, so this caps METADATA growth (one directory per
    * micro-batch over an unbounded stream), not data volume; the partials
    * are additive, so the compacted index is the dim-sized summed
    * relation regardless of how many batches fed it. Compaction erases
    * batch identity, and the swap records that it did: the per-batch
    * consumers ([[embeddingDriftFromIndex]]) refuse the compacted index
    * loudly instead of reporting one merged batch with ~zero drift. Same
    * contract: `upToBatch` must be <= the stream's committed frontier.
    */
  def compactCentroidIndex(spark: SparkSession, centDir: String,
                           upToBatch: Long): Unit =
    swapBatches(spark, centDir, upToBatch, 2) { (rows, tmp) =>
      rows.groupBy("pos").agg(sum(col("sq")).as("sq"), sum(col("n")).as("n"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** The q124 report off a centroid index: the identical
    * [[Similarity.outliersAgainst]] tail over the merged components.
    */
  def centroidOutliersFromIndex(embs: DataFrame, centDir: String): DataFrame =
    Similarity.outliersAgainst(Similarity.asDouble(embs),
      centroidFromIndex(embs.sparkSession, centDir))

  /** q149: the q148 EMBEDDING-DRIFT report read off a
    * [[streamingCentroidIngest]] index — the per-micro-batch `batch=<id>`
    * partial dirs ARE the per-ingest-batch `(pos, sb, nb)` component
    * relation q148 computes from the raw corpus, so the drift monitor
    * runs off dim-sized state the stream already maintains for the q124
    * centroid: the corpus is never rescanned, and each new crawl batch's
    * drift row costs one dim-sized partial write plus a
    * #batches×dim-row readout through the SHARED
    * [[Similarity.driftFromComponents]] kernel (stream==batch by one
    * definition).
    *
    * History contract (the q143-timeline rule): drift is a PER-BATCH
    * readout, so it must point at an UNCOMPACTED index —
    * [[compactCentroidIndex]] serves the q124 use where only the summed
    * centroid matters and deliberately erases batch identity. An index
    * that should feed both keeps drift's per-batch dirs and lets q124
    * read the same dirs summed ([[centroidFromIndex]] works on either).
    */
  def embeddingDriftFromIndex(spark: SparkSession,
                              centDir: String): DataFrame = {
    // enforce the uncompacted-index contract, not just document it: a
    // compacted index (a supported q124 state) has one merged batch=0 —
    // reading it here would silently report a single batch with ~zero
    // drift, and a CRASHED compaction (tmp/marker present) is a
    // mixed/duplicated tree. Both misuses fail loudly instead.
    val fs = new org.apache.hadoop.fs.Path(centDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    require(!Compaction.inFlight(fs, centDir),
      s"embeddingDriftFromIndex($centDir): a compaction is in flight or " +
        "crashed — run centroidFromIndex (which recovers it) for the " +
        "summed centroid, or finish the compaction; the drift readout " +
        "would see a mixed tree")
    require(!Compaction.compacted(fs, centDir),
      s"embeddingDriftFromIndex($centDir): this index was compacted " +
        "(batch identity erased) — drift is a per-batch readout and " +
        "needs the uncompacted per-batch dirs; keep a drift-feeding " +
        "index uncompacted (q124's centroidFromIndex reads it summed)")
    Similarity.driftFromComponents(
      spark.read.option("basePath", centDir).parquet(centDir)
        .select(col("batch").cast("long").as("batch_id"), col("pos"),
          col("sq").as("sb"), col("n").as("nb"))
        .groupBy("batch_id", "pos")
        .agg(sum(col("sb")).as("sb"), sum(col("nb")).as("nb")))
  }

  /** The q149 catalog relation: the drift report off a content-keyed
    * build-once centroid index fed by the `vec_id % 3` residue batches
    * (the q141/q147 idiom) — oracle is q148's SQL VERBATIM; stream==batch
    * equality at every scale IS the contract.
    */
  def streamingEmbeddingDrift(spark: SparkSession,
                              sfDir: String): DataFrame =
    embeddingDriftFromIndex(spark, ensureCentroidBatchState(spark, sfDir))

  private[graft] def ensureCentroidBatchState(spark: SparkSession,
                                              sfDir: String): String =
    DedupArtifacts.cachedDir(s"centdrift|$sfDir") {
      val embs = Tables.embeddings(spark, sfDir)
      val key = DedupArtifacts.embeddingsKey(embs, s"centdrift|$sfDir") +
        "|v=1"
      DedupArtifacts.ensureTree(key) { stage =>
        (0 until 3).foreach { i =>
          centroidIngestBatch(
            embs.filter(pmod(col("vec_id"), lit(3L)) === i), i.toLong, stage)
        }
      }
    }

  /** The q163 centroid index: [[ensureCentroidBatchState]] over the
    * PLANTED corpus ([[Expectations.shiftedEmbeddings]] — the latest
    * crawl batch drifted), so the streaming gate's drift row reads off
    * per-batch partials the ingest already maintains, exactly as q149
    * does for the monitor.
    */
  private[graft] def ensureShiftedCentroidState(spark: SparkSession,
                                                sfDir: String): String =
    DedupArtifacts.cachedDir(s"centdriftshift|$sfDir") {
      val embs = Expectations.shiftedEmbeddings(spark, sfDir)
      val key = DedupArtifacts.embeddingsKey(embs,
        s"centdriftshift|$sfDir") + "|v=1"
      DedupArtifacts.ensureTree(key) { stage =>
        (0 until 3).foreach { i =>
          centroidIngestBatch(
            embs.filter(pmod(col("vec_id"), lit(3L)) === i), i.toLong, stage)
        }
      }
    }

  /** Retire unreferenced label-state directories left by
    * [[streamingClusterIngest]]. Buckets carry forward by manifest
    * reference, so an OLD batch directory stays live for as long as any
    * of its buckets is still the current owner — the liveness set is
    * "every owner named by the newest `keep` committed manifests, plus
    * those manifests' own directories" (`keep` defaults to 2: the newest
    * state plus the predecessor a replay of the newest batch re-reads).
    * Everything else is deleted; delete-only and idempotent, so a crash
    * mid-prune just leaves more history than asked. Live data is thereby
    * bounded at ≤ IDX_BUCKETS owner directories per retained manifest,
    * never stream-length-many.
    */
  def pruneLabelStates(spark: SparkSession, labelsDir: String,
                       keep: Int = 2): Unit = {
    require(keep >= 2, "keep >= 2: the newest state plus its replay anchor")
    val fs = new org.apache.hadoop.fs.Path(labelsDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batches = Manifests.batches(fs, labelsDir)
    val committed = Manifests.committed(fs, labelsDir)
    if (committed.isEmpty) return
    val retained = committed.takeRight(keep)
    val live = retained.toSet ++
      retained.flatMap { b =>
        val m = labelManifest(Manifests.read(fs, labelsDir, b, LABEL_FORMAT))
        m.labels.values ++ m.docs.values
      }
    // never touch dirs AT or ABOVE the committed frontier: a manifest-less
    // dir there is an IN-FLIGHT batch between its bucket write and its
    // manifest commit — deleting it would race the ingest into committing
    // a manifest over vanished data
    batches.filter(b => !live.contains(b) && b < committed.max).foreach(b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$labelsDir/batch=$b"), true))
  }

  def streamingContainmentIngest(docs: DataFrame, indexDir: String,
                                 pairsDir: String, checkpoint: String,
                                 contMinX1e3: Int = 900)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        containmentIngestBatch(batch, batchId, indexDir, pairsDir, contMinX1e3)
        ()
      }
      .start()

  /** One micro-batch of the containment ingest (the foreachBatch body,
    * factored out like [[nearDupIngestBatch]]).
    */
  /** Returns the (posting-probe, doc-probe) directory paths the batch
    * READ (see [[nearDupIngestBatch]]).
    */
  private[operators] def containmentIngestBatch(batch: DataFrame,
                                                batchId: Long, indexDir: String,
                                                pairsDir: String,
                                                contMinX1e3: Int)
      : (Seq[String], Seq[String]) = {
    val spark = batch.sparkSession
    val delta = Dedup.containmentIndex(
      batch.select("doc_id", "text"), contMinX1e3).persist()
    // exploded postings; is_pref via array membership (pref is the
    // doc's rarest ~(1-t) fraction, so the per-row scan is small)
    val deltaPost = delta
      .select(col("doc_id"), explode(col("sh")).as("shingle"),
        array_contains(col("pref"), col("shingle")).as("is_pref"))
      .withColumn("sbkt", bucketOf(col("shingle"))).persist()
    val postPaths = prunedBatchPaths(spark, s"$indexDir/post", batchId,
      "sbkt", bucketSet(deltaPost, col("sbkt")))
    val idxPost = readIndexPaths(spark, s"$indexDir/post", postPaths,
      deltaPost.drop("sbkt"))
    val allPost = idxPost.unionByName(deltaPost.drop("sbkt"))
    def half(p: DataFrame, f: DataFrame) = p.as("p")
      .join(f.as("f"),
        col("p.shingle") === col("f.shingle") &&
          col("p.doc_id") =!= col("f.doc_id"))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("d1"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("d2"))
    val cand = half(deltaPost.filter(col("is_pref")), allPost)
      .union(half(allPost.filter(col("is_pref")), deltaPost.drop("sbkt")))
      .distinct().persist()
    val dbkts = bucketSet(
      cand.select(explode(array(col("d1"), col("d2"))).as("id")),
      bucketOf(col("id")))
    val docPaths = prunedBatchPaths(spark, s"$indexDir/docs", batchId,
      "dbkt", dbkts)
    val idxDocs = readIndexPaths(spark, s"$indexDir/docs", docPaths, delta)
    Dedup.containmentVerify(cand, idxDocs.unionByName(delta),
        contMinX1e3, 800)
      .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
    writeBucketedBatch(delta.withColumn("dbkt", bucketOf(col("doc_id"))),
      s"$indexDir/docs/batch=$batchId", "dbkt")
    writeBucketedBatch(deltaPost, s"$indexDir/post/batch=$batchId", "sbkt")
    cand.unpersist(); deltaPost.unpersist(); delta.unpersist()
    (postPaths, docPaths)
  }

  /** Train/eval contamination report: for every document OUTSIDE the eval
    * sample, the fraction of its distinct trigram shingles that also occur
    * in any eval-sample document (x1e3), reported when nonzero. This is
    * the decontamination stage of a training pipeline — a doc sharing most
    * of its shingles with an eval set must not be trained on. The eval set
    * here is the deterministic q42 sample, so the whole report is
    * reproducible. Scale shape: the eval shingle set is small (eval
    * corpora are thousands of docs), so the overlap probe broadcasts and
    * the corpus-side scan is shuffle-free up to the per-doc count.
    */
  def contaminationReport(docs: DataFrame, perLang: Int = 20,
                          cache: Boolean = true): DataFrame = {
    // the shingle relation feeds the eval set, the overlap probe, and the
    // per-doc counts; the sample is joined twice — persist both or the
    // corpus tokenizes three times (same convention as the dedup pipelines;
    // cache=false for long-lived facade sessions)
    val sample0 = TextAnalysis.stratifiedSample(docs, perLang)
      .select(col("doc_id"))
    val sample = if (cache) sample0.persist() else sample0
    val sh0 = Dedup.hashedShingles(docs)
    val sh = if (cache) sh0.persist() else sh0
    val evalSh = sh.join(sample, Seq("doc_id")).select("shingle").distinct()
    val rest = sh.join(sample, Seq("doc_id"), "left_anti")
    val hits = rest.join(broadcast(evalSh), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("nhit"))
    rest.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"))
      .select(col("doc_id"), col("n_shingles"),
        floor(col("nhit") * lit(1000.0) / col("n_shingles") + lit(0.5))
          .cast("long").as("contam_x1e3"))
      .filter(col("contam_x1e3") > 0)
      .orderBy("doc_id")
  }

  /** q127: DECONTAMINATION APPLY — the applied twin of
    * [[contaminationReport]] (the q125-to-q115 relationship, for eval
    * contamination): EVERY corpus doc labeled `eval` (it is the eval
    * set), `contaminated` (its 3-gram overlap with the eval set clears
    * `thresholdX1e3`), or `kept`. This is the relation the training-set
    * export joins against — eval decontamination is a mandatory pass in
    * any corpus that also ships its own benchmarks. Shares the report's
    * shingle relation, broadcast eval-shingle probe and rounding, so the
    * report and the applied set cannot disagree; docs too short to
    * shingle (<3 tokens) carry zero overlap and stay kept.
    */
  def decontamApply(docs: DataFrame, perLang: Int = 20,
                    thresholdX1e3: Long = 100): DataFrame = {
    val sample = TextAnalysis.stratifiedSample(docs, perLang)
      .select(col("doc_id")).persist()
    val sh = Dedup.hashedShingles(docs).persist()
    val evalSh = sh.join(sample, Seq("doc_id")).select("shingle").distinct()
    val rest = sh.join(sample, Seq("doc_id"), "left_anti")
    val hits = rest.join(broadcast(evalSh), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("nhit"))
    val contam = rest.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("nhit"))
      .select(col("doc_id"),
        floor(col("nhit") * lit(1000.0) / col("n_shingles") + lit(0.5))
          .cast("long").as("contam_x1e3"))
    val out = docs.select("doc_id")
      .join(broadcast(sample.withColumn("is_eval", lit(1L))),
        Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_eval") === 1, lit("eval"))
          .when(coalesce(col("contam_x1e3"), lit(0L)) >= thresholdX1e3,
            lit("contaminated"))
          .otherwise(lit("kept")).as("stage"),
        coalesce(col("contam_x1e3"), lit(0L)).as("contam_x1e3"))
      .orderBy("doc_id")
    out
  }

  /** q132: RELEASE EXPORT — the composed end-to-end "cleaned corpus"
    * relation a training run actually consumes, built from the applied
    * twins the catalog already gates individually (the q57 composition
    * idiom applied to the release path): per document, the release
    * decision (`stage`), the leak-free split, and the mixture weight.
    *
    * Stage precedence mirrors the release pipeline's order — dedup
    * first, then eval decontamination, then the per-source cap:
    * `exact` / `neardup` (q125's stage definition verbatim), `eval` /
    * `contaminated` (q127's), `capped` (dropped by q111's per-source
    * cap), else `kept`. Each stage relation IS the standalone
    * operator's output, so the export stays auditable query-by-query
    * (ReleaseExportSpec cross-checks the stage sets against
    * q125/q127/q111 and the per-source removal counts against q115).
    * `split` is the q88 leak-free assignment (the q48 hash split of the
    * doc's near-dup component representative, own id when singleton) so
    * no verified near-dup pair straddles train/eval. `n_copies` is the
    * q120 mixture weight RE-PLANNED OVER THE KEPT SET — the budget is
    * spent on what actually ships, not on documents the cascade removed
    * (removed docs carry 0).
    *
    * 100 TB shape: every constituent keeps its own audited posture (hash
    * windows, broadcast pair-graph/lang/eval-side relations, one
    * tokenize pass per stage family); the composition itself adds only
    * doc_id-keyed joins of per-doc relations — the same key the corpus
    * is stored under, so co-partitioned inputs make them shuffle-free.
    */
  def releaseExport(docs: DataFrame, labels: DataFrame,
                    dedupStages: Option[DataFrame] = None,
                    deconStages: Option[DataFrame] = None,
                    capRelation: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val lbl = labels.select("doc_id", "cluster_id")
    // the three stage relations are exactly what a production export
    // reads from disk — they are PRIOR pipeline stages' outputs — so the
    // catalog entry supplies them from content-keyed artifacts
    // ([[ensureReleaseStages]]); the live derivations remain the default
    // for direct calls and are what the artifacts' builds run
    val dedup = dedupStages.getOrElse(ChunkDedup.dedupApply(docs, lbl))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("stage").as("dstage"))
    val decon = deconStages.getOrElse(decontamApply(docs))
      .select(col("doc_id"), col("stage").as("cstage"))
    val capKept = capRelation.getOrElse(Prep.sourceCap(docs))
      .select(col("doc_id"), lit(1L).as("cap_ok"))
    val staged = dedup
      .join(decon, Seq("doc_id"))
      .join(capKept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        when(col("dstage") === "exact", lit("exact"))
          .when(col("dstage") === "neardup", lit("neardup"))
          .when(col("cstage") === "eval", lit("eval"))
          .when(col("cstage") === "contaminated", lit("contaminated"))
          .when(col("cap_ok").isNull, lit("capped"))
          .otherwise(lit("kept")).as("stage"))
      .persist()
    val splits = docs.select("doc_id")
      .join(broadcast(lbl), Seq("doc_id"), "left")
      .select(col("doc_id"),
        Dedup.hashSplitOf(coalesce(col("cluster_id"), col("doc_id")))
          .as("split"))
    val keptDocs = docs.join(
      staged.filter(col("stage") === "kept").select("doc_id"), Seq("doc_id"))
    val mix = TextAnalysis.mixtureMaterialize(keptDocs)
      .select(col("doc_id"), col("n_copies"))
    staged
      .join(splits, Seq("doc_id"))
      .join(mix, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("stage"),
        col("split"), coalesce(col("n_copies"), lit(0L)).as("n_copies"))
      .orderBy("doc_id")
  }

  /** q142: the release export GATED by the corpus-ingestion expectations
    * (the q139 audit composed INTO the deliverable, not beside it): every
    * export row carries `gate_status` (`blocked` iff any gate rule
    * failed) and the fail count, so a training run that reads the export
    * cannot miss that its inputs flunked ingestion — the alerting
    * contract moves from "remember to check the audit relation" to "the
    * deliverable says so itself". On the fixtures the corpus gate FAILS
    * (the q139 context-window ceiling), so the shipped relation is
    * demonstrably `blocked` — spec-pinned both ways with a manufactured
    * clean gate.
    *
    * Scale shape: the gate relation is ≤ #constraints rows; its verdict
    * aggregates to ONE row and broadcasts onto the corpus-sized export —
    * the flag costs one broadcast, never a shuffle of the export.
    */
  def gatedReleaseExport(export: DataFrame, gate: DataFrame): DataFrame = {
    val verdict = gate.agg(
      coalesce(sum(when(col("status") === "fail", lit(1L))
        .otherwise(lit(0L))), lit(0L)).as("n_gate_failed"))
    export.crossJoin(broadcast(verdict)) // single-row gate side
      .select(col("doc_id"), col("source"), col("n_tokens"), col("stage"),
        col("split"), col("n_copies"),
        when(col("n_gate_failed") > 0, lit("blocked")).otherwise(lit("clear"))
          .as("gate_status"),
        col("n_gate_failed"))
      .orderBy("doc_id")
  }

  /** q150: QUARANTINE-COMPOSED release export — q146's row-level ingest
    * gate applied INSIDE the release composition, not beside it (the
    * row-level sibling of q142's whole-corpus verdict flag): rows the
    * scalar expectations quarantine never reach the cascade, so the
    * export labels them `quarantined` AHEAD of every other stage (an
    * ingest diverts a failing row before dedup ever hashes it — the
    * precedence a production pipeline actually has), and the mixture
    * budget is RE-PLANNED over the kept-AND-clean set so no token
    * budget is spent on rows the gate diverted. On the fixtures the
    * deliberately strict context-window rule quarantines most of the
    * corpus (the q139 demo convention), so the composition visibly
    * reshapes the export; a clean route reproduces q132 verbatim
    * (spec-pinned both ways).
    *
    * Scale shape: the route is a row-local flag on the corpus scan
    * (q146's posture), the stage overlay one doc_id-keyed join, and the
    * re-plan reuses the q120 machinery (broadcast plan, one tokenize
    * pass over the kept set). Split assignment is untouched — it is
    * component-keyed and must stay stable as gate rules evolve, or a
    * rule change would shuffle documents across train/eval.
    */
  def quarantinedReleaseExport(docs: DataFrame, export: DataFrame,
                               route: DataFrame): DataFrame = {
    val q = route.filter(col("table_name") === "documents")
      .select(col("row_key").as("doc_id"), col("status"))
    // LEFT join + loud per-row failure on a coverage gap: with an inner
    // join a stale/partial route would silently DROP export rows from the
    // release relation (no error, a smaller deliverable). The route must
    // cover every export row; raise_error keeps the check row-local (no
    // extra pass) and only ever evaluates on the violating row.
    val staged = export.join(q, Seq("doc_id"), "left")
      .withColumn("status", when(col("status").isNull,
          raise_error(concat(
            lit("quarantinedReleaseExport: quarantine route has no row for " +
              "doc_id "), col("doc_id").cast("string"),
            lit(" — a partial/stale route cannot silently remove documents " +
              "from the export"))).cast("string"))
        .otherwise(col("status")))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        when(col("status") === "quarantined", lit("quarantined"))
          .otherwise(col("stage")).as("stage"),
        col("split"))
      .persist()
    val keptDocs = docs.join(
      staged.filter(col("stage") === "kept").select("doc_id"), Seq("doc_id"))
    val mix = TextAnalysis.mixtureMaterialize(keptDocs)
      .select(col("doc_id"), col("n_copies"))
    staged.join(mix, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("stage"),
        col("split"), coalesce(col("n_copies"), lit(0L)).as("n_copies"))
      .orderBy("doc_id")
  }

  /** q154: the DIVERTED release export — the batch twin of the GATED
    * streaming ingest ([[ReleaseStream.streamingReleaseIngest]] with
    * `gateChecks`): rows failing the scalar ingestion gate are diverted
    * BEFORE the cascade ever sees them (they enter no exact-hash minima,
    * no cluster index, no eval tournament, no cap rank — unlike q150,
    * which overlays quarantine on a cascade computed over the full
    * corpus), and the whole release pipeline runs over the CLEAN corpus
    * alone. Diverted rows ship as `stage='quarantined'` with a
    * doc_id-keyed split (they never clustered) and zero mixture weight.
    *
    * `pairs` is the full-corpus verified-pair artifact; the clean
    * corpus's pair relation is its restriction to clean endpoints —
    * pairs(gated) == pairs(corpus) ∩ gated² (the ArtifactSpec-pinned
    * pairwise property the q57 routing already relies on), so the gate
    * costs two semi-joins, not a fresh LSH pass.
    *
    * Scale shape: the gate is a row-local flag on the corpus scan (the
    * q146 posture); everything downstream is q132's own plan over the
    * clean subset; the diverted relation is one more row-local
    * projection of the same scan.
    */
  def divertedReleaseExport(docs: DataFrame,
                            checks: Seq[Expectations.Check],
                            pairs: DataFrame,
                            dedupStages: Option[DataFrame] = None,
                            deconStages: Option[DataFrame] = None,
                            capRelation: Option[DataFrame] = None): DataFrame = {
    require(checks.nonEmpty, "divertedReleaseExport: empty gate suite")
    val allOk = checks.map(_.ok).reduce(_ && _)
    val clean = docs.filter(allOk)
    val cleanIds = clean.select("doc_id")
    val cleanPairs = pairs
      .join(cleanIds.withColumnRenamed("doc_id", "d1"), Seq("d1"),
        "left_semi")
      .join(cleanIds.withColumnRenamed("doc_id", "d2"), Seq("d2"),
        "left_semi")
    val cur = releaseExport(clean, Dedup.clustersFromPairs(cleanPairs),
      dedupStages, deconStages, capRelation)
    val quar = docs.filter(!coalesce(allOk, lit(false)))
      .select(col("doc_id"), coalesce(col("source"), lit("")).as("source"),
        nTokensWs.as("n_tokens"),
        lit("quarantined").as("stage"),
        Dedup.hashSplitOf(col("doc_id")).as("split"),
        lit(0L).as("n_copies"))
    cur.unionByName(quar).orderBy("doc_id")
  }

  /** The deterministic RE-CRAWLED corpus multiset for the q159/q160
    * family: every base document, plus IDENTICAL re-crawl copies of the
    * `doc_id % 7 == 3` docs (cross-batch duplicate keys — the Unique
    * gate's case), plus `doc_id % 11 == 5` docs re-keyed at
    * `doc_id + 1000000` (late crawl docs no embedding references — the
    * RefIn gate's case). The two re-crawl waves are the shared scenario
    * waves ([[ReleaseStream.Scenarios]]), so q160's fold ingests exactly
    * this multiset.
    */
  private[graft] def recrawledCorpus(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.unionByName(Scenarios.Copies7(docs))
      .unionByName(Scenarios.Late11(docs))
  }

  /** q159: the diverted release export under the COMPLETE q152 rule
    * suite — [[divertedReleaseExport]] extended with the keyed classes,
    * over a physical-row MULTISET (duplicate keys allowed; this is what
    * an ingest actually receives). Per key, copies rank by
    * (dirty, phash60(text)) — a fully-clean copy folds, and only one
    * does (`unique` semantics: the cleanest copy is kept, every other
    * copy diverts); a row failing any scalar rule or whose `RefIn` key
    * is dangling (NULL fails) diverts regardless of rank. Every
    * diverted COPY ships as its own `quarantined` row — rows in ==
    * rows out, the per-copy accounting [[ReleaseStream
    * .keyedGatedReleaseState]] mirrors.
    *
    * Scale shape: scalar + RefIn verdicts are row-local flags on the
    * corpus scan (one join per RefIn on the dim-sized distinct
    * reference keys, AQE-broadcast); the Unique rank is ONE key-shuffle
    * window (the same shuffle the q138 audit pays); the cascade runs
    * q132's own plan over the clean subset.
    */
  def keyedDivertedReleaseExport(docs: DataFrame,
                                 checks: Seq[Expectations.Check],
                                 refs: Seq[Expectations.RefIn],
                                 pairs: DataFrame,
                                 dedupStages: Option[DataFrame] = None,
                                 deconStages: Option[DataFrame] = None,
                                 capRelation: Option[DataFrame] = None)
      : DataFrame = {
    require(checks.nonEmpty || refs.nonEmpty,
      "keyedDivertedReleaseExport: empty gate suite")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val baseCols = docs.columns.toSeq
    val withRef = refs.zipWithIndex.foldLeft(docs) { case (acc, (r, i)) =>
      val rk = r.ref.select(col(r.refCol).as(s"__rk$i")).distinct()
        .withColumn(s"__rp$i", lit(1))
      acc.join(rk, acc(r.col) === col(s"__rk$i"), "left").drop(s"__rk$i")
    }
    val ok = (checks.map(_.ok) ++
        refs.indices.map(i => col(s"__rp$i").isNotNull))
      .reduceOption(_ && _).getOrElse(lit(true))
    val flagged = withRef
      .withColumn("__dirty",
        when(coalesce(ok, lit(false)), lit(0L)).otherwise(lit(1L)))
      .withColumn("__rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("__dirty"), Sketches.phash60(col("text")))))
    val clean = flagged.filter(col("__dirty") === 0L && col("__rn") === 1L)
      .select(baseCols.map(col): _*)
    val cleanIds = clean.select("doc_id")
    val cleanPairs = pairs
      .join(cleanIds.withColumnRenamed("doc_id", "d1"), Seq("d1"),
        "left_semi")
      .join(cleanIds.withColumnRenamed("doc_id", "d2"), Seq("d2"),
        "left_semi")
    val cur = releaseExport(clean, Dedup.clustersFromPairs(cleanPairs),
      dedupStages, deconStages, capRelation)
    val quar = flagged.filter(col("__dirty") === 1L || col("__rn") > 1L)
      .select(col("doc_id"), coalesce(col("source"), lit("")).as("source"),
        nTokensWs.as("n_tokens"),
        lit("quarantined").as("stage"),
        Dedup.hashSplitOf(col("doc_id")).as("split"),
        lit(0L).as("n_copies"))
    // duplicate doc_ids are legal here (per-copy accounting), so the
    // deterministic order needs the stage as a second key; copies equal
    // in (doc_id, stage) are identical rows
    cur.unionByName(quar).orderBy("doc_id", "stage")
  }

  /** The q159 stage artifacts: [[ensureDivertedStages]]' idiom over the
    * KEYED-clean corpus — the base docs passing every scalar rule AND
    * holding an embedding (the re-crawl copies are identical to their
    * originals and the re-keyed late docs never pass RefIn, so the
    * unique-ranked clean SET equals this subset of the base corpus).
    */
  private[graft] def ensureKeyedDivertedStages(spark: SparkSession,
                                               sfDir: String): (String, String, String) = {
    def clean() = {
      val docs = Tables.documents(spark, sfDir)
      docs.filter(Expectations.corpusDocChecks.map(_.ok).reduce(_ && _))
        .join(Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi")
    }
    def part(tag: String)(build: DataFrame => DataFrame): String =
      DedupArtifacts.cachedDir(s"$sfDir|kdivstages|$tag") {
        val c = clean()
        val key = DedupArtifacts.corpusKey(c.select("doc_id", "text"),
          "kdivstages")
        DedupArtifacts.ensureDerived(spark, s"$key|$tag")(build(c))
      }
    val dd = part("dedupapply|v=1") { c =>
      val ids = c.select("doc_id")
      val cleanPairs = spark.read
        .parquet(DedupArtifacts.ensureVerifiedPairs(spark, sfDir))
        .join(ids.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_semi")
        .join(ids.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_semi")
      ChunkDedup.dedupApply(c, Dedup.clustersFromPairs(cleanPairs))
    }
    val dc = part("decontam|p=20|t=100|v=1")(c => decontamApply(c))
    val cp = part(s"sourcecap|c=${Prep.SOURCE_CAP}|v=1")(c =>
      Prep.sourceCap(c))
    (dd, dc, cp)
  }

  /** The q154 stage artifacts: [[ensureReleaseStages]]' three relations
    * computed over the CLEAN (gate-surviving) corpus — in the diverted
    * semantics the gate ran at ingest, so the clean corpus IS the stored
    * corpus and these are prior pipeline stages' outputs exactly as in
    * q132. Content-keyed on the clean corpus text, so a gate-rule change
    * (different clean set) can only MISS.
    */
  private[graft] def ensureDivertedStages(spark: SparkSession,
                                          sfDir: String): (String, String, String) = {
    def clean() = {
      val docs = Tables.documents(spark, sfDir)
      docs.filter(Expectations.corpusDocChecks.map(_.ok).reduce(_ && _))
    }
    def part(tag: String)(build: DataFrame => DataFrame): String =
      DedupArtifacts.cachedDir(s"$sfDir|divstages|$tag") {
        val c = clean()
        val key = DedupArtifacts.corpusKey(c.select("doc_id", "text"),
          "divstages")
        DedupArtifacts.ensureDerived(spark, s"$key|$tag")(build(c))
      }
    val dd = part("dedupapply|v=1") { c =>
      val ids = c.select("doc_id")
      val cleanPairs = spark.read
        .parquet(DedupArtifacts.ensureVerifiedPairs(spark, sfDir))
        .join(ids.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_semi")
        .join(ids.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_semi")
      ChunkDedup.dedupApply(c, Dedup.clustersFromPairs(cleanPairs))
    }
    val dc = part("decontam|p=20|t=100|v=1")(c => decontamApply(c))
    val cp = part(s"sourcecap|c=${Prep.SOURCE_CAP}|v=1")(c =>
      Prep.sourceCap(c))
    (dd, dc, cp)
  }

  /** The three release-stage artifacts q132 reads — per-doc dedup stages
    * (q125), decontamination stages (q127) and the cap-kept relation
    * (q111), each build-once and content-keyed on the corpus text
    * ([[DedupArtifacts.corpusKey]] — the sf0.001/sf0.01 fingerprint
    * lesson). These ARE prior pipeline stages' outputs in a production
    * release; materializing them is the pipeline working as designed,
    * not a benchmark trick (ReleaseExportSpec still cross-checks the
    * composed stages against the LIVE standalone queries).
    */
  private[graft] def ensureReleaseStages(spark: SparkSession,
                                         sfDir: String): (String, String, String) = {
    def part(tag: String)(build: => DataFrame): String =
      DedupArtifacts.cachedDir(s"$sfDir|relstages|$tag") {
        val docs = Tables.documents(spark, sfDir)
        val key = DedupArtifacts.corpusKey(docs.select("doc_id", "text"),
          "relstages")
        DedupArtifacts.ensureDerived(spark, s"$key|$tag")(build)
      }
    val docs = Tables.documents(spark, sfDir)
    val dd = part("dedupapply|v=1")(
      ChunkDedup.dedupApply(docs, Dedup.clustersFromPairs(
        spark.read.parquet(DedupArtifacts.ensureVerifiedPairs(spark, sfDir)))))
    val dc = part("decontam|p=20|t=100|v=1")(decontamApply(docs))
    val cp = part(s"sourcecap|c=${Prep.SOURCE_CAP}|v=1")(Prep.sourceCap(docs))
    (dd, dc, cp)
  }

  /** q71: semantic train/eval contamination — the embedding-space twin of
    * [[contaminationReport]] (q50's n-gram probe misses paraphrases; a
    * high-cosine match against an eval vector catches them). The eval set
    * is the `nEval` vectors with the smallest (phash60(vec_id), vec_id) —
    * the q42/q48 deterministic-sample idiom — and every OTHER corpus
    * vector reports its max cosine against the eval set plus how many
    * eval vectors clear `thresholdX1e4`; output is the `topK` most
    * contaminated by (max_cos, vec_id).
    *
    * Scale shape: eval sets are small by nature, so the eval side
    * BROADCASTS and the corpus makes one shuffle-free pass up to the
    * partial-aggregated per-vector max — no self-join, no index. At an
    * eval size where the broadcast stops fitting,
    * [[semanticContaminationRouted]] switches to the banded
    * [[semanticContaminationLsh]] probe. Exact x1e4 cosine contract, so
    * the ranking hash-checks cross-engine.
    */
  def semanticContamination(embs: DataFrame, nEval: Int = 20,
                            thresholdX1e4: Int = 4500,
                            topK: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(embs.sparkSession)
    val e = Similarity.asDouble(embs)
    val eval = e
      .select(col("vec_id"), col("emb"), Sketches.phash60(col("vec_id")).as("h"))
      .orderBy("h", "vec_id").limit(nEval)
      .select(col("vec_id").as("e_id"), col("emb").as("e_emb"))
    val corpus = e.join(broadcast(eval.select(col("e_id").as("vec_id"))),
      Seq("vec_id"), "left_anti")
    corpus.crossJoin(broadcast(eval))
      .select(col("vec_id"),
        floor(graft.functions.GraftFunctions.cosine(col("emb"), col("e_emb"))
          * 10000 + lit(0.5)).cast("long").as("cos"))
      .groupBy("vec_id")
      .agg(max("cos").as("max_cos_x1e4"),
        sum(when(col("cos") >= thresholdX1e4, 1L).otherwise(0L)).as("n_hits"))
      .orderBy(col("max_cos_x1e4").desc, col("vec_id"))
      .limit(topK)
  }

  /** Eval sizes up to this broadcast comfortably (64-dim doubles ~512 B per
    * vector => ~10 MB at 20k); beyond it [[semanticContaminationRouted]]
    * takes the banded path.
    */
  private val SEMCON_BROADCAST_MAX = 20000

  /** The LSH route for [[semanticContamination]] — the path for eval sets
    * too large to broadcast: both sides bucket through the q61 random-
    * hyperplane sign bands ([[Dedup.signBandBuckets]], same fixed plane
    * set), candidates come from a SHUFFLE EQUI-JOIN on (band, bucket) —
    * never a cross join — and exact cosine verifies candidates only.
    *
    * Contract difference, inherent to scale: only THRESHOLD HITS are
    * reportable (a vector with no band collision has no candidates, so
    * "max cosine over the whole eval set" does not exist here). Rows are
    * corpus vectors with >= 1 verified hit; columns match the broadcast
    * path. Recall per (corpus, eval) pair at cosine c is
    * 1 - (1 - p^bandBits)^nBands with p = 1 - acos(c)/pi: the 8x8 default
    * gives >= 0.9999 at c >= 0.99, ~0.99 at c >= 0.95, ~0.93 at c = 0.90 —
    * sized for the true-contamination regime (near-copies); for looser
    * thresholds trade bandBits down exactly as in [[Dedup.embeddingNearDupLsh]].
    * Precision is 1.0 (exact verification), so reported rows never differ
    * from the broadcast path — only tail-recall can (CurationSpec pins
    * equality on a planted-twin fixture).
    */
  def semanticContaminationLsh(embs: DataFrame, nEval: Int = 20,
                               thresholdX1e4: Int = 4500, topK: Int = 20,
                               bandBits: Int = 8, nBands: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(embs.sparkSession)
    val (e, dim) = Dedup.dimAsserted(embs, 0, "semanticContaminationLsh")
    val eval = e
      .select(col("vec_id"), col("emb"), Sketches.phash60(col("vec_id")).as("h"))
      .orderBy("h", "vec_id").limit(nEval)
      .select(col("vec_id"), col("emb"))
    val corpus = e.join(broadcast(eval.select(col("vec_id"))),
      Seq("vec_id"), "left_anti")
    val cb = Dedup.signBandBuckets(corpus, bandBits, nBands, dim)
    val eb = Dedup.signBandBuckets(eval, bandBits, nBands, dim)
      .select(col("vec_id").as("e_id"), col("emb").as("e_emb"),
        col("band"), col("bv"))
    // verify before distinct (the q61 trade): a pair colliding in k bands
    // recomputes the codegen'd cosine k times, but the distinct exchange
    // then carries 24-byte rows, not two vectors
    cb.join(eb, Seq("band", "bv"))
      .select(col("vec_id"), col("e_id"),
        floor(graft.functions.GraftFunctions.cosine(col("emb"), col("e_emb"))
          * 10000 + lit(0.5)).cast("long").as("cos"))
      .distinct()
      .groupBy("vec_id")
      .agg(max("cos").as("max_cos_x1e4"),
        sum(when(col("cos") >= thresholdX1e4, 1L).otherwise(0L)).as("n_hits"))
      .filter(col("n_hits") >= 1)
      .orderBy(col("max_cos_x1e4").desc, col("vec_id"))
      .limit(topK)
  }

  /** Size-routed entry point: broadcastable eval sets take the exact
    * one-pass [[semanticContamination]]; larger ones the banded
    * [[semanticContaminationLsh]] (threshold hits only — see its scaladoc).
    */
  def semanticContaminationRouted(embs: DataFrame, nEval: Int = 20,
                                  thresholdX1e4: Int = 4500,
                                  topK: Int = 20): DataFrame =
    if (nEval <= SEMCON_BROADCAST_MAX)
      semanticContamination(embs, nEval, thresholdX1e4, topK)
    else
      semanticContaminationLsh(embs, nEval, thresholdX1e4, topK)

  private val SEMCON_N_EVAL = 20
  private val SEMCON_T = 4500
  private val SEMCON_TOPK = 20

  // ------------------------------------------------------------- DSIR --

  private val DSIR_PER_LANG = 20
  private val DSIR_BUCKETS = 64
  private val DSIR_TOPK = 50

  /** q76: DSIR — data selection via importance resampling over HASHED
    * n-gram features (Xie et al., NeurIPS 2023). The question "which raw
    * documents look most like my target domain" is answered without any
    * vocabulary-sized state: unigrams+bigrams hash into `buckets` fixed
    * buckets, the target sample and the raw corpus each induce a smoothed
    * bag-of-buckets multinomial, and a document's importance weight is the
    * feature-count-weighted sum of per-bucket log-likelihood ratios
    * log((tc_b+1)/(T+B)) - log((rc_b+1)/(R+B)).
    *
    * Portability contract (the q60 idiom): each bucket's log-ratio is
    * quantized to an x1e6 integer BEFORE the per-document sum, so document
    * weights are exact BIGINT sums and the ranking hash-checks
    * cross-engine; the only float ops are per-bucket lns and one final
    * per-doc division, both identically associated on both engines.
    *
    * Scale shape — the reason DSIR is THE importance-sampling method for
    * 100 TB corpora: one tokenize pass, one (doc_id, bucket) partial-
    * aggregated shuffle (<= buckets rows per doc), and the entire model
    * state is two `buckets`-row tables folded into a BROADCAST join; the
    * target sample is small by construction. Nothing scales with
    * vocabulary, and the final top-k is TakeOrderedAndProject. The `fdoc`
    * relation feeds three consumers (raw counts, target counts, weights)
    * -> persisted, same convention as [[contaminationReport]].
    */
  def dsirSelect(docs: DataFrame, perLang: Int = DSIR_PER_LANG,
                 buckets: Int = DSIR_BUCKETS, topK: Int = DSIR_TOPK,
                 cache: Boolean = true): DataFrame = {
    val target = TextAnalysis.stratifiedSample(docs, perLang)
      .select(col("doc_id"))
    dsirSelectAgainst(docs, target, buckets, topK, cache)
  }

  /** [[dsirSelect]] with an explicit target set (spec injection point and
    * the general API: any (doc_id) relation of in-domain exemplars).
    */
  def dsirSelectAgainst(docs: DataFrame, target: DataFrame, buckets: Int,
                        topK: Int, cache: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val tok = docs.select(col("doc_id"), split(col("text"), " ").as("l"))
    val uni = tok.select(col("doc_id"), explode(col("l")).as("g"))
    // 1-based sequence mirrors DuckDB's range(1, len(l)); the size>=2
    // guard matters because Spark's sequence(1, 0) DESCENDS, not empties
    val bi = tok.filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))")).as("g"))
    val fdoc0 = uni.unionAll(bi)
      .select(col("doc_id"), (Sketches.phash60(col("g")) % buckets).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val fdoc = if (cache) fdoc0.persist() else fdoc0
    val tgtIds = broadcast(target.select(col("doc_id")))
    val raw = fdoc.groupBy("b").agg(sum("c").as("rc"))
    val tgt = fdoc.join(tgtIds, Seq("doc_id"))
      .groupBy("b").agg(sum("c").as("tc"))
    val totals = raw.agg(sum("rc").as("r_total"))
      .crossJoin(tgt.agg(sum("tc").as("t_total")))
    // both sides are <= `buckets` rows, but raw keeps the left-join role;
    // the broadcast hint keeps the model-state join off the shuffle path
    // even pre-AQE
    val lr = raw.join(broadcast(tgt), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor((log(coalesce(col("tc"), lit(0L)) + lit(1))
          - log(col("t_total") + lit(buckets))
          - log(col("rc") + lit(1))
          + log(col("r_total") + lit(buckets))) * 1000000 + lit(0.5))
          .cast("long").as("lr"))
    fdoc.join(tgtIds, Seq("doc_id"), "left_anti")
      .join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_feats"),
        sum(col("c") * col("lr")).cast("long").as("w_x1e6"))
      .select(col("doc_id"), col("n_feats"), col("w_x1e6"),
        floor(col("w_x1e6").cast("double") / col("n_feats") + lit(0.5))
          .cast("long").as("avg_x1e6"))
      .orderBy(col("avg_x1e6").desc, col("doc_id"))
      .limit(topK)
  }

  // ------------------------------------------------- source drift --

  private val DRIFT_BUCKETS = 64

  /** q83: per-source distribution drift — KL(source token-bucket dist ||
    * corpus dist) over hashed buckets, the "which feed changed" monitor a
    * corpus pipeline alarms on. Smoothed, count-weighted, and quantized
    * exactly like [[dsirSelectAgainst]]'s weights: per-(source, bucket)
    * log-ratio terms floor to x1e6 ints BEFORE the per-source sum, the
    * only float ops are lns of exact integers and one final division.
    *
    * Scale shape: one tokenize pass into (source, bucket) counts
    * (<= sources x buckets rows out of the shuffle), then everything is
    * broadcast-sized arithmetic. A drifting source scores high because
    * its mass sits in buckets rare for the corpus — n-gram-level change
    * detection with no vocabulary state, and the score is comparable
    * across rounds because the bucketing is fixed.
    */
  /** q109: CROSS-SOURCE OVERLAP MATRIX — for every source pair, how much
    * of their shingle vocabulary is shared: `overlap_x1e3` (overlap
    * coefficient, shared / smaller side — the "feed B republishes feed A"
    * signal even when A is much larger) and `jaccard_x1e3`. The q83 drift
    * monitor says WHICH source changed; this says which sources copy
    * EACH OTHER — the input for collapsing mirror feeds before they bias
    * the domain mix (q56/q81).
    *
    * Shape: one tokenize pass to distinct (source, shingle-hash) rows
    * (8-byte portable phash60 keys, the q92 treatment), then an inverted
    * self-join on the hash — per-shingle fan-out is bounded by the number
    * of sources carrying it, and the output is source-pair sized. At
    * thousands of sources, swap the self-join for a bounded collect_set
    * per shingle + pair explode (same result, caps the per-key product);
    * only pairs sharing at least one shingle appear (inner-join
    * semantics, both engines).
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = docs.select(col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(array_distinct(
        transform(sequence(lit(0), size(col("toks")) - 3), i =>
          concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3))))).as("shingle"))
      .select(col("source"), Sketches.phash60(col("shingle")).as("h"))
      .distinct().persist()
    val cnt = sh.groupBy("source").agg(count(lit(1)).as("n")).persist()
    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("nboth"))
    inter
      .join(broadcast(cnt.select(col("source").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(cnt.select(col("source").as("s2"), col("n").as("n2"))), "s2")
      .selectExpr("s1", "s2", "nboth",
        "(nboth * 1000) DIV least(n1, n2) AS overlap_x1e3",
        "(nboth * 1000) DIV (n1 + n2 - nboth) AS jaccard_x1e3")
      .orderBy("s1", "s2")
  }

  def sourceDrift(docs: DataFrame,
                  buckets: Int = DRIFT_BUCKETS): DataFrame = {
    val sc = bucketCounts(docs, buckets)
    // the reference derives from the per-source counts — ONE tokenize
    // pass serves both sides of the comparison
    driftFrom(sc, sc.groupBy("b").agg(sum("c").as("cb")), buckets)
  }

  /** Per-(source, bucket) hashed token counts — the scored side. */
  private def bucketCounts(docs: DataFrame, buckets: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("source"), explode(split(col("text"), " ")).as("t"))
      .select(col("source"), (Sketches.phash60(col("t")) % buckets).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
  }

  /** The frozen side of the drift comparison: corpus-wide bucket counts
    * (b, cb) — `buckets` rows, the artifact a monitoring deployment
    * persists once and scores every incoming batch against.
    */
  def referenceBuckets(docs: DataFrame,
                      buckets: Int = DRIFT_BUCKETS): DataFrame =
    bucketCounts(docs, buckets).groupBy("b").agg(sum("c").as("cb"))

  /** [[sourceDrift]] with an explicit reference distribution — the
    * general form: the scored docs need not be the corpus the reference
    * was built from (that asymmetry IS the monitoring use case).
    */
  def driftAgainst(docs: DataFrame, reference: DataFrame,
                   buckets: Int = DRIFT_BUCKETS): DataFrame =
    driftFrom(bucketCounts(docs, buckets), reference, buckets)

  private def driftFrom(sc: DataFrame, cc: DataFrame,
                        buckets: Int): DataFrame = {
    val st = sc.groupBy("source").agg(sum("c").as("s_tot"))
    val ct = cc.agg(sum("cb").as("c_tot"))
    // left join + zero-fill: a scored bucket absent from a FROZEN
    // reference still carries its mass through the smoothing term (in
    // the self-referential q83 case every bucket is present, so this is
    // value-identical to the oracle's inner join)
    sc.join(broadcast(st), "source")
      .join(broadcast(cc), Seq("b"), "left")
      .crossJoin(broadcast(ct))
      .select(col("source"), col("s_tot"), col("c"),
        floor((log((col("c") + lit(1)).cast("double"))
          - log((col("s_tot") + lit(buckets)).cast("double"))
          - log((coalesce(col("cb"), lit(0L)) + lit(1)).cast("double"))
          + log((col("c_tot") + lit(buckets)).cast("double"))) * 1000000
          + lit(0.5)).cast("long").as("lr"))
      .groupBy("source")
      .agg(max("s_tot").as("n_tokens"),
        sum(col("c") * col("lr")).as("w"))
      .select(col("source"), col("n_tokens"),
        floor(col("w").cast("double") / col("n_tokens") + lit(0.5))
          .cast("long").as("drift_x1e6"))
      .orderBy("source")
  }

  /** Persist a drift reference distribution as a parquet artifact. */
  def saveDriftReference(path: String, reference: DataFrame): Unit =
    reference.write.mode("overwrite").parquet(path)

  /** Streaming drift monitoring against the FROZEN reference artifact —
    * the deployed form of q83: the corpus distribution is built offline
    * once, and every incoming micro-batch's per-source drift is scored
    * against it (batch-keyed dir overwrite, the effectively-exactly-once
    * idiom shared with streamingClassify / streamingPqEncode). Stateless
    * per batch; the checkpoint tracks only source offsets.
    */
  def streamingDrift(docs: DataFrame, referencePath: String,
                     outDir: String, checkpoint: String,
                     buckets: Int = DRIFT_BUCKETS)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val ref = docs.sparkSession.read.parquet(referencePath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        driftAgainst(batch, ref, buckets)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** q117: QUALITY-THRESHOLD SWEEP — the calibration table a curation
    * pass reads before committing q26/q32's cutoff: for each candidate
    * threshold 0, 100, …, 1000, how many docs and tokens survive and at
    * what mean quality. The decision input for "where do we set
    * QUALITY_MIN", produced in ONE corpus scan: per-doc quality buckets
    * (floor(q/100)) hash-aggregate to an 11-row relation; each threshold
    * then sums the buckets at-or-above it via an 11×11 inequality join —
    * no per-threshold corpus re-scan, no corpus-wide window. The empty
    * thresholds (nothing survives) report zero rather than vanish.
    */
  def qualitySweep(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val b = scored(docs)
      .select(floor(col("quality_x1e3") / 100).as("qb"),
        col("n_tokens"), col("quality_x1e3"))
      .groupBy("qb")
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("toks"),
        sum(col("quality_x1e3")).as("sq"))
    spark.range(0, 11).toDF("t")
      .join(b, col("qb") >= col("t"), "left")
      .groupBy("t")
      .agg(coalesce(sum(col("n")), lit(0L)).as("docs_kept"),
        coalesce(sum(col("toks")), lit(0L)).as("tokens_kept"),
        coalesce(sum(col("sq")), lit(0L)).as("sumq"))
      .select((col("t") * 100).as("threshold_x1e3"),
        col("docs_kept"), col("tokens_kept"),
        when(col("docs_kept") === 0, lit(0L)).otherwise(
          floor(col("sumq").cast("double") / col("docs_kept") + lit(0.5))
            .cast("long")).as("mean_quality_x1e3"))
      .orderBy("threshold_x1e3")
  }

  /** q126: PER-SOURCE QUALITY KS STATISTIC — for each source, the
    * Kolmogorov–Smirnov distance between its quality-score distribution
    * and the corpus-wide one, over the q117 sweep's fixed 11-bucket
    * grid. This is the "which source drags the mix" triage signal next
    * to q83 (token drift) and q121 (unigram KL): a source can match the
    * corpus vocabulary yet sit in a different quality regime, and this
    * is the statistic that says so. All-integer: per-bucket counts are
    * exact, the CDF gap compares via cross-multiplication
    * (|cum_s·N − cum·N_s|), and the single division happens once per
    * source AFTER the max (denominator constant per source, so max
    * commutes). The products are bounded by N_s·N, so they run through
    * DECIMAL(38,0) (Spark) / HUGEINT (the oracle) — exact at any row
    * count up to 10^19 per side, i.e. far past petabyte corpora. 100 TB
    * shape: one scored scan → (source × 11)-row grid; windows run over
    * the grid, never the corpus.
    */
  def qualityKs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val d = docs.select(coalesce(col("source"), lit("")).as("source"),
      TextAnalysis.qualityCol.as("q"))
      .withColumn("qb", expr("q DIV 100"))
    val srcs = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val buckets = spark.range(0, 11).toDF("qb")
    val counts = d.groupBy("source", "qb").agg(count(lit(1)).as("c"))
    val corpus = d.groupBy("qb").agg(count(lit(1)).as("cc"))
    val total = d.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("qb")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    srcs.crossJoin(broadcast(buckets))
      .join(counts, Seq("source", "qb"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(corpus), Seq("qb"), "left").na.fill(0L, Seq("cc"))
      .withColumn("cum_s", sum(col("c")).over(w))
      .withColumn("cum", sum(col("cc")).over(w))
      .crossJoin(broadcast(total))
      .groupBy("source", "n_s", "n")
      // DECIMAL(19,0) factors -> DECIMAL(38,0) products: exact for any
      // row count below 10^19 per side (BIGINT would overflow past
      // ~3e9 x 3e9 rows); DIV on decimals yields BIGINT on both engines
      .agg(max(abs(col("cum_s").cast("decimal(19,0)") *
          col("n").cast("decimal(19,0)") -
          col("cum").cast("decimal(19,0)") *
          col("n_s").cast("decimal(19,0)")))
        .as("mg"))
      .select(col("source"), col("n_s").as("n_docs"),
        expr("(mg * 1000000) DIV (CAST(n_s AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))")
          .as("ks_x1e6"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q149: q148's drift report off the streaming centroid index (see
    // [[streamingEmbeddingDrift]]); oracle shared VERBATIM with q148 —
    // stream==batch is the contract.
    "q149_streaming_drift" -> ((s, d) => streamingEmbeddingDrift(s, d)),

    // Q126: per-source quality KS distance (see [[qualityKs]]).
    "q126_quality_ks" -> ((s, d) => qualityKs(Tables.documents(s, d))),

    // Q109: which sources copy each other (mirror-feed detector).
    "q109_source_overlap" -> ((s, d) =>
      sourceOverlap(Tables.documents(s, d))),

    "q83_source_drift" -> ((s, d) =>
      sourceDrift(Tables.documents(s, d))),
    "q71_semantic_contamination" -> ((s, d) =>
      semanticContamination(Tables.embeddings(s, d), SEMCON_N_EVAL,
        SEMCON_T, SEMCON_TOPK)),
    "q32_curation" -> ((s, d) => curate(Tables.documents(s, d))),
    // Q57: the strict pipeline (quality -> repetition gates -> near-dup)
    // oracle-checked END TO END, like q32 — compositions get hash-checked
    // here, not just their stages.
    // the LSH loser set comes from the shared raw-corpus verified-pairs
    // artifact (pairwise property: pairs(gated) == pairs(corpus) ∩
    // gated², ArtifactSpec-pinned) — the report pays the gates + two
    // semi-joins, not a full shingle/minhash pass
    "q57_curation_strict" -> ((s, d) => curateStrict(Tables.documents(s, d),
      txtPairs = Some(s.read.parquet(
        DedupArtifacts.ensureVerifiedPairs(s, d))))),

    // Q117: quality-threshold sweep (see [[qualitySweep]]).
    "q117_quality_sweep" -> ((s, d) => qualitySweep(Tables.documents(s, d))),
    "q50_contamination" -> ((s, d) =>
      contaminationReport(Tables.documents(s, d))),
    // Q127: decontamination APPLY (see [[decontamApply]]).
    // Q132: composed release export (see [[releaseExport]]) — clusters
    // from the shared verified-pairs artifact, stage relations from
    // their content-keyed artifacts (prior pipeline stages' outputs,
    // which is what a real export joins against); only the composition
    // + kept-set mixture re-plan run live.
    "q132_release_export" -> ((s, d) => {
      val (dd, dc, cp) = ensureReleaseStages(s, d)
      releaseExport(Tables.documents(s, d),
        Dedup.clustersFromPairs(
          s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d))),
        dedupStages = Some(s.read.parquet(dd)),
        deconStages = Some(s.read.parquet(dc)),
        capRelation = Some(s.read.parquet(cp)))
    }),

    "q127_decontam_apply" -> ((s, d) =>
      decontamApply(Tables.documents(s, d))),

    // Q150: the quarantine-composed release export (see
    // [[quarantinedReleaseExport]]) — q146's row-level gate folded into
    // the q132 composition with the mixture re-planned over the clean
    // kept set; export inputs from the same artifacts as q132.
    "q150_quarantined_release" -> ((s, d) => {
      val (dd, dc, cp) = ensureReleaseStages(s, d)
      quarantinedReleaseExport(
        Tables.documents(s, d),
        releaseExport(Tables.documents(s, d),
          Dedup.clustersFromPairs(
            s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d))),
          dedupStages = Some(s.read.parquet(dd)),
          deconStages = Some(s.read.parquet(dc)),
          capRelation = Some(s.read.parquet(cp))),
        Expectations.quarantineRoute("documents", Tables.documents(s, d),
          "doc_id", Expectations.corpusDocChecks))
    }),

    // Q142: the gated release export (see [[gatedReleaseExport]]) — the
    // q132 composition with the q139 ingestion-gate verdict broadcast
    // onto every row; export inputs from the same artifacts as q132, the
    // gate from the batch corpus audit.
    "q142_gated_release" -> ((s, d) => {
      val (dd, dc, cp) = ensureReleaseStages(s, d)
      gatedReleaseExport(
        releaseExport(Tables.documents(s, d),
          Dedup.clustersFromPairs(
            s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d))),
          dedupStages = Some(s.read.parquet(dd)),
          deconStages = Some(s.read.parquet(dc)),
          capRelation = Some(s.read.parquet(cp))),
        Expectations.corpusAudit(s, d))
    }),

    // Q154: the diverted release export (see [[divertedReleaseExport]])
    // — the ingest gate applied BEFORE the cascade, whole pipeline over
    // the clean corpus; clean pairs = the full-corpus pair artifact
    // restricted to clean endpoints (the pinned pairwise property).
    "q154_diverted_release" -> ((s, d) => {
      val (dd, dc, cp) = ensureDivertedStages(s, d)
      divertedReleaseExport(Tables.documents(s, d),
        Expectations.corpusDocChecks,
        s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d)),
        dedupStages = Some(s.read.parquet(dd)),
        deconStages = Some(s.read.parquet(dc)),
        capRelation = Some(s.read.parquet(cp)))
    }),

    // Q155: the diverted release read off the GATED incremental state
    // (see [[ReleaseStream.streamingReleaseIngest]] with gateChecks);
    // oracle shared VERBATIM with q154 — stream==batch is the contract.
    "q155_streaming_diverted_release" -> ((s, d) =>
      ReleaseStream.releaseState(s,
        ReleaseStream.ensureScenarioState(s, d, Scenarios.Gated))),

    // Q165: the FINAL-VERDICT REFOLD — the q155 gated fold hit by a
    // corrupting re-crawl wave (doc_id % 13 == 4 re-arrives with NULL
    // text, flipping previously-clean docs dirty), then repaired by
    // [[ReleaseStream.refoldQuarResidue]]: quarantine-winning docs are
    // excised from the fact store, the claim ledger, the cluster state,
    // the probe index, the eval seats and the cap ranks, so the readout
    // equals q154's statement over the FINAL corpus — the stream==batch
    // contract upgraded from row-verdict reconciliation (q155) to full
    // cascade equivalence.
    "q165_refolded_release" -> ((s, d) =>
      ReleaseStream.releaseState(s,
        ReleaseStream.ensureScenarioState(s, d, Scenarios.Refolded))),

    // Q166: q165 driven END TO END by the coded policies — the gated
    // ingest tees its own crawl archive (`archiveDir`) and repairs on a
    // cadence (`refoldEvery = 2`): the batch-3 corruption wave's residue
    // is excised by the policy firing before batch 4, and the late
    // re-keyed wave (doc_id % 11 == 5 at +1000000) folds on top of
    // repaired state. No maintenance call anywhere; oracle = q154's
    // statement over the final corpus + the late wave.
    "q166_policy_refolded_release" -> ((s, d) =>
      ReleaseStream.releaseState(s,
        ReleaseStream.ensureScenarioState(s, d,
          Scenarios.PolicyRefolded))),

    // Q167: RE-CRAWL UPDATE SEMANTICS — the gated ingest with
    // `updateKeys`: a re-arrived doc's whole first-version cascade
    // footprint (stale exact-hash claim, doubled shingle postings,
    // doubled cap count, stale cluster membership and probe-index
    // entry, old-text eval shingles) is excised in-line BEFORE the new
    // version folds, so the state equals the batch cascade over the
    // LATEST version of every doc with no repair cadence at all. The
    // corpus re-crawls every `doc_id % 9 == 2` doc with changed text
    // (`text || ' rev2'`); oracle = q154's statement over the updated
    // corpus.
    "q167_updated_release" -> ((s, d) =>
      ReleaseStream.releaseState(s,
        ReleaseStream.ensureScenarioState(s, d, Scenarios.Updated))),

    // Q168: the SELF-MAINTAINING ingest — every coded policy composed
    // on one root (archive tee, compact-every-K retention,
    // refold-every-K repair cadence, re-crawl update semantics): a
    // corrupting NULL-text wave is retired in-line by the update
    // excision, a later clean update wave excises against the ledger
    // the batch-4 compaction just CONSOLIDATED, and the refold cadence
    // stays a live no-op because residue never accumulates. Oracle =
    // q154's statement over the final corpus.
    "q168_self_maintaining_release" -> ((s, d) =>
      ReleaseStream.releaseState(s,
        ReleaseStream.ensureScenarioState(s, d,
          Scenarios.SelfMaintaining))),

    // Q171: ARCHIVE RETENTION — the crawl archive was round 17's new
    // unbounded-growth store (one dir per batch, forever); the
    // `archiveEvery` policy closes it: per-batch dirs consolidate
    // through the index compactor's marker protocol, repairs read the
    // consolidated store with the as-of cut on the rows' own `ver`.
    // The q168 scenario re-run with retention on; oracle = q168's
    // statement VERBATIM (retention must not move a single output row).
    "q171_archived_release" -> ((s, d) =>
      ReleaseStream.releaseState(s,
        ReleaseStream.ensureScenarioState(s, d, Scenarios.Archived))),

    // Q169: UPDATE CHURN — "what did the re-crawl change in the
    // release?": the q135 churn diff across the q167 update wave. Both
    // sides are build-once published exports (round 18 — the code now
    // matches this sentence: the q135/q136 routing, both relations read
    // from the parquet the pipeline published when its batches
    // committed; artifact == live readout spec-pinned, and the LIVE
    // readouts of both roots stay measured by q155/q167): the q155
    // gated root IS the pre-update state (the same corpus through the
    // same gate — the fold is deterministic), the q167 update root the
    // post-update one. Update semantics is what makes the report
    // meaningful: text changes flow through dedup/eval/caps/mixture, so
    // the diff shows the wave's true blast radius (re-staged docs,
    // moved mixture weights, clean→dirty flips), not just row-verdict
    // noise.
    "q169_update_churn" -> ((s, d) =>
      ReleaseStream.releaseChurnFrom(
        s.read.parquet(
          ReleaseStream.ensureScenarioExport(s, d, Scenarios.Updated)),
        s.read.parquet(
          ReleaseStream.ensureScenarioExport(s, d, Scenarios.Gated)))),

    // Q170: the update wave's transition matrix — q136's rollup over
    // the q169 churn relation (per (prev_stage → stage) edge, docs
    // moved + net mixture-copy delta): the one-screen blast-radius
    // summary a release pipeline alerts on after a re-crawl. Same
    // published-export inputs as q169 (the q136 routing).
    "q170_update_churn_stats" -> ((s, d) =>
      ReleaseStream.releaseChurnStats(ReleaseStream.releaseChurnFrom(
        s.read.parquet(
          ReleaseStream.ensureScenarioExport(s, d, Scenarios.Updated)),
        s.read.parquet(
          ReleaseStream.ensureScenarioExport(s, d, Scenarios.Gated))))),

    // Q159: the diverted release under the COMPLETE q152 rule suite
    // (scalar + unique:doc_id + ref:doc_id->embeddings.vec_id) over the
    // re-crawled corpus multiset (see [[keyedDivertedReleaseExport]]) —
    // per-copy accounting: every diverted COPY is its own row.
    "q159_keyed_diverted_release" -> ((s, d) => {
      val (dd, dc, cp) = ensureKeyedDivertedStages(s, d)
      keyedDivertedReleaseExport(recrawledCorpus(s, d),
        Expectations.corpusDocChecks,
        Seq(Expectations.RefIn("ref:doc_id->embeddings.vec_id", "doc_id",
          Tables.embeddings(s, d), "vec_id")),
        s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d)),
        dedupStages = Some(s.read.parquet(dd)),
        deconStages = Some(s.read.parquet(dc)),
        capRelation = Some(s.read.parquet(cp)))
    }),

    // Q160: the keyed-gated release read off the incremental state (see
    // [[ReleaseStream.streamingReleaseIngest]] with gateUnique/gateRefs
    // and [[ReleaseStream.keyedGatedReleaseState]]); oracle shared
    // VERBATIM with q159 — stream==batch is the contract.
    "q160_streaming_keyed_diverted_release" -> ((s, d) =>
      ReleaseStream.keyedGatedReleaseState(s,
        ReleaseStream.ensureScenarioState(s, d, Scenarios.KeyedGated))),

    // Q158: the release export gated by the DRIFT rule alone (see
    // [[Expectations.corpusDriftGate]] / [[gatedReleaseExport]]) — the
    // planted drifting crawl batch BLOCKS the release exactly the way a
    // failed scalar rule does (q142's verdict now covers all three
    // signal families); the unshifted corpus ships clear (spec-pinned).
    "q158_drift_gated_release" -> ((s, d) => {
      val (dd, dc, cp) = ensureReleaseStages(s, d)
      gatedReleaseExport(
        releaseExport(Tables.documents(s, d),
          Dedup.clustersFromPairs(
            s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d))),
          dedupStages = Some(s.read.parquet(dd)),
          deconStages = Some(s.read.parquet(dc)),
          capRelation = Some(s.read.parquet(cp))),
        Expectations.corpusDriftGate(s, d))
    }),

    // Q164: q158's STREAMING twin — the release relation read off the
    // PUBLISHED export of the incremental fold state (q134's artifact;
    // round 18 moved this side from the live readout to the
    // `ensureReleaseExport` deliverable — the same root's live readout
    // machinery is q134's own measurement, and a production drift gate
    // stamps the export the pipeline already published, artifact==live
    // spec-pinned) blocked by the drift verdict read off the PLANTED
    // streaming centroid index (q163's artifact): the whole drift-gated
    // release is store-driven end to end — the corpus is scanned by
    // neither the export nor the gate. Oracle shared VERBATIM with q158
    // (stream==batch on both sides).
    "q164_streaming_drift_gated_release" -> ((s, d) =>
      gatedReleaseExport(
        s.read.parquet(ReleaseStream.ensureReleaseExport(s, d)),
        Expectations.driftAudit("embeddings",
          embeddingDriftFromIndex(s, ensureShiftedCentroidState(s, d)),
          Expectations.DRIFT_RULE_NAME, Expectations.DRIFT_MAX_L1_X1E6))),

    // Q134: the release relation read off INCREMENTALLY-maintained state
    // (see [[ReleaseStream]]) — the corpus folded in as three interleaved
    // doc_id-residue batches into the content-keyed state artifact; the
    // per-call cost is the production export job (one fact-store scan +
    // broadcast side relations + the kept-set mixture re-plan), and the
    // oracle — q132's SQL verbatim — proves the fold converged to the
    // batch semantics at every scale.
    "q134_release_incremental" -> ((s, d) =>
      ReleaseStream.releaseState(s,
        ReleaseStream.ensureScenarioState(s, d, Scenarios.Base))),

    // Q135: release churn — the docs whose stage or mixture weight moved
    // when the LAST residue batch landed on the incrementally-maintained
    // state (see [[ReleaseStream.releaseChurn]]). BOTH sides read
    // build-once materialized exports (current, and as-of batch 1): a
    // production pipeline PUBLISHED both relations when their batches
    // committed, so the post-batch churn report is a diff of two on-disk
    // exports — the q57 routing idiom, artifact==live spec-pinned. The
    // manifest time-travel machinery that produces the as-of side is
    // exercised by ReleaseStreamSpec directly.
    "q135_release_churn" -> ((s, d) =>
      ReleaseStream.releaseChurnFrom(
        s.read.parquet(ReleaseStream.ensureReleaseExport(s, d)),
        s.read.parquet(ReleaseStream.ensureReleaseExportAt(s, d, 1L)))),

    // Q136: the churn transition matrix — per (prev_stage -> stage)
    // edge, docs moved + net mixture-copy delta; the <=49-row per-batch
    // health rollup a release pipeline alerts on. Same routed inputs as
    // q135 (see [[ReleaseStream.releaseChurnStats]]).
    "q136_release_churn_stats" -> ((s, d) =>
      ReleaseStream.releaseChurnStats(ReleaseStream.releaseChurnFrom(
        s.read.parquet(ReleaseStream.ensureReleaseExport(s, d)),
        s.read.parquet(ReleaseStream.ensureReleaseExportAt(s, d, 1L))))),

    // Q137: the release timeline — per (crawl batch, stage) doc/token/
    // copy mass over EVERY published export (see
    // [[ReleaseStream.releaseTimeline]]): the trend dashboard next to
    // q136's one-batch blast radius. All three exports read build-once
    // (production published each when its batch committed); per call the
    // cost is three column-pruned export scans into <=7-row aggregates.
    "q137_release_timeline" -> ((s, d) =>
      ReleaseStream.releaseTimeline(Seq(
        0L -> s.read.parquet(ReleaseStream.ensureReleaseExportAt(s, d, 0L)),
        1L -> s.read.parquet(ReleaseStream.ensureReleaseExportAt(s, d, 1L)),
        2L -> s.read.parquet(ReleaseStream.ensureReleaseExport(s, d))))),
    // Both pair sides routed through MATERIALIZED build-once artifacts
    // (round 13, the q57 move): the prior form re-ran the text band
    // probe + verify off the signature index AND the exact quadratic
    // embedding pair scan per call; for an immutable snapshot both pair
    // relations are build-once state. Same pair sets by the
    // ArtifactSpec/AnnIndexSpec equality pins; `graft.Explain
    // q45_crossmodal_dedup` prints the plan.
    "q45_crossmodal_dedup" -> ((s, d) =>
      crossModalPairs(Tables.documents(s, d), Tables.embeddings(s, d),
        txtPairs = Some(s.read.parquet(
          DedupArtifacts.ensureVerifiedPairs(s, d))),
        embPairs = Some(s.read.parquet(
          DedupArtifacts.ensureEmbeddingPairs(s, d))))),
    "q76_dsir_select" -> ((s, d) => dsirSelect(Tables.documents(s, d)))
  )

  /** q132/q134 twin: the q125 dedup CTEs (incl. the recursive CC
    * labels), the q127 decontamination CTEs (sharing the same toks/sh
    * relations), the q111 cap rank, the q48/q88 component-representative
    * split, and the q120 mixture arithmetic RE-PLANNED over the kept
    * set — one composed statement, each fragment verbatim from its
    * standalone twin. q134 (the incremental fold's readout) shares it
    * verbatim: equality with the batch relation IS its contract.
    */
  private def releaseExportOracleSql: String =
    s"WITH RECURSIVE $releaseExportOracleBody"

  /** The q120 mixture CTE chain over a kept-set CTE named `keptCte`,
    * every CTE name prefixed with `p` — factored so a composed export
    * can RE-PLAN the mixture over a different kept set (q132 uses
    * ("kept", ""); q150 re-plans over its quarantine-filtered kept set
    * with a distinct prefix in the same statement). Emits CTE
    * definitions ending in `<p>mix (doc_id, n_copies)`, no trailing
    * comma — the caller splices them before its final SELECT.
    */
  private def mixtureCtesSql(keptCte: String, p: String): String =
    s"""${p}mper AS (SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
       |         FROM documents JOIN $keptCte USING (doc_id) GROUP BY lang),
       |${p}mw AS (SELECT lang, lang_tokens,
       |         CAST(FLOOR(sqrt(CAST(lang_tokens AS DOUBLE)) * 1000) AS BIGINT) AS w
       |       FROM ${p}mper),
       |${p}mt AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM ${p}mw),
       |${p}mplan AS (SELECT lang, lang_tokens,
       |            (${TextAnalysis.MIX_BUDGET_TOKENS} * w) // tw AS target_tokens
       |          FROM ${p}mw, ${p}mt),
       |${p}mp2 AS (SELECT lang, lang_tokens,
       |          target_tokens // lang_tokens AS full_epochs,
       |          ((target_tokens - (target_tokens // lang_tokens) * lang_tokens)
       |            * 1000000) // lang_tokens AS rem_rate_x1e6
       |        FROM ${p}mplan),
       |${p}md AS (SELECT doc_id, lang,
       |         ${Sketches.phash60Sql("'mx42|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS mh
       |       FROM documents JOIN $keptCte USING (doc_id)),
       |${p}mix AS (SELECT doc_id,
       |          full_epochs + CASE WHEN mh < rem_rate_x1e6 THEN 1 ELSE 0 END AS n_copies
       |        FROM ${p}md JOIN ${p}mp2 ON ${p}md.lang = ${p}mp2.lang)""".stripMargin

  /** Everything after the WITH RECURSIVE keyword — so q135's oracle can
    * evaluate the SAME statement against a SHADOWED `documents` CTE (the
    * prefix corpus) inside one query: a CTE named after a base table
    * takes precedence for every later CTE. The shadow's own definition
    * must read `main.documents` (schema-qualified) — under the
    * clause-wide RECURSIVE keyword an unqualified self-name is a
    * circular reference.
    */
  private def releaseExportOracleBody: String =
    s"""${Dedup.ccLabelsCtesSql},
         |d AS (SELECT doc_id, COALESCE(source, '') AS source,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        sha256(text) AS h
         |      FROM documents),
         |k AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY h),
         |f AS (SELECT d.*, CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END AS exact_rm
         |      FROM d JOIN k USING (h)),
         |s AS (SELECT * FROM f WHERE exact_rm = 0),
         |cm AS (SELECT l.cluster_id, MIN(s.doc_id) AS cmin
         |       FROM labels l JOIN s ON l.doc_id = s.doc_id
         |       GROUP BY l.cluster_id),
         |nd AS (SELECT s.doc_id
         |       FROM s JOIN labels l ON s.doc_id = l.doc_id
         |       JOIN cm ON l.cluster_id = cm.cluster_id
         |       WHERE s.doc_id <> cm.cmin),
         |rnkd AS (SELECT doc_id, row_number() OVER
         |    (PARTITION BY lang ORDER BY ${Sketches.phash60Sql("doc_id")}, doc_id) AS rnk
         |  FROM documents),
         |smp AS (SELECT doc_id FROM rnkd WHERE rnk <= 20),
         |evalsh AS (SELECT DISTINCT shingle FROM sh JOIN smp USING (doc_id)),
         |rest AS (SELECT * FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM smp)),
         |dcnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM rest GROUP BY 1),
         |hits AS (SELECT doc_id, COUNT(*) AS nhit FROM rest
         |         WHERE shingle IN (SELECT shingle FROM evalsh) GROUP BY 1),
         |sc AS (SELECT dcnt.doc_id,
         |         CAST(FLOOR(COALESCE(nhit, 0) * 1000.0 / n_shingles + 0.5) AS BIGINT) AS contam
         |       FROM dcnt LEFT JOIN hits ON dcnt.doc_id = hits.doc_id),
         |cd AS (SELECT doc_id, COALESCE(source, '') AS source,
         |        ${Sketches.phash60Sql("'sc42|' || CAST(doc_id AS VARCHAR)")} AS ch
         |      FROM documents),
         |cr AS (SELECT doc_id,
         |        row_number() OVER (PARTITION BY source ORDER BY ch, doc_id) AS rn
         |      FROM cd),
         |ckeep AS (SELECT doc_id FROM cr WHERE rn <= ${Prep.SOURCE_CAP}),
         |stg AS (SELECT f.doc_id, f.source, f.n_tokens,
         |          CASE WHEN f.exact_rm = 1 THEN 'exact'
         |               WHEN nd.doc_id IS NOT NULL THEN 'neardup'
         |               WHEN smp.doc_id IS NOT NULL THEN 'eval'
         |               WHEN COALESCE(sc.contam, 0) >= 100 THEN 'contaminated'
         |               WHEN ck.doc_id IS NULL THEN 'capped'
         |               ELSE 'kept' END AS stage
         |        FROM f LEFT JOIN nd ON f.doc_id = nd.doc_id
         |        LEFT JOIN smp ON f.doc_id = smp.doc_id
         |        LEFT JOIN sc ON f.doc_id = sc.doc_id
         |        LEFT JOIN ckeep ck ON f.doc_id = ck.doc_id),
         |spl AS (SELECT dd.doc_id,
         |          CASE WHEN ${Sketches.phash60Sql("COALESCE(l.cluster_id, dd.doc_id)")} % 100 < 90 THEN 'train'
         |               WHEN ${Sketches.phash60Sql("COALESCE(l.cluster_id, dd.doc_id)")} % 100 < 95 THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM documents dd LEFT JOIN labels l ON dd.doc_id = l.doc_id),
         |kept AS (SELECT doc_id FROM stg WHERE stage = 'kept'),
         |${mixtureCtesSql("kept", "")}
         |SELECT stg.doc_id, stg.source, stg.n_tokens, stg.stage, spl.split,
         |       CAST(COALESCE(mix.n_copies, 0) AS BIGINT) AS n_copies
         |FROM stg JOIN spl ON stg.doc_id = spl.doc_id
         |LEFT JOIN mix ON stg.doc_id = mix.doc_id
         |ORDER BY stg.doc_id""".stripMargin

  /** q142 twin: the q132 release statement joined with the q139 gate
    * verdict — `gate AS` wraps the corpus-expectations statement
    * (embedded VERBATIM from its q139 twin) in a one-row fail count.
    */
  /** q150 twin: the q132 statement wrapped as `cur`, overlaid with the
    * q146 documents-route predicate (quarantine wins every precedence),
    * and the mixture CTE chain re-emitted over the clean kept set
    * (prefix `z` — same statement, distinct names).
    */
  private def quarantinedReleaseOracleSql: String =
    s"""WITH cur AS ($releaseExportOracleSql),
       |qr AS (SELECT doc_id,
       |         CASE WHEN ((len(text) = n_chars) IS NOT TRUE)
       |               OR ((lang IN ('de','en','es','fr','zh')) IS NOT TRUE)
       |               OR ((text IS NOT NULL) IS NOT TRUE)
       |               OR ((len(string_split(text, ' ')) BETWEEN 1 AND 64) IS NOT TRUE)
       |              THEN 'quarantined' ELSE 'clean' END AS status
       |       FROM documents),
       |stg2 AS (SELECT cur.doc_id, cur.source, cur.n_tokens,
       |           CASE WHEN qr.status = 'quarantined' THEN 'quarantined'
       |                ELSE cur.stage END AS stage,
       |           cur.split
       |         FROM cur JOIN qr USING (doc_id)),
       |kept2 AS (SELECT doc_id FROM stg2 WHERE stage = 'kept'),
       |${mixtureCtesSql("kept2", "z")}
       |SELECT stg2.doc_id, stg2.source, stg2.n_tokens, stg2.stage,
       |       stg2.split,
       |       CAST(COALESCE(zmix.n_copies, 0) AS BIGINT) AS n_copies
       |FROM stg2 LEFT JOIN zmix ON stg2.doc_id = zmix.doc_id
       |ORDER BY stg2.doc_id""".stripMargin

  /** q154/q155 twin: the q132 statement evaluated against a shadowed
    * `documents` CTE holding the CLEAN corpus (the releaseChurn idiom —
    * the whole cascade, labels included, re-derives over the gated
    * subset), unioned with the diverted rows projected straight off the
    * raw table (stage `quarantined`, doc_id-keyed split, zero weight).
    * The clean predicate requires every q139 document rule TRUE; the
    * diverted predicate is its `IS NOT TRUE` complement, so the two
    * partition the corpus exactly.
    */
  /** The q139 document scalar rules as one SQL predicate (TRUE = clean;
    * NULL-failing callers wrap with IS NOT TRUE) — shared by the
    * diverted-release twins.
    */
  private val docCleanPredSql: String =
    """(text IS NOT NULL) AND (lang IN ('de','en','es','fr','zh'))
      |      AND (len(text) = n_chars)
      |      AND (len(string_split(text, ' ')) BETWEEN 1 AND 64)""".stripMargin

  /** The q154 statement parameterized over the corpus the verdicts run
    * on — q154 passes the raw table, q165 the FINAL (latest-version)
    * corpus after the corrupting re-crawl wave.
    */
  private def divertedReleaseOracleSqlOver(corpusSql: String): String = {
    val cleanPred = docCleanPredSql
    s"""WITH fcorp AS ($corpusSql),
       |cur AS (WITH RECURSIVE documents AS
       |    (SELECT * FROM fcorp WHERE $cleanPred),
       |  $releaseExportOracleBody),
       |quar AS (SELECT doc_id, COALESCE(source, '') AS source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    'quarantined' AS stage,
       |    CASE WHEN ${Sketches.phash60Sql("doc_id")} % 100 < 90 THEN 'train'
       |         WHEN ${Sketches.phash60Sql("doc_id")} % 100 < 95 THEN 'val'
       |         ELSE 'test' END AS split,
       |    CAST(0 AS BIGINT) AS n_copies
       |  FROM fcorp
       |  WHERE ($cleanPred) IS NOT TRUE)
       |SELECT * FROM cur UNION ALL SELECT * FROM quar
       |ORDER BY doc_id""".stripMargin
  }

  private val baseCorpusSql: String =
    "SELECT doc_id, text, lang, source, n_chars FROM main.documents"

  private def divertedReleaseOracleSql: String =
    divertedReleaseOracleSqlOver(baseCorpusSql)

  /** q165 twin: q154's statement over the FINAL corpus — the latest
    * version of every doc after the corrupting re-crawl (`doc_id % 13
    * == 4` re-arrived with NULL text). The repaired stream state must
    * equal the batch cascade computed as if the excised docs had never
    * folded — full final-verdict equivalence.
    */
  private def refoldedReleaseOracleSql: String =
    divertedReleaseOracleSqlOver(
      """SELECT doc_id,
        |       CASE WHEN doc_id % 13 = 4 THEN NULL ELSE text END AS text,
        |       lang, source, n_chars FROM main.documents""".stripMargin)

  /** q166 twin: q165's final corpus PLUS the late re-keyed wave —
    * post-repair folds must compose with the repaired state.
    */
  private def policyRefoldedReleaseOracleSql: String =
    divertedReleaseOracleSqlOver(
      """SELECT doc_id,
        |       CASE WHEN doc_id % 13 = 4 THEN NULL ELSE text END AS text,
        |       lang, source, n_chars FROM main.documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
        |FROM main.documents WHERE doc_id % 11 = 5""".stripMargin)

  /** q167 twin: q154's statement over the UPDATED corpus — the latest
    * version of every doc after the changed-text re-crawl (`doc_id %
    * 9 == 2` re-arrived with `text || ' rev2'`). The update-mode
    * stream state must equal the batch cascade computed as if only the
    * final versions had ever existed — stale-claim, posting, eval, cap
    * and cluster residue all retired in-line.
    */
  private val updatedCorpusSql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 9 = 2 THEN text || ' rev2' ELSE text END
      |         AS text,
      |       lang, source,
      |       CASE WHEN doc_id % 9 = 2 THEN n_chars + 5 ELSE n_chars END
      |         AS n_chars
      |FROM main.documents""".stripMargin

  private def updatedReleaseOracleSql: String =
    divertedReleaseOracleSqlOver(updatedCorpusSql)

  /** q169 twin: the q135 churn statement across the UPDATE wave — the
    * diverted release statement evaluated over the base corpus and over
    * the updated corpus, per-doc diffed (stage or mixture-copy moves).
    */
  private def updateChurnOracleSql: String =
    s"""WITH curx AS (${divertedReleaseOracleSqlOver(updatedCorpusSql)}),
       |prevx AS (${divertedReleaseOracleSqlOver(baseCorpusSql)})
       |SELECT curx.doc_id, COALESCE(prevx.stage, 'absent') AS prev_stage,
       |       curx.stage,
       |       CAST(COALESCE(prevx.n_copies, 0) AS BIGINT) AS prev_copies,
       |       curx.n_copies
       |FROM curx LEFT JOIN prevx ON curx.doc_id = prevx.doc_id
       |WHERE COALESCE(prevx.stage, 'absent') <> curx.stage
       |   OR COALESCE(prevx.n_copies, 0) <> curx.n_copies
       |ORDER BY curx.doc_id""".stripMargin

  /** q168 twin: q154's statement over the final corpus after BOTH
    * re-crawl waves — the NULL-text corruption (`doc_id % 13 == 4`,
    * batch 3) and the clean update (`doc_id % 9 == 2`, batch 4, which
    * also repairs any doc the corruption hit first — the update branch
    * takes precedence).
    */
  private def selfMaintainingReleaseOracleSql: String =
    divertedReleaseOracleSqlOver(
      """SELECT doc_id,
        |       CASE WHEN doc_id % 9 = 2 THEN text || ' rev2'
        |            WHEN doc_id % 13 = 4 THEN NULL
        |            ELSE text END AS text,
        |       lang, source,
        |       CASE WHEN doc_id % 9 = 2 THEN n_chars + 5 ELSE n_chars END
        |         AS n_chars
        |FROM main.documents""".stripMargin)

  /** q159/q160 twin: the q154 statement under the COMPLETE q152 rule
    * suite over the re-crawled corpus MULTISET. The clean corpus the
    * cascade shadows is the base documents passing every scalar rule
    * AND referencing an embedding (the identical re-crawl copies add no
    * new clean keys and the re-keyed late docs are dangling, so the
    * unique-ranked clean set reduces to exactly this subset); the
    * diverted relation ranks every physical copy per key (clean-first)
    * and emits each non-kept copy as its own quarantined row. Ordered
    * by (doc_id, stage): duplicate keys are legal in the per-copy
    * output and copies equal in both are identical rows.
    */
  private def keyedDivertedReleaseOracleSql: String =
    s"""WITH cur AS (WITH RECURSIVE documents AS
       |    (SELECT d.* FROM main.documents d WHERE $docCleanPredSql
       |       AND EXISTS (SELECT 1 FROM main.embeddings e
       |                   WHERE e.vec_id = d.doc_id)),
       |  $releaseExportOracleBody),
       |corpus AS (SELECT doc_id, text, lang, source, n_chars FROM main.documents
       |  UNION ALL
       |  SELECT doc_id, text, lang, source, n_chars FROM main.documents
       |  WHERE doc_id % 7 = 3
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
       |  FROM main.documents WHERE doc_id % 11 = 5),
       |flg AS (SELECT *,
       |    CASE WHEN ($docCleanPredSql)
       |          AND EXISTS (SELECT 1 FROM main.embeddings e
       |                      WHERE e.vec_id = corpus.doc_id)
       |         THEN 0 ELSE 1 END AS dirty
       |  FROM corpus),
       |rk AS (SELECT *, row_number() OVER
       |    (PARTITION BY doc_id ORDER BY dirty) AS rn FROM flg),
       |quar AS (SELECT doc_id, COALESCE(source, '') AS source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    'quarantined' AS stage,
       |    CASE WHEN ${Sketches.phash60Sql("doc_id")} % 100 < 90 THEN 'train'
       |         WHEN ${Sketches.phash60Sql("doc_id")} % 100 < 95 THEN 'val'
       |         ELSE 'test' END AS split,
       |    CAST(0 AS BIGINT) AS n_copies
       |  FROM rk WHERE dirty = 1 OR rn > 1)
       |SELECT * FROM cur UNION ALL SELECT * FROM quar
       |ORDER BY doc_id, stage""".stripMargin

  /** The q158 drift-gated release twin, shared VERBATIM by q164. */
  private def driftGatedReleaseOracleSql: String =
    s"""WITH cur AS ($releaseExportOracleSql),
       |gate AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gate_failed
       |         FROM (${Expectations.driftGateOracleSql}) g
       |         WHERE g.status = 'fail')
       |SELECT cur.doc_id, cur.source, cur.n_tokens, cur.stage, cur.split,
       |       cur.n_copies,
       |       CASE WHEN n_gate_failed > 0 THEN 'blocked' ELSE 'clear' END
       |         AS gate_status,
       |       n_gate_failed
       |FROM cur CROSS JOIN gate
       |ORDER BY cur.doc_id""".stripMargin

  private def gatedReleaseOracleSql: String =
    s"""WITH cur AS ($releaseExportOracleSql),
       |gate AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gate_failed
       |         FROM (${Expectations.corpusGateOracleSql}) g
       |         WHERE g.status = 'fail')
       |SELECT cur.doc_id, cur.source, cur.n_tokens, cur.stage, cur.split,
       |       cur.n_copies,
       |       CASE WHEN n_gate_failed > 0 THEN 'blocked' ELSE 'clear' END
       |         AS gate_status,
       |       n_gate_failed
       |FROM cur CROSS JOIN gate
       |ORDER BY cur.doc_id""".stripMargin

  /** q135 twin: the SAME composed release statement evaluated twice —
    * once whole-corpus, once against a shadowed `documents` CTE holding
    * the two-residue prefix (the state q135 reads as of batch 1) — then
    * the per-doc stage/weight diff. The shadow CTE must name the base
    * table SCHEMA-QUALIFIED (`main.documents`): under the clause-wide
    * RECURSIVE keyword every same-clause CTE is in scope for every
    * other, so an unqualified `documents` in its own definition is a
    * circular reference, not the table. q136 wraps this in the
    * transition-matrix aggregate.
    */
  private def releaseChurnOracleSql: String =
    s"""WITH cur AS ($releaseExportOracleSql),
       |prev AS (WITH RECURSIVE documents AS
       |    (SELECT * FROM main.documents WHERE doc_id % 3 < 2),
       |  $releaseExportOracleBody)
       |SELECT cur.doc_id, COALESCE(prev.stage, 'absent') AS prev_stage,
       |       cur.stage,
       |       CAST(COALESCE(prev.n_copies, 0) AS BIGINT) AS prev_copies,
       |       cur.n_copies
       |FROM cur LEFT JOIN prev ON cur.doc_id = prev.doc_id
       |WHERE COALESCE(prev.stage, 'absent') <> cur.stage
       |   OR COALESCE(prev.n_copies, 0) <> cur.n_copies
       |ORDER BY cur.doc_id""".stripMargin

  /** q137 twin: the composed release statement evaluated per batch
    * prefix (the shadowed-`documents` idiom of [[releaseChurnOracleSql]],
    * once per residue prefix), each wrapped in the per-stage rollup.
    */
  private def releaseTimelineOracleSql: String = {
    def prefixExport(n: Int): String =
      s"""(WITH RECURSIVE documents AS
         |    (SELECT * FROM main.documents WHERE doc_id % 3 < $n),
         |  $releaseExportOracleBody)""".stripMargin
    def rollup(b: Int, rel: String): String =
      s"""SELECT CAST($b AS BIGINT) AS batch_id, stage,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_copies) AS BIGINT) AS n_copies
         |FROM $rel GROUP BY stage""".stripMargin
    s"""WITH b0 AS ${prefixExport(1)},
       |b1 AS ${prefixExport(2)},
       |b2 AS ($releaseExportOracleSql)
       |${rollup(0, "b0")}
       |UNION ALL
       |${rollup(1, "b1")}
       |UNION ALL
       |${rollup(2, "b2")}
       |ORDER BY batch_id, stage""".stripMargin
  }

  /** q71 twin: same hash-picked eval set, exact cosine, grouped max/hits. */
  private def semanticContaminationOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |ev AS (SELECT vec_id AS e_id, emb AS e_emb
       |       FROM (SELECT vec_id, emb, ${Sketches.phash60Sql("vec_id")} AS h FROM e)
       |       ORDER BY h, vec_id LIMIT $SEMCON_N_EVAL),
       |p AS (SELECT c.vec_id,
       |        CAST(FLOOR(list_dot_product(c.emb, v.e_emb) /
       |          (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(v.e_emb, v.e_emb)))
       |          * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cos
       |      FROM e c CROSS JOIN ev v
       |      WHERE c.vec_id NOT IN (SELECT e_id FROM ev))
       |SELECT vec_id, CAST(MAX(cos) AS BIGINT) AS max_cos_x1e4,
       |       CAST(SUM(CASE WHEN cos >= $SEMCON_T THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |FROM p GROUP BY vec_id
       |ORDER BY max_cos_x1e4 DESC, vec_id
       |LIMIT $SEMCON_TOPK""".stripMargin

  /** q76 twin. Mirrors [[dsirSelectAgainst]] term for term: same target
    * sample (q42's ranked-hash idiom), same hashed buckets, and the same
    * log-ratio association `ln(tc+1) - ln(T+B) - ln(rc+1) + ln(R+B)` —
    * every ln argument is an exact integer (the TF-IDF transcendental
    * contract), the per-bucket ratio is quantized to x1e6 BEFORE the
    * per-doc sum, so the only cross-engine float ops are the lns and one
    * final division. DuckDB `ln` is natural log (`log` is base-10!).
    */
  private def dsirOracleSql: String =
    s"""WITH ranked AS (SELECT doc_id, row_number() OVER
       |    (PARTITION BY lang ORDER BY ${Sketches.phash60Sql("doc_id")}, doc_id) AS rnk
       |  FROM documents),
       |tgt_ids AS (SELECT doc_id FROM ranked WHERE rnk <= $DSIR_PER_LANG),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(l) AS g FROM toks
       |  UNION ALL
       |  SELECT doc_id, l[i] || ' ' || l[i+1] AS g
       |  FROM toks, unnest(range(1, len(l))) AS t(i)
       |  WHERE len(l) >= 2),
       |fdoc AS (SELECT doc_id, ${Sketches.phash60Sql("g")} % $DSIR_BUCKETS AS b,
       |           CAST(COUNT(*) AS BIGINT) AS c
       |         FROM grams GROUP BY 1, 2),
       |raw AS (SELECT b, CAST(SUM(c) AS BIGINT) AS rc FROM fdoc GROUP BY b),
       |tgt AS (SELECT b, CAST(SUM(c) AS BIGINT) AS tc FROM fdoc
       |        WHERE doc_id IN (SELECT doc_id FROM tgt_ids) GROUP BY b),
       |totals AS (SELECT (SELECT CAST(SUM(rc) AS BIGINT) FROM raw) AS r_total,
       |                  (SELECT CAST(SUM(tc) AS BIGINT) FROM tgt) AS t_total),
       |lr AS (SELECT raw.b,
       |         CAST(FLOOR((ln(COALESCE(tc, 0) + 1) - ln(t_total + $DSIR_BUCKETS)
       |           - ln(rc + 1) + ln(r_total + $DSIR_BUCKETS)) * 1000000
       |           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lr
       |       FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN totals)
       |SELECT f.doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
       |       CAST(SUM(c * lr) AS BIGINT) AS w_x1e6,
       |       CAST(FLOOR(CAST(CAST(SUM(c * lr) AS BIGINT) AS DOUBLE)
       |         / CAST(SUM(c) AS BIGINT) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS avg_x1e6
       |FROM fdoc f JOIN lr ON f.b = lr.b
       |WHERE f.doc_id NOT IN (SELECT doc_id FROM tgt_ids)
       |GROUP BY f.doc_id
       |ORDER BY avg_x1e6 DESC, doc_id
       |LIMIT $DSIR_TOPK""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // q149: q148's SQL VERBATIM — stream==batch is the contract
    "q149_streaming_drift" -> Similarity.embeddingDriftOracleSql,

    "q126_quality_ks" ->
      s"""WITH d AS (SELECT COALESCE(source, '') AS source,
         |        (${TextAnalysis.QUALITY_SQL}) // 100 AS qb
         |      FROM documents),
         |srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
         |         FROM d GROUP BY source),
         |b AS (SELECT CAST(i AS BIGINT) AS qb FROM range(0, 11) t(i)),
         |cnt AS (SELECT source, qb, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM d GROUP BY source, qb),
         |cw AS (SELECT qb, CAST(COUNT(*) AS BIGINT) AS cc FROM d GROUP BY qb),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM d),
         |grid AS (SELECT s.source, s.n_s, b.qb,
         |           COALESCE(cnt.c, 0) AS c, COALESCE(cw.cc, 0) AS cc
         |         FROM srcs s CROSS JOIN b
         |         LEFT JOIN cnt ON cnt.source = s.source AND cnt.qb = b.qb
         |         LEFT JOIN cw ON cw.qb = b.qb),
         |cum AS (SELECT source, n_s, qb,
         |          SUM(c) OVER (PARTITION BY source ORDER BY qb) AS cum_s,
         |          SUM(cc) OVER (PARTITION BY source ORDER BY qb) AS cum
         |        FROM grid),
         |g AS (SELECT source, n_s,
         |        MAX(ABS(CAST(cum_s AS HUGEINT) * nn - CAST(cum AS HUGEINT) * n_s)) AS mg,
         |        MAX(nn) AS nn
         |      FROM cum, n GROUP BY source, n_s)
         |SELECT source, n_s AS n_docs,
         |       CAST((mg * 1000000) // (CAST(n_s AS HUGEINT) * nn) AS BIGINT) AS ks_x1e6
         |FROM g ORDER BY source""".stripMargin,

    "q117_quality_sweep" ->
      s"""WITH q AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        ${TextAnalysis.QUALITY_SQL} AS quality_x1e3
         |      FROM documents),
         |b AS (SELECT quality_x1e3 // 100 AS qb, CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(n_tokens) AS BIGINT) AS toks,
         |        CAST(SUM(quality_x1e3) AS BIGINT) AS sq
         |      FROM q GROUP BY 1),
         |t AS (SELECT i AS t FROM unnest(range(0, 11)) AS u(i)),
         |a AS (SELECT t.t, CAST(COALESCE(SUM(b.n), 0) AS BIGINT) AS docs_kept,
         |        CAST(COALESCE(SUM(b.toks), 0) AS BIGINT) AS tokens_kept,
         |        CAST(COALESCE(SUM(b.sq), 0) AS BIGINT) AS sumq
         |      FROM t LEFT JOIN b ON b.qb >= t.t GROUP BY t.t)
         |SELECT t * 100 AS threshold_x1e3, docs_kept, tokens_kept,
         |       CASE WHEN docs_kept = 0 THEN 0
         |            ELSE CAST(FLOOR(CAST(sumq AS DOUBLE) / docs_kept
         |              + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS mean_quality_x1e3
         |FROM a ORDER BY threshold_x1e3""".stripMargin,
    "q109_source_overlap" ->
      s"""WITH toks AS (SELECT source, string_split(text, ' ') AS l FROM documents),
         |sh AS (SELECT DISTINCT source,
         |         ${Sketches.phash60Sql("l[i] || ' ' || l[i+1] || ' ' || l[i+2]")} AS h
         |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
         |       WHERE len(l) >= 3),
         |cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.source AS s1, b.source AS s2,
         |            CAST(COUNT(*) AS BIGINT) AS nboth
         |          FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |          GROUP BY 1, 2)
         |SELECT s1, s2, nboth,
         |       (nboth * 1000) // LEAST(c1.n, c2.n) AS overlap_x1e3,
         |       (nboth * 1000) // (c1.n + c2.n - nboth) AS jaccard_x1e3
         |FROM inter
         |JOIN cnt c1 ON c1.source = s1
         |JOIN cnt c2 ON c2.source = s2
         |ORDER BY s1, s2""".stripMargin,

    "q83_source_drift" ->
      s"""WITH sc AS (SELECT source, ${Sketches.phash60Sql("t")} % $DRIFT_BUCKETS AS b,
         |        CAST(COUNT(*) AS BIGINT) AS c
         |      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
         |            FROM documents)
         |      GROUP BY 1, 2),
         |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS s_tot FROM sc GROUP BY 1),
         |cc AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM sc GROUP BY 1),
         |ct AS (SELECT CAST(SUM(cb) AS BIGINT) AS c_tot FROM cc),
         |lr AS (SELECT sc.source, sc.c, st.s_tot,
         |         CAST(FLOOR((ln(CAST(sc.c + 1 AS DOUBLE))
         |           - ln(CAST(st.s_tot + $DRIFT_BUCKETS AS DOUBLE))
         |           - ln(CAST(cc.cb + 1 AS DOUBLE))
         |           + ln(CAST(ct.c_tot + $DRIFT_BUCKETS AS DOUBLE))) * 1000000
         |           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lr
         |       FROM sc JOIN st USING (source) JOIN cc USING (b) CROSS JOIN ct)
         |SELECT source, CAST(MAX(s_tot) AS BIGINT) AS n_tokens,
         |       CAST(FLOOR(CAST(CAST(SUM(c * lr) AS BIGINT) AS DOUBLE)
         |         / MAX(s_tot) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS drift_x1e6
         |FROM lr GROUP BY source ORDER BY source""".stripMargin,

    "q76_dsir_select" -> dsirOracleSql,
    "q71_semantic_contamination" -> semanticContaminationOracleSql,

    // q132 twin: the q125 dedup CTEs (incl. the recursive CC labels), the
    // q127 decontamination CTEs (sharing the same toks/sh relations), the
    // q111 cap rank, the q48/q88 component-representative split, and the
    // q120 mixture arithmetic RE-PLANNED over the kept set — one composed
    // statement, each fragment verbatim from its standalone twin.
    "q132_release_export" -> releaseExportOracleSql,

    // q134 shares q132's oracle VERBATIM: the incremental fold's whole
    // contract is that its readout equals the batch release relation.
    "q134_release_incremental" -> releaseExportOracleSql,

    // q142 twin: the q132 statement CROSS JOINed with the q139 gate
    // verdict (one row) — the deliverable itself records whether its
    // inputs passed the ingestion expectations.
    "q142_gated_release" -> gatedReleaseOracleSql,
    "q150_quarantined_release" -> quarantinedReleaseOracleSql,
    "q154_diverted_release" -> divertedReleaseOracleSql,
    // q155: q154's SQL VERBATIM — stream==batch is the contract
    "q155_streaming_diverted_release" -> divertedReleaseOracleSql,
    // q165: q154's statement over the FINAL corpus — the repaired state
    // equals the batch cascade computed as if the excised docs had never
    // folded (full final-verdict equivalence).
    "q165_refolded_release" -> refoldedReleaseOracleSql,
    // q166: q165's final corpus plus the late re-keyed wave — the
    // policy-driven repair composes with post-repair folds.
    "q166_policy_refolded_release" -> policyRefoldedReleaseOracleSql,
    // q167: the q154 statement over the UPDATED corpus — re-crawl
    // update semantics, stale cascade residue excised in-line.
    "q167_updated_release" -> updatedReleaseOracleSql,
    // q168: the q154 statement over the final corpus after both
    // re-crawl waves — every maintenance policy composed on one root.
    "q168_self_maintaining_release" -> selfMaintainingReleaseOracleSql,
    // q171: q168's statement VERBATIM — archive retention must not
    // move a single output row.
    "q171_archived_release" -> selfMaintainingReleaseOracleSql,
    // q169: the q135 churn statement across the update wave (base vs
    // updated corpus, per-doc diff).
    "q169_update_churn" -> updateChurnOracleSql,
    // q170: q169 wrapped in the q136 transition-matrix aggregate.
    "q170_update_churn_stats" ->
      s"""SELECT prev_stage, stage, COUNT(*) AS n_docs,
         |       CAST(SUM(n_copies - prev_copies) AS BIGINT) AS copies_delta
         |FROM ($updateChurnOracleSql)
         |GROUP BY prev_stage, stage
         |ORDER BY prev_stage, stage""".stripMargin,
    "q159_keyed_diverted_release" -> keyedDivertedReleaseOracleSql,
    // q160: q159's SQL VERBATIM — stream==batch is the contract
    "q160_streaming_keyed_diverted_release" -> keyedDivertedReleaseOracleSql,
    // q158: the q132 statement gated by the drift row's verdict (the
    // gatedReleaseOracleSql shape with the drift fragment as the gate)
    "q158_drift_gated_release" -> driftGatedReleaseOracleSql,
    // q164: q158's SQL VERBATIM — the streaming export and the streaming
    // drift verdict equal their batch twins, so the composition does too
    "q164_streaming_drift_gated_release" -> driftGatedReleaseOracleSql,

    // q135 twin: see releaseChurnOracleSql (the composed release
    // statement evaluated twice, per-doc diffed).
    "q135_release_churn" -> releaseChurnOracleSql,

    // q136 twin: the q135 statement wrapped in the transition-matrix
    // aggregate (per (prev_stage -> stage) doc count + net copy delta).
    "q136_release_churn_stats" ->
      s"""SELECT prev_stage, stage, COUNT(*) AS n_docs,
         |       CAST(SUM(n_copies - prev_copies) AS BIGINT) AS copies_delta
         |FROM ($releaseChurnOracleSql)
         |GROUP BY prev_stage, stage
         |ORDER BY prev_stage, stage""".stripMargin,

    // q137 twin: the composed release statement per batch prefix, each
    // rolled up per stage (see releaseTimelineOracleSql).
    "q137_release_timeline" -> releaseTimelineOracleSql,


    "q127_decontam_apply" ->
      s"""WITH ranked AS (SELECT doc_id, row_number() OVER
         |    (PARTITION BY lang ORDER BY ${Sketches.phash60Sql("doc_id")}, doc_id) AS rnk
         |  FROM documents),
         |sample AS (SELECT doc_id FROM ranked WHERE rnk <= 20),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
         |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
         |       WHERE len(l) >= 3),
         |evalsh AS (SELECT DISTINCT shingle FROM sh JOIN sample USING (doc_id)),
         |rest AS (SELECT * FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM sample)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM rest GROUP BY 1),
         |hits AS (SELECT doc_id, COUNT(*) AS nhit FROM rest
         |         WHERE shingle IN (SELECT shingle FROM evalsh) GROUP BY 1),
         |sc AS (SELECT cnt.doc_id,
         |         CAST(FLOOR(COALESCE(nhit, 0) * 1000.0 / n_shingles + 0.5) AS BIGINT) AS contam
         |       FROM cnt LEFT JOIN hits ON cnt.doc_id = hits.doc_id)
         |SELECT d.doc_id,
         |       CASE WHEN s.doc_id IS NOT NULL THEN 'eval'
         |            WHEN COALESCE(sc.contam, 0) >= 100 THEN 'contaminated'
         |            ELSE 'kept' END AS stage,
         |       CAST(COALESCE(sc.contam, 0) AS BIGINT) AS contam_x1e3
         |FROM documents d
         |LEFT JOIN sample s ON d.doc_id = s.doc_id
         |LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q50_contamination" ->
      s"""WITH ranked AS (SELECT doc_id, row_number() OVER
         |    (PARTITION BY lang ORDER BY ${Sketches.phash60Sql("doc_id")}, doc_id) AS rnk
         |  FROM documents),
         |sample AS (SELECT doc_id FROM ranked WHERE rnk <= 20),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
         |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
         |       WHERE len(l) >= 3),
         |evalsh AS (SELECT DISTINCT shingle FROM sh JOIN sample USING (doc_id)),
         |rest AS (SELECT * FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM sample)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM rest GROUP BY 1),
         |hits AS (SELECT doc_id, COUNT(*) AS nhit FROM rest
         |         WHERE shingle IN (SELECT shingle FROM evalsh) GROUP BY 1)
         |SELECT doc_id, n_shingles,
         |       CAST(FLOOR(nhit * 1000.0 / n_shingles + 0.5) AS BIGINT) AS contam_x1e3
         |FROM cnt JOIN hits USING (doc_id)
         |WHERE CAST(FLOOR(nhit * 1000.0 / n_shingles + 0.5) AS BIGINT) > 0
         |ORDER BY doc_id""".stripMargin,

    "q45_crossmodal_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
        |       WHERE len(l) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |txt AS (SELECT d1, d2,
        |          CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) AS jaccard_x1e3
        |        FROM inter
        |        JOIN cnt c1 ON c1.doc_id = d1
        |        JOIN cnt c2 ON c2.doc_id = d2
        |        WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= 800),
        |ev AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |emb AS (SELECT v1, v2, cos_x1e4 FROM (
        |          SELECT a.vec_id AS v1, b.vec_id AS v2,
        |            CAST(FLOOR(list_dot_product(a.emb, b.emb) /
        |              (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
        |              * 10000 + 0.5) AS BIGINT) AS cos_x1e4
        |          FROM ev a JOIN ev b ON a.vec_id < b.vec_id)
        |        WHERE cos_x1e4 >= 4500)
        |SELECT COALESCE(t.d1, e.v1) AS id1,
        |       COALESCE(t.d2, e.v2) AS id2,
        |       COALESCE(t.jaccard_x1e3, -1) AS jaccard_x1e3,
        |       COALESCE(e.cos_x1e4, -1) AS cos_x1e4,
        |       CASE WHEN t.d1 IS NOT NULL AND e.v1 IS NOT NULL THEN 'both'
        |            WHEN t.d1 IS NOT NULL THEN 'text'
        |            ELSE 'embedding' END AS modality
        |FROM txt t FULL OUTER JOIN emb e ON t.d1 = e.v1 AND t.d2 = e.v2
        |ORDER BY id1, id2""".stripMargin,

    // the strict composition: q32's skeleton with the q51/q52 gates between
    // the quality filter and the near-dup join. Every gate threshold is
    // INTERPOLATED from the same Scala constants the Spark plan reads
    // (QUALITY_MIN, Repetition.TOP2/DUP3/SHARED, JACCARD_MIN), so a
    // constant change can never desynchronize only this oracle.
    "q57_curation_strict" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         ${TextAnalysis.QUALITY_SQL} AS quality_x1e3,
         |         text
         |  FROM documents),
         |qualified AS (SELECT * FROM scored WHERE quality_x1e3 >= $QUALITY_MIN),
         |gt AS (SELECT doc_id, string_split(text, ' ') AS l FROM qualified
         |       WHERE len(string_split(text, ' ')) >= 3),
         |gg AS (
         |  SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens, 1 AS n, unnest(l) AS g FROM gt
         |  UNION ALL
         |  SELECT doc_id, CAST(len(l) AS BIGINT), 2, l[i] || ' ' || l[i+1]
         |  FROM gt, unnest(range(1, len(l))) AS u(i)
         |  UNION ALL
         |  SELECT doc_id, CAST(len(l) AS BIGINT), 3, l[i] || ' ' || l[i+1] || ' ' || l[i+2]
         |  FROM gt, unnest(range(1, len(l) - 1)) AS u(i)),
         |gc AS (SELECT doc_id, n_tokens, n, g, COUNT(*) AS c FROM gg GROUP BY 1, 2, 3, 4),
         |ga AS (SELECT doc_id, n_tokens,
         |         MAX(CASE WHEN n = 2 THEN c END) AS top2,
         |         SUM(CASE WHEN n = 3 AND c > 1 THEN c ELSE 0 END) AS dup3
         |       FROM gc GROUP BY 1, 2),
         |flagged AS (SELECT doc_id FROM ga
         |  WHERE CAST(FLOOR(CAST(top2 * 1000 AS DOUBLE) / (n_tokens - 1) + CAST(0.5 AS DOUBLE)) AS BIGINT) >= ${Repetition.TOP2_MAX_X1E3}
         |     OR CAST(FLOOR(CAST(dup3 * 1000 AS DOUBLE) / (n_tokens - 2) + CAST(0.5 AS DOUBLE)) AS BIGINT) >= ${Repetition.DUP3_MAX_X1E3}),
         |pt AS (SELECT doc_id, string_split(text, ' ') AS l FROM qualified),
         |p5 AS (SELECT DISTINCT doc_id,
         |         l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4] AS p
         |       FROM pt, unnest(range(1, len(l) - 3)) AS u(i)
         |       WHERE len(l) >= 5),
         |pf AS (SELECT p, COUNT(*) AS nd FROM p5 GROUP BY p),
         |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
         |         CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS ns
         |       FROM p5 JOIN pf USING (p) GROUP BY doc_id),
         |unkept AS (SELECT doc_id FROM pd
         |  WHERE CAST(FLOOR(CAST(ns * 1000 AS DOUBLE) / np + CAST(0.5 AS DOUBLE)) AS BIGINT) > ${Repetition.SHARED_MAX_X1E3}),
         |gated AS (SELECT * FROM qualified
         |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
         |    AND doc_id NOT IN (SELECT doc_id FROM unkept)),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM gated),
         |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
         |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
         |       WHERE len(l) >= 3),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |losers AS (SELECT DISTINCT d2 FROM inter
         |           JOIN cnt c1 ON c1.doc_id = d1
         |           JOIN cnt c2 ON c2.doc_id = d2
         |           WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= $JACCARD_MIN)
         |SELECT doc_id, lang, n_tokens, quality_x1e3
         |FROM gated
         |WHERE doc_id NOT IN (SELECT d2 FROM losers)
         |ORDER BY doc_id""".stripMargin,

    "q32_curation" ->
      s"""WITH scored AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         ${TextAnalysis.QUALITY_SQL} AS quality_x1e3,
        |         text
        |  FROM documents),
        |qualified AS (SELECT * FROM scored WHERE quality_x1e3 >= $QUALITY_MIN),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM qualified),
        |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
        |       WHERE len(l) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |losers AS (SELECT DISTINCT d2 FROM inter
        |           JOIN cnt c1 ON c1.doc_id = d1
        |           JOIN cnt c2 ON c2.doc_id = d2
        |           WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= $JACCARD_MIN)
        |SELECT doc_id, lang, n_tokens, quality_x1e3
        |FROM qualified
        |WHERE doc_id NOT IN (SELECT d2 FROM losers)
        |ORDER BY doc_id""".stripMargin
  )
}
