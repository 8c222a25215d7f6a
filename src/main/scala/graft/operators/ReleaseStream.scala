package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.store.Manifests

/** Incremental release-export maintenance — the stream==batch twin of the
  * q132 composed release relation ([[Curation.releaseExport]]), the one
  * composed family that still rebuilt from scratch per call. A production
  * corpus is APPENDED to by crawl batches; recomputing a 100 TB release
  * decision per batch is exactly the kind of full-corpus pass the other
  * stateful families (clusters, chunks, centroid, BM25, SCD2) already
  * retire with bucketed on-disk state. This object retires it for the
  * release cascade itself.
  *
  * The insight that makes the cascade incrementalizable: every stage
  * decision decomposes into PER-DOC FACTS that change only under
  * delta-bounded events, plus TINY global relations, plus readout-time
  * derivations —
  *
  *  - `exact` (q125): doc_id vs the running min doc_id per text hash.
  *    A batch can only change old docs when it lands a SMALLER id on an
  *    existing hash (out-of-order arrival) — bounded by the batch's own
  *    hash set (`ex/` store: append-only per-batch hash minima).
  *  - `neardup` (q125): derived at readout from the streaming
  *    cluster-label state ([[Curation.clusterIngestBatch]] — reused as a
  *    component, manifests and all) joined with stored exact flags; the
  *    cluster-min-survivor rule needs no extra state.
  *  - `eval`/`contaminated` (q127): the eval sample is the per-lang
  *    smallest-(hash, doc_id) set — a monotone tournament ONLY new docs
  *    can enter, so sample churn is delta-bounded. Contamination counts
  *    (`nhit` of each doc's distinct shingles inside the eval shingle
  *    set) are maintained EXACTLY by set arithmetic: when the sample
  *    changes, the shingles entering/leaving the eval set probe the
  *    `sh/` inverted index (shingle-bucketed) and adjust only the docs
  *    that contain them — the same delta-sized probe shape as the
  *    near-dup index.
  *  - `capped` (q111): per-source hash-priority rank. Only sources
  *    PRESENT in the batch can re-rank; the `src/` store is a
  *    source-bucketed (doc_id, priority) mirror so a re-rank reads only
  *    the delta sources' buckets. Keeper sets (cap × #over-cap-sources)
  *    and per-source counts live in the tiny store.
  *  - `split` (q88) and `n_copies` (q120) are pure readout derivations:
  *    split is a hash of the cluster representative, and the mixture is
  *    re-planned over the kept set through
  *    [[TextAnalysis.mixtureMaterializeFromStats]] — the literal batch
  *    kernel, shared so the two paths cannot drift (the
  *    `Envelope.scd2Fold` convention).
  *
  * State layout is the SCD2/label-state idiom: bucketed stores under
  * `root/batch=<id>/<store>/`, committed by ONE atomic version-headered
  * manifest per batch covering all stores (tmp + rename, `END` count
  * terminator), written LAST — a half-written attempt has no manifest and
  * is invisible; replay resolves the newest manifest strictly below its
  * own id and rewrites deterministically. Append stores (`ex`, `sh`,
  * `src`) list MULTIPLE owner batches per bucket; the per-doc fact store
  * (`doc`) appends versioned rows (last-writer-wins on `ver`), so a
  * batch writes delta + affected rows, never the corpus.
  *
  * At 100 TB: per batch, writes are delta-sized appends plus tiny
  * relations; reads are the delta's buckets only ([[releaseIngestBatch]]
  * returns the path lists it read; ReleaseStreamSpec pins the strict
  * subset). The full-corpus pass survives only where it belongs — in the
  * export readout itself, which emits a per-doc relation by definition.
  */
object ReleaseStream {

  private val N_BUCKETS = 32L
  private val HEADER = "GRAFT_RELEASE_MANIFEST v1"
  private val FORMAT =
    Manifests.Format("release state", Some(HEADER), Set("B"), (_, _) => ())
  private val PER_LANG = 20
  private val CONTAM_T = 100L
  private val CAP: Int = Prep.SOURCE_CAP
  private val THRESHOLD = 800

  private val DOC_SCHEMA = "doc_id BIGINT, source STRING, lang STRING," +
    " n_tokens BIGINT, exact_rm BIGINT, n_shingles BIGINT, nhit BIGINT," +
    " ver BIGINT"
  private val OUT_SCHEMA = "doc_id BIGINT, source STRING, n_tokens BIGINT," +
    " stage STRING, split STRING, n_copies BIGINT"
  private val QUAR_SCHEMA = "doc_id BIGINT, source STRING," +
    " n_tokens BIGINT, ver BIGINT"
  private val EX_SCHEMA = "h STRING, doc_id BIGINT, ver BIGINT"

  /** Partition-column name per store (the manifest keys buckets as
    * `<store>/<bucket>`; paths are `batch=<owner>/<store>/<pcol>=<bucket>`).
    */
  private val PCOL = Map("doc" -> "dbkt", "sh" -> "gbkt", "ex" -> "xbkt",
    "src" -> "sbkt", "quar" -> "qbkt")

  private def bkt(c: Column): Column = pmod(c, lit(N_BUCKETS))

  /** The prior-state paths one micro-batch READ — the strict-subset-read
    * evidence (the cluster-ingest convention).
    */
  private[graft] case class ReadPaths(ex: Seq[String], sh: Seq[String],
                                      doc: Seq[String], src: Seq[String])

  /** The long-running ingest: document batches (`doc_id, source, lang,
    * text`) → incrementally maintained release state under `root`.
    *
    * `compactEvery` > 0 turns the SCALING.md retention rationale into
    * CODE: every K-th batch runs [[compactReleaseState]] automatically,
    * so the per-bucket owner lists (and with them each fold's read
    * fan-out) stay bounded at ~K without a maintenance window ever
    * calling compaction by hand. The policy fires BEFORE the batch's own
    * fold, pivoting only state STRICTLY BELOW the current batch id:
    * compacting after the fold would prune the manifests a replay of the
    * CURRENT batch still resolves (a crash between foreachBatch
    * returning and the checkpoint commit replays batch N, which reads
    * strictly below N), and an UNBOUNDED compact-then-fold has the same
    * hazard one step later — a replayed policy batch's own first-attempt
    * manifest is the newest, so pivoting it would delete the replay
    * anchor. Bounding the pivot at the batch's own id closes both: a
    * replayed batch re-compacts the same frontier its first attempt
    * compacted (readout-preserving, so the re-fold is content-identical)
    * — spec-pinned by replaying the policy batch itself.
    */
  /** `gateChecks` non-empty GATES the ingest (round-16 rung): each
    * micro-batch routes through the scalar expectations FIRST — a
    * failing row is diverted to the bucketed `quar` store before the
    * fold ever hashes it (never entering the exact-hash minima, the
    * cluster index, the eval tournament or the cap ranks — the
    * precedence q150's doc states), and only the clean rows fold. The
    * readout then emits the diverted rows as `stage='quarantined'` with
    * a doc_id-keyed split and zero mixture weight, equal to the batch
    * [[Curation.divertedReleaseExport]] over everything ingested
    * (stream==batch spec-pinned with planted dirty rows + replay).
    *
    * `gateUnique`/`gateRefs` extend the gate to the KEYED rule classes
    * (round-17 rung — the q152 complete-route semantics at the ingest):
    *
    *  - `gateUnique`: the second-and-later COPIES of a duplicated
    *    doc_id divert. Cross-batch, a key is CLAIMED once a copy folds
    *    (the fact store is the claim set — probed by the batch keys'
    *    buckets, the `ex`-store idiom; a diverted copy claims nothing,
    *    so a later clean re-crawl of a dirty doc still folds — the
    *    cleanest-copy-folds rule). Within a batch, copies rank by
    *    (dirty, phash60(text)) and only the best folds. Copies of one
    *    key that are equally clean but textually different resolve by
    *    arrival order across batches (the fold cannot re-rank folded
    *    history) — the stream==batch contract covers copies that are
    *    identical or differ in dirtiness, the honest bound documented
    *    at [[keyedGatedReleaseState]].
    *  - `gateRefs`: a row whose `col` has no match in the reference
    *    stream's accumulated key store diverts (NULL fails). The store
    *    is read at the fact batch's own frontier (below batchId+1), so
    *    a replayed batch re-reads the same reference set; a reference
    *    arriving AFTER its fact does not retro-fold the diverted row
    *    (ingest-time verdicts stand — the fold's general LWW posture,
    *    spec-pinned).
    *
    * Both are decided BEFORE the fold hashes anything, so a diverted
    * copy never perturbs exact minima, clusters, eval or caps. Read a
    * keyed-gated root with [[keyedGatedReleaseState]] (per-copy
    * accounting), not [[releaseState]].
    */
  /** `archiveDir`/`refoldEvery` (round-17 second wave) make the refold a
    * CODED POLICY: with `archiveDir` set, every micro-batch TEEs its
    * input rows to `archiveDir/batch=<id>` (the crawl archive as an
    * ingest-owned, replay-overwritten store — the coverage contract
    * [[refoldQuarResidue]] requires is now maintained by the ingest
    * itself, not promised by a caller); with `refoldEvery` K > 0, every
    * K-th batch runs the final-verdict repair BEFORE its own fold,
    * bounded strictly below its own id — the [[compactReleaseState]]
    * replay rule: a replayed policy batch re-repairs the same frontier
    * its first attempt repaired (a no-op) and re-folds deterministically
    * on top. Between policy firings, fresh flips accumulate as residue
    * (the deep fsck surfaces the count) — K trades repair latency
    * against repair frequency exactly like `compactEvery` trades read
    * fan-out against write amplification. `updateKeys` (round-17 third
    * wave) switches the ingest to RE-CRAWL UPDATE semantics: a batch
    * key already holding fact rows has its earlier version's whole
    * cascade footprint excised BEFORE the fold ([[exciseRearrivals]]),
    * so the latest version REPLACES in-line — mutually exclusive with
    * `gateUnique`, whose claims make later copies DIVERT instead.
    */
  def streamingReleaseIngest(docs: DataFrame, root: String,
                             checkpoint: String, compactEvery: Int = 0,
                             gateChecks: Seq[Expectations.Check] = Nil,
                             gateUnique: Boolean = false,
                             gateRefs: Seq[Expectations.RefStream] = Nil,
                             archiveDir: Option[String] = None,
                             refoldEvery: Int = 0,
                             updateKeys: Boolean = false,
                             archiveEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 0, "compactEvery: 0 disables, else every K batches")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        releaseIngestWithPolicy(batch, batchId, root, compactEvery,
          gateChecks, gateUnique, gateRefs, archiveDir, refoldEvery,
          updateKeys, archiveEvery)
        ()
      }
      .start()
  }

  /** [[releaseIngestBatch]] under the compact-every-K retention policy
    * and the refold-every-K repair policy (factored out so the growth
    * smoke and replay specs drive the POLICIES themselves, not
    * hand-placed maintenance calls).
    */
  private[graft] def releaseIngestWithPolicy(batch: DataFrame, batchId: Long,
                                             root: String,
                                             compactEvery: Int,
                                             gateChecks: Seq[Expectations.Check] = Nil,
                                             gateUnique: Boolean = false,
                                             gateRefs: Seq[Expectations.RefStream] = Nil,
                                             archiveDir: Option[String] = None,
                                             refoldEvery: Int = 0,
                                             updateKeys: Boolean = false,
                                             archiveEvery: Int = 0)
      : ReadPaths = {
    require(refoldEvery == 0 || archiveDir.isDefined,
      "refoldEvery needs archiveDir: the repair reads residue texts from " +
        "the ingest-maintained crawl archive")
    require(archiveEvery == 0 || archiveDir.isDefined,
      "archiveEvery compacts the crawl archive — it needs archiveDir")
    require(!updateKeys || archiveDir.isDefined,
      "updateKeys needs archiveDir: the excision reads a re-arrived " +
        "doc's stale version texts from the ingest-maintained crawl archive")
    require(!(updateKeys && gateUnique),
      "updateKeys (re-crawl updates: latest version REPLACES) and " +
        "gateUnique (first-writer-wins key claims: later copies DIVERT) " +
        "are mutually exclusive key policies for one ingest")
    val spark = batch.sparkSession
    // the archive tee, FIRST (deterministic overwrite keyed by the
    // checkpointed batchId — the store convention; a replayed batch
    // rewrites its own dir byte-for-byte)
    archiveDir.foreach { ad =>
      batch.withColumn("ver", lit(batchId))
        .write.mode("overwrite").parquet(s"$ad/batch=$batchId")
    }
    // archive retention: the tee otherwise accumulates one dir per
    // batch forever (the small-files problem the store compactors exist
    // for, re-created on the archive). Row-preserving consolidation —
    // repairs and excisions keep reading every archived VERSION, the
    // as-of cut moves from directory names to the rows' own `ver`.
    if (archiveEvery > 0 && batchId > 0 && batchId % archiveEvery == 0)
      Curation.compactFlatBatchStore(spark, archiveDir.get,
        upToBatch = batchId)
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compactReleaseState(spark, root, below = batchId)
    if (refoldEvery > 0 && batchId > 0 && batchId % refoldEvery == 0)
      refoldQuarResidue(spark, root,
        readArchive(spark, archiveDir.get, below = batchId),
        below = batchId)
    if (updateKeys)
      exciseRearrivals(spark, root, batch.select("doc_id"), batchId,
        readArchive(spark, archiveDir.get, below = batchId))
    releaseIngestBatch(batch, batchId, root, gateChecks, gateUnique, gateRefs)
  }

  /** The ingest-maintained crawl archive below a batch cutoff —
    * `(doc_id, ver, text, ...)` rows of every batch the stream
    * consumed. Consolidation-transparent: recovery runs first
    * ([[Curation.recoverFlatBatchStore]] — the archive compactor's
    * crash protocol), the directory-name cut is only pruning, and the
    * as-of cut is the rows' own `ver` (a consolidated `batch=0` dir
    * holds many versions, the ones at or above `below` filtered out
    * row-level).
    */
  private[graft] def readArchive(spark: SparkSession, archiveDir: String,
                                 below: Long): DataFrame = {
    Curation.recoverFlatBatchStore(spark, archiveDir)
    val base = new org.apache.hadoop.fs.Path(archiveDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs =
      if (!fs.exists(base)) Seq.empty[String]
      else fs.listStatus(base).toSeq.filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch=") &&
          s.getPath.getName.stripPrefix("batch=").toLong < below)
        .map(_.getPath.toString)
    if (dirs.isEmpty) emptyDf(spark, "doc_id BIGINT, ver BIGINT, text STRING")
    else spark.read.option("basePath", archiveDir).parquet(dirs: _*)
      .filter(col("ver") < below)
  }

  /** One micro-batch of the fold (the foreachBatch body, factored out so
    * replay/equality specs and the q134 artifact build drive it
    * directly). No arrival-order assumption: a later batch carrying a
    * SMALLER doc_id than a stored hash keeper flips that keeper to
    * `exact` — the general rule, spec-pinned with an out-of-order batch.
    */
  private[graft] def releaseIngestBatch(batch: DataFrame, batchId: Long,
                                        root: String,
                                        gateChecks: Seq[Expectations.Check] = Nil,
                                        gateUnique: Boolean = false,
                                        gateRefs: Seq[Expectations.RefStream] = Nil)
      : ReadPaths = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val prior = latestCommit(spark, root, batchId)
      .map(_._2).getOrElse(Map.empty[String, Seq[Long]])
    // the ingest gate: divert failing rows (NULL fails — the strict
    // q145/q146 semantics) to the bucketed quar store BEFORE the fold
    // sees them. Scalar and RefIn verdicts are row-local flags on the
    // batch scan (refs via one join per rule on the reference stream's
    // accumulated distinct keys); the Unique verdict adds one claim
    // probe of the fact store's touched buckets plus a doc_id window
    // over the batch — both delta-bounded.
    val gated = gateChecks.nonEmpty || gateUnique || gateRefs.nonEmpty
    var gatePersisted: Option[DataFrame] = None
    val (rows, qWritten) =
      if (!gated) (batch, Set.empty[Long])
      else {
        val withRef = gateRefs.zipWithIndex.foldLeft(batch) {
          case (acc, (r, i)) =>
            val rk = Expectations.refKeySet(spark, r.refStore, batchId + 1)
              .select(col("k0").as(s"__rk$i")).withColumn(s"__rp$i", lit(1))
            acc.join(rk, acc(r.col) === col(s"__rk$i"), "left")
              .drop(s"__rk$i")
        }
        val ok = (gateChecks.map(_.ok) ++
            gateRefs.indices.map(i => col(s"__rp$i").isNotNull))
          .reduceOption(_ && _).getOrElse(lit(true))
        val flagged0 = withRef.withColumn("__dirty",
          when(coalesce(ok, lit(false)), lit(0L)).otherwise(lit(1L)))
        val flagged =
          if (!gateUnique) flagged0.withColumn("__dup", lit(0L))
          else {
            val bkeys = flagged0.select("doc_id").distinct()
            val touchedD = bucketVals(bkeys.select(bkt(col("doc_id")).as("b")))
            val claimed = readOr(spark,
                storePaths(root, prior, "doc", touchedD), DOC_SCHEMA)
              .select("doc_id")
              .join(bkeys, Seq("doc_id"), "left_semi").distinct()
              .withColumn("__cl", lit(1L))
            val w = Window.partitionBy("doc_id")
              .orderBy(col("__dirty"), Sketches.phash60(col("text")))
            flagged0.join(claimed, Seq("doc_id"), "left")
              .withColumn("__dup",
                when(col("__cl").isNotNull || row_number().over(w) > 1,
                  lit(1L)).otherwise(lit(0L)))
              .drop("__cl")
          }
        val fl = flagged.persist()
        gatePersisted = Some(fl)
        val qOut = fl.filter(col("__dirty") === 1L || col("__dup") === 1L)
          .select(col("doc_id"),
            coalesce(col("source"), lit("")).as("source"),
            Curation.nTokensWs.as("n_tokens"))
          .withColumn("ver", lit(batchId))
          .withColumn("qbkt", bkt(col("doc_id"))).persist()
        // repartition ON the bucket column first: one file per bucket dir
        // per batch — without it every shuffle task writes its slice of
        // every bucket and each leaf dir holds up to #shuffle-partitions
        // tiny files, so every later probe/readout pays a per-file open
        // cost ~32x the data (the keyed-audit/q141 store lesson, guide
        // §6; measured on the doc store: 31 files per leaf). Applied to
        // all five release stores round 18; `lay=1f` in the artifact
        // keys forces old-layout trees to miss.
        qOut.repartition(col("qbkt")).write.mode("overwrite")
          .partitionBy("qbkt").parquet(s"$root/batch=$batchId/quar")
        val w = bucketVals(qOut.select(col("qbkt").as("b")))
        qOut.unpersist()
        (fl.filter(col("__dirty") === 0L && col("__dup") === 0L), w)
      }
    val d = rows.select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        col("lang"), col("text"))
      .withColumn("n_tokens", Curation.nTokensWs)
      .withColumn("h", sha2(col("text"), 256))
      .withColumn("hcap", Sketches.phash60(
        concat(lit("sc42|"), col("doc_id").cast("string"))))
      .withColumn("hsmp", Sketches.phash60(col("doc_id")))
      .persist()
    // the quar store appends like ex/sh/src: this batch's buckets join
    // the prior owner lists
    val priorQ = qWritten.foldLeft(prior) { (m, b) =>
      val k = s"quar/$b"
      m + (k -> (m.getOrElse(k, Seq.empty[Long]) :+ batchId))
    }
    if (d.isEmpty) { // no clean rows: fold state unchanged, commit quar
      commit(spark, root, batchId, priorQ)
      d.unpersist()
      gatePersisted.foreach(_.unpersist())
      return ReadPaths(Nil, Nil, Nil, Nil)
    }
    // labels constituent: the existing cluster-label stream, reused whole
    // (its own bucketed state, docmap mirror, manifests, replay rules)
    Curation.clusterIngestBatch(d.select("doc_id", "text"), batchId,
      s"$root/cidx", s"$root/cpairs", s"$root/clabels", THRESHOLD)
    val bsh = Dedup.hashedShingles(d.select("doc_id", "text")).persist()

    // ---- exact stage: batch minima per text hash vs stored running minima
    val bmin = d.groupBy("h").agg(min(col("doc_id")).as("bdoc")).persist()
    val touchedX = bucketVals(bmin.select(bkt(xxhash64(col("h"))).as("b")))
    val exPaths = storePaths(root, prior, "ex", touchedX)
    val pmin = readOr(spark, exPaths, EX_SCHEMA)
      .join(bmin.select("h"), Seq("h"), "left_semi")
      .groupBy("h").agg(min(col("doc_id")).as("pdoc"))
    val exCombined = bmin.join(pmin, Seq("h"), "left")
      .withColumn("newmin",
        least(col("bdoc"), coalesce(col("pdoc"), col("bdoc"))))
      .persist()
    // out-of-order arrival: an old keeper losing to a smaller new id
    val flips = exCombined
      .filter(col("pdoc").isNotNull && col("bdoc") < col("pdoc"))
      .select(col("pdoc").as("doc_id")).distinct().persist()

    // ---- eval sample: per-lang smallest-(hash, id) tournament. Old
    // non-sample docs already lost to the prior sample, so only the prior
    // sample ∪ batch compete — additions are always batch docs (their
    // text is in hand), evictions always prior sample docs (their
    // shingles are in the tiny evalsh relation).
    val tinyOwner = prior.get("tiny").flatMap(_.headOption)
    def tinyRead(rel: String, schema: String): DataFrame =
      tinyOwner.map(o => spark.read.parquet(s"$root/batch=$o/tiny/$rel"))
        .getOrElse(emptyDf(spark, schema))
    val priorEvals =
      tinyRead("evals", "lang STRING, doc_id BIGINT, hsmp BIGINT").persist()
    val wSmp = Window.partitionBy("lang").orderBy(col("hsmp"), col("doc_id"))
    val newEvals = priorEvals.unionByName(d.select("lang", "doc_id", "hsmp"))
      .withColumn("rnk", row_number().over(wSmp))
      .filter(col("rnk") <= PER_LANG)
      .select("lang", "doc_id", "hsmp").persist()
    val evalAdd = newEvals
      .join(priorEvals.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id")
    val evalDrop = priorEvals
      .join(newEvals.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id")
    val priorEvalsh =
      tinyRead("evalsh", "doc_id BIGINT, shingle BIGINT").persist()
    val newEvalsh = priorEvalsh.join(evalDrop, Seq("doc_id"), "left_anti")
      .unionByName(bsh.join(evalAdd, Seq("doc_id"), "left_semi")
        .select("doc_id", "shingle"))
      .persist()
    val oldSet = priorEvalsh.select("shingle").distinct()
    val newSet = newEvalsh.select("shingle").distinct().persist()
    // |sh(d) ∩ new| = |sh(d) ∩ old| + |∩ entering| − |∩ leaving|: exact
    // set arithmetic, so incremental nhit can never drift from batch
    val dSh = newSet.except(oldSet).withColumn("dn", lit(1L))
      .unionByName(oldSet.except(newSet).withColumn("dn", lit(-1L)))
      .persist()

    // ---- old-doc nhit adjustments: probe the shingle index BEFORE this
    // batch's shingles are appended, so exactly the prior docs are hit
    val touchedG = bucketVals(dSh.select(bkt(col("shingle")).as("b")))
    val shPaths = storePaths(root, prior, "sh", touchedG)
    val adj = readOr(spark, shPaths, "shingle BIGINT, doc_id BIGINT")
      .join(broadcast(dSh), Seq("shingle"))
      .groupBy("doc_id").agg(sum("dn").as("dn"))
      .filter(col("dn") =!= 0)
      .persist()
    val affected = adj.select("doc_id").unionByName(flips)
      .distinct().persist()
    val touchedDAff = bucketVals(affected.select(bkt(col("doc_id")).as("b")))
    val docPaths = storePaths(root, prior, "doc", touchedDAff)
    val updatedOld = latestRows(readOr(spark, docPaths, DOC_SCHEMA))
      .join(broadcast(affected), Seq("doc_id"), "left_semi")
      .join(broadcast(adj), Seq("doc_id"), "left")
      .join(broadcast(flips.withColumn("fl", lit(1L))), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        greatest(col("exact_rm"), coalesce(col("fl"), lit(0L))).as("exact_rm"),
        col("n_shingles"),
        (col("nhit") + coalesce(col("dn"), lit(0L))).as("nhit"),
        lit(batchId).as("ver"))

    // ---- new-doc facts, scored against the POST-update eval set
    val nsh = bsh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val nhitNew = bsh.join(broadcast(newSet), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("nhit"))
    val newRows = d.join(exCombined.select("h", "newmin"), Seq("h"))
      .withColumn("exact_rm", (col("doc_id") =!= col("newmin")).cast("long"))
      .select("doc_id", "source", "lang", "n_tokens", "exact_rm")
      .join(nsh, Seq("doc_id"), "left")
      .join(nhitNew, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shingles", "nhit"))
      .withColumn("ver", lit(batchId))
    val docOut = updatedOld.unionByName(newRows)
      .withColumn("dbkt", bkt(col("doc_id"))).persist()
    docOut.repartition(col("dbkt")).write.mode("overwrite")
      .partitionBy("dbkt").parquet(s"$root/batch=$batchId/doc")
    val docWritten = bucketVals(docOut.select(col("dbkt").as("b")))

    // ---- append-only stores: the batch's shingle postings, hash minima,
    // and source-priority mirror rows
    val shOut = bsh.withColumn("gbkt", bkt(col("shingle"))).persist()
    shOut.repartition(col("gbkt")).write.mode("overwrite")
      .partitionBy("gbkt").parquet(s"$root/batch=$batchId/sh")
    val shWritten = bucketVals(shOut.select(col("gbkt").as("b")))
    // CLAIM LEDGER (round-17): one (h, doc_id, ver) row per folded doc
    // VERSION, not per-batch minima. The minima compression was lossy in
    // exactly the way [[refoldQuarResidue]] cannot afford: a same-batch
    // copy shadowed by its batch's min went unrecorded, so a repair
    // excising a residue keeper's claim could not find the next keeper.
    // pmin above still reads min-over-claims (identical value); the
    // ledger costs ~40 bytes per folded doc-version — the price of
    // final-verdict repairability.
    val exOut = d.select(col("h"), col("doc_id"))
      .withColumn("ver", lit(batchId))
      .withColumn("xbkt", bkt(xxhash64(col("h")))).persist()
    exOut.repartition(col("xbkt")).write.mode("overwrite")
      .partitionBy("xbkt").parquet(s"$root/batch=$batchId/ex")
    val exWritten = bucketVals(exOut.select(col("xbkt").as("b")))
    val srcOut = d.select("source", "doc_id", "hcap")
      .withColumn("sbkt", bkt(Sketches.phash60(col("source")))).persist()
    srcOut.repartition(col("sbkt")).write.mode("overwrite")
      .partitionBy("sbkt").parquet(s"$root/batch=$batchId/src")
    val srcWritten = bucketVals(srcOut.select(col("sbkt").as("b")))

    // ---- per-source cap: only sources present in the batch can re-rank;
    // the re-rank reads only their src-mirror buckets
    val priorCapn = tinyRead("capn", "source STRING, n BIGINT")
    val capn = priorCapn
      .unionByName(d.groupBy("source").agg(count(lit(1)).as("n")))
      .groupBy("source").agg(sum("n").as("n")).persist()
    val deltaSources = d.select("source").distinct().persist()
    val overDelta = capn.join(deltaSources, Seq("source"), "left_semi")
      .filter(col("n") > CAP).select("source").persist()
    val touchedS = bucketVals(
      overDelta.select(bkt(Sketches.phash60(col("source"))).as("b")))
    val srcPaths = storePaths(root, prior, "src", touchedS)
    val wCap = Window.partitionBy("source").orderBy(col("hcap"), col("doc_id"))
    val newKeep = readOr(spark, srcPaths, "source STRING, doc_id BIGINT," +
        " hcap BIGINT")
      .unionByName(d.select("source", "doc_id", "hcap"))
      .join(broadcast(overDelta), Seq("source"))
      .withColumn("rnk", row_number().over(wCap))
      .filter(col("rnk") <= CAP).select("source", "doc_id")
    val capkeep = tinyRead("capkeep", "source STRING, doc_id BIGINT")
      .join(broadcast(deltaSources), Seq("source"), "left_anti")
      .unionByName(newKeep)

    // ---- tiny store (single owner, rewritten whole — sample-, source-
    // and keeper-sized relations) + the one atomic manifest, LAST
    newEvals.write.mode("overwrite")
      .parquet(s"$root/batch=$batchId/tiny/evals")
    newEvalsh.write.mode("overwrite")
      .parquet(s"$root/batch=$batchId/tiny/evalsh")
    capn.write.mode("overwrite").parquet(s"$root/batch=$batchId/tiny/capn")
    capkeep.write.mode("overwrite")
      .parquet(s"$root/batch=$batchId/tiny/capkeep")
    val man = Seq("doc" -> docWritten, "sh" -> shWritten, "ex" -> exWritten,
      "src" -> srcWritten).foldLeft(priorQ) { case (m, (store, written)) =>
        written.foldLeft(m) { (m2, b) =>
          val k = s"$store/$b"
          m2 + (k -> (m2.getOrElse(k, Seq.empty[Long]) :+ batchId))
        }
      } + ("tiny" -> Seq(batchId))
    commit(spark, root, batchId, man)
    Seq(d, bsh, bmin, exCombined, flips, priorEvals, newEvals, priorEvalsh,
      newEvalsh, newSet, dSh, adj, affected, docOut, shOut, exOut, srcOut,
      capn, deltaSources, overDelta).foreach(_.unpersist())
    gatePersisted.foreach(_.unpersist())
    ReadPaths(exPaths, shPaths, docPaths, srcPaths)
  }

  /** The release relation off the newest committed state — equals
    * [[Curation.releaseExport]] (q132) over every document ingested so
    * far (ReleaseStreamSpec pins it, plus replay idempotency and the
    * strict-subset reads). One scan of the fact store + broadcast-sized
    * side relations; the mixture re-plan over the kept set runs through
    * the literal batch kernel.
    */
  def releaseState(spark: SparkSession, root: String): DataFrame =
    releaseStateAt(spark, root, Long.MaxValue)

  /** The release relation as of batch `batchId` INCLUSIVE (the newest
    * committed manifest <= batchId — `Curation.labelStateAt`'s
    * contract): the manifested state is time-travelable for free, which
    * is what [[releaseChurn]] reads to answer "what did this crawl
    * batch change in the release".
    */
  def releaseStateAt(spark: SparkSession, root: String,
                     batchId: Long): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val manOpt = latestCommit(spark, root,
      if (batchId == Long.MaxValue) batchId else batchId + 1)
    if (manOpt.isEmpty) {
      // Never-committed root => legitimately empty state. But committed
      // manifests ABOVE the cutoff mean the requested history was
      // compacted/pruned away — silently returning empty would make a
      // churn against that as-of report every document as 'absent' (a
      // plausible-looking wrong answer), so fail fast instead.
      require(latestCommit(spark, root, Long.MaxValue).isEmpty,
        s"release state $root has no committed manifest at or below batch " +
          s"$batchId, but later manifests exist — that history was " +
          "compacted or pruned away; read churn windows before compacting, " +
          "or defer compaction by the retention policy")
      return emptyDf(spark, OUT_SCHEMA)
    }
    val man = manOpt.get._2
    // diverted rows of a GATED ingest: the quar store's latest row per
    // doc becomes a `quarantined` export row — doc_id-keyed split (the
    // row never clustered: diverted before dedup hashed it), zero
    // mixture weight. A doc can appear in BOTH stores (re-arrival with a
    // flipped gate verdict — dirty then corrected-clean, or clean then
    // corrupted-dirty in a re-crawl): the LATEST verdict wins, same-batch
    // tie to quarantine (the gate's precedence). Cascade state follows
    // the ingest-time decisions (the fold's general LWW posture); only
    // the row-level verdict reconciles here — ungated roots have no quar
    // store and skip all of this.
    val quarPaths = manPaths(root, man, "quar")
    val gated = quarPaths.nonEmpty
    val quarAll = latestRows(readOr(spark, quarPaths, QUAR_SCHEMA))
    def quarOf(winners: Option[DataFrame]): DataFrame =
      winners.foldLeft(quarAll)((q, w) => q.join(w, Seq("doc_id"), "left_semi"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          lit("quarantined").as("stage"),
          Dedup.hashSplitOf(col("doc_id")).as("split"),
          lit(0L).as("n_copies"))
    // Only empty/fully-diverted batches committed so far (no tiny store,
    // no facts): the readout is the quarantined relation alone — every
    // quar row wins (there is no fact version to lose to) — not a
    // man("tiny") lookup throw.
    if (!man.contains("tiny")) return quarOf(None).orderBy("doc_id")
    // ONE evaluation of the staged relation feeds every consumer below
    // (the mixture-plan collect, the assignment input, the output join,
    // and the gated quar-winner reconciliation — which reads the fact
    // versions the staged relation already carries instead of paying a
    // second fact-store scan + LWW window). See [[foldedExportFrom]] on
    // why the shared relation is PERSISTED rather than re-derived.
    val staged = stagedRelation(spark, root, man, batchId).persist()
    val quarWinners =
      if (!gated) None // never joined below
      else {
        val fv = staged.select(col("doc_id"), col("ver").as("fver"))
        Some(quarAll.select(col("doc_id"), col("ver"))
          .join(fv, Seq("doc_id"), "left")
          .filter(col("fver").isNull || col("ver") >= col("fver"))
          .select("doc_id"))
      }
    val base = foldedExportFrom(spark, staged)
    val out = quarWinners.fold(base)(w =>
      base.join(w, Seq("doc_id"), "left_anti") // quar wins
        .unionByName(quarOf(quarWinners)))
    out.orderBy("doc_id")
  }

  /** The staged-plus-mixture export of the FOLDED documents off ONE
    * persisted evaluation of the staged relation — the shared readout
    * core of [[releaseStateAt]] and [[keyedGatedReleaseState]].
    *
    * The mixture plan is pinned BY VALUE: its #langs-row relation is
    * computed in its OWN fixed-shape action (a bounded-driver-state
    * collect, like the k×dim centroids) and re-enters the readout as a
    * literal. Leaving it lazy made the readout's n_copies a function of
    * whatever plan a CONSUMER built on top: under the q135/q136 churn
    * join + aggregate, Catalyst's rewrite of the doubled readout tree
    * permuted per-doc n_copies across docs (budget and cell counts
    * conserved, per-doc values wrong — caught by the q136 cross-pin
    * and pinned by ReleaseStreamSpec's stats==rollup assertion). A
    * value literal is immune to consumer plan shape by construction;
    * the assignment arithmetic itself stays in the one shared kernel
    * ([[TextAnalysis.mixtureAssign]]).
    *
    * `staged` arrives PERSISTED (round 18): the plan collect
    * materializes the cache, so the assignment, the output join and the
    * gated quar-winner reconciliation all read the SAME materialized
    * value world — a strictly stronger form of the round-13 fresh-tree
    * mitigation (consumers can no longer diverge because there is only
    * one evaluation to read), and it retires 3 of the 4 per-call
    * store-lineage evaluations the fresh trees cost (guide §1.2: fix
    * the distributed algorithm first — the readout paid the fact-store
    * scan + LWW window + label-state read + broadcast joins four times
    * for one result).
    */
  private def foldedExportFrom(spark: SparkSession,
                               staged: DataFrame): DataFrame = {
    val keptStats = staged.filter(col("stage") === "kept")
      .select("doc_id", "lang", "n_tokens")
    val planLit = {
      val rows = TextAnalysis.mixturePlanFromStats(keptStats,
          TextAnalysis.MIX_BUDGET_TOKENS)
        .select("lang", "n_tokens", "target_tokens")
        .collect() // #langs rows: bounded driver state
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      import spark.implicits._
      rows.toDF("lang", "n_tokens", "target_tokens")
    }
    val mix = TextAnalysis.mixtureAssign(keptStats, planLit)
      .select(col("doc_id"), col("n_copies"))
    staged.join(mix, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("stage"),
        col("split"), coalesce(col("n_copies"), lit(0L)).as("n_copies"))
  }

  /** The release relation off a KEYED-GATED root (a
    * [[streamingReleaseIngest]] run with `gateUnique`/`gateRefs`) — the
    * stream==batch twin of [[Curation.keyedDivertedReleaseExport]]:
    * PER-COPY accounting, the q152 complete-route semantics. Every
    * physical row ever ingested is exactly one output row: the folded
    * copy of each key staged by the cascade, every diverted copy (a
    * scalar/ref-failing row, or a second-and-later copy of a duplicated
    * key) a `quarantined` row with a doc_id-keyed split and zero
    * mixture weight. Unlike [[releaseStateAt]]'s gated branch there is
    * NO latest-wins reconciliation: copies are not re-arrivals of one
    * logical row but individually-accounted physical rows (the relation
    * an ingest pipeline owes its audit — rows in == rows out).
    *
    * Honest bound (shared with the gate): same-key copies that are
    * equally clean but textually different resolve by arrival order,
    * so stream==batch holds for copies that are identical or differ in
    * dirtiness — the re-crawl cases that occur; the spec pins both.
    */
  def keyedGatedReleaseState(spark: SparkSession, root: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val manOpt = latestCommit(spark, root, Long.MaxValue)
    if (manOpt.isEmpty) return emptyDf(spark, OUT_SCHEMA)
    val man = manOpt.get._2
    val quar = readOr(spark, manPaths(root, man, "quar"), QUAR_SCHEMA)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        lit("quarantined").as("stage"),
        Dedup.hashSplitOf(col("doc_id")).as("split"),
        lit(0L).as("n_copies"))
    if (!man.contains("tiny")) return quar.orderBy("doc_id", "stage")
    foldedExportFrom(spark,
        stagedRelation(spark, root, man, Long.MaxValue).persist())
      .unionByName(quar)
      .orderBy("doc_id", "stage")
  }

  /** The per-doc staged relation (facts + stage + split) off a resolved
    * manifest. Carries the fact `ver` through (the gated readout's
    * quar-winner reconciliation reads it off the shared persisted
    * evaluation instead of re-scanning the fact store). Evaluated ONCE
    * per readout and persisted; every consumer reads the materialized
    * values (see [[foldedExportFrom]]).
    */
  private def stagedRelation(spark: SparkSession, root: String,
                             man: Map[String, Seq[Long]],
                             batchId: Long): DataFrame = {
    val docs = latestRows(readOr(spark, manPaths(root, man, "doc"),
      DOC_SCHEMA))
    val tinyO = man("tiny").head
    val evals = spark.read.parquet(s"$root/batch=$tinyO/tiny/evals")
      .select(col("doc_id"), lit(1L).as("is_eval"))
    val capn = spark.read.parquet(s"$root/batch=$tinyO/tiny/capn")
    val capkeep = spark.read.parquet(s"$root/batch=$tinyO/tiny/capkeep")
      .select(col("doc_id"), lit(1L).as("cap_keep"))
    val labels = Curation.labelStateAt(spark, s"$root/clabels", batchId)
      .select("doc_id", "cluster_id")
    // min SURVIVING member per cluster (the q125 rule), then the per-doc
    // removal flag — both pair-graph-sized, broadcast
    val cmin = docs.filter(col("exact_rm") === 0).select("doc_id")
      .join(broadcast(labels), Seq("doc_id"))
      .groupBy("cluster_id").agg(min(col("doc_id")).as("cmin"))
    val nd = labels.join(broadcast(cmin), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") =!= col("cmin")).cast("long").as("nd_rm"))
    docs
      .join(broadcast(nd), Seq("doc_id"), "left")
      .join(broadcast(evals), Seq("doc_id"), "left")
      .join(broadcast(capn), Seq("source"), "left")
      .join(broadcast(capkeep), Seq("doc_id"), "left")
      .withColumn("contam_x1e3", when(col("n_shingles") === 0, lit(0L))
        .otherwise(floor(col("nhit") * lit(1000.0) / col("n_shingles")
          + lit(0.5)).cast("long")))
      .withColumn("stage",
        when(col("exact_rm") === 1, lit("exact"))
          .when(coalesce(col("nd_rm"), lit(0L)) === 1, lit("neardup"))
          .when(col("is_eval") === 1, lit("eval"))
          .when(col("contam_x1e3") >= CONTAM_T, lit("contaminated"))
          .when(col("n") > CAP && col("cap_keep").isNull, lit("capped"))
          .otherwise(lit("kept")))
      .withColumn("split",
        Dedup.hashSplitOf(coalesce(col("cluster_id"), col("doc_id"))))
  }

  /** Build-once release-state artifact for the q134 catalog entry: the
    * corpus folded in as three doc_id-residue batches (interleaved ids —
    * every batch is an out-of-order arrival, so the general flip rules
    * are exercised at every scale), content-keyed on the corpus text.
    * What q134 then measures per call is the production export job: the
    * READOUT off incrementally-maintained state — while its oracle
    * (q132's SQL, verbatim) proves the fold converged to the batch
    * semantics at every scale.
    */
  private[graft] def ensureReleaseState(spark: SparkSession,
                                        sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relstream") {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val key = DedupArtifacts.corpusKey(docs.select("doc_id", "text"),
        "relstream") +
        s"|cap=$CAP|pl=$PER_LANG|ct=$CONTAM_T|t=$THRESHOLD|nb=3|v=2|lay=1f"
      DedupArtifacts.ensureTree(key) { dir =>
        (0L until 3L).foreach { b =>
          releaseIngestBatch(docs.filter(pmod(col("doc_id"), lit(3L)) === b),
            b, dir)
        }
      }
    }

  /** Build-once GATED release-state artifact for the q155 catalog entry:
    * the same three doc_id-residue batches as [[ensureReleaseState]],
    * folded through the INGEST GATE (`gateChecks` = the q139 document
    * rules) — failing rows divert to the quar store per micro-batch and
    * only the clean rows fold. The readout's oracle is q154's SQL: the
    * stream==batch contract for the diverted semantics.
    */
  private[graft] def ensureGatedReleaseState(spark: SparkSession,
                                             sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relstreamgated") {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val key = DedupArtifacts.corpusKey(docs.select("doc_id", "text"),
        "relstreamgated") +
        s"|cap=$CAP|pl=$PER_LANG|ct=$CONTAM_T|t=$THRESHOLD|nb=3" +
        "|gate=docv1|v=2|lay=1f"
      DedupArtifacts.ensureTree(key) { dir =>
        (0L until 3L).foreach { b =>
          releaseIngestBatch(docs.filter(pmod(col("doc_id"), lit(3L)) === b),
            b, dir, Expectations.corpusDocChecks)
        }
      }
    }

  /** Build-once REFOLDED release-state artifact for the q165 catalog
    * entry: the q155 gated fold (three doc_id-residue batches through
    * the q139 document rules), then a CORRUPTING re-crawl wave — batch
    * 3 re-arrives every `doc_id % 13 == 4` doc with NULL text, flipping
    * the previously-clean ones dirty — then the FINAL-VERDICT REFOLD
    * ([[refoldQuarResidue]]) against the crawl archive (all four batch
    * inputs with their batch ids). What q165 measures per call is the
    * production readout off repaired state; its oracle — q154's
    * statement over the FINAL corpus — proves the repair converged to
    * the batch semantics at every scale.
    */
  private[graft] def ensureRefoldedReleaseState(spark: SparkSession,
                                                sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relstreamrefold") {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val key = DedupArtifacts.corpusKey(docs.select("doc_id", "text"),
        "relstreamrefold") +
        s"|cap=$CAP|pl=$PER_LANG|ct=$CONTAM_T|t=$THRESHOLD|nb=3" +
        "|gate=docv1|recrawl=nullmod13|v=1|lay=1f"
      DedupArtifacts.ensureTree(key) { dir =>
        (0L until 3L).foreach { b =>
          releaseIngestBatch(docs.filter(pmod(col("doc_id"), lit(3L)) === b),
            b, dir, Expectations.corpusDocChecks)
        }
        val recrawl = docs.withColumn("text", lit(null).cast("string"))
          .filter(pmod(col("doc_id"), lit(13L)) === 4)
        releaseIngestBatch(recrawl, 3L, dir, Expectations.corpusDocChecks)
        val archive = docs
          .withColumn("ver", pmod(col("doc_id"), lit(3L)))
          .select("doc_id", "ver", "text")
          .unionByName(recrawl.withColumn("ver", lit(3L))
            .select("doc_id", "ver", "text"))
        refoldQuarResidue(spark, dir, archive)
        ()
      }
    }

  /** Build-once POLICY-REFOLDED release-state artifact for the q166
    * catalog entry: the q165 scenario driven END TO END by the coded
    * policies — the gated ingest with `archiveDir` (the stream tees its
    * own crawl archive) and `refoldEvery = 2`, so the batch-3
    * corrupting re-crawl's residue is repaired by the POLICY firing
    * before batch 4, and batch 4 (the `doc_id % 11 == 5` late re-keyed
    * wave) folds on top of repaired state. No maintenance call appears
    * anywhere — the ingest owns its archive and its repair cadence.
    */
  private[graft] def ensurePolicyRefoldedReleaseState(spark: SparkSession,
                                                      sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relstreamrefoldpol") {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val key = DedupArtifacts.corpusKey(docs.select("doc_id", "text"),
        "relstreamrefoldpol") +
        s"|cap=$CAP|pl=$PER_LANG|ct=$CONTAM_T|t=$THRESHOLD|nb=5" +
        "|gate=docv1|recrawl=nullmod13+late11|refold=2|v=1|lay=1f"
      DedupArtifacts.ensureTree(key) { dir =>
        val arch = s"$dir/archive"
        def step(b: Long, rows: DataFrame): Unit = {
          releaseIngestWithPolicy(rows, b, dir, compactEvery = 0,
            gateChecks = Expectations.corpusDocChecks,
            archiveDir = Some(arch), refoldEvery = 2)
          ()
        }
        (0L until 3L).foreach { b =>
          step(b, docs.filter(pmod(col("doc_id"), lit(3L)) === b))
        }
        step(3L, docs.withColumn("text", lit(null).cast("string"))
          .filter(pmod(col("doc_id"), lit(13L)) === 4))
        step(4L, docs.filter(pmod(col("doc_id"), lit(11L)) === 5)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      }
    }

  /** Build-once UPDATED release-state artifact for the q167 catalog
    * entry: the corpus in three doc_id-residue batches through the
    * gated ingest with `updateKeys` (re-crawl update semantics:
    * [[exciseRearrivals]]), then a fourth batch RE-CRAWLING every
    * `doc_id % 9 == 2` doc with CHANGED text (`text || ' rev2'`,
    * `n_chars` grown to match — both gate rules keep holding for docs
    * that were clean, while docs already over the 64-token rule stay
    * dirty with their NEW token count). The readout must equal the
    * batch cascade over the LATEST version of every doc — stale claims
    * retired, postings deduplicated, eval seats re-shingled, caps
    * re-counted — with no repair cadence: the excision runs in-line at
    * the re-arrival batch.
    */
  private[graft] def ensureUpdatedReleaseState(spark: SparkSession,
                                               sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relstreamupd") {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val key = DedupArtifacts.corpusKey(docs.select("doc_id", "text"),
        "relstreamupd") +
        s"|cap=$CAP|pl=$PER_LANG|ct=$CONTAM_T|t=$THRESHOLD|nb=4" +
        "|gate=docv1|recrawl=rev2mod9|upd=1|v=1|lay=1f"
      DedupArtifacts.ensureTree(key) { dir =>
        val arch = s"$dir/archive"
        def step(b: Long, rows: DataFrame): Unit = {
          releaseIngestWithPolicy(rows, b, dir, compactEvery = 0,
            gateChecks = Expectations.corpusDocChecks,
            archiveDir = Some(arch), updateKeys = true)
          ()
        }
        (0L until 3L).foreach { b =>
          step(b, docs.filter(pmod(col("doc_id"), lit(3L)) === b))
        }
        step(3L, docs.filter(pmod(col("doc_id"), lit(9L)) === 2)
          .withColumn("text", concat(col("text"), lit(" rev2")))
          .withColumn("n_chars", col("n_chars") + lit(5L)))
      }
    }

  /** Build-once SELF-MAINTAINING release-state artifact for the q168
    * catalog entry: every maintenance policy the ingest owns, composed
    * on one root — the archive tee, `compactEvery = 2` (retention),
    * `refoldEvery = 2` (final-verdict repair cadence — a LIVE NO-OP
    * here, because `updateKeys` retires re-arrival state in-line before
    * residue can accumulate; composing them proves harmlessness) and
    * `updateKeys` (re-crawl update semantics). The corpus folds in
    * three thirds, then a CORRUPTING re-crawl (batch 3: `doc_id % 13 ==
    * 4` re-arrives with NULL text — the dirty-update path: prior state
    * excised in-line, the new version diverts), then a CLEAN update
    * wave (batch 4: `doc_id % 9 == 2` re-arrives with `text || '
    * rev2'`) whose excision reads the ledger AFTER the batch-4
    * compaction consolidated it — the policy-composition coverage the
    * separate artifacts cannot exercise. Docs in both waves end at
    * their batch-4 version (clean, updated). Oracle = q154's statement
    * over the final corpus.
    */
  private[graft] def ensureSelfMaintainingReleaseState(spark: SparkSession,
                                                       sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relstreamself") {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val key = DedupArtifacts.corpusKey(docs.select("doc_id", "text"),
        "relstreamself") +
        s"|cap=$CAP|pl=$PER_LANG|ct=$CONTAM_T|t=$THRESHOLD|nb=5" +
        "|gate=docv1|null13|rev2mod9|upd=1|ce=2|re=2|v=1|lay=1f"
      DedupArtifacts.ensureTree(key) { dir =>
        val arch = s"$dir/archive"
        def step(b: Long, rows: DataFrame): Unit = {
          releaseIngestWithPolicy(rows, b, dir, compactEvery = 2,
            gateChecks = Expectations.corpusDocChecks,
            archiveDir = Some(arch), refoldEvery = 2, updateKeys = true)
          ()
        }
        (0L until 3L).foreach { b =>
          step(b, docs.filter(pmod(col("doc_id"), lit(3L)) === b))
        }
        step(3L, docs.withColumn("text", lit(null).cast("string"))
          .filter(pmod(col("doc_id"), lit(13L)) === 4))
        step(4L, docs.filter(pmod(col("doc_id"), lit(9L)) === 2)
          .withColumn("text", concat(col("text"), lit(" rev2")))
          .withColumn("n_chars", col("n_chars") + lit(5L)))
      }
    }

  /** Build-once ARCHIVED-RETENTION release-state artifact for the q171
    * catalog entry: the q168 self-maintaining scenario with the LAST
    * unbounded-growth store closed — `archiveEvery = 2` consolidates
    * the crawl archive's per-batch dirs through the index compactor's
    * marker protocol, and the batch-4 repairs (refold cadence + the
    * update excision) read their stale-version texts off the
    * CONSOLIDATED archive with the as-of cut on the rows' own `ver`.
    * Oracle = q168's statement VERBATIM: retention must not move a
    * single output row.
    */
  private[graft] def ensureArchivedReleaseState(spark: SparkSession,
                                                sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relstreamselfarc") {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val key = DedupArtifacts.corpusKey(docs.select("doc_id", "text"),
        "relstreamselfarc") +
        s"|cap=$CAP|pl=$PER_LANG|ct=$CONTAM_T|t=$THRESHOLD|nb=5" +
        "|gate=docv1|null13|rev2mod9|upd=1|ce=2|re=2|ae=2|v=1|lay=1f"
      DedupArtifacts.ensureTree(key) { dir =>
        val arch = s"$dir/archive"
        def step(b: Long, rows: DataFrame): Unit = {
          releaseIngestWithPolicy(rows, b, dir, compactEvery = 2,
            gateChecks = Expectations.corpusDocChecks,
            archiveDir = Some(arch), refoldEvery = 2, updateKeys = true,
            archiveEvery = 2)
          ()
        }
        (0L until 3L).foreach { b =>
          step(b, docs.filter(pmod(col("doc_id"), lit(3L)) === b))
        }
        step(3L, docs.withColumn("text", lit(null).cast("string"))
          .filter(pmod(col("doc_id"), lit(13L)) === 4))
        step(4L, docs.filter(pmod(col("doc_id"), lit(9L)) === 2)
          .withColumn("text", concat(col("text"), lit(" rev2")))
          .withColumn("n_chars", col("n_chars") + lit(5L)))
      }
    }

  /** Build-once KEYED-GATED release-state artifact for the q160 catalog
    * entry: the RE-CRAWLED corpus ([[Curation.recrawledCorpus]] — the
    * base docs in three doc_id-residue batches, then a fourth batch
    * carrying the re-crawl copies and the embedding-less late docs)
    * folded through the COMPLETE q152-semantics gate: the q139 scalar
    * rules, `unique:doc_id` (the re-crawl copies divert — cross-batch
    * duplicates are the catalog case itself), and
    * `ref:doc_id->embeddings.vec_id` resolved against a keyed-audit
    * reference ingest of the embeddings stream folded ALONGSIDE
    * (reference batch b lands before fact batch b — the paired-ingest
    * convention). The readout's oracle is
    * [[Curation.keyedDivertedReleaseExport]]'s SQL: stream==batch for
    * the per-copy diverted semantics.
    */
  private[graft] def ensureKeyedGatedReleaseState(spark: SparkSession,
                                                  sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relstreamkeyed") {
      val corpus = Curation.recrawledCorpusTagged(spark, sfDir)
      val embs = graft.sources.Tables.embeddings(spark, sfDir)
      val key = DedupArtifacts.corpusKey(
        corpus.select("doc_id", "text"), "relstreamkeyed") +
        s"|cap=$CAP|pl=$PER_LANG|ct=$CONTAM_T|t=$THRESHOLD|nb=4" +
        "|gate=docv1+uniq+refemb|v=3|lay=1f"
      DedupArtifacts.ensureTree(key) { dir =>
        val refRoot = s"$dir/refembs"
        val refs = Seq(Expectations.RefStream(
          "ref:doc_id->embeddings.vec_id", "doc_id",
          Expectations.keyStoreDir(refRoot, Seq("vec_id"))))
        (0L until 3L).foreach { b =>
          Expectations.keyedAuditIngestBatch(
            embs.filter(pmod(col("vec_id"), lit(3L)) === b), b, refRoot,
            Nil, Seq(Expectations.Unique("unique:vec_id", Seq("vec_id"))),
            Nil)
          releaseIngestBatch(
            corpus.filter(col("rc") === 0L &&
              pmod(col("doc_id"), lit(3L)) === b).drop("rc"),
            b, dir, Expectations.corpusDocChecks, gateUnique = true,
            gateRefs = refs)
        }
        releaseIngestBatch(corpus.filter(col("rc") === 1L).drop("rc"),
          3L, dir, Expectations.corpusDocChecks, gateUnique = true,
          gateRefs = refs)
        // the coded maintenance posture: the stream quiesced at its
        // committed frontier, the retention window ran — the catalog
        // then measures the POST-COMPACTION readout (one generation per
        // store; q134/q155 keep the uncompacted merge-on-read posture,
        // so both maintenance states stay measured). Per-copy quar rows
        // survive compaction by contract (spec-pinned).
        compactReleaseState(spark, dir)
      }
    }

  /** Build-once MATERIALIZED current export off the state artifact — the
    * relation a release pipeline publishes after each batch (q134's
    * output, which production has on disk by the time it asks for
    * churn). q135's current side reads this; the key derives from the
    * state tree's own content-keyed dir, so a corpus or config change
    * can only MISS.
    */
  private[graft] def ensureReleaseExport(spark: SparkSession,
                                         sfDir: String): String =
    ensureReleaseExportAt(spark, sfDir, Long.MaxValue)

  /** Build-once MATERIALIZED current export off the GATED state artifact
    * (q155's root) — the deliverable the gated pipeline publishes after
    * its last batch. q169/q170's pre-update churn side reads this (round
    * 18: the q135/q136 published-export routing applied to the update
    * churn — both sides of a churn report exist on disk in production by
    * the time the report runs; the gated root's LIVE readout machinery
    * stays measured by q155). artifact == live is spec-pinned
    * (ReleaseStreamSpec).
    */
  private[graft] def ensureGatedReleaseExport(spark: SparkSession,
                                              sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relexportgated") {
      val root = ensureGatedReleaseState(spark, sfDir)
      DedupArtifacts.ensureDerived(spark,
        s"relexport|$root|b=max|v=1")(releaseState(spark, root))
    }

  /** Build-once MATERIALIZED current export off the UPDATED state
    * artifact (q167's root) — the post-update deliverable; q169/q170's
    * current side reads this (the updated root's LIVE readout machinery
    * stays measured by q167). artifact == live is spec-pinned.
    */
  private[graft] def ensureUpdatedReleaseExport(spark: SparkSession,
                                                sfDir: String): String =
    DedupArtifacts.cachedDir(s"$sfDir|relexportupd") {
      val root = ensureUpdatedReleaseState(spark, sfDir)
      DedupArtifacts.ensureDerived(spark,
        s"relexport|$root|b=max|v=1")(releaseState(spark, root))
    }

  /** [[ensureReleaseExport]] as of a batch cutoff — the export the
    * pipeline PUBLISHED when that batch committed. q135/q136 diff two
    * published exports (current vs as-of), which is exactly what a
    * release pipeline's post-batch report does: both relations already
    * exist on disk in production by the time churn is asked for, so the
    * catalog reads both sides build-once and pays only the diff.
    */
  private[graft] def ensureReleaseExportAt(spark: SparkSession,
                                           sfDir: String,
                                           batchId: Long): String =
    DedupArtifacts.cachedDir(s"$sfDir|relexport|$batchId") {
      val root = ensureReleaseState(spark, sfDir)
      DedupArtifacts.ensureDerived(spark, s"relexport|$root|b=$batchId|v=1") {
        releaseStateAt(spark, root, batchId)
      }
    }

  /** q135: RELEASE CHURN — every document whose release decision (stage)
    * or mixture multiplicity changed between the committed state as of
    * `prevBatch` and the newest state: `(doc_id, prev_stage ['absent'
    * for docs the later batches introduced], stage, prev_copies,
    * n_copies)`. This is the blast-radius readout a release pipeline
    * runs after every crawl batch — it surfaces not just the batch's own
    * docs but every OLD doc the batch re-staged (a keeper losing to a
    * new exact copy, a cluster merge re-picking its canonical, an eval
    * eviction, a cap re-rank) and every kept doc whose mixture weight
    * moved under the re-plan. Two manifest-resolved readouts joined on
    * doc_id; the as-of read is free — the manifests ARE the time travel.
    */
  def releaseChurn(spark: SparkSession, root: String,
                   prevBatch: Long): DataFrame =
    releaseChurnFrom(releaseState(spark, root),
      releaseStateAt(spark, root, prevBatch))

  /** [[releaseChurn]] with the CURRENT export supplied by the caller —
    * in production the pipeline just materialized it (it IS the release
    * deliverable), so the churn job diffs that relation against the
    * as-of readout instead of paying the current readout a second time.
    * The q135 catalog entry routes this side through the build-once
    * [[ensureReleaseExport]] artifact (the q57 composition idiom);
    * ReleaseStreamSpec pins artifact == live.
    */
  def releaseChurnFrom(cur: DataFrame, prevState: DataFrame): DataFrame = {
    val prev = prevState
      .select(col("doc_id"), col("stage").as("prev_stage"),
        col("n_copies").as("prev_copies"))
    // FULL OUTER, not cur-left: under the append-only corpus the fold
    // maintains, cur ⊇ prev and the outer side contributes nothing — but a
    // truncated/partial current export (a bad artifact, a short read) then
    // SURFACES its missing docs as stage='removed' rows instead of
    // silently understating the churn. 'removed' in a report is an alarm
    // by construction: the ingest never deletes documents.
    cur
      .select(col("doc_id"), col("stage"), col("n_copies"))
      .join(prev, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("prev_stage"), lit("absent")).as("prev_stage"),
        coalesce(col("stage"), lit("removed")).as("stage"),
        coalesce(col("prev_copies"), lit(0L)).as("prev_copies"),
        coalesce(col("n_copies"), lit(0L)).as("n_copies"))
      .filter(col("prev_stage") =!= col("stage") ||
        col("prev_copies") =!= col("n_copies"))
      .orderBy("doc_id")
  }

  /** q136: the churn TRANSITION MATRIX — the dashboard rollup of
    * [[releaseChurn]]: per (prev_stage -> stage) edge, how many docs
    * moved and the net mixture-copy delta. 'absent' rows are the batch's
    * own arrivals; every other row is blast radius (old docs the batch
    * re-staged or re-weighted). Aggregates the churn relation, so it is
    * delta-plus-blast-radius-sized input to a <=49-row output — the
    * cheap per-batch health signal a release pipeline alerts on (e.g. a
    * crawl batch that flips thousands of kept docs to contaminated).
    */
  def releaseChurnStats(churn: DataFrame): DataFrame =
    churn.groupBy("prev_stage", "stage")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_copies") - col("prev_copies")).as("copies_delta"))
      .orderBy("prev_stage", "stage")

  /** q137: the RELEASE TIMELINE — the health time-series over the
    * pipeline's PUBLISHED exports: per (crawl batch, release stage), how
    * many docs the release held, their token mass, and the mixture-copy
    * mass the loader would replay. Where q135/q136 diff two adjacent
    * exports (blast radius of one batch), the timeline reads EVERY
    * committed export and answers trend questions — is the kept fraction
    * eroding, is contamination creeping up batch over batch, is the
    * mixture budget drifting — the per-release dashboard a data-curation
    * team reviews before shipping a snapshot.
    *
    * Input is the sequence of (batch_id, published export) relations the
    * pipeline wrote as each batch committed ([[ensureReleaseExportAt]]
    * materializes them here; production has them on disk already — they
    * ARE the release deliverables). At 100 TB each term is one
    * column-pruned scan of an export (3 small columns of a per-doc
    * relation) feeding a <=7-row aggregate; terms are independent and
    * union to a (#batches x #stages)-row output — no state, no joins,
    * nothing corpus-sized retained.
    */
  def releaseTimeline(exports: Seq[(Long, DataFrame)]): DataFrame = {
    require(exports.nonEmpty, "releaseTimeline needs at least one export")
    exports.map { case (b, df) =>
      df.groupBy("stage").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("n_copies").as("n_copies"))
        .withColumn("batch_id", lit(b))
    }.reduce(_ unionByName _)
      .select("batch_id", "stage", "n_docs", "n_tokens", "n_copies")
      .orderBy("batch_id", "stage")
  }

  /** Compact the release state: fold every store's accumulated per-batch
    * directories into ONE consolidated GENERATION directory and point the
    * newest manifest at it — the chunk-index compaction goal under the
    * manifest-ownership model. Append stores re-aggregate where additive
    * (`ex` collapses to the running min per hash); the versioned fact
    * store collapses to its latest rows, so the readout's merge-on-read
    * window becomes a no-op until new batches append again.
    *
    * Generation directories use NEGATIVE batch ids (`batch=-1, -2, …`):
    * Structured Streaming micro-batch ids are always >= 0, so a
    * compacted generation can never collide with a future stream batch —
    * which would otherwise either clobber the compacted data or, worse,
    * make the stream's next fold resolve an EMPTY prior state. The
    * atomic pivot is the frontier manifest REWRITE (tmp + rename, like
    * every commit): before it, the old directories are authoritative and
    * the generation dir is invisible garbage; after it, the old data
    * dirs are unreferenced and deleted (delete-only, idempotent — a
    * crash mid-prune leaves extra directories, never less). Same
    * contract as the other compactions: run from a maintenance window
    * with the stream quiesced at a committed frontier (only the last
    * uncommitted batch can ever replay, and it is above the frontier by
    * definition). The cluster-label subtree keeps its own lifecycle
    * (`Curation.pruneLabelStates`). Compaction collapses HISTORY:
    * [[releaseStateAt]]/[[releaseChurn]] as-of reads below the frontier
    * become unavailable afterwards — read the churn window first, or
    * defer compaction by the retention policy (the standard
    * time-travel-vs-GC trade every manifested store makes).
    */
  /** `below` bounds which manifest the pivot may target: the retention
    * policy passes the CURRENT batch id so a replayed policy batch can
    * never pivot (and then prune the anchor of) its own first-attempt
    * manifest — it re-compacts the same frontier the first attempt
    * compacted, then re-folds deterministically on top. Manual
    * maintenance calls keep the default (newest committed manifest).
    */
  def compactReleaseState(spark: SparkSession, root: String,
                          below: Long = Long.MaxValue): Unit = {
    val manOpt = latestCommit(spark, root, below)
    if (manOpt.isEmpty) return
    val (frontier, man) = manOpt.get
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batchIds = Manifests.batches(fs, root)
    val gen = math.min(batchIds.min, 0L) - 1L
    def live(store: String): Seq[String] = man.collect {
      case (k, owners) if k.startsWith(s"$store/") =>
        val b = k.stripPrefix(s"$store/")
        owners.map(o => s"$root/batch=$o/$store/${PCOL(store)}=$b")
    }.flatten.toSeq
    def consolidate(store: String, df: DataFrame,
                    pcolOf: Column): Map[String, Seq[Long]] = {
      val out = df.withColumn(PCOL(store), pcolOf).persist()
      out.repartition(col(PCOL(store)))
        .write.mode("overwrite").partitionBy(PCOL(store))
        .parquet(s"$root/batch=$gen/$store")
      val written = bucketVals(out.select(col(PCOL(store)).as("b")))
      out.unpersist()
      written.map(b => s"$store/$b" -> Seq(gen)).toMap
    }
    var newMan = Map.empty[String, Seq[Long]]
    newMan ++= consolidate("doc",
      latestRows(readOr(spark, live("doc"), DOC_SCHEMA)), bkt(col("doc_id")))
    // the claim LEDGER consolidates verbatim — collapsing to min-per-h
    // would re-lose exactly the shadowed-copy claims the ledger exists
    // to retain (see [[refoldQuarResidue]]); the post-compaction repair
    // spec pins it
    newMan ++= consolidate("ex", readOr(spark, live("ex"), EX_SCHEMA),
      bkt(xxhash64(col("h"))))
    newMan ++= consolidate("sh",
      readOr(spark, live("sh"), "shingle BIGINT, doc_id BIGINT"),
      bkt(col("shingle")))
    newMan ++= consolidate("src",
      readOr(spark, live("src"), "source STRING, doc_id BIGINT, hcap BIGINT"),
      bkt(Sketches.phash60(col("source"))))
    // the gated ingest's quarantine store: EVERY row survives — the
    // per-copy readout ([[keyedGatedReleaseState]]) owes one row per
    // diverted copy, so compaction must not collapse duplicates; the
    // LWW readout ([[releaseStateAt]]) applies its latest-row merge at
    // READ time either way, so keeping history costs only bytes there
    if (man.keys.exists(_.startsWith("quar/")))
      newMan ++= consolidate("quar",
        readOr(spark, live("quar"), QUAR_SCHEMA),
        bkt(col("doc_id")))
    // Only empty batches committed => no tiny store to carry forward; the
    // compacted manifest stays tiny-less and the readout guard handles it.
    man.get("tiny").map(_.head).foreach { tinyO =>
      Seq("evals", "evalsh", "capn", "capkeep").foreach { rel =>
        spark.read.parquet(s"$root/batch=$tinyO/tiny/$rel")
          .write.mode("overwrite").parquet(s"$root/batch=$gen/tiny/$rel")
      }
      newMan += ("tiny" -> Seq(gen))
    }
    // THE PIVOT: rewrite the frontier manifest to own everything at `gen`
    commit(spark, root, frontier, newMan)
    // delete-only prune of everything the new manifest no longer names:
    // prior batch data dirs, older generations, and the frontier's own
    // now-unreferenced store dirs (its manifest stays)
    batchIds.filter(b => b != frontier && b != gen).foreach(b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/batch=$b"), true))
    Seq("doc", "sh", "ex", "src", "quar", "tiny").foreach(st =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$root/batch=$frontier/$st"), true))
  }

  /** FSCK for a release-state root: verify the invariants the fold and
    * compactor maintain, WITHOUT throwing — a maintenance window runs
    * this before/after compaction or prune and alerts on findings. At
    * 100 TB the expensive part is deliberately bounded: checks are
    * manifest- and directory-listing-sized (no data scan) except the
    * optional `deep` fact-store uniqueness probe. Findings:
    * `(check, severity [error|warn|info], detail)`.
    *
    *  - `manifest`: newest manifest parses (header, END count) — a torn
    *    or legacy file is an error naming the batch.
    *  - `missing-leaf`: a manifest-referenced `batch=<o>/<store>/<bkt>`
    *    directory does not exist (state unreadable) — error.
    *  - `tiny`: the manifested tiny owner lacks one of the four
    *    relations — error.
    *  - `labels`: the cluster-label subtree has no committed manifest —
    *    error (readout would stage every doc as unlabeled).
    *  - `unreferenced`: a batch directory no manifest references —
    *    info (prune candidate; crash-mid-prune leaves these by design).
    *  - `dup-fact` (deep only): duplicate (doc_id, ver) rows in the
    *    live fact store — error (last-writer-wins would be ambiguous).
    *  - `quar-winner-residue` (deep only, LWW-gated roots): docs whose
    *    latest verdict is quarantined but whose earlier clean fold left
    *    cascade state behind (the documented re-arrival bound) — warn,
    *    with the count a maintenance alert can refold on. Pass
    *    `perCopyGate = true` for KEYED-gated roots
    *    ([[keyedGatedReleaseState]] accounting), where a doc in both
    *    stores is the NORMAL diverted-later-copy state, not residue —
    *    the check is skipped there.
    */
  def fsckReleaseState(spark: SparkSession, root: String,
                       deep: Boolean = false,
                       perCopyGate: Boolean = false): DataFrame = {
    import spark.implicits._
    val findings = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    val base = new org.apache.hadoop.fs.Path(root)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base))
      return Seq(("manifest", "error", s"state root $root does not exist"))
        .toDF("check", "severity", "detail")
    val batchIds = Manifests.batches(fs, root)
    val withMan = Manifests.committed(fs, root)
    if (withMan.isEmpty)
      findings += (("manifest", "error", "no committed manifest under " + root))
    else {
      val frontier = withMan.max
      val man =
        try Some(owners(Manifests.read(fs, root, frontier, FORMAT)))
        catch { case e: IllegalArgumentException =>
          findings += (("manifest", "error", e.getMessage)); None
        }
      man.foreach { m =>
        m.foreach { case (k, owners) =>
          if (k == "tiny") {
            Seq("evals", "evalsh", "capn", "capkeep").foreach { rel =>
              val p = s"$root/batch=${owners.head}/tiny/$rel"
              if (!fs.exists(new org.apache.hadoop.fs.Path(p)))
                findings += (("tiny", "error", s"missing tiny relation $p"))
            }
          } else {
            val Array(store, bkt) = k.split("/")
            owners.foreach { o =>
              val p = s"$root/batch=$o/$store/${PCOL(store)}=$bkt"
              if (!fs.exists(new org.apache.hadoop.fs.Path(p)))
                findings += (("missing-leaf", "error",
                  s"manifest of batch=$frontier references missing $p"))
            }
          }
        }
        val referenced = m.values.flatten.toSet
        batchIds.filterNot(b => referenced.contains(b) || b == frontier)
          .foreach(b => findings += (("unreferenced", "info",
            s"batch=$b is referenced by no live manifest (prune candidate)")))
        if (deep) {
          val docPaths = manPaths(root, m, "doc")
          val dups = readOr(spark, docPaths, DOC_SCHEMA)
            .groupBy("doc_id", "ver").count()
            .filter(col("count") > 1).count()
          if (dups > 0)
            findings += (("dup-fact", "error",
              s"$dups duplicate (doc_id, ver) fact rows — " +
                "last-writer-wins is ambiguous"))
          // the re-arrival bound, SURFACED instead of only documented: a
          // doc whose LATEST verdict is quarantined (clean-then-dirty
          // re-crawl) still holds the cascade state its earlier clean
          // fold built — it may own an exact-hash keeper slot, a cluster
          // membership, an eval seat or a cap rank that suppresses OTHER
          // docs. The readout verdict is right (quar wins); the residue
          // is the documented ingest-time-decision posture. A
          // maintenance window alerting on this count can refold if
          // re-crawl flows make it matter.
          val quarPaths = manPaths(root, m, "quar")
          if (quarPaths.nonEmpty && !perCopyGate) {
            val fv = latestRows(readOr(spark, docPaths, DOC_SCHEMA))
              .select(col("doc_id"), col("ver").as("fver"))
            val residue = latestRows(readOr(spark, quarPaths, QUAR_SCHEMA))
              .select(col("doc_id"), col("ver"))
              .join(fv, Seq("doc_id"))
              .filter(col("ver") >= col("fver")).count()
            if (residue > 0)
              findings += (("quar-winner-residue", "warn",
                s"$residue quarantine-winning docs still hold cascade " +
                  "state from an earlier clean fold (exact keeper slots, " +
                  "cluster/eval/cap membership) — re-arrival bound: the " +
                  "readout verdict reconciles, cascade state follows " +
                  "ingest-time decisions"))
          }
        }
      }
    }
    val lblMan = new org.apache.hadoop.fs.Path(s"$root/clabels")
    if (!fs.exists(lblMan) || !fs.listStatus(lblMan).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch=")))
      findings += (("labels", "error",
        s"cluster-label subtree $root/clabels has no committed state"))
    if (findings.isEmpty)
      findings += (("ok", "info", s"all invariants hold at frontier " +
        s"batch=${withMan.maxOption.getOrElse(-1L)}"))
    findings.toSeq.toDF("check", "severity", "detail").orderBy("check", "detail")
  }

  /** FINAL-VERDICT REFOLD — the repair [[fsckReleaseState]]'s
    * `quar-winner-residue` finding alerts on (round-17; closes VERDICT
    * r16 #5 as code). On an LWW-gated root, a doc whose verdict flipped
    * clean→dirty on re-arrival keeps the cascade state its clean fold
    * built: an exact-hash keeper slot suppressing other copies, a
    * near-dup cluster membership (possibly the BRIDGE that merged two
    * components), an eval seat whose shingles contaminate other docs,
    * and a per-source cap rank. The readout reconciles only the row
    * verdict; this operation excises the residue docs from every store
    * so the state converges to the batch twin over FINAL verdicts
    * ([[Curation.divertedReleaseExport]] on the latest version of every
    * doc) — the stream==batch contract upgraded from "row verdicts
    * reconcile" to full cascade equivalence (spec-pinned).
    *
    * `archive` is the crawl archive: every row ever fed to the ingest,
    * as `(doc_id, ver, text)` with `ver` = the batch id. The repair
    * reads it ONLY for the residue docs and the handful of promotion /
    * eval-admission candidates (doc_id-pushdown, delta-sized); verdicts
    * are NEVER re-evaluated — the stores are the verdict record. The
    * claim LEDGER (`ex` holding every folded version's `(h, doc_id,
    * ver)`) is what makes the repair exact: the archived versions of a
    * doc hash into the ledger buckets holding its claims, and a doc's
    * OPERATIVE hash (its max-ver claim) guards promotions against
    * stale claims from earlier clean versions. A residue doc none of
    * whose archived versions matches a claim fails fast — the archive
    * does not cover its folded history.
    *
    * What moves, per store (all delta-sized except where noted):
    *  - `doc`: residue fact rows deleted; promoted keepers flip
    *    `exact_rm` to 0; nhit adjusted by exact set arithmetic. `ver`
    *    is PRESERVED on every surviving row (the generation id is
    *    negative; the quar-vs-fact LWW compare must keep ranking).
    *  - `ex`: residue claims excised; per affected hash the next
    *    OPERATIVE claimant is promoted.
    *  - tiny `evals`/`evalsh`: lost seats re-seated by re-running the
    *    per-lang tournament over the post-excision doc set (ONE fact
    *    -store scan, only when a seat was actually lost); admitted
    *    docs' shingles come from their operative archived text; every
    *    doc's nhit moves by the Δ-shingle probe of the `sh` index —
    *    the fold's own machinery, so incremental == batch stays exact.
    *  - tiny `capn`/`capkeep` + `src`: residue rows excised, affected
    *    over-cap sources re-ranked from their src-mirror buckets.
    *  - cluster labels: [[Curation.exciseDocsFromClusterState]]
    *    re-quotients the affected components from the pairs log (a
    *    residue bridge un-merges its components).
    *  - near-dup index: [[Curation.exciseFromIncrementalIndex]] — the
    *    one index-sized rewrite (no per-leaf commit protocol exists);
    *    without it a future near-dup of a residue doc would cluster
    *    against it and inherit a root the batch twin never saw.
    *  - `sh` postings of residue docs stay — INERT residue bytes: an
    *    adjustment row they generate targets a fact row that no longer
    *    exists and drops in the update join (documented, not repaired).
    *  - `quar` stays whole — it IS the final-verdict record.
    *
    * Commit order closes the crash windows: label excision and index
    * excision first (each self-committing — atomic frontier-manifest
    * rewrite / marker protocol), the release stores as data under a
    * fresh negative generation (invisible until committed), the
    * FRONTIER manifest rewritten atomically LAST. The residue set stays
    * detectable until that last commit, so a crashed repair re-runs
    * end-to-end: the cluster excision no-ops (residue docs have no
    * label rows), the index excision and store rewrites are
    * deterministic overwrites — idempotent, spec-pinned by running the
    * repair twice. The pivot is NON-destructive: replaced leaves stay
    * referenced by older manifests (as-of reads below the frontier show
    * the pre-repair state, which is what history means here); the
    * retention policy reclaims them at the next compaction. Like
    * compaction, the repair MUST run at a quiesced committed frontier —
    * a replay of the frontier batch resolves manifests strictly below
    * its own id and would fold on pre-repair state, silently shadowing
    * the repaired frontier manifest.
    *
    * Returns an fsck-style findings relation `(check, severity,
    * detail)` summarizing what moved.
    */
  /** `below` bounds every frontier resolution strictly below that batch
    * id — the [[compactReleaseState]] convention that lets the refold
    * run as an in-stream POLICY ([[releaseIngestWithPolicy]]): a
    * replayed policy batch re-resolves the same already-repaired
    * frontier its first attempt repaired (finding no residue, a no-op)
    * instead of repairing its own first attempt's fold output.
    */
  def refoldQuarResidue(spark: SparkSession, root: String,
                        archive: DataFrame,
                        below: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def report(rows: (String, String, String)*): DataFrame =
      rows.toSeq.toDF("check", "severity", "detail")
    val manOpt = latestCommit(spark, root, below)
    if (manOpt.isEmpty)
      return report(("refold", "info", s"no committed state under $root"))
    val (frontier, man) = manOpt.get
    val quarPaths = manPaths(root, man, "quar")
    if (quarPaths.isEmpty || !man.contains("tiny"))
      return report(("refold", "info",
        "no quarantine store or no folded facts — nothing to repair"))
    val arc = archive.select(col("doc_id"), col("ver"), col("text"))

    // ---- 1. the residue set: quarantine-winning docs holding fact rows
    val quarLatest = latestRows(readOr(spark, quarPaths, QUAR_SCHEMA))
      .select(col("doc_id"), col("ver").as("qver")).persist()
    val qDbkts = bucketVals(quarLatest.select(bkt(col("doc_id")).as("b")))
    val residue = latestRows(readOr(spark,
        storePaths(root, man, "doc", qDbkts), DOC_SCHEMA))
      .join(quarLatest, Seq("doc_id"))
      .filter(col("qver") >= col("ver"))
      .drop("qver").persist()
    if (residue.isEmpty) {
      Seq(quarLatest, residue).foreach(_.unpersist())
      return report(("refold", "info", "no quar-winner residue — state " +
        "already reflects final verdicts"))
    }
    val (nResidue, nPromoted, seatsLost, gen) =
      exciseResidue(spark, root, frontier, man, residue, arc, below,
        exciseSh = false)
    val out = report(
      ("residue", "info", s"$nResidue quarantine-winning doc(s) excised " +
        "from facts, claims, clusters, index, eval and caps"),
      ("promoted", "info", s"$nPromoted next-operative-claimant keeper(s) " +
        "promoted"),
      ("eval", "info", s"$seatsLost eval seat(s) re-run"),
      ("generation", "info", s"published as batch=$gen at frontier " +
        s"batch=$frontier"))
    Seq(quarLatest, residue).foreach(_.unpersist())
    out
  }

  /** The shared excision core of [[refoldQuarResidue]] (residue = docs
    * whose final verdict is quarantine) and [[exciseRearrivals]]
    * (residue = re-crawled docs about to re-fold): remove `residue`'s
    * fact rows, ledger claims (promoting next OPERATIVE claimants),
    * eval seats (re-running the per-lang tournament over survivors,
    * nhit moved by exact Δ-shingle arithmetic), cap counts/ranks and —
    * when `exciseSh` — shingle postings, publishing everything under
    * one fresh negative generation and the atomically-rewritten
    * frontier manifest LAST. `exciseSh` is the difference between the
    * two callers: a quarantine-winner's postings are INERT (its fact
    * row is gone, so adjustment rows they generate drop in the update
    * join), but a re-crawled doc's fact row RETURNS when the new
    * version folds — stale postings would double-count every future
    * eval Δ-shingle adjustment against it, so the update path must
    * excise them (touched buckets = the shingles of every archived
    * version, delta-sized). Returns (nResidue, nPromoted, seatsLost,
    * generation id).
    */
  private def exciseResidue(spark: SparkSession, root: String,
                            frontier: Long, man: Map[String, Seq[Long]],
                            residue: DataFrame, arc: DataFrame,
                            below: Long,
                            exciseSh: Boolean): (Long, Long, Long, Long) = {
    val rIds = residue.select("doc_id").persist()
    val nResidue = rIds.count()
    val rDbkts = bucketVals(rIds.select(bkt(col("doc_id")).as("b")))

    // ---- 2. residue docs' archived versions -> their claim buckets
    val arcR = arc.join(rIds, Seq("doc_id"), "left_semi")
      .withColumn("h", sha2(col("text"), 256))
      .filter(col("h").isNotNull).persist()

    // ---- 3. cluster + index excision FIRST (self-committing; the
    // residue set stays detectable in the release stores until the final
    // manifest rewrite, so a crash anywhere re-runs the whole repair)
    Curation.exciseDocsFromClusterState(spark, s"$root/cpairs",
      s"$root/clabels", rIds, below)
    Curation.exciseFromIncrementalIndex(spark, s"$root/cidx", rIds, below)

    // ---- 4. claim ledger: excise residue claims, promote next keepers
    val hBkts = bucketVals(arcR.select(bkt(xxhash64(col("h"))).as("b")))
    val claims = readOr(spark, storePaths(root, man, "ex", hBkts), EX_SCHEMA)
      .persist()
    val removed = claims.join(rIds, Seq("doc_id"), "left_semi").persist()
    val uncovered = rIds
      .join(removed.select("doc_id"), Seq("doc_id"), "left_anti").count()
    require(uncovered == 0L,
      s"refoldQuarResidue: $uncovered residue doc(s) have no claim under " +
        "any archived version's hash — the archive does not cover their " +
        "folded history; repair refused (a partial excision would leave " +
        "ghost keeper slots)")
    val remaining = claims.join(rIds, Seq("doc_id"), "left_anti").persist()
    // hashes whose MINIMUM claim was a residue doc need a new keeper
    val needKeeper = claims
      .join(removed.select("h").distinct(), Seq("h"), "left_semi")
      .groupBy("h").agg(min(col("doc_id")).as("omin"))
      .join(rIds.withColumnRenamed("doc_id", "omin"), Seq("omin"), "left_semi")
      .select("h").persist()
    // candidate claimants for those hashes, filtered to docs whose
    // OPERATIVE hash (max-ver claim) is that hash — a stale claim from
    // an earlier clean version must neither win nor block
    val candClaims = remaining.join(needKeeper, Seq("h"), "left_semi")
      .persist()
    val candIds = candClaims.select("doc_id").distinct()
    val arcC = arc.join(candIds, Seq("doc_id"), "left_semi")
      .withColumn("h", sha2(col("text"), 256)).filter(col("h").isNotNull)
    val cBkts = bucketVals(arcC.select(bkt(xxhash64(col("h"))).as("b")))
    val operative = readOr(spark, storePaths(root, man, "ex", cBkts),
        EX_SCHEMA)
      .join(candIds, Seq("doc_id"), "left_semi")
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("ver").desc, col("h"))))
      .filter(col("rn") === 1).select(col("doc_id"), col("h").as("oph"))
    val promoted = candClaims.join(operative, Seq("doc_id"))
      .filter(col("h") === col("oph"))
      .groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").distinct().persist()
    val nPromoted = promoted.count()

    // ---- 5. eval seats: re-run the tournament iff a seat was lost
    val tinyO = man("tiny").head
    def tinyRead(rel: String): DataFrame =
      spark.read.parquet(s"$root/batch=$tinyO/tiny/$rel")
    val evals = tinyRead("evals").persist()
    val evalsh = tinyRead("evalsh").persist()
    val seatsLost = evals.join(rIds, Seq("doc_id"), "left_semi").count()
    val (newEvals, newEvalsh, adj) =
      if (seatsLost == 0L)
        (evals, evalsh,
          emptyDf(spark, "doc_id BIGINT, dn BIGINT"))
      else {
        val survivors = latestRows(readOr(spark,
            manPaths(root, man, "doc"), DOC_SCHEMA))
          .join(rIds, Seq("doc_id"), "left_anti")
        val ne = survivors.select(col("lang"), col("doc_id"),
            Sketches.phash60(col("doc_id")).as("hsmp"))
          .withColumn("rnk", row_number().over(Window.partitionBy("lang")
            .orderBy(col("hsmp"), col("doc_id"))))
          .filter(col("rnk") <= PER_LANG)
          .select("lang", "doc_id", "hsmp").persist()
        val dropped = evals
          .join(ne.select("doc_id"), Seq("doc_id"), "left_anti")
          .select("doc_id")
        val admitted = ne
          .join(evals.select("doc_id"), Seq("doc_id"), "left_anti")
          .select("doc_id").persist()
        // admitted docs' shingles from their OPERATIVE archived text
        val arcA = arc.join(admitted, Seq("doc_id"), "left_semi")
          .withColumn("h", sha2(col("text"), 256))
          .filter(col("h").isNotNull).persist()
        val aBkts = bucketVals(arcA.select(bkt(xxhash64(col("h"))).as("b")))
        val opA = readOr(spark, storePaths(root, man, "ex", aBkts),
            EX_SCHEMA)
          .join(admitted, Seq("doc_id"), "left_semi")
          .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
            .orderBy(col("ver").desc, col("h"))))
          .filter(col("rn") === 1).select(col("doc_id"), col("h").as("oph"))
        val admText = arcA.join(opA, Seq("doc_id"))
          .filter(col("h") === col("oph"))
          .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
            .orderBy(col("ver").desc)))
          .filter(col("rn") === 1).select("doc_id", "text")
        val admCovered = admitted
          .join(admText.select("doc_id"), Seq("doc_id"), "left_anti").count()
        require(admCovered == 0L,
          s"refoldQuarResidue: $admCovered admitted eval doc(s) have no " +
            "archived version matching their operative claim — archive " +
            "coverage contract violated")
        val nsh = evalsh
          .join(dropped, Seq("doc_id"), "left_anti")
          .unionByName(Dedup.hashedShingles(admText)
            .select("doc_id", "shingle")).persist()
        val oldSet = evalsh.select("shingle").distinct()
        val newSet = nsh.select("shingle").distinct()
        val dSh = newSet.except(oldSet).withColumn("dn", lit(1L))
          .unionByName(oldSet.except(newSet).withColumn("dn", lit(-1L)))
          .persist()
        val touchedG = bucketVals(dSh.select(bkt(col("shingle")).as("b")))
        val adjusted = readOr(spark,
            storePaths(root, man, "sh", touchedG),
            "shingle BIGINT, doc_id BIGINT")
          .join(broadcast(dSh), Seq("shingle"))
          .groupBy("doc_id").agg(sum("dn").as("dn"))
          .filter(col("dn") =!= 0)
          .join(rIds, Seq("doc_id"), "left_anti").persist()
        (ne, nsh, adjusted)
      }

    // ---- 6. caps: decrement affected sources, re-rank the over-cap ones
    val rSrc = residue.groupBy("source").agg(count(lit(1)).as("nr")).persist()
    val capn = tinyRead("capn")
    val newCapn = capn.join(rSrc, Seq("source"), "left")
      .select(col("source"), (col("n") - coalesce(col("nr"), lit(0L)))
        .as("n"))
      .filter(col("n") > 0).persist()
    val affSources = rSrc.select("source").persist()
    val overAff = newCapn.join(affSources, Seq("source"), "left_semi")
      .filter(col("n") > CAP).select("source").persist()
    val sBkts = bucketVals(
      affSources.select(bkt(Sketches.phash60(col("source"))).as("b")))
    val srcRows = readOr(spark, storePaths(root, man, "src", sBkts),
      "source STRING, doc_id BIGINT, hcap BIGINT")
    val keepSrc = srcRows.join(rIds, Seq("doc_id"), "left_anti").persist()
    val newKeep = keepSrc.join(overAff, Seq("source"), "left_semi")
      .withColumn("rnk", row_number().over(Window.partitionBy("source")
        .orderBy(col("hcap"), col("doc_id"))))
      .filter(col("rnk") <= CAP).select("source", "doc_id")
    val newCapkeep = tinyRead("capkeep")
      .join(affSources, Seq("source"), "left_anti")
      .unionByName(newKeep).persist()

    // ---- 7. fact-store rewrite: delete residue, apply promotions +
    // nhit adjustments, PRESERVE ver
    val updDbkts = rDbkts ++
      bucketVals(promoted.select(bkt(col("doc_id")).as("b"))) ++
      bucketVals(adj.select(bkt(col("doc_id")).as("b")))
    val docOut = latestRows(readOr(spark,
        storePaths(root, man, "doc", updDbkts), DOC_SCHEMA))
      .join(rIds, Seq("doc_id"), "left_anti")
      .join(promoted.withColumn("pr", lit(1L)), Seq("doc_id"), "left")
      .join(adj, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        when(col("pr").isNotNull, lit(0L)).otherwise(col("exact_rm"))
          .as("exact_rm"),
        col("n_shingles"),
        (col("nhit") + coalesce(col("dn"), lit(0L))).as("nhit"),
        col("ver"))
      .withColumn("dbkt", bkt(col("doc_id"))).persist()

    // ---- 8. publish everything under one fresh negative generation,
    // then the frontier manifest, atomically, LAST
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val gen = math.min(Manifests.batches(fs, root).min, 0L) - 1L
    docOut.repartition(col("dbkt")).write.mode("overwrite")
      .partitionBy("dbkt").parquet(s"$root/batch=$gen/doc")
    val docWritten = bucketVals(docOut.select(col("dbkt").as("b")))
    val exOut = remaining.withColumn("xbkt", bkt(xxhash64(col("h"))))
      .persist()
    exOut.repartition(col("xbkt")).write.mode("overwrite")
      .partitionBy("xbkt").parquet(s"$root/batch=$gen/ex")
    val exWritten = bucketVals(exOut.select(col("xbkt").as("b")))
    val srcOut = keepSrc
      .withColumn("sbkt", bkt(Sketches.phash60(col("source")))).persist()
    srcOut.repartition(col("sbkt")).write.mode("overwrite")
      .partitionBy("sbkt").parquet(s"$root/batch=$gen/src")
    val srcWritten = bucketVals(srcOut.select(col("sbkt").as("b")))
    newEvals.write.mode("overwrite").parquet(s"$root/batch=$gen/tiny/evals")
    newEvalsh.write.mode("overwrite")
      .parquet(s"$root/batch=$gen/tiny/evalsh")
    newCapn.write.mode("overwrite").parquet(s"$root/batch=$gen/tiny/capn")
    newCapkeep.write.mode("overwrite")
      .parquet(s"$root/batch=$gen/tiny/capkeep")
    // ---- 8b. shingle postings (update path only — see Scaladoc):
    // touched buckets from every archived version's shingles, rewritten
    // minus the residue docs' rows
    val shExcise: Option[(Set[Long], Set[Long])] =
      if (!exciseSh) None
      else {
        val shBkts = bucketVals(
          Dedup.hashedShingles(arcR.select("doc_id", "text"))
            .select(bkt(col("shingle")).as("b")))
        val shOut = readOr(spark, storePaths(root, man, "sh", shBkts),
            "shingle BIGINT, doc_id BIGINT")
          .join(rIds, Seq("doc_id"), "left_anti")
          .withColumn("gbkt", bkt(col("shingle"))).persist()
        shOut.repartition(col("gbkt")).write.mode("overwrite")
          .partitionBy("gbkt").parquet(s"$root/batch=$gen/sh")
        val shWritten = bucketVals(shOut.select(col("gbkt").as("b")))
        shOut.unpersist()
        Some((shBkts, shWritten))
      }
    def retarget(m: Map[String, Seq[Long]], store: String,
                 affected: Set[Long],
                 written: Set[Long]): Map[String, Seq[Long]] =
      affected.foldLeft(m) { (acc, b) =>
        // a rewritten-empty bucket DROPS from the manifest (partitionBy
        // writes no directory for it)
        if (written.contains(b)) acc + (s"$store/$b" -> Seq(gen))
        else acc - s"$store/$b"
      }
    var newMan = man
    newMan = retarget(newMan, "doc", updDbkts, docWritten)
    newMan = retarget(newMan, "ex", hBkts, exWritten)
    newMan = retarget(newMan, "src", sBkts, srcWritten)
    shExcise.foreach { case (shBkts, shWritten) =>
      newMan = retarget(newMan, "sh", shBkts, shWritten)
    }
    newMan += ("tiny" -> Seq(gen))
    commit(spark, root, frontier, newMan)
    // deliberately NO prune: the replaced leaves stay referenced by the
    // OLDER manifests, so as-of reads below the frontier keep working
    // (they show the PRE-repair state — the repair rewrites the present,
    // not history); the standard retention policy (compaction) reclaims
    // them wholesale at the next window

    Seq(rIds, arcR, claims, removed, remaining,
      needKeeper, candClaims, promoted, evals, evalsh, rSrc, newCapn,
      affSources, overAff, keepSrc, newCapkeep, docOut, exOut, srcOut)
      .foreach(_.unpersist())
    (nResidue, nPromoted, seatsLost, gen)
  }

  /** RE-CRAWL UPDATE EXCISION (round-17 third wave) — the in-line twin
    * of [[refoldQuarResidue]] for CLEAN re-arrivals, closing the last
    * documented re-arrival bound: under the fold's plain LWW posture a
    * doc re-crawled with CHANGED text keeps its earlier version's whole
    * cascade footprint (a stale exact-hash claim that can keep
    * suppressing other copies of text it no longer has, doubled shingle
    * postings that double every future eval Δ-adjustment against it, a
    * doubled per-source cap count, a stale cluster membership and probe
    * index entry, an eval seat still contaminating with the old text's
    * shingles). With `updateKeys` on the gated ingest, every batch key
    * already holding fact rows is excised from ALL state FIRST — the
    * [[exciseResidue]] machinery, sh postings included — and the batch
    * then folds normally: a clean new version re-inserts everything
    * (cluster ingest at the batch's own id, eval re-admission through
    * the fold's own tournament, fresh claim and postings), a dirty new
    * version diverts over state that no longer carries its old self —
    * so the state converges to the batch twin over LATEST versions
    * in-line, with no repair cadence and no residue window. Replay-safe
    * by the same rule as the policies: the excision resolves the
    * manifest strictly below the batch's own id, so a replayed batch
    * re-excises the same pre-batch state and re-folds
    * deterministically.
    *
    * Returns the number of re-arrived keys excised (0 = no-op).
    */
  private[graft] def exciseRearrivals(spark: SparkSession, root: String,
                                      batchKeys: DataFrame, batchId: Long,
                                      archive: DataFrame): Long = {
    graft.functions.GraftFunctions.register(spark)
    val manOpt = latestCommit(spark, root, batchId)
    if (manOpt.isEmpty) return 0L
    val (frontier, man) = manOpt.get
    if (!man.contains("tiny")) return 0L
    val bkeys = batchKeys.select("doc_id").distinct().persist()
    val touched = bucketVals(bkeys.select(bkt(col("doc_id")).as("b")))
    val residue = latestRows(readOr(spark,
        storePaths(root, man, "doc", touched), DOC_SCHEMA))
      .join(bkeys, Seq("doc_id"), "left_semi").persist()
    val n =
      if (residue.isEmpty) 0L
      else {
        val arc = archive.select(col("doc_id"), col("ver"), col("text"))
        val (nResidue, _, _, _) = exciseResidue(spark, root, frontier,
          man, residue, arc, batchId, exciseSh = true)
        nResidue
      }
    Seq(bkeys, residue).foreach(_.unpersist())
    n
  }

  // ------------------------------------------------------------ plumbing --

  private def bucketVals(df: DataFrame): Set[Long] =
    df.distinct().collect().map(_.getLong(0)).toSet // ≤32: bounded driver state

  /** Every leaf directory a manifest names for one store. */
  private def manPaths(root: String, man: Map[String, Seq[Long]],
                       store: String): Seq[String] =
    man.collect { case (k, owners) if k.startsWith(s"$store/") =>
      val b = k.stripPrefix(s"$store/")
      owners.map(o => s"$root/batch=$o/$store/${PCOL(store)}=$b")
    }.flatten.toSeq

  private def storePaths(root: String, man: Map[String, Seq[Long]],
                         store: String, buckets: Set[Long]): Seq[String] =
    buckets.toSeq.sorted.flatMap { b =>
      man.getOrElse(s"$store/$b", Seq.empty)
        .map(o => s"$root/batch=$o/$store/${PCOL(store)}=$b")
    }

  private def readOr(spark: SparkSession, paths: Seq[String],
                     schema: String): DataFrame =
    if (paths.isEmpty) emptyDf(spark, schema)
    else spark.read.parquet(paths: _*)

  private def emptyDf(spark: SparkSession, schema: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(schema))

  /** Last-writer-wins over the versioned fact rows (ver = batchId; a doc
    * is written at most once per batch, so the pair is unique and the
    * max_by argmax is deterministic). An aggregate, not a row_number
    * window (round 18, guide §2.3): the aggregate partial-reduces
    * superseded versions map-side BEFORE the doc_id exchange and skips
    * the window's per-partition sort — the window shipped every version
    * of every doc through the shuffle just to drop them after sorting.
    */
  private def latestRows(df: DataFrame): DataFrame = {
    val others = df.columns.filterNot(_ == "doc_id")
    df.groupBy("doc_id")
      .agg(max_by(struct(others.map(col): _*), col("ver")).as("__r"))
      .select(col("doc_id") +: others.map(c => col(s"__r.$c").as(c)): _*)
  }

  private def commit(spark: SparkSession, root: String, batchId: Long,
                     man: Map[String, Seq[Long]]): Unit =
    Manifests.write(spark.sessionState.newHadoopConf(), root, batchId, FORMAT,
      man.toSeq.sortBy(_._1).map { case (k, owners) =>
        Manifests.Entry("B", k, owners.mkString(",")) })

  private def owners(entries: Seq[Manifests.Entry]): Map[String, Seq[Long]] =
    entries.map(e => e.key -> e.value.split(",").map(_.toLong).toSeq).toMap

  private def latestCommit(spark: SparkSession, root: String, below: Long)
      : Option[(Long, Map[String, Seq[Long]])] =
    Manifests.latest(spark.sessionState.newHadoopConf(), root, below, FORMAT)
      .map { case (b, entries) => (b, owners(entries)) }
}
