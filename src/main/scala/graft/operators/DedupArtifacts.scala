package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Build-once curation-index artifact shared by the q87/q89/q90 catalog
  * queries (the `Clustering.ensureIvfPqIndex` pattern applied to text
  * dedup): ONE relation `(doc_id, sig, sh, pref)` over the planted corpus —
  * minhash signature, sorted distinct hashed-shingle array, and the
  * exact-length rarest-first containment prefix — built with a single
  * tokenize+explode pass and persisted content-keyed.
  *
  * Why: q87, q89 and q90 each re-derived hashed shingles, document
  * frequencies and prefixes from raw text on every invocation, although
  * all three consume the same corpus. At 100 TB the tokenize pass IS the
  * dominant cost, and it is also the part that never changes between
  * queries over an immutable corpus snapshot — exactly what an artifact
  * amortizes. Every downstream probe (band join, prefix probe, local
  * array_intersect verify) reads the arrays, never the text.
  *
  * The directory is CONTENT-KEYED — md5 of (corpus path, row count,
  * doc_id checksum, contMin, N_HASHES, artifact version) — so a stale
  * artifact can never serve a different corpus, threshold, or algorithm
  * revision; it just misses and rebuilds.
  */
object DedupArtifacts {

  /** Artifact root for catalog queries (driver/bench sessions). Lives under
    * the build's target dir (gitignored) unless overridden.
    */
  private[operators] def artifactRoot: String =
    sys.env.getOrElse("GRAFT_ARTIFACT_DIR", "/root/repo/target/graft-artifacts")

  private val ARTIFACT_VERSION = 1

  private val builtDirs = scala.collection.mutable.Set[String]()
  // (sfDir, contMin) -> resolved dir: fixtures are immutable, so the
  // corpus fingerprint needs computing once per corpus per session
  private val dirCache = scala.collection.mutable.Map[String, String]()

  /** Session-level memoization of an artifact-directory RESOLUTION —
    * every ensure* whose content key hashes the corpus (corpusKey /
    * embeddingsKey are full-table aggregates) must route through this,
    * or each catalog invocation re-pays a corpus scan just to compute
    * the key (measured: ~0.3-0.5 s per call at sf0.1 — the round-13
    * q24/q24c regression). Fixtures are immutable per path within a
    * session; the on-disk fingerprint still protects across
    * regenerations (a new session recomputes it).
    */
  private[graft] def cachedDir(cacheKey: String)(resolve: => String): String =
    dirCache.synchronized { dirCache.getOrElseUpdate(cacheKey, resolve) }

  /** The in-memory curation-index relation `(doc_id, sig, sh, pref)` —
    * the artifact's content, also consumed directly by equality specs.
    * One hashed-shingle pass feeds both aggregates.
    */
  private[operators] def buildCurationIndex(docs: DataFrame,
                                            contMinX1e3: Int): DataFrame = {
    val sh = Dedup.hashedShingles(docs)
    Dedup.nearDupIndexFromHashed(sh).select("doc_id", "sig")
      .join(Dedup.rarestPrefix(sh, contMinX1e3), "doc_id")
  }

  /** Resolve (building if absent) the artifact directory for the planted
    * corpus of `sfDir` at `contMinX1e3`.
    */
  /** `planted = true` (default) builds over the corpus + planted excerpts
    * (the q87/q89/q90 fixture); `planted = false` over the raw documents
    * table — the q49/q64/q86/q88/q95 consumers, which never see the
    * excerpt fixture. The two are distinct artifacts with distinct
    * content keys; a consumer can never read the wrong corpus.
    */
  private[graft] def ensureCurationIndex(spark: SparkSession, sfDir: String,
                                         contMinX1e3: Int = 900,
                                         planted: Boolean = true): String =
    dirCache.synchronized {
      dirCache.getOrElseUpdate(s"$sfDir|$contMinX1e3|planted=$planted",
        ensureUncached(spark, sfDir, contMinX1e3, planted))
    }

  /** The key part naming an artifact that another artifact derives from:
    * its directory name (`curidx_<md5>`, `tree_<md5>`), itself a content
    * key. Its absolute path changes with `GRAFT_ARTIFACT_DIR`, so a key
    * on it would rebuild the derived artifact under every artifact root.
    */
  private[graft] def keyOf(artifactDir: String): String =
    new org.apache.hadoop.fs.Path(artifactDir).getName

  /** Generic build-once derived-relation artifact (the curation-index
    * pattern for ANY deterministic relation): resolve — building on first
    * miss — a parquet directory holding `build`'s output, content-keyed by
    * `key` (the caller includes a corpus fingerprint, every parameter,
    * and a version; a stale artifact can only ever MISS). Consumers:
    * q65/q97's learned BPE merge table ([[Bpe.ensureMerges]] — training
    * is paid once per corpus snapshot, q97 becomes encode-only) and
    * q106's prior even-half labels (the fold's from-storage input — per
    * call q106 measures the incremental probe + fold, not the rebuild of
    * state that production reads from disk).
    */
  private[graft] def ensureDerived(spark: SparkSession, key: String)
                                  (build: => DataFrame): String =
    ensureDerivedBy(key)(df => df.write.mode("overwrite"))(build)

  /** [[ensureDerived]] with the relation PARTITIONED BY `partitionCol` on
    * disk — for artifacts whose consumers prune by that column at the
    * scan (the IVF inverted lists keyed by cell, the LSH buckets keyed by
    * bucket: a search touches only its probed partitions, so the read is
    * probe-sized, never corpus-sized).
    */
  private[graft] def ensureDerivedPartitioned(spark: SparkSession,
                                              key: String,
                                              partitionCol: String)
                                             (build: => DataFrame): String =
    // repartition ON the partition column first: every partition value's
    // rows land in ONE task, so each `col=K` directory holds one file —
    // without it, every shuffle task writes its slice of every value and
    // the consumer's pruned scan pays a per-file open cost ~32x the data
    // (measured: q24c 0.33 -> 0.93 s on the many-files layout; back to
    // ~0.35 with one file per partition). `layout=1f` keys the layout so
    // pre-fix artifacts MISS instead of serving the slow shape.
    ensureDerivedBy(s"$key|part=$partitionCol|layout=1f")(df =>
      df.repartition(col(partitionCol))
        .write.mode("overwrite").partitionBy(partitionCol))(build)

  /** [[ensureDerived]] for artifacts that are a DIRECTORY TREE rather
    * than one parquet relation (the incremental release state: several
    * bucketed stores + manifests under one root). `build` receives a
    * PRIVATE staging directory and must write the complete tree into it;
    * the marker is stamped inside the staging tree and one rename
    * publishes the whole thing. `build` therefore never sees a
    * partially-written target — it need not be idempotent over dirty
    * state (the earlier in-place protocol silently relied on every tree
    * builder rewriting deterministically with overwrite mode; this one
    * makes no such assumption). A crash mid-build leaves only the
    * `.tmp` staging dir, which the next attempt sweeps; a published dir
    * is complete by construction.
    */
  private[graft] def ensureTree(key: String)(build: String => Unit): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val dir = s"$artifactRoot/tree_$digest"
    this.synchronized {
      if (!builtDirs.contains(dir)) {
        val dirF = new java.io.File(dir)
        if (!new java.io.File(dirF, "_GRAFT_INDEX_OK").exists()) {
          val tmp = new java.io.File(s"$dir.tmp")
          if (tmp.exists()) deleteRecursively(tmp) // crashed prior build
          if (dirF.exists()) deleteRecursively(dirF) // markerless: incomplete
          tmp.mkdirs()
          build(tmp.getPath)
          require(new java.io.File(tmp, "_GRAFT_INDEX_OK").createNewFile(),
            s"could not stamp artifact tree marker in $tmp")
          require(tmp.renameTo(dirF), s"could not publish artifact tree $dir")
        }
        builtDirs += dir
      }
    }
    dir
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    if (!f.delete() && f.exists())
      throw new java.io.IOException(s"could not delete $f")
  }

  private def ensureDerivedBy(key: String)
                             (writer: DataFrame => org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])
                             (build: => DataFrame): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val dir = s"$artifactRoot/drv_$digest"
    this.synchronized {
      if (!builtDirs.contains(dir)) {
        val marker = new java.io.File(s"$dir/_GRAFT_INDEX_OK")
        if (!marker.exists()) {
          writer(build).parquet(dir)
          marker.createNewFile()
        }
        builtDirs += dir
      }
    }
    dir
  }

  /** VERIFIED NEAR-DUP PAIR artifact (the q22 relation: d1, d2,
    * jaccard_x1e3) keyed off the content-keyed curation-index dir — the
    * next derivation level up from the index itself. Every cluster-level
    * consumer (q49/q86/q88/q95/q101; q89's Jaccard edges) reads this
    * instead of re-running the band probe + verify per call: for an
    * immutable corpus snapshot the pair set is as much build-once state
    * as the signatures are, and at 100 TB it is exactly what a dedup
    * service persists between its nightly index build and the dozens of
    * reports that consume it.
    */
  private[graft] def ensureVerifiedPairs(spark: SparkSession, sfDir: String,
                                         thresholdX1e3: Int = 800,
                                         planted: Boolean = false): String = {
    val idxDir = ensureCurationIndex(spark, sfDir, planted = planted)
    ensureDerived(spark, s"${keyOf(idxDir)}|vpairs|t=$thresholdX1e3|v=2")(
      Dedup.verifiedPairsFromIndex(
        spark.read.parquet(idxDir).select("doc_id", "sig", "sh"),
        thresholdX1e3))
  }

  /** CONTAINMENT pair artifact (the q87 relation) for report consumers
    * (q89); q87/q90 themselves stay live — they ARE the probe machinery
    * being measured.
    */
  private[graft] def ensureContainmentPairs(spark: SparkSession,
                                            sfDir: String,
                                            contMinX1e3: Int = 900,
                                            jacMaxX1e3: Int = 800): String = {
    val idxDir = ensureCurationIndex(spark, sfDir)
    ensureDerived(spark,
      s"${keyOf(idxDir)}|cpairs|c=$contMinX1e3|j=$jacMaxX1e3|v=2")(
      Dedup.containmentPairsFromIndex(spark.read.parquet(idxDir),
        contMinX1e3, jacMaxX1e3))
  }

  /** EXACT embedding near-dup pair artifact (the q40 relation:
    * `(v1, v2, cos_x1e4)` at `thresholdX1e4`) — build-once for an
    * immutable snapshot, content-keyed on the vectors themselves
    * ([[embeddingsKey]]). Composite consumers (q45's embedding side)
    * read this instead of re-running the quadratic pair scan per call;
    * the scan itself stays live in q40, which IS the exact anchor being
    * measured.
    */
  private[graft] def ensureEmbeddingPairs(spark: SparkSession, sfDir: String,
                                          thresholdX1e4: Int = 4500): String =
    cachedDir(s"$sfDir|embpairs|t=$thresholdX1e4") {
      val embs = Tables.embeddings(spark, sfDir)
      ensureDerived(spark,
        embeddingsKey(embs, "embpairs") + s"|t=$thresholdX1e4|v=1")(
        Dedup.embeddingNearDupPairs(embs, thresholdX1e4))
    }

  /** Corpus fingerprint prefix for [[ensureDerived]] keys: row count,
    * doc_id checksum AND an order-independent text checksum (`docs` must
    * carry doc_id + text). The text term is load-bearing: the driver's
    * sf0.001 and sf0.01 documents fixtures carry IDENTICAL (count,
    * doc_id-sum) pairs — only the text differs — so an id-only
    * fingerprint silently serves one scale's artifact to the other
    * (caught round 11: a spec's sf0.001 BPE merges leaked into the
    * sf0.01 catalog run). It also makes a fixture REGENERATION (same
    * path, same ids, new text — the round-8 event) miss instead of
    * serving stale content.
    */
  private[graft] def corpusKey(docs: DataFrame, tag: String): String = {
    val fp = docs.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
      coalesce(expr("bit_xor(xxhash64(text))"), lit(0L))).collect()(0)
    s"$tag|${fp.getLong(0)}|${fp.getLong(1)}|${fp.getLong(2)}"
  }

  /** [[corpusKey]] for the embeddings table: count, vec_id checksum, and
    * an order-independent hash of the vectors themselves (xxhash64 hashes
    * arrays natively).
    */
  private[graft] def embeddingsKey(embs: DataFrame, tag: String): String = {
    val fp = embs.agg(count(lit(1)), coalesce(sum(col("vec_id")), lit(0L)),
      coalesce(expr("bit_xor(xxhash64(embedding))"), lit(0L))).collect()(0)
    s"$tag|${fp.getLong(0)}|${fp.getLong(1)}|${fp.getLong(2)}"
  }

  private def ensureUncached(spark: SparkSession, sfDir: String,
                             contMinX1e3: Int, planted: Boolean): String = {
    val raw = Tables.documents(spark, sfDir).select("doc_id", "text")
    val docs = if (planted) Dedup.withPlantedExcerpts(raw) else raw
    // text checksum included for the same reason as [[corpusKey]]: the
    // sf0.001/sf0.01 fixtures share (count, doc_id-sum); only text differs
    val fp = docs.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
      coalesce(expr("bit_xor(xxhash64(text))"), lit(0L))).collect()(0)
    val key = s"$sfDir|${fp.getLong(0)}|${fp.getLong(1)}|${fp.getLong(2)}" +
      s"|cont=$contMinX1e3|nh=64|planted=$planted|v=$ARTIFACT_VERSION"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val dir = s"$artifactRoot/curidx_$digest"
    this.synchronized {
      if (!builtDirs.contains(dir)) {
        val marker = new java.io.File(s"$dir/_GRAFT_INDEX_OK")
        if (!marker.exists()) {
          buildCurationIndex(docs, contMinX1e3)
            .write.mode("overwrite").parquet(dir)
          marker.createNewFile()
        }
        builtDirs += dir
      }
    }
    dir
  }
}
