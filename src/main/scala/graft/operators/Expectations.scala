package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.Tables
import graft.store.Manifests

/** Declarative data-quality expectations (the Deequ/dbt-test capability,
  * re-expressed Spark-first): a constraint suite evaluated against a table
  * in as few passes as the constraint classes allow, emitting one audit
  * row per constraint — `(table_name, constraint, n_rows, n_violations,
  * status)`. A training-data pipeline runs this gate on every ingested
  * snapshot before anything downstream (dedup, mixing, release) trusts
  * the data; the audit relation is what its alerting joins against.
  *
  * Beyond-reference extension (the reference app trusts its Postgres
  * schema; an analytics engine ingesting arbitrary parquet cannot).
  *
  * Evaluation strategy, by constraint class:
  *
  *  - SCALAR rules (not-null, range, accepted-set) all fold into ONE
  *    conditional aggregate over ONE column-pruned scan of the table —
  *    `sum(CASE WHEN ok THEN 0 ELSE 1 END)` per rule beside `count(*)` —
  *    and the single row unpivots to per-rule rows with `stack` (still
  *    in-plan, no driver round-trip). Adding a scalar rule adds a
  *    column to the aggregate, never a pass. NULL fails every scalar
  *    predicate (CASE falls to ELSE), so "value in range" means
  *    "present AND in range" — the strict gate semantics, stated here
  *    because both engines must agree on it.
  *  - UNIQUENESS is necessarily key-shuffled (it IS a distributed
  *    group-by): violations = rows whose key occurs more than once —
  *    map-side partial counts shrink the shuffle to one row per
  *    distinct key.
  *  - REFERENTIAL integrity is a left-anti join against the distinct
  *    referenced keys; AQE broadcasts a small dimension side (nation,
  *    orders at dim scale) and shuffles fact-to-fact joins on the key.
  *
  * At 100 TB the audit therefore costs: one scan per audited table for
  * all scalar rules together, plus one key-shuffle per uniqueness rule,
  * plus one join per FK rule — each independently parallel, output
  * #constraints rows.
  */
object Expectations {

  /** One constraint: `name` is the audit-row label; `kind` picks the
    * evaluation class.
    */
  sealed trait Rule { def name: String }

  /** Scalar predicate rule: a row passes iff `ok` evaluates true (NULL
    * fails). Covers not-null / range / accepted-set / any row predicate.
    */
  final case class Check(name: String, ok: Column) extends Rule

  /** Key-uniqueness rule: violations = rows whose `cols` tuple occurs
    * more than once.
    */
  final case class Unique(name: String, cols: Seq[String]) extends Rule

  /** Referential rule: violations = rows whose `col` has no match in
    * `refCol` of `ref` (NULL keys violate — a fact row must reference).
    */
  final case class RefIn(name: String, col: String, ref: DataFrame,
                         refCol: String) extends Rule

  def notNull(col: String): Check =
    Check(s"not_null:$col", org.apache.spark.sql.functions.col(col).isNotNull)

  def between(col: String, lo: Double, hi: Double): Check =
    Check(s"range:$col",
      org.apache.spark.sql.functions.col(col) >= lo &&
        org.apache.spark.sql.functions.col(col) <= hi)

  def inSet(col: String, vals: Seq[String]): Check =
    Check(s"in_set:$col",
      org.apache.spark.sql.functions.col(col).isin(vals: _*))

  /** The scalar-rule kernel: ONE conditional aggregate over one scan,
    * unpivoted in-plan to `(constraint, n_rows, n_violations)` rows.
    * Shared verbatim by the batch [[audit]] and the streaming partials
    * ([[auditIngestBatch]]) so the two paths cannot drift.
    */
  private def scalarAudit(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val aggCols = count(lit(1)).as("n_rows") +:
      checks.zipWithIndex.map { case (c, i) =>
        // coalesce: sum() over ZERO rows is NULL, but the audit contract is
        // "0 violations" — an empty table passes every scalar rule (the
        // oracle SQL carries the same COALESCE)
        coalesce(sum(when(c.ok, lit(0L)).otherwise(lit(1L))), lit(0L))
          .as(s"v$i")
      }
    // in-plan unpivot via Column-API explode(array(struct…)) — same
    // Generate shape as `stack` but with the constraint names as literal
    // Columns, never spliced into a SQL string: a name containing quotes
    // (audit() is public API, names are caller-chosen) cannot break
    // parsing or inject into the plan
    val pairs = checks.zipWithIndex.map { case (c, i) =>
      struct(lit(c.name).as("constraint"), col(s"v$i").as("n_violations"))
    }
    df.agg(aggCols.head, aggCols.tail: _*)
      .select(col("n_rows"), explode(array(pairs: _*)).as("kv"))
      .select(col("kv.constraint").as("constraint"), col("n_rows"),
        col("kv.n_violations").as("n_violations"))
  }

  /** Audit `df` (named `table`) against `rules`; see object doc for the
    * per-class evaluation strategy.
    */
  def audit(table: String, df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty,
      s"audit('$table'): rules must be non-empty — an empty suite is a " +
        "caller bug, not a vacuous pass")
    val checks = rules.collect { case c: Check => c }
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (checks.nonEmpty) parts += scalarAudit(df, checks)
    rules.collect { case u: Unique => u }.foreach { u =>
      val keyCols = u.cols.map(col)
      parts += df.groupBy(keyCols: _*).agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("cnt") > 1, col("cnt"))
            .otherwise(lit(0L))), lit(0L)).as("n_violations"))
        .select(lit(u.name).as("constraint"), col("n_rows"),
          col("n_violations"))
    }
    rules.collect { case r: RefIn => r }.foreach { r =>
      val refKeys = r.ref.select(col(r.refCol).as("__ref_key")).distinct()
      val missing = df.select(col(r.col).as("__key"))
        .join(refKeys, col("__key") === col("__ref_key"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      val total = df.agg(count(lit(1)).as("n_rows"))
      parts += total.crossJoin(missing) // two single-row sides
        .select(lit(r.name).as("constraint"), col("n_rows"),
          col("n_violations"))
    }
    parts.reduce(_ unionByName _)
      .select(lit(table).as("table_name"), col("constraint"), col("n_rows"),
        col("n_violations"),
        when(col("n_violations") === 0, lit("pass")).otherwise(lit("fail"))
          .as("status"))
  }

  /** Streaming AUDIT monitor — the scalar rules of an audit as a
    * long-running stream: each micro-batch reduces through the SAME
    * [[scalarAudit]] kernel to per-rule `(constraint, n_rows,
    * n_violations)` partials and overwrites `auditDir/batch=<id>` —
    * conditional counts are distributive over disjoint row batches, so
    * this is the chunk/centroid-partials posture: append-only tiny
    * writes, no state rewrite, replay-safe by per-batch-dir overwrite.
    * [[auditFromPartials]] reproduces the batch audit over everything
    * ingested so far by sum-of-sums. Uniqueness and referential rules
    * are deliberately NOT streamed here: both need keyed state (a
    * distributed key->count store; the referenced key set) — the
    * [[ReleaseStream]] `ex/`-store shape, not a mergeable scalar — and
    * a monitor that summed per-batch "uniqueness" results would silently
    * miss every cross-batch duplicate. Run those rules against the
    * accumulated store (or the published snapshot) instead.
    */
  def streamingAuditIngest(docs: DataFrame, auditDir: String,
                           checkpoint: String, checks: Seq[Check])
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        auditIngestBatch(batch, batchId, auditDir, checks)
      }
      .start()

  /** One micro-batch of the streaming audit (factored out so replay and
    * stream==batch specs drive it directly).
    */
  private[graft] def auditIngestBatch(batch: DataFrame, batchId: Long,
                                      auditDir: String,
                                      checks: Seq[Check]): Unit = {
    scalarAudit(batch, checks)
      .write.mode("overwrite").parquet(s"$auditDir/batch=$batchId")
    ()
  }

  /** The batch audit relation off a [[streamingAuditIngest]] partial
    * store: sum-of-sums per constraint, then the identical status rule.
    */
  def auditFromPartials(spark: SparkSession, table: String,
                        auditDir: String): DataFrame =
    spark.read.parquet(auditDir)
      .groupBy("constraint")
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_violations")).as("n_violations"))
      .select(lit(table).as("table_name"), col("constraint"), col("n_rows"),
        col("n_violations"),
        when(col("n_violations") === 0, lit("pass")).otherwise(lit("fail"))
          .as("status"))
      .orderBy("constraint")

  // ------------------------------------------------------------------
  // KEYED streaming audit — Unique/RefIn as a stream (round-15 rung).
  //
  // The scalar stream above is honest but partial: uniqueness and
  // referential rules need keyed state, and a monitor that summed
  // per-batch "uniqueness" results would miss every CROSS-BATCH
  // duplicate. The keyed ingest closes that gap with the release-store
  // posture (bucketed per-batch appends, replay = deterministic rewrite
  // of your own batch dir from state strictly below your own id):
  //
  //  - per key-set (each Unique rule's columns; each RefIn rule's fact
  //    column), a KEY-COUNT STORE under `root/key_<cols>/batch=<id>/
  //    kbkt=<b>/` holding the batch's (key, cnt) partial counts. Counts
  //    are distributive over disjoint row batches, so the accumulated
  //    store IS the corpus's key histogram — compact (one row per
  //    distinct key per batch that saw it) and append-only: a batch
  //    writes its own delta, never rewrites old state.
  //  - per batch, a LIVE uniqueness delta (`root/live/batch=<id>`): the
  //    batch's keys probe ONLY the prior-store buckets they hash into
  //    (≤ N_BUCKETS leaf dirs, delta-bounded read — the `ex/`-store
  //    shape), and the change in Σ_{cnt(k)>1} cnt(k) is computed from
  //    (prior, batch) count pairs alone. Summing live deltas tracks the
  //    exact running violation count INCLUDING cross-batch duplicates —
  //    the alerting signal, spec-pinned equal to the readout.
  //  - READOUT ([[keyedAuditFromStore]]): scalar rules sum partials;
  //    Unique re-aggregates the key store (one shuffle over key-count
  //    partials, never the raw rows again); RefIn anti-joins the fact
  //    key store against the referenced key store — exact under LATE
  //    REFERENCE ARRIVALS by construction, because membership is decided
  //    at readout over everything ingested so far, not frozen per batch.
  //    (The SINGLE-TABLE ingest has no per-batch RefIn delta: a fact-side
  //    miss can be retro-filled by a later ref batch, so a truthful
  //    running counter needs a pending-miss store probed by ref deltas —
  //    that bidirectional rung is [[dualKeyedAuditIngestBatch]] below,
  //    which applies the two tables' batches in a defined order and
  //    maintains exactly that store.)
  //
  // At 100 TB: per batch writes are delta-sized key partials + one tiny
  // live row per rule; the only corpus-shaped costs are the readout's
  // one key shuffle per Unique rule and one join per RefIn rule — the
  // same shuffles the batch audit pays, but over compact (key, cnt)
  // partials instead of raw rows.
  // ------------------------------------------------------------------

  private val N_BUCKETS = 32L

  /** Streaming referential rule: fact rows' `col` must appear in the
    * key-count store rooted at `refStore` (another keyed audit's
    * `key_<cols>` directory — for q139, the documents ingest's doc_id
    * store). The store IS the referenced key set, accumulated so far.
    */
  final case class RefStream(name: String, col: String, refStore: String)

  private def keyStoreName(cols: Seq[String]): String =
    "key_" + cols.map(_.toLowerCase.replaceAll("[^a-z0-9]", "_"))
      .mkString("__")

  /** The key-count store directory a rule's columns map to. Public shape
    * contract: a [[RefStream]] points at the REFERENCED table's store via
    * this name.
    */
  def keyStoreDir(root: String, cols: Seq[String]): String =
    s"$root/${keyStoreName(cols)}"

  private def withKeyCols(df: DataFrame, cols: Seq[String]): DataFrame = {
    val ks = cols.zipWithIndex.map { case (c, i) => col(c).as(s"k$i") }
    df.select(ks: _*)
  }

  private def keyCnt(df: DataFrame, cols: Seq[String]): DataFrame = {
    val n = cols.size
    withKeyCols(df, cols)
      .groupBy((0 until n).map(i => col(s"k$i")): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("kbkt",
        pmod(xxhash64((0 until n).map(i => col(s"k$i")): _*), lit(N_BUCKETS)))
  }

  /** Null-safe equi-condition on k0..kn between two aliased sides —
    * uniqueness treats a NULL key tuple as a group like the batch
    * `groupBy` does, so the store joins must match NULLs to themselves.
    */
  private def keyCond(l: String, r: String, n: Int): Column =
    (0 until n).map(i => col(s"$l.k$i") <=> col(s"$r.k$i"))
      .reduce(_ && _)

  private val GEN_MARKER = "_GEN"
  private val GEN_HEADER = "GRAFT_KAUDIT_GEN v1"

  /** The compaction pointer of a store, if any: `(gen, covered)` — the
    * negative generation dir holding everything consolidated so far, and
    * the highest non-negative batch id it covers. Published atomically
    * (tmp + rename), so it either names a COMPLETE generation or is
    * absent.
    */
  private def readGen(fs: org.apache.hadoop.fs.FileSystem,
                      store: String): Option[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$store/$GEN_MARKER")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    require(lines.headOption.contains(GEN_HEADER),
      s"unknown keyed-audit gen marker format in $p: " +
        s"'${lines.headOption.getOrElse("")}' — migration needed")
    val pointer = lines.drop(1)
    pointer.map(_.split(" ").toSeq.map(_.toLongOption)) match {
      case Seq(Seq(Some(g), Some(c))) => Some((g, c))
      case _ => throw new IllegalArgumentException(s"malformed keyed-audit " +
        s"gen marker $p: want one '<gen> <covered>' line after the header, " +
        s"got ${pointer.mkString("[", "; ", "]")} — migration needed")
    }
  }

  /** The batch ids a reader (or the compactor) may consume: without a
    * `_GEN` pointer, every non-negative dir; with one, the named
    * generation plus non-negative dirs ABOVE its coverage. Negative dirs
    * not named by the pointer are in-flight or superseded generations —
    * invisible either way, which is what makes compaction crash-safe
    * without a per-batch manifest: publish-the-pointer is the commit.
    */
  private def eligibleBatches(fs: org.apache.hadoop.fs.FileSystem,
                              store: String, below: Long): Seq[Long] = {
    val base = new org.apache.hadoop.fs.Path(store)
    if (!fs.exists(base)) return Nil
    val all = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
    val gen = readGen(fs, store)
    all.filter { b =>
      gen match {
        case Some((g, covered)) => b == g || (b >= 0 && b > covered)
        case None               => b >= 0
      }
    }.filter(_ < below)
  }

  /** Prior-store leaf dirs for batches strictly below `batchId`, limited
    * to `touched` buckets (None = all). Listing is #batches × #buckets —
    * filesystem metadata, not data.
    */
  private def storeLeafDirs(spark: SparkSession, store: String,
                            batchId: Long,
                            touched: Option[Set[Long]]): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(store)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return Nil
    eligibleBatches(fs, store, batchId)
      .map(b => new org.apache.hadoop.fs.Path(s"$store/batch=$b"))
      .flatMap { bp =>
        fs.listStatus(bp).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("kbkt="))
          .filter(s => touched.forall(_.contains(
            s.getPath.getName.stripPrefix("kbkt=").toLong)))
          .map(_.getPath.toString)
      }
  }

  private def readStore(spark: SparkSession, store: String, batchId: Long,
                        touched: Option[Set[Long]], nKeys: Int): DataFrame = {
    def empty() = {
      val schema = (0 until nKeys).map(i => s"k$i STRING")
        .mkString("", ", ", ", cnt BIGINT")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(schema))
    }
    val cols = (0 until nKeys).map(i => col(s"k$i")) :+ col("cnt")
    val baseP = new org.apache.hadoop.fs.Path(store)
    val fsChk = baseP.getFileSystem(spark.sessionState.newHadoopConf())
    val neverCompacted = fsChk.exists(baseP) &&
      !fsChk.exists(new org.apache.hadoop.fs.Path(s"$store/$GEN_MARKER"))
    if (batchId == Long.MaxValue && touched.isEmpty && neverCompacted) {
      // full-store readout: ONE parallel partition discovery over the
      // root beats per-leaf enumeration (#batches × #buckets sequential
      // listStatus calls) — valid only while no `_GEN` pointer exists
      // (then every visible dir is eligible); a compacted store must go
      // through the pointer-aware enumeration below
      spark.read.option("basePath", store).parquet(store)
        .select(cols: _*)
    } else {
      val dirs = storeLeafDirs(spark, store, batchId, touched)
      if (dirs.isEmpty) empty()
      else spark.read.option("basePath", store).parquet(dirs: _*)
        .select(cols: _*)
    }
  }

  /** The DISTINCT key set a single-column key-count store holds below
    * batch `below` (exclusive) — the referenced-key relation a
    * [[RefStream]] rule resolves against, exposed for the release
    * ingest's keyed gate ([[ReleaseStream]] reads the reference stream's
    * store at the fact batch's own frontier so a replayed fact batch
    * re-reads the same reference set). (distinct-key)-sized, bucketed.
    */
  private[operators] def refKeySet(spark: SparkSession, refStore: String,
                                   below: Long): DataFrame =
    readStore(spark, refStore, below, None, 1).select("k0").distinct()

  /** One micro-batch of the keyed audit (the foreachBatch body, factored
    * out for the replay/equality specs): scalar partials + per-rule key
    * stores + the live uniqueness delta, all written under `batch=<id>`
    * dirs so replay overwrites deterministically.
    */
  private[graft] def keyedAuditIngestBatch(batch: DataFrame, batchId: Long,
                                           root: String, checks: Seq[Check],
                                           uniques: Seq[Unique],
                                           refs: Seq[RefStream]): Unit = {
    val spark = batch.sparkSession
    val b = batch.persist()
    if (checks.nonEmpty) auditIngestBatch(b, batchId, s"$root/scalar", checks)
    // every key-set that needs a store: each Unique's cols, each
    // RefStream's fact col (deduped — q139's unique:vec_id and the FK
    // share one store)
    val keySets = (uniques.map(_.cols) ++ refs.map(r => Seq(r.col))).distinct
    val liveRows = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    keySets.foreach { cols =>
      val store = keyStoreDir(root, cols)
      val bk = keyCnt(b, cols).persist()
      // live delta for the Unique rules on this key-set: batch keys probe
      // only their own buckets of the prior store
      val rules = uniques.filter(_.cols == cols)
      if (rules.nonEmpty) {
        val touched = bk.select("kbkt").distinct()
          .collect().map(_.getLong(0)).toSet // ≤ N_BUCKETS values
        val prior = readStore(spark, store, batchId, Some(touched), cols.size)
          .alias("p")
          .join(bk.alias("t"), keyCond("p", "t", cols.size), "left_semi")
          .groupBy((0 until cols.size).map(i => col(s"k$i")): _*)
          .agg(sum(col("cnt")).as("pcnt"))
        val delta = bk.alias("b")
          .join(prior.alias("q"), keyCond("b", "q", cols.size), "left")
          .select(col("b.cnt").as("bcnt"),
            coalesce(col("q.pcnt"), lit(0L)).as("pcnt"))
          .select(
            (when(col("pcnt") + col("bcnt") > 1, col("pcnt") + col("bcnt"))
              .otherwise(lit(0L)) -
              when(col("pcnt") > 1, col("pcnt")).otherwise(lit(0L)))
              .as("d"),
            col("bcnt"))
          .agg(coalesce(sum(col("d")), lit(0L)).as("v_delta"),
            coalesce(sum(col("bcnt")), lit(0L)).as("n_rows"))
          .collect()(0) // single row
        rules.foreach(u =>
          liveRows += ((u.name, delta.getLong(1), delta.getLong(0))))
      }
      // repartition ON kbkt first: one file per bucket dir per batch —
      // without it every shuffle task writes its slice of every bucket
      // and the readout pays a per-file open cost ~32x the data (the
      // q24c inverted-list lesson; measured here: q141 readout 4.9 s ->
      // sub-second at sf0.1 on the one-file layout)
      bk.repartition(col("kbkt")).write.mode("overwrite")
        .partitionBy("kbkt").parquet(s"$store/batch=$batchId")
      bk.unpersist()
      ()
    }
    import spark.implicits._
    liveRows.toSeq.toDF("constraint", "n_rows", "v_delta")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/live/batch=$batchId")
    b.unpersist()
    ()
  }

  /** The long-running keyed ingest: one audited table's stream →
    * scalar partials + key stores + live uniqueness deltas under `root`.
    *
    * `compactEvery` > 0 codes the retention policy (the
    * `streamingReleaseIngest` posture): every K-th batch consolidates
    * the PROBED stores (`key_*`, `miss`) before folding, so a bucket
    * probe reads ≤ K+1 files instead of one per batch ever ingested.
    * The per-batch HISTORY stores (`scalar`, `live`, `liveref`) are
    * never compacted — they ARE the q143 timeline. Compaction
    * consolidates strictly below the batch's own id (the
    * `compactReleaseState(below)` replay rule): a replayed policy batch
    * re-consolidates the same prefix its first attempt did, then
    * re-folds deterministically on top.
    */
  /** `rollupEvery` > 0 codes the HISTORY retention too (round 16): every
    * K-th batch rolls the history stores' batches older than the
    * frontier's recent window into epoch rows ([[rollupAuditHistory]]
    * with `frontier = batchId`, so a replayed policy batch re-rolls the
    * same prefix). The per-batch q143 timeline then trades resolution
    * for the bound EXACTLY as configured — deployments keeping the full
    * timeline leave it 0 (the default contract, unchanged).
    */
  def streamingKeyedAuditIngest(docs: DataFrame, root: String,
                                checkpoint: String, checks: Seq[Check],
                                uniques: Seq[Unique], refs: Seq[RefStream],
                                compactEvery: Int = 0,
                                rollupEvery: Int = 0,
                                epochSize: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 0, "compactEvery: 0 disables, else every K batches")
    require(rollupEvery >= 0, "rollupEvery: 0 disables, else every K batches")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        keyedAuditIngestWithPolicy(batch, batchId, root, checks, uniques,
          refs, compactEvery, rollupEvery, epochSize)
      }
      .start()
  }

  /** The foreachBatch body under both retention policies (factored out
    * so the growth/replay specs drive the POLICIES, not hand-placed
    * maintenance calls).
    */
  private[graft] def keyedAuditIngestWithPolicy(
      batch: DataFrame, batchId: Long, root: String, checks: Seq[Check],
      uniques: Seq[Unique], refs: Seq[RefStream], compactEvery: Int,
      rollupEvery: Int, epochSize: Int = 4): Unit = {
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compactKeyedAuditStores(batch.sparkSession, root, below = batchId)
    if (rollupEvery > 0 && batchId > 0 && batchId % rollupEvery == 0)
      rollupAuditHistory(batch.sparkSession, root, epochSize,
        keepRecent = 1, frontier = batchId)
    keyedAuditIngestBatch(batch, batchId, root, checks, uniques, refs)
  }

  /** Consolidate a keyed-audit root's PROBED stores: each `key_*` store's
    * eligible per-batch (key, cnt) partials below `below` sum into one
    * generation dir (`batch=<gen>`, gen < 0 — the release-state
    * convention); the `miss` store keeps the latest surviving row per key
    * (tombstones and superseded versions drop; `ver` is preserved so
    * later writes still win). Readout equality is by construction (sums
    * of sums; LWW of LWW); the per-batch HISTORY stores (`scalar`,
    * `live`, `liveref` — the q143 timeline) are untouched.
    *
    * Crash safety WITHOUT per-batch manifests, via the `_GEN` pointer
    * (publish-the-pointer is the commit):
    *  1. stage the consolidated relation into a hidden `.compact.tmp`
    *     (invisible to every reader),
    *  2. rename it to `batch=<gen>` — still invisible: readers ignore
    *     negative dirs the pointer does not name,
    *  3. atomically publish `_GEN  (gen, covered)` — the ONE commit
    *     point; from here readers see exactly {gen} ∪ {b > covered},
    *  4. delete the consolidated dirs (stale leftovers from a crash here
    *     are invisible by the pointer rule and swept by the next pass).
    */
  def compactKeyedAuditStores(spark: SparkSession, root: String,
                              below: Long = Long.MaxValue): Unit = {
    val base = new org.apache.hadoop.fs.Path(root)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return
    val stores = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && (s.getPath.getName.startsWith("key_") ||
        s.getPath.getName == "miss"))
      .map(_.getPath)
    stores.foreach { sp =>
      val batches = eligibleBatches(fs, sp.toString, below)
      if (batches.size > 1) {
        val allDirs = fs.listStatus(sp).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
          .map(_.getPath.getName.stripPrefix("batch=").toLong)
        val gen = math.min(allDirs.min, 0L) - 1L
        val covered = batches.filter(_ >= 0).max
        val dirs = batches.map(b => s"$sp/batch=$b")
        val acc = spark.read.option("basePath", sp.toString)
          .parquet(dirs: _*)
        val kCols = acc.columns.toSeq
          .filter(c => c.startsWith("k") && c != "kbkt").sorted
        val out =
          if (sp.getName == "miss") {
            // LWW: latest row per key, survivors only (cnt > 0)
            import org.apache.spark.sql.expressions.Window
            acc.withColumn("rn", row_number().over(
                Window.partitionBy(kCols.map(col): _*)
                  .orderBy(col("ver").desc)))
              .filter(col("rn") === 1 && col("cnt") > 0)
              .select((kCols.map(col) :+ col("cnt") :+ col("ver") :+
                col("kbkt")): _*)
          } else
            acc.groupBy((kCols :+ "kbkt").map(col): _*)
              .agg(sum(col("cnt")).as("cnt"))
              .select((kCols.map(col) :+ col("cnt") :+ col("kbkt")): _*)
        // steps 1-4 (stage hidden / rename / atomic pointer / retire)
        // shared with the history rollup
        publishGeneration(spark, fs, sp.toString, gen, covered, allDirs,
          out.repartition(col("kbkt")).write.partitionBy("kbkt"))
      }
    }
  }

  /** The crash-safe generation-publish protocol shared by the key-store
    * compaction and the history rollup:
    *  1. stage the consolidated relation into a hidden `.compact.tmp`
    *     (invisible to every reader; a crashed prior attempt is swept),
    *  2. rename it to `batch=<gen>` — still invisible: readers ignore
    *     negative dirs the pointer does not name,
    *  3. atomically publish `_GEN (gen, covered)` — the ONE commit
    *     point. Overwrite must be a true atomic swap (the round-13
    *     release-manifest lesson): a delete-then-rename window with NO
    *     pointer would hide every consolidated generation from readers
    *     ([[Manifests.publish]]),
    *  4. retire everything the pointer no longer names (stale leftovers
    *     from a crash here are invisible by the pointer rule and swept
    *     by the next pass).
    */
  private def publishGeneration(spark: SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem,
                                store: String, gen: Long, covered: Long,
                                allDirs: Seq[Long],
                                writer: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])
      : Unit = {
    val staging = new org.apache.hadoop.fs.Path(s"$store/.compact.tmp")
    fs.delete(staging, true)
    writer.mode("overwrite").parquet(staging.toString)
    val genDir = new org.apache.hadoop.fs.Path(s"$store/batch=$gen")
    fs.delete(genDir, true) // only ever a crashed unnamed attempt
    require(fs.rename(staging, genDir),
      s"could not move staged generation into $genDir")
    Manifests.publish(spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(s"$store/$GEN_MARKER"),
      s"$GEN_HEADER\n$gen $covered\n".getBytes("UTF-8"))
    allDirs.filter(b => b != gen && !(b >= 0 && b > covered))
      .foreach(b => fs.delete(
        new org.apache.hadoop.fs.Path(s"$store/batch=$b"), true))
  }

  // ------------------------------------------------------------------
  // EPOCH ROLLUP for the HISTORY stores (round-16 rung) — `scalar/`,
  // `live/` and `liveref/` grow one dir per batch FOREVER under the
  // documented q143 timeline contract. The rollup bounds them: batches
  // older than `keepRecent` consolidate into COARSE EPOCH ROWS (one row
  // per (epoch, constraint), carrying the contributing batch range) in
  // ONE generation dir under the `_GEN` pointer, while the recent window
  // keeps per-batch granularity. Sums are distributive, so every
  // sum-of-partials reader (the q141 gate, the live monitors) is exact
  // over a rolled store; only the PER-BATCH timeline (q143) loses
  // resolution below epoch granularity — it refuses a rolled store
  // loudly (the drift-guard rule) and [[corpusGateTimelineEpochs]] is
  // its rolled-store readout.
  // ------------------------------------------------------------------

  private val HISTORY_STORES = Seq("scalar", "live", "liveref")

  /** The value column of a history store's rows. */
  private def historyVcol(store: String): String =
    if (store.endsWith("/scalar")) "n_violations" else "v_delta"

  /** Roll a keyed-audit root's history stores: batches strictly below
    * `frontier - keepRecent` group into epochs of `epochSize` and
    * consolidate — per (epoch, constraint) one summed row carrying
    * `(epoch, batch_lo, batch_hi)` — into a new generation published
    * under the `_GEN` pointer ([[publishGeneration]]: crash anywhere
    * leaves the prior state readable). A previously-published epoch
    * generation re-rolls losslessly (its rows already carry their epoch
    * ids; re-grouping is sum-of-sums). `keepRecent >= 1` keeps the
    * stream's replayable frontier batch out of every rollup, so a
    * replayed ingest batch overwrites its own (un-rolled) dir exactly as
    * before — replay-safe by the same argument as the key-store
    * compaction.
    */
  /** `frontier` (when >= 0) pins the cutoff to `frontier - keepRecent`
    * instead of deriving it from the newest existing dir — the
    * ingest-policy form ([[streamingKeyedAuditIngest]] passes its own
    * batch id, the `compactReleaseState(below)` replay rule): a REPLAYED
    * policy batch then re-rolls exactly the prefix its first attempt
    * rolled, even though the first attempt's own batch dir now exists.
    */
  def rollupAuditHistory(spark: SparkSession, root: String,
                         epochSize: Int, keepRecent: Int = 1,
                         frontier: Long = -1L): Unit = {
    require(epochSize >= 1, "epochSize >= 1")
    require(keepRecent >= 1,
      "keepRecent >= 1: the stream's replayable frontier batch must stay " +
        "per-batch")
    val base = new org.apache.hadoop.fs.Path(root)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return
    HISTORY_STORES.map(s => s"$root/$s").foreach { store =>
      val sp = new org.apache.hadoop.fs.Path(store)
      if (fs.exists(sp)) {
        val eligible = eligibleBatches(fs, store, Long.MaxValue)
        val nonNeg = eligible.filter(_ >= 0)
        val cutoff =
          if (frontier >= 0) frontier - keepRecent
          else nonNeg.maxOption.getOrElse(-1L) + 1 - keepRecent
        val toRoll = nonNeg.filter(_ < cutoff)
        if (toRoll.nonEmpty) {
          val vcol = historyVcol(store)
          val allDirs = fs.listStatus(sp).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
            .map(_.getPath.getName.stripPrefix("batch=").toLong)
          val gen = math.min(allDirs.min, 0L) - 1L
          val covered = toRoll.max
          val fresh = spark.read.option("basePath", store)
            .parquet(toRoll.map(b => s"$store/batch=$b"): _*)
            .select(expr(s"CAST(batch AS BIGINT) div $epochSize")
                .as("epoch"),
              col("batch").cast("long").as("batch_lo"),
              col("batch").cast("long").as("batch_hi"),
              col("constraint"), col("n_rows"), col(vcol))
          val prior = eligible.filter(_ < 0).map { g =>
            spark.read.parquet(s"$store/batch=$g")
              .select(col("epoch"), col("batch_lo"), col("batch_hi"),
                col("constraint"), col("n_rows"), col(vcol))
          }
          val out = (fresh +: prior).reduce(_ unionByName _)
            .groupBy("epoch", "constraint")
            .agg(min(col("batch_lo")).as("batch_lo"),
              max(col("batch_hi")).as("batch_hi"),
              sum(col("n_rows")).as("n_rows"),
              sum(col(vcol)).as(vcol))
            .select(col("epoch"), col("batch_lo"), col("batch_hi"),
              col("constraint"), col("n_rows"), col(vcol))
          publishGeneration(spark, fs, store, gen, covered, allDirs,
            out.coalesce(1).write)
        }
      }
    }
  }

  /** A history store's rows restricted to the named columns, pointer
    * aware: epoch generations and per-batch dirs read separately (their
    * on-disk schemas differ) and union — exact for every sum-of-partials
    * consumer because the rolled rows are already the sums of the dirs
    * they replaced.
    */
  private def readHistoryRows(spark: SparkSession, store: String,
                              schema: String): DataFrame = {
    val cols = StructType.fromDDL(schema).fieldNames.toSeq
    val base = new org.apache.hadoop.fs.Path(store)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(schema))
    val (gens, batches) = eligibleBatches(fs, store, Long.MaxValue)
      .partition(_ < 0)
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    gens.foreach(g => parts +=
      spark.read.parquet(s"$store/batch=$g").select(cols.map(col): _*))
    if (batches.nonEmpty) parts +=
      spark.read.option("basePath", store)
        .parquet(batches.map(b => s"$store/batch=$b"): _*)
        .select(cols.map(col): _*)
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(schema))
    else parts.reduce(_ unionByName _)
  }

  /** The q156 readout: the gate timeline AT THE STORED GRANULARITY —
    * one row per (epoch, constraint) where the history was rolled, one
    * per (batch, constraint) in the recent window, each carrying the
    * contributing `(batch_lo, batch_hi)` range. Over an unrolled store
    * every row is a singleton range and this IS q143 re-keyed; over a
    * rolled store it equals the unrolled timeline aggregated by the
    * rollup's epoch mapping (the lossless-at-epoch-granularity
    * contract, spec-pinned and oracle-gated).
    */
  def corpusGateTimelineEpochs(spark: SparkSession, root: String): DataFrame = {
    def hist(tbl: String, sub: String, rel: String): DataFrame = {
      val store = s"$root/$sub/$rel"
      val vcol = historyVcol(store)
      val rangeSchema = s"epoch BIGINT, batch_lo BIGINT, batch_hi BIGINT, " +
        s"constraint STRING, n_rows BIGINT, $vcol BIGINT"
      val base = new org.apache.hadoop.fs.Path(store)
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(base))
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType.fromDDL("batch_lo BIGINT, batch_hi BIGINT, " +
            "table_name STRING, constraint STRING, n_rows BIGINT, " +
            "n_violations BIGINT"))
      val (gens, batches) = eligibleBatches(fs, store, Long.MaxValue)
        .partition(_ < 0)
      val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
      gens.foreach(g => parts += spark.read.parquet(s"$store/batch=$g")
        .select(col("batch_lo"), col("batch_hi"), col("constraint"),
          col("n_rows"), col(vcol).as("n_violations")))
      if (batches.nonEmpty) parts += spark.read.option("basePath", store)
        .parquet(batches.map(b => s"$store/batch=$b"): _*)
        .select(col("batch").cast("long").as("batch_lo"),
          col("batch").cast("long").as("batch_hi"), col("constraint"),
          col("n_rows"), col(vcol).as("n_violations"))
      // a store dir that exists but holds no eligible batch dirs (e.g.
      // created-then-crashed ingest) is the same empty relation as a
      // missing store — readHistoryRows' guard, mirrored here
      if (parts.isEmpty)
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType.fromDDL("batch_lo BIGINT, batch_hi BIGINT, " +
            "table_name STRING, constraint STRING, n_rows BIGINT, " +
            "n_violations BIGINT"))
      parts.reduce(_ unionByName _)
        .select(col("batch_lo"), col("batch_hi"), lit(tbl).as("table_name"),
          col("constraint"), col("n_rows"), col("n_violations"))
    }
    hist("documents", "docs", "scalar")
      .unionByName(hist("documents", "docs", "live"))
      .unionByName(hist("embeddings", "embs", "scalar"))
      .unionByName(hist("embeddings", "embs", "live"))
      .unionByName(hist("embeddings", "embs", "liveref"))
      .orderBy("table_name", "constraint", "batch_lo")
  }

  /** The batch-audit relation off a keyed ingest's stores: equals
    * [[audit]] over everything ingested so far, rule for rule — the
    * stream==batch contract, spec-pinned with planted cross-batch
    * duplicates and a late-arriving referenced key.
    */
  def keyedAuditFromStore(spark: SparkSession, table: String, root: String,
                          checks: Seq[Check], uniques: Seq[Unique],
                          refs: Seq[RefStream]): DataFrame = {
    require(checks.nonEmpty || uniques.nonEmpty || refs.nonEmpty,
      s"keyedAuditFromStore('$table'): no rules")
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (checks.nonEmpty)
      parts += readHistoryRows(spark, s"$root/scalar",
          "constraint STRING, n_rows BIGINT, n_violations BIGINT")
        .groupBy("constraint")
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("n_violations")).as("n_violations"))
        .select(col("constraint"), col("n_rows"), col("n_violations"))
    uniques.foreach { u =>
      val acc = readStore(spark, keyStoreDir(root, u.cols), Long.MaxValue,
          None, u.cols.size)
        .groupBy((0 until u.cols.size).map(i => col(s"k$i")): _*)
        .agg(sum(col("cnt")).as("cnt"))
      parts += acc
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("cnt") > 1, col("cnt"))
            .otherwise(lit(0L))), lit(0L)).as("n_violations"))
        .select(lit(u.name).as("constraint"), col("n_rows"),
          col("n_violations"))
    }
    refs.foreach { r =>
      val facts = readStore(spark, keyStoreDir(root, Seq(r.col)),
          Long.MaxValue, None, 1)
        .groupBy("k0").agg(sum(col("cnt")).as("cnt"))
      val refKeys = readStore(spark, r.refStore, Long.MaxValue, None, 1)
        .select(col("k0").as("__ref_key")).distinct()
      // === (not <=>): a NULL fact key matches nothing and violates —
      // the batch RefIn's exact semantics
      val missing = facts.join(refKeys, col("k0") === col("__ref_key"),
          "left_anti")
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_violations"))
      val total = facts.agg(coalesce(sum(col("cnt")), lit(0L)).as("n_rows"))
      parts += total.crossJoin(missing) // two single-row sides
        .select(lit(r.name).as("constraint"), col("n_rows"),
          col("n_violations"))
    }
    parts.reduce(_ unionByName _)
      .select(lit(table).as("table_name"), col("constraint"), col("n_rows"),
        col("n_violations"),
        when(col("n_violations") === 0, lit("pass")).otherwise(lit("fail"))
          .as("status"))
      .orderBy("constraint")
  }

  /** The exact running uniqueness-violation count after the ingest so
    * far: Σ of the per-batch live deltas — the monitor signal that
    * catches cross-batch duplicates the moment the second copy lands.
    */
  def liveUniquenessViolations(spark: SparkSession, root: String): DataFrame =
    readHistoryRows(spark, s"$root/live",
        "constraint STRING, n_rows BIGINT, v_delta BIGINT")
      .groupBy("constraint")
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("v_delta")).as("n_violations"))
      .orderBy("constraint")

  // ------------------------------------------------------------------
  // LIVE referential deltas — the bidirectional rung above the keyed
  // ingest. A RefIn violation is not batch-local in EITHER direction: a
  // fact row's miss can be retro-filled by a LATER reference batch, so a
  // truthful running counter must (a) count new misses when fact keys
  // probe the reference store, and (b) count RESOLUTIONS when reference
  // keys probe a store of still-pending misses. That needs the two
  // tables' batches to apply in a defined order — exactly what a CDC
  // topic carrying both tables gives a consumer — so the dual ingest
  // below processes (reference batch, fact batch) per micro-batch,
  // reference first. State: a PENDING-MISS store (`miss/batch=<id>/
  // kbkt=<b>`, last-writer-wins rows `(k0, cnt, ver)` — the release
  // fold's `doc/`-store idiom; a resolution writes a cnt=0 tombstone).
  // Per batch the store reads are bucket-subset: fact keys probe the
  // reference store, reference keys probe the pending store, both
  // delta-bounded. Σ(live deltas) == the readout anti-join at every
  // prefix — spec-pinned with a late-arriving referenced key.
  // ------------------------------------------------------------------

  /** Latest row per key of a last-writer-wins store (pending misses),
    * restricted to `touched` buckets and batches strictly below
    * `batchId`.
    */
  private def pendingMisses(spark: SparkSession, store: String,
                            batchId: Long,
                            touched: Option[Set[Long]]): DataFrame = {
    val dirs = storeLeafDirs(spark, store, batchId, touched)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL("k0 STRING, cnt BIGINT"))
    else {
      import org.apache.spark.sql.expressions.Window
      spark.read.option("basePath", store).parquet(dirs: _*)
        .withColumn("rn", row_number().over(
          Window.partitionBy("k0").orderBy(col("ver").desc)))
        .filter(col("rn") === 1 && col("cnt") > 0)
        .select("k0", "cnt")
    }
  }

  /** One micro-batch of the DUAL keyed audit: the reference table's batch
    * applies first (its keys can resolve pending misses), then the fact
    * table's (its keys can add misses). Both tables get their own full
    * keyed ingest (scalar partials, key stores, live uniqueness deltas);
    * on top, the FK rule's live delta and pending-miss store are
    * maintained under `factRoot/miss` and appended to
    * `factRoot/liveref/batch=<id>`.
    */
  private[graft] def dualKeyedAuditIngestBatch(
      refBatch: DataFrame, factBatch: DataFrame, batchId: Long,
      refRoot: String, factRoot: String,
      refChecks: Seq[Check], refUniques: Seq[Unique],
      factChecks: Seq[Check], factUniques: Seq[Unique],
      ref: RefStream, refCol: String): Unit = {
    val spark = refBatch.sparkSession
    import spark.implicits._
    // reference first: its new keys are visible to this batch's facts
    keyedAuditIngestBatch(refBatch, batchId, refRoot, refChecks, refUniques,
      Seq.empty)
    keyedAuditIngestBatch(factBatch, batchId, factRoot, factChecks,
      factUniques, Seq(ref))
    val missStore = s"$factRoot/miss"
    // resolutions: pending keys the reference batch just satisfied
    val refKeysB = keyCnt(refBatch, Seq(refCol))
    val refTouched = refKeysB.select("kbkt").distinct()
      .collect().map(_.getLong(0)).toSet // ≤ N_BUCKETS
    val resolved = pendingMisses(spark, missStore, batchId,
        Some(refTouched)).alias("p")
      .join(refKeysB.alias("r"), col("p.k0") === col("r.k0"), "left_semi")
      .persist()
    // new misses: this batch's fact keys absent from the ACCUMULATED
    // reference store (including this batch's own reference keys)
    val factKeys = keyCnt(factBatch, Seq(ref.col)).persist()
    val factTouched = factKeys.select("kbkt").distinct()
      .collect().map(_.getLong(0)).toSet
    val refAcc = readStore(spark, ref.refStore, batchId + 1,
        Some(factTouched), 1)
      .select("k0").distinct()
    val misses = factKeys.alias("f")
      .join(refAcc.alias("a"), col("f.k0") === col("a.k0"), "left_anti")
      .select(col("k0"), col("cnt"), col("kbkt")).persist()
    // pending-store update rows: misses fold onto any existing pending
    // count for the same key; resolutions tombstone to 0
    val priorForMiss = pendingMisses(spark, missStore, batchId,
        Some(factTouched)).alias("q")
      .join(misses.alias("m"), col("q.k0") === col("m.k0"), "left_semi")
      .select(col("k0"), col("cnt").as("pcnt"))
    val updates = misses.alias("m")
      .join(priorForMiss.alias("q2"), col("m.k0") === col("q2.k0"), "left")
      .select(col("m.k0").as("k0"),
        (col("m.cnt") + coalesce(col("q2.pcnt"), lit(0L))).as("cnt"),
        col("m.kbkt").as("kbkt"))
      .unionByName(resolved
        .select(col("k0"), lit(0L).as("cnt"),
          pmod(xxhash64(col("k0")), lit(N_BUCKETS)).as("kbkt")))
      .withColumn("ver", lit(batchId))
    updates.repartition(col("kbkt")).write.mode("overwrite")
      .partitionBy("kbkt").parquet(s"$missStore/batch=$batchId")
    val vDelta = misses.agg(coalesce(sum(col("cnt")), lit(0L))).collect()(0)
      .getLong(0) -
      resolved.agg(coalesce(sum(col("cnt")), lit(0L))).collect()(0)
        .getLong(0)
    val nRows = factKeys.agg(coalesce(sum(col("cnt")), lit(0L))).collect()(0)
      .getLong(0)
    misses.unpersist(); resolved.unpersist(); factKeys.unpersist()
    Seq((ref.name, nRows, vDelta)).toDF("constraint", "n_rows", "v_delta")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$factRoot/liveref/batch=$batchId")
    ()
  }

  /** The exact running referential-violation count: Σ of the per-batch
    * dual-ingest deltas — positive when facts miss, negative when a late
    * reference retro-fills. Equals [[keyedAuditFromStore]]'s RefIn row
    * at every prefix (spec-pinned).
    */
  def liveRefViolations(spark: SparkSession, factRoot: String): DataFrame =
    readHistoryRows(spark, s"$factRoot/liveref",
        "constraint STRING, n_rows BIGINT, v_delta BIGINT")
      .groupBy("constraint")
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("v_delta")).as("n_violations"))
      .orderBy("constraint")

  /** q145: VIOLATION ROWS — the row-level companion to the [[audit]]
    * counts (Deequ's row-level results): for every row that fails a
    * scalar rule, one `(table_name, constraint, row_key)` row — the
    * QUARANTINE relation an ingest pipeline diverts for triage/repair
    * while the clean remainder proceeds. Counts tell you the gate
    * failed; this tells you which rows to fix.
    *
    * Scale shape: ONE column-pruned scan per table (all rules ride the
    * same pass via the in-plan `explode` unpivot — same Generate shape
    * as [[scalarAudit]], with the same injection-proof literal names),
    * output violation-sized. NULL fails every rule (the strict-gate
    * semantics, `pred IS NOT TRUE` in the oracle).
    */
  def violationRows(table: String, df: DataFrame, keyCol: String,
                    checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, s"violationRows('$table'): no rules")
    val pairs = checks.map(c => struct(lit(c.name).as("constraint"),
      when(c.ok, lit(0L)).otherwise(lit(1L)).as("bad")))
    df.select(col(keyCol).as("row_key"), explode(array(pairs: _*)).as("kv"))
      .filter(col("kv.bad") === 1)
      .select(lit(table).as("table_name"),
        col("kv.constraint").as("constraint"), col("row_key"))
  }

  /** The q145 catalog relation: the corpus gate's scalar rules applied
    * row-level over documents + embeddings.
    */
  def corpusViolationRows(spark: SparkSession, sfDir: String): DataFrame =
    violationRows("documents", Tables.documents(spark, sfDir), "doc_id",
        corpusDocChecks)
      .unionByName(violationRows("embeddings",
        Tables.embeddings(spark, sfDir), "vec_id", corpusEmbChecks))
      .orderBy("table_name", "constraint", "row_key")

  /** q146: QUARANTINE ROUTING — the applied twin of [[violationRows]]
    * (the q125-to-q115 / q127-to-q50 relationship, for expectations):
    * EVERY row of the audited table labeled `clean` or `quarantined`,
    * with the failure count and the alphabetically-ordered list of
    * failed constraints. q145 lists the violations; this is the relation
    * an ingest pipeline actually splits on — quarantined rows divert for
    * triage/repair, clean rows proceed to dedup/mixing/release — and the
    * two share one rule set ([[corpusDocChecks]]/[[corpusEmbChecks]]) so
    * report and routing cannot disagree (spec-pinned: per-constraint
    * quarantined membership == q145's rows).
    *
    * Scale shape: ONE column-pruned scan per table; every rule is a
    * per-row predicate folded into two row-local expressions (a sum and
    * a null-skipping `concat_ws` — checks pre-sorted by name so the
    * label list needs no per-row sort), so the route is shuffle-free and
    * whole-stage-codegen'd end to end. NULL fails every rule (the
    * strict-gate semantics shared with [[scalarAudit]]).
    */
  def quarantineRoute(table: String, df: DataFrame, keyCol: String,
                      checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, s"quarantineRoute('$table'): no rules")
    val sorted = checks.sortBy(_.name)
    val nFailed = sorted.map(c => when(c.ok, lit(0L)).otherwise(lit(1L)))
      .reduce(_ + _)
    val failed = concat_ws(",", sorted.map(c =>
      when(c.ok, lit(null).cast("string")).otherwise(lit(c.name))): _*)
    df.select(col(keyCol).as("row_key"), nFailed.as("n_failed"),
        failed.as("failed"))
      .select(lit(table).as("table_name"), col("row_key"), col("n_failed"),
        col("failed"),
        when(col("n_failed") === 0, lit("clean"))
          .otherwise(lit("quarantined")).as("status"))
  }

  /** The q146 catalog relation: the corpus gate's scalar rules routed
    * row-level over documents + embeddings.
    */
  def corpusQuarantineRoute(spark: SparkSession, sfDir: String): DataFrame =
    quarantineRoute("documents", Tables.documents(spark, sfDir), "doc_id",
        corpusDocChecks)
      .unionByName(quarantineRoute("embeddings",
        Tables.embeddings(spark, sfDir), "vec_id", corpusEmbChecks))
      .orderBy("table_name", "row_key")

  // ------------------------------------------------------------------
  // Streaming quarantine — q145's violation rows as a CHANNEL (q147).
  // Scalar-rule violations are row-local, so the stream is the cheapest
  // posture in the family (the chunk-ingest shape): each micro-batch
  // writes ITS OWN violation rows under `batch=<id>` — append-only
  // deltas, no state, no probe of prior batches — and the accumulated
  // store read back IS the batch q145 relation over everything ingested
  // (distributivity is trivial: a row's violations depend on that row
  // alone). Replay = deterministic overwrite of your own batch dir.
  // This is the quarantine SINK a streaming ingest actually wires: the
  // diverted rows land as they arrive, not at the next full audit.
  // ------------------------------------------------------------------

  /** One micro-batch of the streaming quarantine (factored out so the
    * replay and stream==batch specs drive it directly).
    */
  private[graft] def quarantineIngestBatch(batch: DataFrame, batchId: Long,
                                           qdir: String, table: String,
                                           keyCol: String,
                                           checks: Seq[Check]): Unit = {
    violationRows(table, batch, keyCol, checks)
      .write.mode("overwrite").parquet(s"$qdir/batch=$batchId")
    ()
  }

  /** The long-running quarantine channel for one audited table's stream:
    * per micro-batch, its scalar-rule violation rows append under
    * `qdir/batch=<id>`.
    */
  def streamingQuarantineIngest(docs: DataFrame, qdir: String,
                                checkpoint: String, table: String,
                                keyCol: String, checks: Seq[Check])
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        quarantineIngestBatch(batch, batchId, qdir, table, keyCol, checks)
      }
      .start()

  /** The accumulated quarantine relation of one table's channel —
    * equals [[violationRows]] over everything ingested so far.
    */
  def quarantineFromStore(spark: SparkSession, qdir: String): DataFrame =
    spark.read.option("basePath", qdir).parquet(qdir)
      .select("table_name", "constraint", "row_key")

  /** q147: the q145 quarantine relation read off the STREAMING channels —
    * documents and embeddings each folded in three deterministic
    * residue batches (the q141 idiom), then the relation is the two
    * stores' union. The oracle is q145's SQL VERBATIM — stream==batch
    * equality at every scale IS the contract. State is a content-keyed
    * build-once artifact; per catalog call the cost is the readout.
    */
  def streamingQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val root = ensureQuarantineState(spark, sfDir)
    quarantineFromStore(spark, s"$root/docs")
      .unionByName(quarantineFromStore(spark, s"$root/embs"))
      .orderBy("table_name", "constraint", "row_key")
  }

  private[graft] def ensureQuarantineState(spark: SparkSession,
                                           sfDir: String): String =
    DedupArtifacts.cachedDir(s"quarantine|$sfDir") {
      val docs = Tables.documents(spark, sfDir)
      val embs = Tables.embeddings(spark, sfDir)
      val key = DedupArtifacts.corpusKey(docs, s"quarantine|$sfDir") + "|" +
        DedupArtifacts.embeddingsKey(embs, "e") + "|v=1"
      DedupArtifacts.ensureTree(key) { stage =>
        (0 until 3).foreach { i =>
          quarantineIngestBatch(
            docs.filter(pmod(col("doc_id"), lit(3L)) === i), i.toLong,
            s"$stage/docs", "documents", "doc_id", corpusDocChecks)
          quarantineIngestBatch(
            embs.filter(pmod(col("vec_id"), lit(3L)) === i), i.toLong,
            s"$stage/embs", "embeddings", "vec_id", corpusEmbChecks)
        }
      }
    }

  // ------------------------------------------------------------------
  // KEYED row-level quarantine (round-16 rung) — q145/q146 cover scalar
  // rules only, but a real ingest gate must also divert the
  // SECOND-AND-LATER COPIES of a duplicated key (Unique) and the
  // DANGLING-FK facts (RefIn): both violation classes have row identity
  // too. Batch twins below; the streaming form ([[keyedRouteFromStore]])
  // reads the keyed-audit key-count stores — which already hold exactly
  // the state needed — and never rescans the raw table.
  // ------------------------------------------------------------------

  /** q151: the keyed companion to [[violationRows]]: one `(table_name,
    * constraint, row_key)` row per PHYSICAL ROW violating a Unique or
    * RefIn rule — every copy of a duplicated key (the batch [[audit]]
    * counts ALL copies of a cnt>1 group as violations, and this relation
    * pins that membership row-for-row: its per-constraint count equals
    * the audit's `n_violations`), and every fact row whose key misses the
    * referenced set (a NULL key violates — the strict RefIn semantics).
    *
    * `keyCol` is the table's row-identity column; for a table with no
    * row identity beyond the audited key itself (lineitem), the key IS
    * the row_key and multiplicity carries "how many copies".
    *
    * Scale shape: one key-shuffle per Unique rule (a window count over
    * the key — the same shuffle the audit pays, but retaining the
    * violating rows) and one join per RefIn rule; output
    * violation-sized.
    */
  def keyedViolationRows(table: String, df: DataFrame, keyCol: String,
                         uniques: Seq[Unique], refs: Seq[RefIn]): DataFrame = {
    require(uniques.nonEmpty || refs.nonEmpty,
      s"keyedViolationRows('$table'): no keyed rules")
    import org.apache.spark.sql.expressions.Window
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    uniques.foreach { u =>
      val w = Window.partitionBy(u.cols.map(col): _*)
      parts += df
        .select(col(keyCol).as("row_key"),
          count(lit(1)).over(w).as("__cnt"))
        .filter(col("__cnt") > 1)
        .select(lit(table).as("table_name"), lit(u.name).as("constraint"),
          col("row_key"))
    }
    refs.foreach { r =>
      val refKeys = r.ref.select(col(r.refCol).as("__ref_key")).distinct()
      parts += df.select(col(keyCol).as("row_key"), col(r.col).as("__key"))
        .join(refKeys, col("__key") === col("__ref_key"), "left_anti")
        .select(lit(table).as("table_name"), lit(r.name).as("constraint"),
          col("row_key"))
    }
    parts.reduce(_ unionByName _)
  }

  /** q152: the COMPLETE row-level gate route — [[quarantineRoute]]
    * extended with the keyed rule classes, i.e. the relation an ingest
    * actually splits on when its suite carries scalar AND Unique AND
    * RefIn rules: every physical row labeled `clean`/`quarantined` with
    * the failure count and the name-sorted failed-constraint list.
    *
    * Unique semantics ("divert the second-and-later copies"): within a
    * duplicated key, copies rank by their NON-UNIQUE failure signature
    * (failure count, then the name-sorted label list) so the CLEANEST
    * copy is the one kept; signature ties break on a whole-row hash, and
    * with 2+ Unique rules a per-signature tie INDEX (one extra narrow
    * shuffle, only in that case) keeps the kept copy consistent across
    * every rule's window — the combined failed-label multiset is a
    * deterministic function of the input multiset (fully identical
    * physical rows are interchangeable by construction; 64-bit hash
    * collisions between differing rows are the only residual, and only
    * for their tie order). The kept copy carries no unique failure;
    * every later copy does. RefIn failures are row-local flags (NULL
    * key fails).
    *
    * Scale shape: scalar + RefIn flags ride one column-pruned scan (one
    * key join per RefIn rule, AQE-broadcast for dim-sized reference
    * sets); each Unique rule adds one key-shuffled window — the same
    * shuffle its audit pays. Output = #rows, labeled.
    */
  def keyedQuarantineRoute(table: String, df: DataFrame, keyCol: String,
                           checks: Seq[Check], uniques: Seq[Unique],
                           refs: Seq[RefIn]): DataFrame = {
    require(checks.nonEmpty || uniques.nonEmpty || refs.nonEmpty,
      s"keyedQuarantineRoute('$table'): no rules")
    import org.apache.spark.sql.expressions.Window
    // RefIn presence markers: one left join per rule on the distinct
    // referenced keys (=== not <=>: a NULL fact key matches nothing)
    val withRefs = refs.zipWithIndex.foldLeft(df) { case (acc, (r, i)) =>
      val rk = r.ref.select(col(r.refCol).as(s"__rk$i")).distinct()
        .withColumn(s"__rp$i", lit(1))
      acc.join(rk, acc(r.col) === rk(s"__rk$i"), "left").drop(s"__rk$i")
    }
    val scalarPairs = checks.map(c =>
      (c.name, when(c.ok, lit(0L)).otherwise(lit(1L))))
    val refPairs = refs.zipWithIndex.map { case (r, i) =>
      (r.name, when(col(s"__rp$i").isNull, lit(1L)).otherwise(lit(0L)))
    }
    val otherPairs = (scalarPairs ++ refPairs).sortBy(_._1)
    val nfOther = otherPairs.map(_._2).reduceOption(_ + _).getOrElse(lit(0L))
    val failedOther = concat_ws(",", otherPairs.map { case (n, f) =>
      when(f === 1L, lit(n)).otherwise(lit(null).cast("string"))
    }: _*)
    // shared deterministic tiebreakers for the unique windows: a
    // whole-row hash (row-local, rides the windows' own key shuffles)
    // orders differing copies totally; with 2+ Unique rules, identical
    // rows additionally get a per-hash tie index so every rule's window
    // keeps the SAME copy (one extra narrow shuffle, only in that case)
    val rowSig = xxhash64(df.columns.map(c => df(c)): _*)
    val sig0 = withRefs.withColumn("__nfo", nfOther)
      .withColumn("__sfo", failedOther)
      .withColumn("__rsig", rowSig)
    val sig =
      if (uniques.size <= 1) sig0
      else sig0.withColumn("__tie", row_number().over(
        Window.partitionBy(col("__rsig")).orderBy(lit(1))))
    val tieCols =
      if (uniques.size <= 1) Seq(col("__rsig"))
      else Seq(col("__rsig"), col("__tie"))
    val withU = uniques.zipWithIndex.foldLeft(sig) { case (acc, (u, i)) =>
      val w = Window.partitionBy(u.cols.map(col): _*)
        .orderBy(col("__nfo") +: col("__sfo") +: tieCols: _*)
      acc.withColumn(s"__uf$i",
        (row_number().over(w) > 1).cast("long"))
    }
    val uniquePairs = uniques.zipWithIndex.map { case (u, i) =>
      (u.name, col(s"__uf$i"))
    }
    val sorted = (scalarPairs ++ refPairs ++ uniquePairs).sortBy(_._1)
    val nFailed = sorted.map(_._2).reduce(_ + _)
    val failed = concat_ws(",", sorted.map { case (n, f) =>
      when(f === 1L, lit(n)).otherwise(lit(null).cast("string"))
    }: _*)
    withU
      .select(col(keyCol).as("row_key"), nFailed.as("n_failed"),
        failed.as("failed"))
      .select(lit(table).as("table_name"), col("row_key"), col("n_failed"),
        col("failed"),
        when(col("n_failed") === 0, lit("clean"))
          .otherwise(lit("quarantined")).as("status"))
  }

  /** q153: the KEYED route read off a keyed-audit ingest's stores — the
    * streaming form of [[keyedQuarantineRoute]]'s Unique/RefIn classes.
    * The key-count stores already hold (key, cnt) partials and the
    * referenced key set, so the route never rescans the raw table: per
    * key, `explode(sequence(1, cnt))` reconstitutes the copies (1 clean
    * + cnt-1 quarantined under a duplicated Unique key — exactly the
    * batch twin's multiset, which among indistinguishable copies is the
    * whole truth), and RefIn membership is one anti-join of compact key
    * partials decided at readout — exact under late reference arrivals
    * (the [[keyedAuditFromStore]] rule).
    *
    * Scale shape: reads are (distinct-key)-sized partial relations, one
    * key shuffle to merge partials, one join per RefIn rule, and an
    * output-sized generate — never a corpus rescan.
    *
    * COMPOUND keys route too (round-17 rung): the key-count stores are
    * multi-column already (`k0..kn`), so a Unique on e.g.
    * `(l_partkey, l_suppkey)` reconstitutes its copies the same way —
    * the output then carries the key's ORIGINAL column names instead of
    * `row_key` (the row identity is the tuple). RefStream rules imply a
    * single-column key set; a compound set routes its Unique rules
    * alone. The COMPLETE scalar+keyed composition lives in
    * [[routeFromStore]].
    */
  def keyedRouteFromStore(spark: SparkSession, table: String, root: String,
                          uniques: Seq[Unique],
                          refs: Seq[RefStream]): DataFrame = {
    require(uniques.nonEmpty || refs.nonEmpty,
      s"keyedRouteFromStore('$table'): no keyed rules")
    val keySets = (uniques.map(_.cols) ++ refs.map(r => Seq(r.col))).distinct
    require(keySets.size == 1,
      s"keyedRouteFromStore('$table'): all keyed rules must share one " +
        "key set (the table's audited key) — rules on " +
        s"${keySets.mkString(", ")} have no shared row identity in the store")
    val cols = keySets.head
    val n = cols.size
    val ks = (0 until n).map(i => col(s"k$i"))
    val acc = readStore(spark, keyStoreDir(root, cols), Long.MaxValue,
        None, n)
      .groupBy(ks: _*).agg(sum(col("cnt")).as("cnt"))
    // RefStream rules imply a single-column key set (Seq(r.col) must
    // equal `cols` above), so the reference joins below only ever see
    // n == 1 — a COMPOUND key set routes its Unique rules alone
    val withRefs = refs.zipWithIndex.foldLeft(acc) { case (a, (r, i)) =>
      val rk = readStore(spark, r.refStore, Long.MaxValue, None, 1)
        .select(col("k0").as(s"__rk$i")).distinct()
        .withColumn(s"__rp$i", lit(1))
      a.join(rk, a("k0") === rk(s"__rk$i"), "left").drop(s"__rk$i")
    }
    val copies = withRefs.withColumn("__copy",
      explode(sequence(lit(1L), col("cnt"))))
    val pairs = (uniques.map(u =>
        (u.name, when(col("__copy") > 1, lit(1L)).otherwise(lit(0L)))) ++
      refs.zipWithIndex.map { case (r, i) =>
        (r.name, when(col(s"__rp$i").isNull, lit(1L)).otherwise(lit(0L)))
      }).sortBy(_._1)
    val nFailed = pairs.map(_._2).reduce(_ + _)
    val failed = concat_ws(",", pairs.map { case (n2, f) =>
      when(f === 1L, lit(n2)).otherwise(lit(null).cast("string"))
    }: _*)
    // output key naming: a single-column key keeps the established
    // `row_key` shape (the q153 contract); a compound key emits its
    // ORIGINAL column names — the row identity is the tuple
    val keyNames = if (n == 1) Seq("row_key") else cols
    val keyOut = keyNames.zipWithIndex.map { case (c, i) =>
      col(s"k$i").as(c)
    }
    copies
      .select(keyOut :+ nFailed.as("n_failed") :+ failed.as("failed"): _*)
      .select(lit(table).as("table_name") +: keyNames.map(col) :+
        col("n_failed") :+ col("failed") :+
        when(col("n_failed") === 0, lit("clean"))
          .otherwise(lit("quarantined")).as("status"): _*)
  }

  /** q138: the snapshot-gate audit over the warehouse tables — the
    * constraint suite a pipeline would run before trusting an ingested
    * snapshot. Two rules are deliberately strict enough to FAIL on this
    * data (the price ceiling; one-row-per-order on lineitem, which is
    * false by construction), so the audit demonstrably surfaces
    * violations rather than vacuously passing.
    */
  /** The q138 warehouse rule sets, named once so the audit (q138), the
    * keyed row-level relations (q151/q152) and the streaming keyed route
    * (q153) evaluate the SAME constraints — the corpusDocChecks
    * convention applied to the warehouse gate.
    */
  private[graft] val ordersChecks: Seq[Check] = Seq(
    notNull("o_custkey"),
    inSet("o_orderstatus", Seq("O", "F", "P")),
    between("o_totalprice", 0.0, 400000.0))
  private[graft] val ordersUniques: Seq[Unique] =
    Seq(Unique("unique:o_orderkey", Seq("o_orderkey")))
  private[graft] val lineitemChecks: Seq[Check] =
    Seq(between("l_quantity", 1.0, 50.0))
  private[graft] val lineitemUniques: Seq[Unique] =
    Seq(Unique("unique:l_orderkey", Seq("l_orderkey")))
  private[graft] val LI_REF_NAME = "ref:l_orderkey->orders.o_orderkey"
  private[graft] val customerChecks: Seq[Check] = Seq(notNull("c_mktsegment"))
  private[graft] val CUST_REF_NAME = "ref:c_nationkey->nation.n_nationkey"

  def warehouseAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    val nation = Tables.nation(spark, sfDir)
    audit("orders", orders, ordersChecks ++ ordersUniques)
      .unionByName(audit("lineitem", lineitem,
        lineitemChecks ++ lineitemUniques :+
          RefIn(LI_REF_NAME, "l_orderkey", orders, "o_orderkey")))
      .unionByName(audit("customer", customer,
        customerChecks :+
          RefIn(CUST_REF_NAME, "c_nationkey", nation, "n_nationkey")))
      .orderBy("table_name", "constraint")
  }

  /** The q151 catalog relation: keyed row-level violations over the
    * warehouse gate's Unique/RefIn rules — populated by construction
    * (lineitem's one-row-per-order rule is false on this data, so every
    * multi-line order's copies surface), membership spec-pinned equal to
    * q138's per-rule `n_violations`.
    */
  def warehouseKeyedViolationRows(spark: SparkSession,
                                  sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    keyedViolationRows("orders", orders, "o_orderkey", ordersUniques, Nil)
      .unionByName(keyedViolationRows("lineitem",
        Tables.lineitem(spark, sfDir), "l_orderkey", lineitemUniques,
        Seq(RefIn(LI_REF_NAME, "l_orderkey", orders, "o_orderkey"))))
      .unionByName(keyedViolationRows("customer",
        Tables.customer(spark, sfDir), "c_custkey", Nil,
        Seq(RefIn(CUST_REF_NAME, "c_nationkey", Tables.nation(spark, sfDir),
          "n_nationkey"))))
      .orderBy("table_name", "constraint", "row_key")
  }

  /** The q152 catalog relation: the complete row-level gate route
    * (scalar + Unique + RefIn) over the warehouse tables — q138's whole
    * rule suite as the split relation an ingest diverts on. The final
    * order includes (n_failed, failed) so duplicated row_keys (copies
    * with different verdicts) order totally.
    */
  def warehouseRowGateRoute(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    keyedQuarantineRoute("orders", orders, "o_orderkey", ordersChecks,
        ordersUniques, Nil)
      .unionByName(keyedQuarantineRoute("lineitem",
        Tables.lineitem(spark, sfDir), "l_orderkey", lineitemChecks,
        lineitemUniques,
        Seq(RefIn(LI_REF_NAME, "l_orderkey", orders, "o_orderkey"))))
      .unionByName(keyedQuarantineRoute("customer",
        Tables.customer(spark, sfDir), "c_custkey", customerChecks, Nil,
        Seq(RefIn(CUST_REF_NAME, "c_nationkey", Tables.nation(spark, sfDir),
          "n_nationkey"))))
      .orderBy("table_name", "row_key", "n_failed", "failed")
  }

  /** q153: the keyed route read off STREAMING keyed-audit stores —
    * orders and lineitem folded in three residue batches (lineitem split
    * on `(4·l_orderkey + l_linenumber) mod 3`, so the copies of one
    * order land in DIFFERENT batches: the cross-batch duplicates a
    * per-batch monitor would miss are the catalog case itself, not just
    * a spec plant), then the route reconstituted from the key-count
    * stores alone. The oracle is the batch keyed route's SQL — the
    * stream==batch contract over state that never rescans raw rows.
    */
  def streamingWarehouseKeyedRoute(spark: SparkSession,
                                   sfDir: String): DataFrame = {
    val root = ensureWarehouseKeyedState(spark, sfDir)
    keyedRouteFromStore(spark, "orders", s"$root/orders", ordersUniques, Nil)
      .unionByName(keyedRouteFromStore(spark, "lineitem", s"$root/lineitem",
        lineitemUniques,
        Seq(RefStream(LI_REF_NAME, "l_orderkey",
          keyStoreDir(s"$root/orders", Seq("o_orderkey"))))))
      .orderBy("table_name", "row_key", "n_failed", "failed")
  }

  private[graft] def ensureWarehouseKeyedState(spark: SparkSession,
                                               sfDir: String): String =
    DedupArtifacts.cachedDir(s"whkaudit|$sfDir") {
      val orders = Tables.orders(spark, sfDir)
      val lineitem = Tables.lineitem(spark, sfDir)
      def fp(df: DataFrame, k: String, k2: String): String = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(col(k)), lit(0L)),
          coalesce(expr(s"bit_xor(xxhash64($k, $k2))"), lit(0L))).collect()(0)
        s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}"
      }
      val key = s"whkaudit|${fp(orders, "o_orderkey", "o_custkey")}|" +
        s"${fp(lineitem, "l_orderkey", "l_linenumber")}|v=1"
      DedupArtifacts.ensureTree(key) { stage =>
        (0 until 3).foreach { i =>
          keyedAuditIngestBatch(
            orders.filter(pmod(col("o_orderkey"), lit(3L)) === i), i.toLong,
            s"$stage/orders", Nil, ordersUniques, Nil)
        }
        (0 until 3).foreach { i =>
          keyedAuditIngestBatch(
            lineitem.filter(pmod(col("l_orderkey") * 4 + col("l_linenumber"),
              lit(3L)) === i), i.toLong,
            s"$stage/lineitem", Nil, lineitemUniques,
            Seq(RefStream(LI_REF_NAME, "l_orderkey",
              keyStoreDir(s"$stage/orders", Seq("o_orderkey")))))
        }
      }
    }

  private[graft] val PARTSUPP_RULE = "unique:l_partkey_l_suppkey"

  /** q162: the keyed route over a COMPOUND key, read off streaming
    * key-count stores — the q153 semantics with the
    * single-column-key restriction lifted: lineitem audited for
    * one-lineitem-per-(l_partkey, l_suppkey) (false on this data by
    * construction — a part-supplier pair ships in many orders), folded
    * in the `(4·l_orderkey + l_linenumber) mod 3` residue batches so a
    * pair's copies land in different batches (cross-batch compound
    * duplicates are the catalog case), then every physical copy
    * reconstituted from the multi-column store alone. Output keys carry
    * their original column names — the row identity is the tuple.
    */
  def streamingCompoundKeyedRoute(spark: SparkSession,
                                  sfDir: String): DataFrame =
    keyedRouteFromStore(spark, "lineitem",
        ensurePartSuppKeyedState(spark, sfDir),
        Seq(Unique(PARTSUPP_RULE, Seq("l_partkey", "l_suppkey"))), Nil)
      .orderBy("table_name", "l_partkey", "l_suppkey", "n_failed")

  private[graft] def ensurePartSuppKeyedState(spark: SparkSession,
                                              sfDir: String): String =
    DedupArtifacts.cachedDir(s"whpskaudit|$sfDir") {
      val lineitem = Tables.lineitem(spark, sfDir)
      val fp = {
        val r = lineitem.agg(count(lit(1)),
          coalesce(expr("bit_xor(xxhash64(l_partkey, l_suppkey))"), lit(0L)))
          .collect()(0)
        s"${r.getLong(0)}|${r.getLong(1)}"
      }
      DedupArtifacts.ensureTree(s"whpskaudit|$fp|v=1") { stage =>
        (0 until 3).foreach { i =>
          keyedAuditIngestBatch(
            lineitem.filter(pmod(col("l_orderkey") * 4 + col("l_linenumber"),
              lit(3L)) === i), i.toLong, stage, Nil,
            Seq(Unique(PARTSUPP_RULE, Seq("l_partkey", "l_suppkey"))), Nil)
        }
      }
    }

  // ------------------------------------------------------------------
  // COMPLETE streaming row-level route (round-17 rung) — q147 streams
  // the scalar verdicts, q153 the keyed ones; nothing emitted the q152
  // relation (scalar + Unique + RefIn per physical row) from stores
  // alone. The ROUTE STORE closes that: each micro-batch appends one
  // row per physical row holding ONLY its row key, its RefIn fact keys,
  // and its scalar failure signature (count + name-sorted labels,
  // almost always 0/''), so the readout can reconstitute every copy's
  // complete verdict without ever rescanning the raw table. Row-level
  // readouts need row-level state, but the width is keys+labels — never
  // the payload: at 100 TB this is a few percent of the corpus, the
  // same honesty class as the q147 violation channel. RefIn membership
  // is decided at READOUT against the referenced table's accumulated
  // route keys (exact under late reference arrivals — the
  // keyedAuditFromStore rule); Unique ranks copies per key by their
  // non-unique signature at readout, so the cleanest copy is kept
  // exactly as the batch twin ranks them.
  // ------------------------------------------------------------------

  /** One micro-batch of the route-store ingest (factored out for the
    * replay and stream==batch specs): writes
    * `(k, <ref fact cols...>, nfo, sfo)` per physical row under
    * `root/batch=<id>/kbkt=<b>` — append-only deltas, no probe of prior
    * batches (a row's scalar signature depends on that row alone);
    * replay overwrites its own dir deterministically. A referenced
    * table ingests with empty rules: its store is then just the key
    * relation its dependents resolve RefIn against.
    */
  private[graft] def routeIngestBatch(batch: DataFrame, batchId: Long,
                                      root: String, keyCol: String,
                                      checks: Seq[Check],
                                      refCols: Seq[String]): Unit = {
    val sorted = checks.sortBy(_.name)
    val nfo = sorted.map(c => when(c.ok, lit(0L)).otherwise(lit(1L)))
      .reduceOption(_ + _).getOrElse(lit(0L))
    val sfo = concat_ws(",", sorted.map(c =>
      when(c.ok, lit(null).cast("string")).otherwise(lit(c.name))): _*)
    val extra = refCols.filterNot(_ == keyCol).distinct
    batch
      .select(col(keyCol).as("k") +: extra.map(col) :+ nfo.as("nfo") :+
        sfo.as("sfo"): _*)
      .withColumn("kbkt", pmod(xxhash64(col("k")), lit(N_BUCKETS)))
      .repartition(col("kbkt"))
      .write.mode("overwrite").partitionBy("kbkt")
      .parquet(s"$root/batch=$batchId")
    ()
  }

  /** The long-running route-store ingest for one audited table.
    * `compactEvery` > 0 codes the retention policy (the q156
    * convention): every K-th batch consolidates the accumulated
    * per-batch dirs below its own id via [[compactRouteStore]], so the
    * readout enumerates ≤ K+1 dirs instead of one per batch ever
    * ingested — same replay rule as every policy here (a replayed
    * policy batch re-consolidates the same prefix its first attempt
    * did).
    */
  def streamingRouteIngest(docs: DataFrame, root: String,
                           checkpoint: String, keyCol: String,
                           checks: Seq[Check], refCols: Seq[String] = Nil,
                           compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 0, "compactEvery: 0 disables, else every K batches")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        routeIngestWithPolicy(batch, batchId, root, keyCol, checks,
          refCols, compactEvery)
      }
      .start()
  }

  private[graft] def routeIngestWithPolicy(batch: DataFrame, batchId: Long,
                                           root: String, keyCol: String,
                                           checks: Seq[Check],
                                           refCols: Seq[String],
                                           compactEvery: Int): Unit = {
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compactRouteStore(batch.sparkSession, root, below = batchId)
    routeIngestBatch(batch, batchId, root, keyCol, checks, refCols)
  }

  /** Consolidate a route store's eligible per-batch dirs below `below`
    * into ONE generation under the shared `_GEN` pointer protocol
    * ([[publishGeneration]] — publish-the-pointer is the commit). Route
    * rows are per-physical-row FACTS, so consolidation is a rewrite,
    * not an aggregation: every row survives verbatim (the per-copy
    * contract — the same rule the release compactor follows for quar
    * rows), re-bucketed one file per kbkt dir.
    */
  def compactRouteStore(spark: SparkSession, root: String,
                        below: Long = Long.MaxValue): Unit = {
    val base = new org.apache.hadoop.fs.Path(root)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return
    val batches = eligibleBatches(fs, root, below)
    if (batches.size > 1) {
      val allDirs = fs.listStatus(base).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
      val gen = math.min(allDirs.min, 0L) - 1L
      val covered = batches.filter(_ >= 0).max
      val out = spark.read.option("basePath", root)
        .parquet(batches.map(b => s"$root/batch=$b"): _*)
        .drop("batch")
      publishGeneration(spark, fs, root, gen, covered, allDirs,
        out.repartition(col("kbkt")).write.partitionBy("kbkt"))
    }
  }

  /** Pointer-aware whole-store read of a route store: without a `_GEN`
    * pointer every visible dir is eligible and ONE parallel partition
    * discovery beats per-leaf enumeration (the readStore fast path);
    * with one, the named generation plus the batches above its
    * coverage.
    */
  private def readRouteStore(spark: SparkSession, root: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(root)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val neverCompacted = fs.exists(base) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/$GEN_MARKER"))
    if (neverCompacted) spark.read.option("basePath", root).parquet(root)
    else {
      val dirs = storeLeafDirs(spark, root, Long.MaxValue, None)
      require(dirs.nonEmpty, s"route store $root has no eligible batches")
      spark.read.option("basePath", root).parquet(dirs: _*)
    }
  }

  /** The COMPLETE row-level route off route stores alone — equals
    * [[keyedQuarantineRoute]] (q152) over everything ingested so far,
    * physical row for physical row. Uniques must key the table's own
    * `keyCol` (their ranking defines which copy of a duplicated row key
    * is kept); RefIn rules resolve each stored fact key against the
    * referenced table's accumulated route keys.
    *
    * Scale shape: one scan of this table's route store collapsed to
    * its distinct-verdict groups (`cnt` per (k, fact keys, signature) —
    * duplicates compress), one distinct-key join per RefIn, ONE key
    * window over the output-sized reconstituted copies when Unique
    * rules exist, and an output-sized Generate — the raw table is never
    * rescanned.
    */
  def routeFromStore(spark: SparkSession, table: String, root: String,
                     keyCol: String, uniques: Seq[Unique],
                     refs: Seq[RefStream]): DataFrame = {
    uniques.foreach(u => require(u.cols == Seq(keyCol),
      s"routeFromStore('$table'): Unique '${u.name}' keys ${u.cols}, but " +
        s"the route store's row identity is '$keyCol' — a Unique on " +
        "another key set has no per-copy rank here (use the compound " +
        "key-store route for multi-column keys)"))
    val store = readRouteStore(spark, root)
    val grp = store.groupBy(store.columns
        .filterNot(c => c == "kbkt" || c == "batch").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val withRefs = refs.zipWithIndex.foldLeft(grp) { case (acc, (r, i)) =>
      val rk = readRouteStore(spark, r.refStore)
        .select(col("k").as(s"__rk$i")).distinct()
        .withColumn(s"__rp$i", lit(1))
      val factKey = if (r.col == keyCol) acc("k") else acc(r.col)
      acc.join(rk, factKey === rk(s"__rk$i"), "left").drop(s"__rk$i")
    }
    val refPairs = refs.zipWithIndex.map { case (r, i) =>
      (r.name, when(col(s"__rp$i").isNull, lit(1L)).otherwise(lit(0L)))
    }
    val nfoAll = refPairs.map(_._2).foldLeft(col("nfo"))(_ + _)
    val refLabels = refPairs.map { case (n, f) =>
      when(f === 1L, lit(n)).otherwise(lit(null).cast("string"))
    }
    // name-sorted merge of the stored scalar labels with the readout's
    // ref/unique labels (general, not concat-order-dependent)
    def mergeLabels(extra: Seq[Column]): Column =
      array_join(array_sort(filter(
        concat(split(col("sfo"), ","), array(extra: _*)),
        x => x.isNotNull && x =!= lit(""))), ",")
    val verdicts = withRefs
      .withColumn("__sfoAll", mergeLabels(refLabels))
      .withColumn("__nfoAll", nfoAll)
    // Rank the DISTINCT verdict groups per key BEFORE reconstituting the
    // copies (guide §3.3: explode multiplies the shuffle — the window's
    // key exchange and per-partition sort then carry one row per
    // distinct (key, fact, signature) group instead of one per physical
    // copy; under a crawl-duplicate storm that is the difference between
    // shuffling #copies and #groups). Equivalent to ranking the exploded
    // copies by (__nfoAll, __sfoAll, __copy): only rank 1 is ever kept,
    // it is the first copy of the (nfo, sfo)-cleanest group either way,
    // and groups tied on the full sort key project identical output
    // rows, so an arbitrary tie winner is the same relation.
    val ranked0 =
      if (uniques.isEmpty) verdicts
      else verdicts.withColumn("__grk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")
          .orderBy(col("__nfoAll"), col("__sfoAll"))))
    val copies = ranked0
      .withColumn("__copy", explode(sequence(lit(1L), col("cnt"))))
    val ranked =
      if (uniques.isEmpty) copies.withColumn("__uf", lit(0L))
      else copies.withColumn("__uf",
        (col("__grk") > 1 || col("__copy") > 1L).cast("long"))
    val uLabels = uniques.map(u =>
      when(col("__uf") === 1L, lit(u.name)).otherwise(lit(null).cast("string")))
    val nFailed = col("__nfoAll") + col("__uf") * lit(uniques.size.toLong)
    val failed =
      if (uniques.isEmpty) col("__sfoAll")
      else array_join(array_sort(filter(
        concat(split(col("__sfoAll"), ","), array(uLabels: _*)),
        x => x.isNotNull && x =!= lit(""))), ",")
    ranked
      .select(lit(table).as("table_name"), col("k").as("row_key"),
        nFailed.as("n_failed"), failed.as("failed"))
      .select(col("table_name"), col("row_key"), col("n_failed"),
        col("failed"),
        when(col("n_failed") === 0, lit("clean"))
          .otherwise(lit("quarantined")).as("status"))
  }

  /** q161: the q152 COMPLETE row-level gate route read off STREAMING
    * route stores — orders, lineitem, customer and nation each folded
    * in three residue batches (lineitem on the
    * `(4·l_orderkey + l_linenumber) mod 3` split, so one order's copies
    * land in different batches — the cross-batch case is the catalog
    * case), then the q152 relation reconstituted from the stores alone:
    * scalar signatures stored per row at ingest, RefIn resolved against
    * the referenced stores' keys at readout, Unique ranked per key by
    * the stored signatures (cleanest copy kept — the batch twin's
    * rule). The oracle is q152's SQL VERBATIM — the stream==batch
    * contract for the complete route.
    */
  def streamingWarehouseRowGateRoute(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    val root = ensureWarehouseRouteState(spark, sfDir)
    routeFromStore(spark, "orders", s"$root/orders", "o_orderkey",
        ordersUniques, Nil)
      .unionByName(routeFromStore(spark, "lineitem", s"$root/lineitem",
        "l_orderkey", lineitemUniques,
        Seq(RefStream(LI_REF_NAME, "l_orderkey", s"$root/orders"))))
      .unionByName(routeFromStore(spark, "customer", s"$root/customer",
        "c_custkey", Nil,
        Seq(RefStream(CUST_REF_NAME, "c_nationkey", s"$root/nation"))))
      .orderBy("table_name", "row_key", "n_failed", "failed")
  }

  private[graft] def ensureWarehouseRouteState(spark: SparkSession,
                                               sfDir: String): String =
    DedupArtifacts.cachedDir(s"whroute|$sfDir") {
      val orders = Tables.orders(spark, sfDir)
      val lineitem = Tables.lineitem(spark, sfDir)
      val customer = Tables.customer(spark, sfDir)
      val nation = Tables.nation(spark, sfDir)
      def fp(df: DataFrame, k: String, k2: String): String = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(col(k)), lit(0L)),
          coalesce(expr(s"bit_xor(xxhash64($k, $k2))"), lit(0L))).collect()(0)
        s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}"
      }
      val key = s"whroute|${fp(orders, "o_orderkey", "o_custkey")}|" +
        s"${fp(lineitem, "l_orderkey", "l_linenumber")}|" +
        s"${fp(customer, "c_custkey", "c_nationkey")}|v=1"
      DedupArtifacts.ensureTree(key) { stage =>
        (0 until 3).foreach { i =>
          routeIngestBatch(
            orders.filter(pmod(col("o_orderkey"), lit(3L)) === i), i.toLong,
            s"$stage/orders", "o_orderkey", ordersChecks, Nil)
          routeIngestBatch(
            lineitem.filter(pmod(col("l_orderkey") * 4 + col("l_linenumber"),
              lit(3L)) === i), i.toLong,
            s"$stage/lineitem", "l_orderkey", lineitemChecks,
            Seq("l_orderkey"))
          routeIngestBatch(
            customer.filter(pmod(col("c_custkey"), lit(3L)) === i), i.toLong,
            s"$stage/customer", "c_custkey", customerChecks,
            Seq("c_nationkey"))
          routeIngestBatch(
            nation.filter(pmod(col("n_nationkey"), lit(3L)) === i), i.toLong,
            s"$stage/nation", "n_nationkey", Nil, Nil)
        }
      }
    }

  /** q139: the CORPUS-INGESTION gate — the same audit machinery applied
    * to the training corpus and its embeddings, i.e. the checks a
    * text-pipeline runs before dedup/mixing/release trust a crawl
    * snapshot: text present, doc_id unique, language in the accepted
    * set, the stored n_chars consistent with the text (a cross-field
    * rule — `Check` takes any row predicate, not just single-column
    * shapes), embedding dimensionality uniform, vec_id unique and
    * referencing a real document. The 64-token ceiling rule is
    * deliberately strict (docs run to ~100 tokens): a real "fits one
    * context window" gate that FAILS, demonstrating the audit flagging
    * a corpus that needs chunking (q47) before export.
    */
  /** The q139 rule sets, named once so the batch gate and its streaming
    * twin (q141) evaluate the SAME constraints — the scd2Fold
    * shared-kernel convention.
    */
  private[graft] val corpusDocChecks: Seq[Check] = Seq(
    notNull("text"),
    inSet("lang", Seq("de", "en", "es", "fr", "zh")),
    Check("consistent:n_chars", length(col("text")) === col("n_chars")),
    Check("range:doc_tokens", size(split(col("text"), " ")).between(1, 64)))
  private[graft] val corpusDocUniques: Seq[Unique] =
    Seq(Unique("unique:doc_id", Seq("doc_id")))
  private[graft] val corpusEmbChecks: Seq[Check] =
    Seq(Check("dim:embedding", size(col("embedding")) === 64))
  private[graft] val corpusEmbUniques: Seq[Unique] =
    Seq(Unique("unique:vec_id", Seq("vec_id")))
  private val REF_RULE_NAME = "ref:vec_id->documents.doc_id"

  // ------------------------------------------------------------------
  // DRIFT-AS-EXPECTATION (round-16 rung) — q148/q149 report embedding
  // drift but nothing consumed it. A Drift rule turns the per-batch L1
  // report into an audit row that participates in the gate exactly like
  // a failed scalar rule: a drifting crawl batch then BLOCKS the release
  // (q158) the way a schema violation does, closing the third signal
  // family (scalar/keyed/drift) under one verdict.
  // ------------------------------------------------------------------

  /** The drift threshold: a batch whose L1 mean-gap exceeds this many
    * x1e6 units is drifting. 8e6 sits an order of magnitude above the
    * fixtures' natural batch noise (~0.2-0.5e6 at every scale) and well
    * below a planted +0.25 shift (~10.7e6), and — because a drifted
    * batch also drags the corpus mean, lifting every OTHER batch to
    * ~5.3e6 — above the contamination the drifting batch induces on its
    * neighbors, so exactly the planted batch trips it.
    */
  private[graft] val DRIFT_MAX_L1_X1E6 = 8000000L
  private[graft] val DRIFT_RULE_NAME = "drift:embedding"

  /** The Drift rule's audit row over a q148-shaped per-batch drift
    * relation `(batch_id, n_vecs, l1_drift_x1e6, ...)`: `n_rows` = all
    * vectors audited, `n_violations` = the vectors of every batch whose
    * L1 drift exceeds `maxL1X1e6` — an audit-semantics weight (the rows
    * you would re-crawl), not a batch count, so the row composes with
    * the other audit rows' row-mass arithmetic.
    *
    * Scale shape: the drift relation is #batches rows (its own cost is
    * q148's one corpus pass, or FREE off a q149 centroid index); this
    * adapter is a single-row aggregate.
    */
  def driftAudit(table: String, drift: DataFrame, name: String,
                 maxL1X1e6: Long): DataFrame =
    drift.agg(
        coalesce(sum(col("n_vecs")), lit(0L)).as("n_rows"),
        coalesce(sum(when(col("l1_drift_x1e6") > maxL1X1e6, col("n_vecs"))
          .otherwise(lit(0L))), lit(0L)).as("n_violations"))
      .select(lit(table).as("table_name"), lit(name).as("constraint"),
        col("n_rows"), col("n_violations"),
        when(col("n_violations") === 0, lit("pass")).otherwise(lit("fail"))
          .as("status"))

  /** The q157/q158 PLANTED corpus: the latest crawl batch's embeddings
    * shifted by +0.25 per dimension — a deterministic, cross-engine
    * reproducible stand-in for an encoder regression/topic shift (the
    * q139 demo convention: the gate must demonstrably FIRE, not
    * vacuously pass; the unshifted corpus passes, spec-pinned).
    */
  private[graft] def shiftedEmbeddings(spark: SparkSession,
                                       sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).withColumn("embedding",
      transform(col("embedding"), x => x.cast("double") +
        when(pmod(col("vec_id"), lit(3L)) === 2, lit(0.25))
          .otherwise(lit(0.0))))

  /** The drift gate over the planted corpus — q158's gate relation. */
  private[graft] def corpusDriftGate(spark: SparkSession,
                                     sfDir: String): DataFrame =
    driftAudit("embeddings",
      Similarity.embeddingDrift(shiftedEmbeddings(spark, sfDir)),
      DRIFT_RULE_NAME, DRIFT_MAX_L1_X1E6)

  /** q157: the corpus-ingestion gate EXTENDED with the Drift rule — the
    * q139 audit rows plus the `drift:embedding` row evaluated on the
    * planted corpus (whose latest crawl batch drifted). The scalar/
    * keyed rows are shift-invariant (the shift changes no dimension
    * count, id or reference), so the relation is q139's with one more
    * row — failing, because the planted batch drifts.
    */
  def corpusAuditWithDrift(spark: SparkSession, sfDir: String): DataFrame =
    corpusAudit(spark, sfDir)
      .unionByName(corpusDriftGate(spark, sfDir))
      .orderBy("table_name", "constraint")

  def corpusAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val embs = Tables.embeddings(spark, sfDir)
    audit("documents", docs,
        corpusDocChecks ++ corpusDocUniques)
      .unionByName(audit("embeddings", embs,
        corpusEmbChecks ++ corpusEmbUniques :+
          RefIn(REF_RULE_NAME, "vec_id", docs, "doc_id")))
      .orderBy("table_name", "constraint")
  }

  /** q141: the q139 corpus-ingestion gate run END-TO-END AS A STREAM —
    * documents and embeddings each folded into the keyed audit state in
    * three deterministic hash-residue batches (the q134 residue idiom),
    * then the gate read off the stores alone: scalar partials summed,
    * uniqueness re-aggregated from the key-count stores (catching
    * cross-batch duplicates), and the FK anti-joined against the
    * documents ingest's own doc_id key store. The oracle is q139's SQL
    * VERBATIM — equality with the batch gate at every scale IS the
    * stream==batch contract (the q134/q132 convention). State is a
    * content-keyed build-once artifact: per catalog call the cost is
    * the production READOUT, not the refold.
    */
  def streamingCorpusGate(spark: SparkSession, sfDir: String): DataFrame = {
    val root = ensureKeyedAuditState(spark, sfDir)
    keyedAuditFromStore(spark, "documents", s"$root/docs",
        corpusDocChecks, corpusDocUniques, Seq.empty)
      .unionByName(keyedAuditFromStore(spark, "embeddings", s"$root/embs",
        corpusEmbChecks, corpusEmbUniques, Seq(corpusRefStream(root))))
      .orderBy("table_name", "constraint")
  }

  /** q163: the STREAMING corpus gate covering all three signal families
    * — q141's scalar+keyed rows read off the keyed-audit stores, plus
    * the `drift:embedding` row read off a streaming CENTROID INDEX of
    * the planted corpus ([[Curation.ensureShiftedCentroidState]]): the
    * dim-sized per-batch partials the q149 monitor ingest already
    * maintains feed [[driftAudit]] through
    * [[Curation.embeddingDriftFromIndex]], so the drift verdict costs a
    * #batches×dim readout — the corpus is never rescanned, and the
    * uncompacted-index contract is enforced (a compacted index refuses
    * loudly rather than reporting one merged batch with ~zero drift).
    * The oracle is q157's SQL VERBATIM — the streaming verdict equals
    * the batch gate-with-drift, with the planted drifting batch
    * flipping the gate on the drift row alone (the scalar/keyed rows
    * are shift-invariant).
    */
  def streamingCorpusGateWithDrift(spark: SparkSession,
                                   sfDir: String): DataFrame =
    streamingCorpusGate(spark, sfDir)
      .unionByName(driftAudit("embeddings",
        Curation.embeddingDriftFromIndex(spark,
          Curation.ensureShiftedCentroidState(spark, sfDir)),
        DRIFT_RULE_NAME, DRIFT_MAX_L1_X1E6))
      .orderBy("table_name", "constraint")

  /** q143: the GATE TIMELINE — per (crawl batch, constraint), the rows
    * audited and the violations that batch CONTRIBUTED, read entirely
    * off the keyed-audit stores (the q137 trend posture applied to
    * expectations): scalar rows come from the per-batch partials,
    * uniqueness rows from the live key-probe deltas (cross-batch
    * duplicates surface in the batch that landed the SECOND copy), and
    * FK rows from the dual ingest's live referential deltas — NEGATIVE
    * when a late-arriving reference retro-fills an earlier miss, so the
    * trend shows both the damage and the repair. Next to q139's "is the
    * corpus clean now", this is "which crawl batch made it dirty" —
    * the alerting join for ingest triage.
    *
    * Scale shape: pure readout — three store scans of per-batch partial
    * relations (each #constraints×#batches-ish rows for scalar/live;
    * never the corpus), no joins, no raw-table access. The oracle
    * re-derives every batch's rows from the residue classes in SQL —
    * per-batch equality at every scale IS the delta-correctness
    * contract.
    */
  def corpusGateTimeline(spark: SparkSession, sfDir: String): DataFrame = {
    val root = ensureKeyedAuditState(spark, sfDir)
    // per-batch resolution is this readout's contract: a ROLLED history
    // store (epoch generations under a _GEN pointer) can no longer
    // honor it — refuse loudly (the drift-guard rule) instead of
    // silently dropping the rolled batches
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("docs/scalar", "docs/live", "embs/scalar", "embs/live",
      "embs/liveref").foreach { s =>
      require(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$root/$s/$GEN_MARKER")),
        s"corpusGateTimeline: history store $s was rolled to epoch " +
          "granularity — per-batch resolution is gone; read " +
          "corpusGateTimelineEpochs instead")
    }
    def scalar(tbl: String, sub: String): DataFrame =
      spark.read.parquet(s"$root/$sub/scalar")
        .select(col("batch").cast("long").as("batch_id"),
          lit(tbl).as("table_name"), col("constraint"), col("n_rows"),
          col("n_violations"))
    def live(tbl: String, sub: String, rel: String): DataFrame =
      spark.read.parquet(s"$root/$sub/$rel")
        .select(col("batch").cast("long").as("batch_id"),
          lit(tbl).as("table_name"), col("constraint"), col("n_rows"),
          col("v_delta").as("n_violations"))
    scalar("documents", "docs")
      .unionByName(live("documents", "docs", "live"))
      .unionByName(scalar("embeddings", "embs"))
      .unionByName(live("embeddings", "embs", "live"))
      .unionByName(live("embeddings", "embs", "liveref"))
      .orderBy("table_name", "constraint", "batch_id")
  }

  private def corpusRefStream(root: String): RefStream =
    RefStream(REF_RULE_NAME, "vec_id",
      keyStoreDir(s"$root/docs", Seq("doc_id")))

  /** Build-once ROLLED keyed-audit artifact for the q156 catalog entry:
    * the q143 state tree copied, then [[rollupAuditHistory]] applied
    * with `epochSize=2, keepRecent=1` — batches 0-1 consolidate to one
    * epoch, batch 2 (the replayable frontier) stays per-batch. The
    * oracle re-derives the unrolled timeline and aggregates it by the
    * same mapping: lossless-at-epoch-granularity IS the contract.
    *
    * Keyed on the source tree's content-keyed directory NAME, not its
    * path, so the tree is shared by every artifact root (v=2; v=1 keyed
    * on the absolute path and rebuilt under each root).
    */
  private[graft] def ensureRolledAuditState(spark: SparkSession,
                                            sfDir: String): String =
    DedupArtifacts.cachedDir(s"kauditroll|$sfDir") {
      val src = ensureKeyedAuditState(spark, sfDir)
      val srcKey = new org.apache.hadoop.fs.Path(src).getName
      DedupArtifacts.ensureTree(s"kauditroll|$srcKey|e=2|r=1|v=2") { stage =>
        val conf = spark.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
        Seq("docs", "embs").foreach { sub =>
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(s"$src/$sub"), fs,
            new org.apache.hadoop.fs.Path(s"$stage/$sub"), false, conf)
          rollupAuditHistory(spark, s"$stage/$sub", epochSize = 2,
            keepRecent = 1)
        }
      }
    }

  private[graft] def ensureKeyedAuditState(spark: SparkSession,
                                           sfDir: String): String =
    DedupArtifacts.cachedDir(s"kaudit|$sfDir") {
      val docs = Tables.documents(spark, sfDir)
      val embs = Tables.embeddings(spark, sfDir)
      val key = DedupArtifacts.corpusKey(docs, s"kaudit|$sfDir") + "|" +
        DedupArtifacts.embeddingsKey(embs, "e") + "|v=4"
      // v=2: the DUAL ingest (reference batch applied before the same
      // micro-batch's facts) so the artifact also carries the
      // pending-miss store and live FK deltas — an embedding whose
      // document lands in a LATER residue batch is a real transient miss
      // here, retro-filled when that batch applies (spec-pinned: the
      // accumulated live count equals the readout anti-join).
      // v=3: residue split by `id % 3` (the q134 idiom, DuckDB-
      // reproducible) instead of xxhash64 — q143's per-batch timeline
      // oracle re-derives each batch's rows in SQL, so the split itself
      // must be cross-engine.
      DedupArtifacts.ensureTree(key) { stage =>
        (0 until 3).foreach { i =>
          dualKeyedAuditIngestBatch(
            docs.filter(pmod(col("doc_id"), lit(3L)) === i),
            embs.filter(pmod(col("vec_id"), lit(3L)) === i),
            i.toLong, s"$stage/docs", s"$stage/embs",
            corpusDocChecks, corpusDocUniques,
            corpusEmbChecks, corpusEmbUniques,
            corpusRefStream(stage), refCol = "doc_id")
        }
      }
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q138_data_expectations" -> ((s, d) => warehouseAudit(s, d)),
    "q139_corpus_expectations" -> ((s, d) => corpusAudit(s, d)),
    // Q141: the q139 gate as a stream (see [[streamingCorpusGate]]);
    // oracle shared VERBATIM with q139 — stream==batch is the contract.
    "q141_streaming_corpus_gate" -> ((s, d) => streamingCorpusGate(s, d)),
    // Q143: per-batch expectation trend (see [[corpusGateTimeline]]).
    "q143_gate_timeline" -> ((s, d) => corpusGateTimeline(s, d)),
    // Q145: row-level quarantine relation (see [[violationRows]]).
    "q145_violation_rows" -> ((s, d) => corpusViolationRows(s, d)),
    // Q146: per-row clean/quarantined routing (see [[quarantineRoute]]).
    "q146_quarantine_route" -> ((s, d) => corpusQuarantineRoute(s, d)),
    // Q147: the quarantine relation off the streaming channels (see
    // [[streamingQuarantine]]); oracle shared VERBATIM with q145 —
    // stream==batch is the contract.
    "q147_streaming_quarantine" -> ((s, d) => streamingQuarantine(s, d)),
    // Q151: keyed row-level violations (see [[keyedViolationRows]]).
    "q151_keyed_violation_rows" -> ((s, d) =>
      warehouseKeyedViolationRows(s, d)),
    // Q152: the complete row-level gate route (see
    // [[keyedQuarantineRoute]]).
    "q152_row_gate_route" -> ((s, d) => warehouseRowGateRoute(s, d)),
    // Q153: the keyed route off the streaming keyed-audit stores (see
    // [[streamingWarehouseKeyedRoute]]); stream==batch is the contract.
    "q153_streaming_keyed_route" -> ((s, d) =>
      streamingWarehouseKeyedRoute(s, d)),
    // Q161: the COMPLETE q152 route off streaming route stores (see
    // [[streamingWarehouseRowGateRoute]]); oracle is q152's SQL
    // VERBATIM — stream==batch for scalar+Unique+RefIn per physical row.
    "q161_streaming_row_gate_route" -> ((s, d) =>
      streamingWarehouseRowGateRoute(s, d)),
    // Q162: the keyed route over a COMPOUND key off streaming stores
    // (see [[streamingCompoundKeyedRoute]]).
    "q162_compound_keyed_route" -> ((s, d) =>
      streamingCompoundKeyedRoute(s, d)),
    // Q156: the gate timeline over a ROLLED history (see
    // [[corpusGateTimelineEpochs]] / [[rollupAuditHistory]]).
    "q156_gate_timeline_epochs" -> ((s, d) =>
      corpusGateTimelineEpochs(s, ensureRolledAuditState(s, d))),
    // Q157: the gate + the Drift rule over the planted drifting corpus
    // (see [[corpusAuditWithDrift]]).
    "q157_drift_expectations" -> ((s, d) => corpusAuditWithDrift(s, d)),
    // Q163: the STREAMING gate covering scalar+keyed+drift, the drift
    // row off the planted centroid index (see
    // [[streamingCorpusGateWithDrift]]); oracle is q157's SQL VERBATIM.
    "q163_streaming_gate_with_drift" -> ((s, d) =>
      streamingCorpusGateWithDrift(s, d)))

  /** The q157 gate-with-drift twin, shared VERBATIM by q163
    * (stream==batch).
    */
  private lazy val gateWithDriftOracleSql: String =
    s"""WITH g AS ($corpusGateOracleSql),
       |dr AS ($driftGateOracleSql)
       |SELECT * FROM g UNION ALL SELECT * FROM dr
       |ORDER BY table_name, "constraint"""".stripMargin

  /** The q152 route twin, shared VERBATIM by q161 (stream==batch). */
  private def rowGateRouteOracleSql: String =
    s"""WITH o1 AS (
         |  SELECT o_orderkey AS row_key,
         |    CASE WHEN (o_orderstatus IN ('O','F','P')) IS NOT TRUE THEN 1 ELSE 0 END AS f_in,
         |    CASE WHEN (o_custkey IS NOT NULL) IS NOT TRUE THEN 1 ELSE 0 END AS f_nn,
         |    CASE WHEN (o_totalprice >= 0.0 AND o_totalprice <= 400000.0) IS NOT TRUE THEN 1 ELSE 0 END AS f_rg
         |  FROM orders),
         |o2 AS (
         |  SELECT *, CASE WHEN row_number() OVER (PARTITION BY row_key
         |      ORDER BY f_in + f_nn + f_rg,
         |        CONCAT_WS(',', CASE WHEN f_in = 1 THEN 'in_set:o_orderstatus' END,
         |                       CASE WHEN f_nn = 1 THEN 'not_null:o_custkey' END,
         |                       CASE WHEN f_rg = 1 THEN 'range:o_totalprice' END)) > 1
         |    THEN 1 ELSE 0 END AS f_u
         |  FROM o1),
         |ot AS (
         |  SELECT 'orders' AS table_name, row_key,
         |    CAST(f_in + f_nn + f_rg + f_u AS BIGINT) AS n_failed,
         |    CONCAT_WS(',', CASE WHEN f_in = 1 THEN 'in_set:o_orderstatus' END,
         |                   CASE WHEN f_nn = 1 THEN 'not_null:o_custkey' END,
         |                   CASE WHEN f_rg = 1 THEN 'range:o_totalprice' END,
         |                   CASE WHEN f_u = 1 THEN 'unique:o_orderkey' END) AS failed
         |  FROM o2),
         |l1 AS (
         |  SELECT l_orderkey AS row_key,
         |    CASE WHEN (l_quantity >= 1.0 AND l_quantity <= 50.0) IS NOT TRUE THEN 1 ELSE 0 END AS f_rg,
         |    CASE WHEN l.l_orderkey IS NULL OR NOT EXISTS
         |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) THEN 1 ELSE 0 END AS f_ref
         |  FROM lineitem l),
         |l2 AS (
         |  SELECT *, CASE WHEN row_number() OVER (PARTITION BY row_key
         |      ORDER BY f_rg + f_ref,
         |        CONCAT_WS(',', CASE WHEN f_rg = 1 THEN 'range:l_quantity' END,
         |                       CASE WHEN f_ref = 1 THEN 'ref:l_orderkey->orders.o_orderkey' END)) > 1
         |    THEN 1 ELSE 0 END AS f_u
         |  FROM l1),
         |lt AS (
         |  SELECT 'lineitem' AS table_name, row_key,
         |    CAST(f_rg + f_ref + f_u AS BIGINT) AS n_failed,
         |    CONCAT_WS(',', CASE WHEN f_rg = 1 THEN 'range:l_quantity' END,
         |                   CASE WHEN f_ref = 1 THEN 'ref:l_orderkey->orders.o_orderkey' END,
         |                   CASE WHEN f_u = 1 THEN 'unique:l_orderkey' END) AS failed
         |  FROM l2),
         |c1 AS (
         |  SELECT c_custkey AS row_key,
         |    CASE WHEN (c_mktsegment IS NOT NULL) IS NOT TRUE THEN 1 ELSE 0 END AS f_nn,
         |    CASE WHEN c.c_nationkey IS NULL OR NOT EXISTS
         |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey) THEN 1 ELSE 0 END AS f_ref
         |  FROM customer c),
         |ct AS (
         |  SELECT 'customer' AS table_name, row_key,
         |    CAST(f_nn + f_ref AS BIGINT) AS n_failed,
         |    CONCAT_WS(',', CASE WHEN f_nn = 1 THEN 'not_null:c_mktsegment' END,
         |                   CASE WHEN f_ref = 1 THEN 'ref:c_nationkey->nation.n_nationkey' END) AS failed
         |  FROM c1),
         |rows_all AS (SELECT * FROM ot UNION ALL SELECT * FROM lt
         |             UNION ALL SELECT * FROM ct)
         |SELECT table_name, row_key, n_failed, failed,
         |       CASE WHEN n_failed = 0 THEN 'clean' ELSE 'quarantined' END AS status
         |FROM rows_all
         |ORDER BY table_name, row_key, n_failed, failed""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q138_data_expectations" ->
      s"""WITH o AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(COALESCE(SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_nn,
         |    CAST(COALESCE(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_in,
         |    CAST(COALESCE(SUM(CASE WHEN o_totalprice >= 0.0 AND o_totalprice <= 400000.0 THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_rg
         |  FROM orders),
         |ou AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
         |         CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS v
         |       FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)),
         |l AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(COALESCE(SUM(CASE WHEN l_quantity >= 1.0 AND l_quantity <= 50.0 THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_rg
         |  FROM lineitem),
         |lu AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
         |         CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS v
         |       FROM (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey)),
         |lr AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
         |         CAST(COUNT(*) AS BIGINT) AS v
         |       FROM lineitem li
         |       WHERE li.l_orderkey IS NULL OR NOT EXISTS
         |         (SELECT 1 FROM orders oo WHERE oo.o_orderkey = li.l_orderkey)),
         |c AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(COALESCE(SUM(CASE WHEN c_mktsegment IS NOT NULL THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_nn
         |  FROM customer),
         |cr AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_rows,
         |         CAST(COUNT(*) AS BIGINT) AS v
         |       FROM customer cc
         |       WHERE cc.c_nationkey IS NULL OR NOT EXISTS
         |         (SELECT 1 FROM nation nn WHERE nn.n_nationkey = cc.c_nationkey)),
         |rows_all AS (
         |  SELECT 'orders' AS table_name, 'not_null:o_custkey' AS "constraint", n_rows, v_nn AS n_violations FROM o
         |  UNION ALL SELECT 'orders', 'unique:o_orderkey', n_rows, v FROM ou
         |  UNION ALL SELECT 'orders', 'in_set:o_orderstatus', n_rows, v_in FROM o
         |  UNION ALL SELECT 'orders', 'range:o_totalprice', n_rows, v_rg FROM o
         |  UNION ALL SELECT 'lineitem', 'range:l_quantity', n_rows, v_rg FROM l
         |  UNION ALL SELECT 'lineitem', 'unique:l_orderkey', n_rows, v FROM lu
         |  UNION ALL SELECT 'lineitem', 'ref:l_orderkey->orders.o_orderkey', n_rows, v FROM lr
         |  UNION ALL SELECT 'customer', 'not_null:c_mktsegment', n_rows, v_nn FROM c
         |  UNION ALL SELECT 'customer', 'ref:c_nationkey->nation.n_nationkey', n_rows, v FROM cr)
         |SELECT table_name, "constraint", n_rows, n_violations,
         |       CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
         |FROM rows_all
         |ORDER BY table_name, "constraint"""".stripMargin,

    "q139_corpus_expectations" -> corpusGateOracleSql,
    // the stream==batch contract: q141's readout must hash-match the
    // batch gate's oracle at every scale
    "q141_streaming_corpus_gate" -> corpusGateOracleSql,

    // q145 twin: one `pred IS NOT TRUE` filter per scalar rule — NULL
    // fails, matching the CASE-falls-to-ELSE strict-gate semantics
    "q145_violation_rows" -> violationRowsOracleSql,
    // the stream==batch contract: q147's channel readout must hash-match
    // the batch quarantine relation at every scale
    "q147_streaming_quarantine" -> violationRowsOracleSql,

    // q146 twin: the same strict-gate predicates folded row-local — the
    // failure count as a CASE sum, the label list as a null-skipping
    // CONCAT_WS over the name-sorted rules (both engines skip NULL args
    // and emit '' when nothing failed)
    "q146_quarantine_route" ->
      s"""WITH d AS (
         |  SELECT 'documents' AS table_name, doc_id AS row_key,
         |    CAST((CASE WHEN (len(text) = n_chars) IS NOT TRUE THEN 1 ELSE 0 END)
         |       + (CASE WHEN (lang IN ('de','en','es','fr','zh')) IS NOT TRUE THEN 1 ELSE 0 END)
         |       + (CASE WHEN (text IS NOT NULL) IS NOT TRUE THEN 1 ELSE 0 END)
         |       + (CASE WHEN (len(string_split(text, ' ')) BETWEEN 1 AND 64) IS NOT TRUE THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_failed,
         |    CONCAT_WS(',',
         |      CASE WHEN (len(text) = n_chars) IS NOT TRUE THEN 'consistent:n_chars' END,
         |      CASE WHEN (lang IN ('de','en','es','fr','zh')) IS NOT TRUE THEN 'in_set:lang' END,
         |      CASE WHEN (text IS NOT NULL) IS NOT TRUE THEN 'not_null:text' END,
         |      CASE WHEN (len(string_split(text, ' ')) BETWEEN 1 AND 64) IS NOT TRUE THEN 'range:doc_tokens' END)
         |      AS failed
         |  FROM documents
         |  UNION ALL
         |  SELECT 'embeddings', vec_id,
         |    CAST(CASE WHEN (len(embedding) = 64) IS NOT TRUE THEN 1 ELSE 0 END AS BIGINT),
         |    CONCAT_WS(',',
         |      CASE WHEN (len(embedding) = 64) IS NOT TRUE THEN 'dim:embedding' END)
         |  FROM embeddings)
         |SELECT table_name, row_key, n_failed, failed,
         |       CASE WHEN n_failed = 0 THEN 'clean' ELSE 'quarantined' END AS status
         |FROM d
         |ORDER BY table_name, row_key""".stripMargin,

    // q151 twin: all copies of a duplicated key (window count) + every
    // dangling/NULL fact key (NOT EXISTS), one row per physical row
    "q151_keyed_violation_rows" ->
      s"""WITH rows_all AS (
         |  SELECT 'orders' AS table_name, 'unique:o_orderkey' AS "constraint", o_orderkey AS row_key
         |  FROM (SELECT o_orderkey, COUNT(*) OVER (PARTITION BY o_orderkey) AS c FROM orders) WHERE c > 1
         |  UNION ALL
         |  SELECT 'lineitem', 'unique:l_orderkey', l_orderkey
         |  FROM (SELECT l_orderkey, COUNT(*) OVER (PARTITION BY l_orderkey) AS c FROM lineitem) WHERE c > 1
         |  UNION ALL
         |  SELECT 'lineitem', 'ref:l_orderkey->orders.o_orderkey', l_orderkey
         |  FROM lineitem l WHERE l.l_orderkey IS NULL OR NOT EXISTS
         |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
         |  UNION ALL
         |  SELECT 'customer', 'ref:c_nationkey->nation.n_nationkey', c_custkey
         |  FROM customer c WHERE c.c_nationkey IS NULL OR NOT EXISTS
         |    (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
         |SELECT table_name, "constraint", row_key FROM rows_all
         |ORDER BY table_name, "constraint", row_key""".stripMargin,

    // q152 twin: scalar + RefIn flags row-local; the unique flag by
    // row_number per key ordered by the non-unique failure signature
    // (cleanest copy kept) — the multiset is deterministic because
    // equal-signature copies are indistinguishable rows
    "q152_row_gate_route" -> rowGateRouteOracleSql,
    // q161: q152's SQL VERBATIM — stream==batch for the COMPLETE route
    "q161_streaming_row_gate_route" -> rowGateRouteOracleSql,

    // q162 twin: every physical lineitem row ranked within its compound
    // (l_partkey, l_suppkey) key — copies past the first fail the rule
    "q162_compound_keyed_route" ->
      s"""WITH rk AS (
         |  SELECT l_partkey, l_suppkey,
         |    CASE WHEN row_number() OVER
         |      (PARTITION BY l_partkey, l_suppkey ORDER BY l_partkey) > 1
         |      THEN 1 ELSE 0 END AS f_u
         |  FROM lineitem)
         |SELECT 'lineitem' AS table_name, l_partkey, l_suppkey,
         |  CAST(f_u AS BIGINT) AS n_failed,
         |  CONCAT_WS(',', CASE WHEN f_u = 1
         |    THEN 'unique:l_partkey_l_suppkey' END) AS failed,
         |  CASE WHEN f_u = 0 THEN 'clean' ELSE 'quarantined' END AS status
         |FROM rk
         |ORDER BY table_name, l_partkey, l_suppkey, n_failed""".stripMargin,


    // q153 twin: the keyed-only route (Unique + RefIn) over orders +
    // lineitem — what the store readout must reconstitute without ever
    // rescanning the raw tables; stream==batch is the contract
    "q153_streaming_keyed_route" ->
      s"""WITH o2 AS (
         |  SELECT o_orderkey AS row_key,
         |    CASE WHEN row_number() OVER (PARTITION BY o_orderkey ORDER BY o_orderkey) > 1
         |      THEN 1 ELSE 0 END AS f_u
         |  FROM orders),
         |ot AS (
         |  SELECT 'orders' AS table_name, row_key, CAST(f_u AS BIGINT) AS n_failed,
         |    CONCAT_WS(',', CASE WHEN f_u = 1 THEN 'unique:o_orderkey' END) AS failed
         |  FROM o2),
         |l1 AS (
         |  SELECT l_orderkey AS row_key,
         |    CASE WHEN l.l_orderkey IS NULL OR NOT EXISTS
         |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) THEN 1 ELSE 0 END AS f_ref
         |  FROM lineitem l),
         |l2 AS (
         |  SELECT *, CASE WHEN row_number() OVER (PARTITION BY row_key ORDER BY f_ref) > 1
         |    THEN 1 ELSE 0 END AS f_u
         |  FROM l1),
         |lt AS (
         |  SELECT 'lineitem' AS table_name, row_key,
         |    CAST(f_ref + f_u AS BIGINT) AS n_failed,
         |    CONCAT_WS(',', CASE WHEN f_ref = 1 THEN 'ref:l_orderkey->orders.o_orderkey' END,
         |                   CASE WHEN f_u = 1 THEN 'unique:l_orderkey' END) AS failed
         |  FROM l2),
         |rows_all AS (SELECT * FROM ot UNION ALL SELECT * FROM lt)
         |SELECT table_name, row_key, n_failed, failed,
         |       CASE WHEN n_failed = 0 THEN 'clean' ELSE 'quarantined' END AS status
         |FROM rows_all
         |ORDER BY table_name, row_key, n_failed, failed""".stripMargin,

    // q143 twin: every batch's rows re-derived from the residue classes —
    // scalar sums per class, uniqueness/FK as PREFIX-CUMULATIVE counts
    // diffed with LAG (so a second copy charges the batch that landed it,
    // and a late reference CREDITS the batch that filled it)
    "q143_gate_timeline" -> gateTimelineOracleSql,

    // q157 twin: the q139 gate rows + the Drift row over the planted
    // corpus, re-sorted together
    "q157_drift_expectations" -> gateWithDriftOracleSql,
    // q163: q157's SQL VERBATIM — the streaming scalar+keyed+drift
    // verdict equals the batch gate-with-drift
    "q163_streaming_gate_with_drift" -> gateWithDriftOracleSql,

    // q156 twin: the q143 statement aggregated by the rollup's epoch
    // mapping (batches 0-1 -> one epoch; batch 2 stays per-batch) —
    // lossless-at-epoch-granularity is the rollup's contract
    "q156_gate_timeline_epochs" ->
      s"""WITH base AS ($gateTimelineOracleSql),
         |g AS (SELECT CASE WHEN batch_id < 2 THEN -1 ELSE batch_id END AS grp, *
         |      FROM base)
         |SELECT CAST(MIN(batch_id) AS BIGINT) AS batch_lo,
         |       CAST(MAX(batch_id) AS BIGINT) AS batch_hi,
         |       table_name, "constraint",
         |       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         |       CAST(SUM(n_violations) AS BIGINT) AS n_violations
         |FROM g GROUP BY grp, table_name, "constraint"
         |ORDER BY table_name, "constraint", batch_lo""".stripMargin)

  /** The q157/q158 drift-gate oracle fragment: q148's exact-integer
    * drift statement over the PLANTED corpus (batch `vec_id%3==2`
    * shifted +0.25 per dim), aggregated to the one Drift audit row.
    * Shared by q157's union and q158's gate CTE.
    */
  private[graft] lazy val driftGateOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |px AS (SELECT vec_id % 3 AS batch_id, i - 1 AS pos,
       |         CAST(FLOOR((emb[i] + CASE WHEN vec_id % 3 = 2 THEN 0.25 ELSE 0 END)
       |           * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qx
       |       FROM e, unnest(range(1, len(emb) + 1)) AS u(i)),
       |pb AS (SELECT batch_id, pos, CAST(SUM(qx) AS BIGINT) AS sb,
       |         CAST(COUNT(*) AS BIGINT) AS nb
       |       FROM px GROUP BY 1, 2),
       |g AS (SELECT pos, CAST(SUM(sb) AS BIGINT) AS sc,
       |        CAST(SUM(nb) AS BIGINT) AS nc
       |      FROM pb GROUP BY pos),
       |dd AS (SELECT batch_id, pb.pos, nb,
       |         ABS(sb * nc - sc * nb) // (nb * nc) AS d
       |       FROM pb JOIN g ON pb.pos = g.pos),
       |b AS (SELECT batch_id, CAST(MAX(nb) AS BIGINT) AS n_vecs,
       |        CAST(SUM(d) AS BIGINT) AS l1
       |      FROM dd GROUP BY 1),
       |r AS (SELECT CAST(COALESCE(SUM(n_vecs), 0) AS BIGINT) AS n_rows,
       |        CAST(COALESCE(SUM(CASE WHEN l1 > $DRIFT_MAX_L1_X1E6
       |          THEN n_vecs ELSE 0 END), 0) AS BIGINT) AS n_violations
       |      FROM b)
       |SELECT 'embeddings' AS table_name,
       |       '$DRIFT_RULE_NAME' AS "constraint", n_rows, n_violations,
       |       CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
       |FROM r""".stripMargin

  /** The q143 oracle (also the q156 base statement). */
  private[graft] lazy val gateTimelineOracleSql: String =
      s"""WITH dsc AS (
         |  SELECT doc_id % 3 AS batch_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(COALESCE(SUM(CASE WHEN text IS NOT NULL THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_nn,
         |    CAST(COALESCE(SUM(CASE WHEN lang IN ('de','en','es','fr','zh') THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_in,
         |    CAST(COALESCE(SUM(CASE WHEN len(text) = n_chars THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_nc,
         |    CAST(COALESCE(SUM(CASE WHEN len(string_split(text, ' ')) BETWEEN 1 AND 64 THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_tok
         |  FROM documents GROUP BY 1),
         |esc AS (
         |  SELECT vec_id % 3 AS batch_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(COALESCE(SUM(CASE WHEN len(embedding) = 64 THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_dim
         |  FROM embeddings GROUP BY 1),
         |pr AS (SELECT CAST(p AS BIGINT) AS batch_id FROM (VALUES (0), (1), (2)) t(p)),
         |du AS (SELECT batch_id,
         |    (SELECT CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) AS BIGINT)
         |     FROM (SELECT COUNT(*) AS cnt FROM documents
         |           WHERE doc_id % 3 <= pr.batch_id GROUP BY doc_id)) AS v
         |  FROM pr),
         |dud AS (SELECT batch_id,
         |    v - COALESCE(LAG(v) OVER (ORDER BY batch_id), 0) AS d FROM du),
         |eu AS (SELECT batch_id,
         |    (SELECT CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) AS BIGINT)
         |     FROM (SELECT COUNT(*) AS cnt FROM embeddings
         |           WHERE vec_id % 3 <= pr.batch_id GROUP BY vec_id)) AS v
         |  FROM pr),
         |eud AS (SELECT batch_id,
         |    v - COALESCE(LAG(v) OVER (ORDER BY batch_id), 0) AS d FROM eu),
         |fk AS (SELECT batch_id,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings e
         |     WHERE e.vec_id % 3 <= pr.batch_id AND (e.vec_id IS NULL OR
         |       NOT EXISTS (SELECT 1 FROM documents d
         |         WHERE d.doc_id = e.vec_id AND d.doc_id % 3 <= pr.batch_id))) AS v
         |  FROM pr),
         |fkd AS (SELECT batch_id,
         |    v - COALESCE(LAG(v) OVER (ORDER BY batch_id), 0) AS d FROM fk),
         |rows_all AS (
         |  SELECT batch_id, 'documents' AS table_name, 'not_null:text' AS "constraint", n_rows, v_nn AS n_violations FROM dsc
         |  UNION ALL SELECT batch_id, 'documents', 'in_set:lang', n_rows, v_in FROM dsc
         |  UNION ALL SELECT batch_id, 'documents', 'consistent:n_chars', n_rows, v_nc FROM dsc
         |  UNION ALL SELECT batch_id, 'documents', 'range:doc_tokens', n_rows, v_tok FROM dsc
         |  UNION ALL SELECT d.batch_id, 'documents', 'unique:doc_id', s.n_rows, d.d
         |    FROM dud d JOIN dsc s ON d.batch_id = s.batch_id
         |  UNION ALL SELECT batch_id, 'embeddings', 'dim:embedding', n_rows, v_dim FROM esc
         |  UNION ALL SELECT d.batch_id, 'embeddings', 'unique:vec_id', s.n_rows, d.d
         |    FROM eud d JOIN esc s ON d.batch_id = s.batch_id
         |  UNION ALL SELECT d.batch_id, 'embeddings', 'ref:vec_id->documents.doc_id', s.n_rows, d.d
         |    FROM fkd d JOIN esc s ON d.batch_id = s.batch_id)
         |SELECT batch_id, table_name, "constraint", n_rows, n_violations
         |FROM rows_all
         |ORDER BY table_name, "constraint", batch_id""".stripMargin

  /** The q145/q147 shared oracle: one `pred IS NOT TRUE` filter per
    * scalar rule — stream==batch is q147's contract.
    */
  private[graft] lazy val violationRowsOracleSql: String =
    s"""WITH rows_all AS (
       |  SELECT 'documents' AS table_name, 'not_null:text' AS "constraint", doc_id AS row_key
       |    FROM documents WHERE (text IS NOT NULL) IS NOT TRUE
       |  UNION ALL SELECT 'documents', 'in_set:lang', doc_id
       |    FROM documents WHERE (lang IN ('de','en','es','fr','zh')) IS NOT TRUE
       |  UNION ALL SELECT 'documents', 'consistent:n_chars', doc_id
       |    FROM documents WHERE (len(text) = n_chars) IS NOT TRUE
       |  UNION ALL SELECT 'documents', 'range:doc_tokens', doc_id
       |    FROM documents WHERE (len(string_split(text, ' ')) BETWEEN 1 AND 64) IS NOT TRUE
       |  UNION ALL SELECT 'embeddings', 'dim:embedding', vec_id
       |    FROM embeddings WHERE (len(embedding) = 64) IS NOT TRUE)
       |SELECT table_name, "constraint", row_key FROM rows_all
       |ORDER BY table_name, "constraint", row_key""".stripMargin

  /** The q139/q141 shared oracle (also embedded by q142's gate CTE). */
  private[graft] lazy val corpusGateOracleSql: String =
      s"""WITH d AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(COALESCE(SUM(CASE WHEN text IS NOT NULL THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_nn,
         |    CAST(COALESCE(SUM(CASE WHEN lang IN ('de','en','es','fr','zh') THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_in,
         |    CAST(COALESCE(SUM(CASE WHEN len(text) = n_chars THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_nc,
         |    CAST(COALESCE(SUM(CASE WHEN len(string_split(text, ' ')) BETWEEN 1 AND 64 THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_tok
         |  FROM documents),
         |du AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
         |         CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS v
         |       FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY doc_id)),
         |e AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(COALESCE(SUM(CASE WHEN len(embedding) = 64 THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_dim
         |  FROM embeddings),
         |eu AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
         |         CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS v
         |       FROM (SELECT COUNT(*) AS cnt FROM embeddings GROUP BY vec_id)),
         |er AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_rows,
         |         CAST(COUNT(*) AS BIGINT) AS v
         |       FROM embeddings ee
         |       WHERE ee.vec_id IS NULL OR NOT EXISTS
         |         (SELECT 1 FROM documents dd WHERE dd.doc_id = ee.vec_id)),
         |rows_all AS (
         |  SELECT 'documents' AS table_name, 'not_null:text' AS "constraint", n_rows, v_nn AS n_violations FROM d
         |  UNION ALL SELECT 'documents', 'unique:doc_id', n_rows, v FROM du
         |  UNION ALL SELECT 'documents', 'in_set:lang', n_rows, v_in FROM d
         |  UNION ALL SELECT 'documents', 'consistent:n_chars', n_rows, v_nc FROM d
         |  UNION ALL SELECT 'documents', 'range:doc_tokens', n_rows, v_tok FROM d
         |  UNION ALL SELECT 'embeddings', 'dim:embedding', n_rows, v_dim FROM e
         |  UNION ALL SELECT 'embeddings', 'unique:vec_id', n_rows, v FROM eu
         |  UNION ALL SELECT 'embeddings', 'ref:vec_id->documents.doc_id', n_rows, v FROM er)
         |SELECT table_name, "constraint", n_rows, n_violations,
         |       CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
         |FROM rows_all
         |ORDER BY table_name, "constraint"""".stripMargin
}
