package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

class ExpectationsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val D = TestSpark.SF0001

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getString(4))).toSeq

  test("audit counts planted violations exactly, per constraint class") {
    import spark.implicits._
    val t = Seq[(java.lang.Long, String, java.lang.Long)](
      (1L, "A", 10L), (2L, "B", 20L), (2L, "A", 200L), // dup id 2; 200 out of range
      (null, "C", 30L),                                // null id
      (4L, "Z", null),                                 // bad status; null value
      (5L, "A", 50L))
      .toDF("id", "status", "value")
    val ref = Seq("A", "B").toDF("code") // C and Z unreferenced
    val audit = Expectations.audit("t", t, Seq(
      Expectations.notNull("id"),
      Expectations.Unique("unique:id", Seq("id")),
      Expectations.inSet("status", Seq("A", "B", "C")),
      Expectations.between("value", 0.0, 100.0),
      Expectations.RefIn("ref:status->ref.code", "status", ref, "code")))
    val got = rows(audit.orderBy("constraint"))
    assert(got === Seq(
      ("t", "in_set:status", 6L, 1L, "fail"),          // Z
      ("t", "not_null:id", 6L, 1L, "fail"),            // one null id
      ("t", "range:value", 6L, 2L, "fail"),            // 200 + NULL both fail
      ("t", "ref:status->ref.code", 6L, 2L, "fail"),   // C and Z rows
      ("t", "unique:id", 6L, 2L, "fail")),             // both id=2 rows
      s"planted-violation audit mismatch: $got")
  }

  test("a clean table passes every constraint (NULL-free, in-range, " +
    "unique, referenced)") {
    import spark.implicits._
    val t = Seq((1L, "A", 10L), (2L, "B", 20L)).toDF("id", "status", "value")
    val ref = Seq("A", "B").toDF("code")
    val audit = Expectations.audit("t", t, Seq(
      Expectations.notNull("id"),
      Expectations.Unique("unique:id", Seq("id")),
      Expectations.between("value", 0.0, 100.0),
      Expectations.RefIn("ref:status->ref.code", "status", ref, "code")))
    assert(rows(audit).forall(r => r._4 == 0L && r._5 == "pass"))
  }

  test("hostile constraint names (quotes, backslashes) are labels, not " +
    "SQL — the unpivot is Column-API, audit() is public") {
    import spark.implicits._
    val t = Seq((1L, 10L), (2L, 200L)).toDF("id", "value")
    val name = "weird' name\\ , 99999999), ('pwned"
    val got = rows(Expectations.audit("t", t, Seq(
      Expectations.Check(name, col("value") <= 100),
      Expectations.notNull("id"))).orderBy("constraint"))
    assert(got.map(_._2).contains(name),
      s"the hostile name must come back verbatim as the label: $got")
    assert(got.find(_._2 == name).get._4 === 1L) // and it really counted
  }

  test("audit with no rules is a caller error; a ZERO-ROW table passes " +
    "scalar rules with 0 violations, never NULL") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Expectations.audit("t", Seq((1L, 2L)).toDF("a", "b"), Seq.empty)
    }
    val empty = Seq.empty[(java.lang.Long, java.lang.Long)].toDF("a", "b")
    val got = rows(Expectations.audit("t", empty, Seq(
      Expectations.notNull("a"),
      Expectations.Unique("unique:a", Seq("a")),
      Expectations.between("b", 0.0, 1.0))).orderBy("constraint"))
    assert(got.forall(r => r._3 == 0L && r._4 == 0L && r._5 == "pass"),
      s"zero-row audit must be all-pass with 0 (not NULL) counts: $got")
  }

  test("all scalar rules on one table fold into ONE scan (the audit adds " +
    "aggregate columns, not passes)") {
    val orders = graft.sources.Tables.orders(spark, D)
    val audit = Expectations.audit("orders", orders, Seq(
      Expectations.notNull("o_custkey"),
      Expectations.inSet("o_orderstatus", Seq("O", "F", "P")),
      Expectations.between("o_totalprice", 0.0, 400000.0)))
    audit.write.format("noop").mode("overwrite").save()
    val scans = audit.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"3 scalar rules must share one table scan, got $scans")
  }

  test("the corpus gate passes the structural rules and fails exactly the " +
    "context-window ceiling (the corpus needs chunking, and the gate says so)") {
    val got = rows(Expectations.corpusAudit(spark, D))
    val failed = got.filter(_._5 == "fail").map(r => (r._1, r._2)).toSet
    assert(failed === Set(("documents", "range:doc_tokens")),
      s"unexpected corpus-gate failure set: $failed")
    // the cross-field consistency rule really ran over data (not vacuous)
    val nc = got.find(_._2 == "consistent:n_chars").get
    assert(nc._3 > 0 && nc._4 == 0L && nc._5 == "pass")
    // the embeddings FK covers the whole embeddings table
    val fk = got.find(_._2 == "ref:vec_id->documents.doc_id").get
    assert(fk._3 > 0 && fk._5 == "pass")
  }

  test("streaming audit: per-batch scalar partials sum to the batch audit " +
    "over everything ingested, and replay is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val orders = graft.sources.Tables.orders(spark, D)
      .select("o_custkey", "o_orderstatus", "o_totalprice")
    val checks = Seq(
      Expectations.notNull("o_custkey"),
      Expectations.inSet("o_orderstatus", Seq("O", "F", "P")),
      Expectations.between("o_totalprice", 0.0, 400000.0))
    val all = orders.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val (evens, odds) = all.partition(_._1 % 2 == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-audit").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-audit-ckpt").toString
    val in = MemoryStream[(Long, String, Double)](spark)
    val q = Expectations.streamingAuditIngest(
      in.toDF().toDF("o_custkey", "o_orderstatus", "o_totalprice"),
      dir, ckpt, checks)
    try {
      in.addData(evens); q.processAllAvailable()
      in.addData(odds); q.processAllAvailable()
    } finally q.stop()
    val want = rows(Expectations.audit("orders", orders, checks)
      .orderBy("constraint"))
    assert(rows(Expectations.auditFromPartials(spark, "orders", dir)) === want,
      "summed partials must equal the batch audit over the whole table")
    // the range rule must genuinely fail so the streamed status rule is
    // exercised on both outcomes
    assert(want.exists(r => r._2 == "range:o_totalprice" && r._5 == "fail"))
    // replay: re-running the last micro-batch overwrites its own partial
    // directory, leaving the readout unchanged
    Expectations.auditIngestBatch(
      odds.toDF("o_custkey", "o_orderstatus", "o_totalprice"), 1L, dir, checks)
    assert(rows(Expectations.auditFromPartials(spark, "orders", dir)) === want,
      "replaying a batch must be idempotent")
  }

  test("keyed streaming audit: the q139 corpus gate runs END-TO-END as a " +
    "stream — cross-batch duplicates and a late-arriving referenced key " +
    "are exact, and the readout equals the batch audit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docChecks = Seq(
      Expectations.notNull("text"),
      Expectations.inSet("lang", Seq("de", "en", "es", "fr", "zh")))
    val docUq = Seq(Expectations.Unique("unique:doc_id", Seq("doc_id")))
    val embChecks = Seq(Expectations.Check("dim:embedding",
      size(col("embedding")) === 2))
    val embUq = Seq(Expectations.Unique("unique:vec_id", Seq("vec_id")))
    val base = java.nio.file.Files
      .createTempDirectory("graft-keyed-audit").toString
    val (dRoot, eRoot) = (s"$base/docs", s"$base/embs")
    val embRefs = Seq(Expectations.RefStream(
      "ref:vec_id->documents.doc_id", "vec_id",
      Expectations.keyStoreDir(dRoot, Seq("doc_id"))))

    // three doc batches; doc_id 2 repeats in batches 0 AND 2 (the
    // cross-batch duplicate a summed per-batch monitor would miss);
    // doc_id 7 arrives only in batch 2 — LATE relative to the embedding
    // that references it in batch 1
    val docBatches = Seq(
      Seq((1L, "en", "aa"), (2L, "en", "bb"), (3L, "fr", "cc")),
      Seq((4L, "xx", "dd"), (5L, "de", null: String)),
      Seq((2L, "en", "bb2"), (6L, "zh", "ff"), (7L, "es", "gg")))
    // vec_id 9 references no document EVER (a true violation); vec_id 7
    // references the late doc; vec_id 4 duplicates across batches 0 and 1
    val embBatches = Seq(
      Seq((1L, Seq(0.1f, 0.2f)), (4L, Seq(0.3f, 0.4f))),
      Seq((4L, Seq(0.3f, 0.4f)), (7L, Seq(0.5f)), (9L, Seq(0.6f, 0.7f))),
      Seq((2L, Seq(0.8f, 0.9f))))

    val dIn = MemoryStream[(Long, String, String)](spark)
    val dq = Expectations.streamingKeyedAuditIngest(
      dIn.toDF().toDF("doc_id", "lang", "text"),
      dRoot, s"$base/dckpt", docChecks, docUq, Seq.empty)
    try {
      docBatches.foreach { b => dIn.addData(b); dq.processAllAvailable() }
    } finally dq.stop()
    val eIn = MemoryStream[(Long, Seq[Float])](spark)
    val eq = Expectations.streamingKeyedAuditIngest(
      eIn.toDF().toDF("vec_id", "embedding"),
      eRoot, s"$base/eckpt", embChecks, embUq, embRefs)
    try {
      embBatches.foreach { b => eIn.addData(b); eq.processAllAvailable() }
    } finally eq.stop()

    val docsAll = docBatches.flatten.toDF("doc_id", "lang", "text")
    val embsAll = embBatches.flatten.toDF("vec_id", "embedding")
    val wantDocs = rows(Expectations.audit("documents", docsAll,
      docChecks ++ docUq).orderBy("constraint"))
    val wantEmbs = rows(Expectations.audit("embeddings", embsAll,
      embChecks ++ embUq :+ Expectations.RefIn(
        "ref:vec_id->documents.doc_id", "vec_id", docsAll, "doc_id"))
      .orderBy("constraint"))
    val gotDocs = rows(Expectations.keyedAuditFromStore(spark, "documents",
      dRoot, docChecks, docUq, Seq.empty))
    val gotEmbs = rows(Expectations.keyedAuditFromStore(spark, "embeddings",
      eRoot, embChecks, embUq, embRefs))
    assert(gotDocs === wantDocs, "documents stream==batch audit")
    assert(gotEmbs === wantEmbs, "embeddings stream==batch audit")
    // the planted facts really exercised every keyed path: the
    // cross-batch doc duplicate, the cross-batch vec duplicate, the
    // never-referenced key (1 violation, NOT the late-arriving doc 7)
    assert(wantDocs.find(_._2 == "unique:doc_id").get._4 === 2L)
    assert(wantEmbs.find(_._2 == "unique:vec_id").get._4 === 2L)
    assert(wantEmbs.find(_._2 == "ref:vec_id->documents.doc_id").get._4
      === 1L, "the late doc must retro-satisfy vec 7; only vec 9 violates")

    // the LIVE per-batch deltas sum to the exact readout counts — the
    // monitor caught the cross-batch duplicates as they landed
    val live = Expectations.liveUniquenessViolations(spark, dRoot)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(live("unique:doc_id") ===
      wantDocs.find(_._2 == "unique:doc_id").get._4)
    val liveE = Expectations.liveUniquenessViolations(spark, eRoot)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(liveE("unique:vec_id") ===
      wantEmbs.find(_._2 == "unique:vec_id").get._4)

    // replay: re-running the LAST micro-batch of each ingest overwrites
    // its own batch dirs; readout and live counters are unchanged
    Expectations.keyedAuditIngestBatch(
      docBatches(2).toDF("doc_id", "lang", "text"), 2L, dRoot,
      docChecks, docUq, Seq.empty)
    Expectations.keyedAuditIngestBatch(
      embBatches(2).toDF("vec_id", "embedding"), 2L, eRoot,
      embChecks, embUq, embRefs)
    assert(rows(Expectations.keyedAuditFromStore(spark, "documents", dRoot,
      docChecks, docUq, Seq.empty)) === wantDocs, "doc replay idempotent")
    assert(rows(Expectations.keyedAuditFromStore(spark, "embeddings", eRoot,
      embChecks, embUq, embRefs)) === wantEmbs, "emb replay idempotent")
    assert(Expectations.liveUniquenessViolations(spark, dRoot)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      .apply("unique:doc_id") === live("unique:doc_id"),
      "replayed live delta must overwrite, not double-count")
  }

  test("dual keyed ingest: the LIVE referential delta tracks the readout " +
    "at every prefix — misses count when facts land, resolutions when a " +
    "late reference retro-fills — and replay is idempotent") {
    import spark.implicits._
    val docChecks = Seq(Expectations.notNull("text"))
    val docUq = Seq(Expectations.Unique("unique:doc_id", Seq("doc_id")))
    val embChecks = Seq.empty[Expectations.Check]
    val embUq = Seq(Expectations.Unique("unique:vec_id", Seq("vec_id")))
    val base = java.nio.file.Files
      .createTempDirectory("graft-dual-audit").toString
    val (dRoot, eRoot) = (s"$base/docs", s"$base/embs")
    val fk = Expectations.RefStream("ref:vec_id->documents.doc_id",
      "vec_id", Expectations.keyStoreDir(dRoot, Seq("doc_id")))
    // same planted shape as the keyed test: vec 4 misses in batch 0,
    // doc 4 lands in batch 1 (resolution), vec 7 misses in batch 1,
    // doc 7 lands in batch 2 (resolution), vec 9 never resolves
    val docBatches = Seq(
      Seq((1L, "aa"), (2L, "bb"), (3L, "cc")),
      Seq((4L, "dd"), (5L, "ee")),
      Seq((2L, "bb2"), (6L, "ff"), (7L, "gg")))
    val embBatches = Seq(
      Seq((1L, 1L), (4L, 2L)),
      Seq((4L, 2L), (7L, 3L), (9L, 4L)),
      Seq((2L, 5L)))
    val wantDeltas = Seq(1L, 2L, 1L) // cumulative after each batch
    (0 until 3).foreach { i =>
      Expectations.dualKeyedAuditIngestBatch(
        docBatches(i).toDF("doc_id", "text"),
        embBatches(i).toDF("vec_id", "x"),
        i.toLong, dRoot, eRoot, docChecks, docUq, embChecks, embUq,
        fk, refCol = "doc_id")
      val live = Expectations.liveRefViolations(spark, eRoot)
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      val readout = rows(Expectations.keyedAuditFromStore(spark,
        "embeddings", eRoot, embChecks, embUq, Seq(fk)))
        .find(_._2 == fk.name).get._4
      assert(live(fk.name) === wantDeltas(i),
        s"prefix $i live FK count")
      assert(live(fk.name) === readout,
        s"prefix $i: live must equal the readout anti-join")
    }
    // replay the last dual batch: pending reads strictly below own id,
    // all writes overwrite own batch dirs — counters unchanged
    Expectations.dualKeyedAuditIngestBatch(
      docBatches(2).toDF("doc_id", "text"),
      embBatches(2).toDF("vec_id", "x"),
      2L, dRoot, eRoot, docChecks, docUq, embChecks, embUq,
      fk, refCol = "doc_id")
    assert(Expectations.liveRefViolations(spark, eRoot)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      .apply(fk.name) === 1L, "replayed dual batch must be idempotent")
  }

  test("keyed-store compaction: probe reads stay bounded under the " +
    "compact-every-K policy, duplicates spanning a compaction are still " +
    "caught, readout/live are unchanged, and replaying the policy batch " +
    "is idempotent") {
    import spark.implicits._
    val uq = Seq(Expectations.Unique("unique:id", Seq("id")))
    val root = java.nio.file.Files
      .createTempDirectory("graft-kaudit-compact").toString
    // five batches; id 10 repeats in batches 0 and 4 — the duplicate
    // STRADDLES the compaction at batch 2 (and 4), so detection must
    // read the consolidated batch=0, not the retired batch dirs
    val batches = Seq(Seq(10L, 11L), Seq(12L), Seq(13L), Seq(14L),
      Seq(10L, 15L))
    def ingest(i: Int): Unit = {
      if (i > 0 && i % 2 == 0)
        Expectations.compactKeyedAuditStores(spark, root, below = i.toLong)
      Expectations.keyedAuditIngestBatch(batches(i).toDF("id"), i.toLong,
        root, Seq.empty, uq, Seq.empty)
    }
    (0 until 5).foreach(ingest)
    def dirsOf(store: String): Set[String] = {
      val d = new java.io.File(s"$root/$store")
      d.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith("batch=")).map(_.getName).toSet
    }
    // after the batch-4 compaction (merges 0-3, incl. the batch-2 swap's
    // batch=0): one merged batch=0 + batch 4 itself
    assert(dirsOf("key_id") === Set("batch=0", "batch=4"),
      s"policy must bound store dirs, got ${dirsOf("key_id")}")
    val want = rows(Expectations.audit("t",
      batches.flatten.toDF("id"), uq).orderBy("constraint"))
    assert(rows(Expectations.keyedAuditFromStore(spark, "t", root,
      Seq.empty, uq, Seq.empty)) === want,
      "compacted readout == batch audit")
    assert(want.head._4 === 2L, "the straddling duplicate must count")
    val live = Expectations.liveUniquenessViolations(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(live("unique:id") === 2L,
      "the live probe must catch the duplicate ACROSS the compaction")
    // replay batch 4 (a policy batch): compaction below=4 is a no-op on
    // already-consolidated state; the re-fold converges
    ingest(4)
    assert(rows(Expectations.keyedAuditFromStore(spark, "t", root,
      Seq.empty, uq, Seq.empty)) === want, "replay idempotent")
    assert(Expectations.liveUniquenessViolations(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      .apply("unique:id") === 2L, "replayed live delta must not double")
  }

  test("an unknown-format _GEN pointer fails with the migration message, " +
    "never a silent wrong view") {
    // the retired generation-pointer layout: a `_GEN` file, or a negative
    // generation dir, would read as live batches (superseded generations
    // counted twice) — every reader and compactor refuses it, naming the
    // file and asking for a rebuild
    import spark.implicits._
    val uq = Seq(Expectations.Unique("unique:id", Seq("id")))
    def store(): String = {
      val root = java.nio.file.Files
        .createTempDirectory("graft-kaudit-gen").toString
      Expectations.keyedAuditIngestBatch(Seq(1L, 2L).toDF("id"), 0L, root,
        Seq.empty, uq, Seq.empty)
      root
    }
    val withGen = store()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$withGen/key_id/_GEN"),
      "GRAFT_KAUDIT_GEN v1\n-1 0\n")
    val withNeg = store()
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$withNeg/key_id/batch=-1"))
    for ((root, file) <- Seq(withGen -> "_GEN", withNeg -> "batch=-1");
         run <- Seq[() => Unit](
           () => Expectations.keyedAuditFromStore(spark, "t", root,
             Seq.empty, uq, Seq.empty).collect(),
           () => Expectations.compactKeyedAuditStores(spark, root))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("rebuild the store") &&
        e.getMessage.contains(s"$root/key_id/$file"),
        s"a parent-layout store must fail fast naming the file: ${e.getMessage}")
    }
  }

  test("a keyed-audit swap that died before its marker rolls back, and " +
    "one that died after it finishes, on the next readout — in a key " +
    "store and in a history store") {
    import spark.implicits._
    val checks = Seq(Expectations.notNull("text"))
    val uq = Seq(Expectations.Unique("unique:doc_id", Seq("doc_id")))
    // id 2 repeats across batches 0 and 2; batch 1 carries a NULL text
    val batches = Seq(
      Seq((1L, "aa"), (2L, "bb")),
      Seq((3L, null.asInstanceOf[String])),
      Seq((2L, "bb2"), (4L, "dd")))
    val want = rows(Expectations.audit("t",
      batches.flatten.toDF("doc_id", "text"), checks ++ uq)
      .orderBy("constraint"))
    def ingested(): String = {
      val root = java.nio.file.Files
        .createTempDirectory("graft-kaudit-crash").toString
      batches.zipWithIndex.foreach { case (b, i) =>
        Expectations.keyedAuditIngestBatch(b.toDF("doc_id", "text"),
          i.toLong, root, checks, uq, Nil)
      }
      root
    }
    def gate(root: String) = rows(Expectations.keyedAuditFromStore(spark,
      "t", root, checks, uq, Nil))
    def file(path: String) = new java.io.File(path)
    def dirsOf(store: String): Set[String] = file(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    def merged(store: String) = spark.read.option("basePath", store)
      .parquet(s"$store/batch=0", s"$store/batch=1")
    // window 1: the swap died BEFORE its marker — a stray tmp must be
    // discarded, the originals stay authoritative
    val r1 = ingested()
    val stores1 = Seq(s"$r1/key_doc_id", s"$r1/scalar")
    stores1.foreach(s => assert(file(s"$s/.compact-tmp").mkdir()))
    assert(gate(r1) === want, "readout after a rolled-back swap")
    stores1.foreach { s =>
      assert(!file(s"$s/.compact-tmp").exists(),
        s"$s: an uncommitted tmp must be rolled back")
      assert(dirsOf(s) === Set("batch=0", "batch=1", "batch=2"))
    }
    // window 2: the swap died AFTER its marker — merge batches 0-1 by
    // hand into tmp (bound 2); the key store's crash came after recovery
    // deleted the originals, the history store's right after the marker
    val r2 = ingested()
    val (key, scalar) = (s"$r2/key_doc_id", s"$r2/scalar")
    merged(key).groupBy("k0", "kbkt").agg(sum("cnt").as("cnt"))
      .write.partitionBy("kbkt").parquet(s"$key/.compact-tmp")
    Seq("batch=0", "batch=1").foreach(b =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(file(s"$key/$b")))
    // epoch rows: epochSize 2 puts batches 0-1 in epoch 0
    merged(scalar).groupBy("constraint")
      .agg(min(col("batch").cast("long")).as("batch_lo"),
        max(col("batch").cast("long")).as("batch_hi"),
        sum("n_rows").as("n_rows"), sum("n_violations").as("n_violations"))
      .select(lit(0L).as("epoch"), col("batch_lo"), col("batch_hi"),
        col("constraint"), col("n_rows"), col("n_violations"))
      .coalesce(1).write.parquet(s"$scalar/.compact-tmp")
    Seq(key, scalar).foreach(s => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$s/.compact-commit"), "2\n"))
    assert(gate(r2) === want, "readout after a finished swap")
    Seq(key, scalar).foreach { s =>
      assert(dirsOf(s) === Set("batch=0", "batch=2"),
        s"$s: the merged batch=0 beside the frontier batch")
      assert(!file(s"$s/.compact-tmp").exists() &&
        !file(s"$s/.compact-commit").exists() &&
        file(s"$s/_COMPACTED").exists(), s"$s: the swap must finish")
    }
  }

  test("q141: the streaming corpus gate equals the batch q139 gate row " +
    "for row (the artifact-backed residue fold converged)") {
    val want = rows(Expectations.corpusAudit(spark, D))
    val got = rows(Expectations.streamingCorpusGate(spark, D))
    assert(got === want, "stream readout must equal the batch gate")
    // and it genuinely read stores, not the raw tables: the failing
    // context-window rule came through the scalar partials
    assert(got.exists(r => r._2 == "range:doc_tokens" && r._5 == "fail"))
    // the artifact was built by the DUAL ingest: the accumulated live FK
    // deltas (misses minus retro-fills across residue batches — an
    // embedding whose document lands in a later residue batch is a real
    // transient miss) equal the readout's final anti-join count
    val root = Expectations.ensureKeyedAuditState(spark, D)
    val live = Expectations.liveRefViolations(spark, s"$root/embs")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    val fkReadout = got.find(_._2 == "ref:vec_id->documents.doc_id").get._4
    assert(live("ref:vec_id->documents.doc_id") === fkReadout,
      "accumulated live FK deltas must equal the readout anti-join")
  }

  test("q145: the row-level quarantine relation agrees with the audit's " +
    "counts per constraint, and all rules ride one scan per table") {
    val vr = Expectations.corpusViolationRows(spark, D)
    val perConstraint = vr.groupBy("table_name", "constraint").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val audit = rows(Expectations.corpusAudit(spark, D))
      .filter(r => r._2.startsWith("not_null") || r._2.startsWith("in_set") ||
        r._2.startsWith("consistent") || r._2.startsWith("range") ||
        r._2.startsWith("dim"))
    audit.foreach { a =>
      assert(perConstraint.getOrElse((a._1, a._2), 0L) === a._4,
        s"row-level count must equal audit n_violations for ${a._2}")
    }
    assert(vr.count() > 0, "the fixture's token-ceiling rule must quarantine")
    // one scan per audited table (2 tables => 2 scans)
    vr.write.format("noop").mode("overwrite").save()
    val scans = vr.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 2, s"all rules must share one scan per table, got $scans")
  }

  test("q146: quarantine routing counts failed rules exactly, lists them " +
    "name-sorted, NULL fails (strict gate), and the routing agrees with " +
    "the violation rows row for row") {
    import spark.implicits._
    val t = Seq[(java.lang.Long, String, java.lang.Long)](
      (1L, "en", 10L),            // clean
      (2L, "xx", 10L),            // fails in_set only
      (3L, "en", 999L),           // fails range only
      (4L, null, null),           // fails both (NULL fails both rules)
      (5L, "yy", 999L))           // fails both with real values
      .toDF("id", "lang", "value")
    val checks = Seq(
      Expectations.inSet("lang", Seq("en", "fr")),
      Expectations.between("value", 0.0, 100.0))
    val route = Expectations.quarantineRoute("t", t, "id", checks)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4))).sortBy(_._1).toSeq
    assert(route === Seq(
      (1L, 0L, "", "clean"),
      (2L, 1L, "in_set:lang", "quarantined"),
      (3L, 1L, "range:value", "quarantined"),
      (4L, 2L, "in_set:lang,range:value", "quarantined"),
      (5L, 2L, "in_set:lang,range:value", "quarantined")),
      s"routing mismatch: $route")
    // report/apply agreement: a key carries a constraint in `failed` iff
    // the violation-rows relation lists that (constraint, key) pair
    val vr = Expectations.violationRows("t", t, "id", checks)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    val fromRoute = route.flatMap { case (k, _, failed, _) =>
      failed.split(",").filter(_.nonEmpty).map(c => (c, k)) }.toSet
    assert(fromRoute === vr, "route labels must equal the q145 rows")
  }

  test("q146 on the fixture: clean/quarantined partitions both tables, " +
    "membership agrees with q145 per constraint, one scan per table") {
    val route = Expectations.corpusQuarantineRoute(spark, D)
    val rt = route.collect().map(r => ((r.getString(0), r.getLong(1)),
      (r.getLong(2), r.getString(3), r.getString(4))))
    val nDocs = graft.sources.Tables.documents(spark, D).count()
    val nEmbs = graft.sources.Tables.embeddings(spark, D).count()
    assert(rt.length.toLong === nDocs + nEmbs,
      "every row of both tables must be routed exactly once")
    assert(rt.forall { case (_, (n, f, s)) =>
      (n == 0L) == (s == "clean") && (n == 0L) == f.isEmpty &&
        n == f.split(",").count(_.nonEmpty) })
    val vr = Expectations.corpusViolationRows(spark, D)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val fromRoute = rt.flatMap { case ((tbl, k), (_, f, _)) =>
      f.split(",").filter(_.nonEmpty).map(c => (tbl, c, k)) }.toSet
    assert(fromRoute === vr.toSet,
      "fixture route labels must equal the q145 relation")
    // plan pin on a FRESH DataFrame: collect() above finalized `route`'s
    // AdaptiveSparkPlan, whose toString then prints Final AND Initial
    // plans — doubling every scan line
    val fresh = Expectations.corpusQuarantineRoute(spark, D)
    fresh.write.format("noop").mode("overwrite").save()
    val scans = fresh.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 2, s"all rules must share one scan per table, got $scans")
  }

  test("q147: the streaming quarantine channel equals the batch violation " +
    "rows over everything ingested, replay is idempotent, and the catalog " +
    "readout equals q145 row for row") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val checks = Seq(
      Expectations.notNull("text"),
      Expectations.inSet("lang", Seq("en", "fr")))
    val batches = Seq(
      Seq((1L, "en", "aa"), (2L, "xx", "bb")),            // in_set violation
      Seq((3L, "fr", null: String), (4L, "zz", null: String))) // both rules
    val base = java.nio.file.Files
      .createTempDirectory("graft-quarantine").toString
    val in = MemoryStream[(Long, String, String)](spark)
    val q = Expectations.streamingQuarantineIngest(
      in.toDF().toDF("doc_id", "lang", "text"),
      s"$base/q", s"$base/ckpt", "docs", "doc_id", checks)
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
    val want = rowsOf(Expectations.violationRows("docs",
      batches.flatten.toDF("doc_id", "lang", "text"), "doc_id", checks))
    assert(want.size === 4, "the plant must produce cross-rule violations")
    assert(rowsOf(Expectations.quarantineFromStore(spark, s"$base/q"))
      === want, "channel readout must equal the batch violation rows")
    // replay: re-running the last micro-batch overwrites its own dir
    Expectations.quarantineIngestBatch(
      batches(1).toDF("doc_id", "lang", "text"), 1L, s"$base/q", "docs",
      "doc_id", checks)
    assert(rowsOf(Expectations.quarantineFromStore(spark, s"$base/q"))
      === want, "replaying a batch must be idempotent")
    // catalog contract: the artifact-backed residue fold == batch q145
    val got = Expectations.streamingQuarantine(spark, D).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val batch = Expectations.corpusViolationRows(spark, D).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === batch, "q147 must equal q145 row for row")
  }

  test("the warehouse audit surfaces exactly the two deliberately strict " +
    "constraints as failures on the fixture") {
    val got = rows(Expectations.warehouseAudit(spark, D))
    val failed = got.filter(_._5 == "fail").map(r => (r._1, r._2)).toSet
    assert(failed === Set(("orders", "range:o_totalprice"),
      ("lineitem", "unique:l_orderkey")),
      s"unexpected failure set: $failed")
    // n_rows must agree across every constraint row of the same table
    got.groupBy(_._1).foreach { case (tbl, rs) =>
      assert(rs.map(_._3).distinct.size === 1,
        s"$tbl constraint rows disagree on n_rows: $rs")
    }
    // pass rows really have zero violations and vice versa
    assert(got.forall(r => (r._4 == 0L) == (r._5 == "pass")))
  }

  test("epoch rollup: the gate readout and live monitors stay exact over " +
    "a rolled history, the epoch timeline equals the per-batch " +
    "aggregation, a re-roll merges the prior generation, dirs stay " +
    "bounded, and replay after rollup is idempotent") {
    import spark.implicits._
    val checks = Seq(Expectations.notNull("text"))
    val uq = Seq(Expectations.Unique("unique:doc_id", Seq("doc_id")))
    val base = java.nio.file.Files
      .createTempDirectory("graft-histroll").toString
    val root = s"$base/docs"
    // id 2 duplicates across batches 0 and 3; batch 1 carries a NULL text
    val batches = Seq(
      Seq((1L, "aa"), (2L, "bb")),
      Seq((3L, null.asInstanceOf[String])),
      Seq((4L, "dd")),
      Seq((2L, "bb2"), (5L, "ee")))
    batches.zipWithIndex.foreach { case (b, i) =>
      Expectations.keyedAuditIngestBatch(b.toDF("doc_id", "text"), i.toLong,
        root, checks, uq, Nil)
    }
    def gate() = rows(Expectations.keyedAuditFromStore(spark, "t", root,
      checks, uq, Nil))
    def live() = Expectations.liveUniquenessViolations(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def epochs() = Expectations.corpusGateTimelineEpochs(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5))).toSeq
    def nDirs(rel: String): Int = new java.io.File(s"$root/$rel")
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("batch="))
    val (gateB, liveB, epochsB) = (gate(), live(), epochs())
    assert(nDirs("scalar") === 4 && nDirs("live") === 4)
    // roll batches {0,1,2} (frontier 4, keepRecent 1): epochs {0,1}+{2}
    Expectations.rollupAuditHistory(spark, root, epochSize = 2,
      keepRecent = 1)
    assert(nDirs("scalar") === 2 && nDirs("live") === 2,
      "rolled stores hold one epoch dir + the recent window")
    assert(gate() === gateB, "the gate readout is exact over sums of sums")
    assert(live() === liveB, "the live monitor is exact over sums of sums")
    def agg(rs: Seq[(Long, Long, String, String, Long, Long)],
            grp: Long => Long) =
      rs.groupBy(r => (grp(r._1), r._3, r._4)).map { case (_, g) =>
        (g.map(_._1).min, g.map(_._2).max, g.head._3, g.head._4,
          g.map(_._5).sum, g.map(_._6).sum)
      }.toSeq.sortBy(r => (r._3, r._4, r._1))
    assert(epochs().sortBy(r => (r._3, r._4, r._1)) ===
      agg(epochsB, b => if (b < 3) b / 2 else 100 + b),
      "the rolled timeline equals the per-batch timeline at epoch " +
        "granularity")
    // a new batch, then a RE-ROLL: batch 3 joins epoch 1 by merging the
    // rolled batch=0 (sum-of-sums)
    Expectations.keyedAuditIngestBatch(Seq((6L, "ff")).toDF("doc_id", "text"),
      4L, root, checks, uq, Nil)
    Expectations.rollupAuditHistory(spark, root, epochSize = 2,
      keepRecent = 1)
    assert(nDirs("scalar") === 2, "re-roll keeps the dir bound")
    val gateAll = rows(Expectations.audit("t",
      (batches.flatten ++ Seq((6L, "ff"))).toDF("doc_id", "text"),
      checks ++ uq).orderBy("constraint"))
    assert(gate() === gateAll,
      "readout over the re-rolled store equals the batch audit")
    val epochRows = epochs()
    assert(epochRows.exists(r => r._1 == 2L && r._2 == 3L),
      "batch 3 must merge into epoch 1's (lo=2, hi=3) range")
    // replay: the frontier batch stays per-batch, its rewrite is exact
    Expectations.keyedAuditIngestBatch(Seq((6L, "ff")).toDF("doc_id", "text"),
      4L, root, checks, uq, Nil)
    assert(gate() === gateAll, "replay after rollup is idempotent")
  }

  test("drift rule: the unshifted corpus passes, the planted drifting " +
    "batch fails with exactly its vectors as violations, and the drift " +
    "verdict flips a gated release blocked/clear like a scalar rule") {
    import spark.implicits._
    val embs = graft.sources.Tables.embeddings(spark, D)
    val clean = rows(Expectations.driftAudit("embeddings",
      Similarity.embeddingDrift(embs), Expectations.DRIFT_RULE_NAME,
      Expectations.DRIFT_MAX_L1_X1E6))
    assert(clean.length === 1 && clean.head._5 === "pass" &&
      clean.head._4 === 0L,
      s"the unshifted corpus must pass the drift gate: $clean")
    val planted = rows(Expectations.corpusDriftGate(spark, D))
    val nShifted = embs.filter(pmod(col("vec_id"), lit(3L)) === 2).count()
    assert(planted.length === 1 && planted.head._5 === "fail" &&
      planted.head._4 === nShifted,
      "exactly the planted batch's vectors must count as violations " +
        s"(want $nShifted): $planted")
    // q157 = q139's rows + the drift row, nothing else perturbed
    val q157 = rows(Expectations.corpusAuditWithDrift(spark, D))
    val q139 = rows(Expectations.corpusAudit(spark, D))
    assert(q157.filter(_._2 != Expectations.DRIFT_RULE_NAME) === q139,
      "the drift row must not perturb the q139 audit rows")
    assert(q157.exists(r => r._2 == Expectations.DRIFT_RULE_NAME &&
      r._5 == "fail"), "q157 must carry the failing drift row")
    // the verdict composes into the release gate exactly like a scalar
    // rule: shifted -> blocked, unshifted -> clear
    val export = Seq((1L, "s", 3L, "kept", "train", 1L),
      (2L, "s", 2L, "exact", "test", 0L))
      .toDF("doc_id", "source", "n_tokens", "stage", "split", "n_copies")
    val blocked = Curation.gatedReleaseExport(export,
      Expectations.corpusDriftGate(spark, D)).collect()
    assert(blocked.forall(r => r.getString(6) == "blocked" &&
      r.getLong(7) == 1L), "a drifting batch must block the release")
    val clear = Curation.gatedReleaseExport(export,
      Expectations.driftAudit("embeddings", Similarity.embeddingDrift(embs),
        Expectations.DRIFT_RULE_NAME, Expectations.DRIFT_MAX_L1_X1E6))
      .collect()
    assert(clear.forall(r => r.getString(6) == "clear" &&
      r.getLong(7) == 0L), "an undrifted corpus must ship clear")
  }

  test("q163: the streaming gate-with-drift equals the batch q157 " +
    "relation row for row, the planted batch alone flips it, an " +
    "unshifted index leaves the gate clean, and a compacted index is " +
    "refused in the streaming path") {
    val got = rows(Expectations.streamingCorpusGateWithDrift(spark, D))
    val want = rows(Expectations.corpusAuditWithDrift(spark, D))
    assert(got === want, "stream==batch for the three-family gate")
    assert(got.exists(r => r._2 == Expectations.DRIFT_RULE_NAME &&
      r._5 == "fail"), "the planted drifting batch must flip the gate")
    // the same store readout over the UNSHIFTED q149 index passes — the
    // flip is the plant's, not the machinery's
    val cleanDrift = rows(Expectations.driftAudit("embeddings",
      Curation.embeddingDriftFromIndex(spark,
        Curation.ensureCentroidBatchState(spark, D)),
      Expectations.DRIFT_RULE_NAME, Expectations.DRIFT_MAX_L1_X1E6))
    assert(cleanDrift.head._5 === "pass",
      "the unshifted index must leave the drift row passing")
    // the uncompacted-index contract holds INSIDE the streaming gate
    // path: a compacted copy of the planted index refuses loudly
    val embsS = Expectations.shiftedEmbeddings(spark, D)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-q163-compacted").toString
    (0 until 3).foreach { i =>
      Curation.centroidIngestBatch(
        embsS.filter(pmod(col("vec_id"), lit(3L)) === i), i.toLong, tmp)
    }
    Curation.compactCentroidIndex(spark, tmp, upToBatch = 3)
    val ex = intercept[IllegalArgumentException] {
      Expectations.driftAudit("embeddings",
        Curation.embeddingDriftFromIndex(spark, tmp),
        Expectations.DRIFT_RULE_NAME, Expectations.DRIFT_MAX_L1_X1E6)
    }
    assert(ex.getMessage.contains("compacted"),
      s"expected the compacted-index refusal, got: $ex")
    // q164's composition: the STORE-DRIVEN drift verdict flips a gated
    // release blocked/clear exactly like the batch q158 gate does
    import spark.implicits._
    val export = Seq((1L, "s", 3L, "kept", "train", 1L))
      .toDF("doc_id", "source", "n_tokens", "stage", "split", "n_copies")
    def gateOff(dir: String) = Curation.gatedReleaseExport(export,
      Expectations.driftAudit("embeddings",
        Curation.embeddingDriftFromIndex(spark, dir),
        Expectations.DRIFT_RULE_NAME, Expectations.DRIFT_MAX_L1_X1E6))
      .collect().map(r => (r.getString(6), r.getLong(7))).toSeq
    assert(gateOff(Curation.ensureShiftedCentroidState(spark, D)) ===
      Seq(("blocked", 1L)), "the planted index must block the release")
    assert(gateOff(Curation.ensureCentroidBatchState(spark, D)) ===
      Seq(("clear", 0L)), "the unshifted index must ship clear")
  }

  test("coded retention: compact-every-K + rollup-every-K fire inside " +
    "the keyed ingest, dirs stay bounded in BOTH store families, the " +
    "gate readout stays exact, and replaying a policy batch is " +
    "readout-idempotent") {
    import spark.implicits._
    val checks = Seq(Expectations.notNull("text"))
    val uq = Seq(Expectations.Unique("unique:doc_id", Seq("doc_id")))
    val base = java.nio.file.Files
      .createTempDirectory("graft-kaudit-policy").toString
    val root = s"$base/docs"
    // 9 batches; ids collide across batches (i%4) so uniqueness state is
    // live the whole stream
    val batches = (0 until 9).map(b =>
      Seq((b.toLong % 4, s"t$b"), (100L + b, s"u$b")))
    def drive(b: Seq[(Long, String)], id: Long): Unit =
      Expectations.keyedAuditIngestWithPolicy(b.toDF("doc_id", "text"),
        id, root, checks, uq, Nil, compactEvery = 3, rollupEvery = 3,
        epochSize = 2)
    batches.zipWithIndex.foreach { case (b, i) => drive(b, i.toLong) }
    def nDirs(rel: String): Int = new java.io.File(s"$root/$rel")
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("batch="))
    // history: last policy fired at batch 6 with keepRecent=1 (cutoff
    // 6-1=5: rolls 0-4, keeps batch 5 — the replay anchor — plus 6-8
    // written after) => 1 epoch dir + 4 recent; key store: compacted
    // strictly below 6, appended 6-8 => 1 merged batch=0 + 3
    assert(nDirs("scalar") === 5, s"scalar dirs: ${nDirs("scalar")}")
    assert(nDirs("live") === 5, s"live dirs: ${nDirs("live")}")
    assert(nDirs("key_doc_id") === 4, s"key dirs: ${nDirs("key_doc_id")}")
    val want = rows(Expectations.audit("t",
      batches.flatten.toDF("doc_id", "text"), checks ++ uq)
      .orderBy("constraint"))
    def gate() = rows(Expectations.keyedAuditFromStore(spark, "t", root,
      checks, uq, Nil))
    assert(gate() === want, "gate readout exact under both policies")
    val live = Expectations.liveUniquenessViolations(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(live("unique:doc_id") ===
      want.find(_._2 == "unique:doc_id").get._4,
      "live counter exact across compaction + rollup")
    // replay the LAST POLICY batch (6): both policies re-fire with the
    // frontier pinned to the batch's own id, so the replay re-rolls/
    // re-compacts the same prefix its first attempt did, then re-folds
    drive(batches(6), 6L)
    assert(gate() === want, "policy-batch replay is readout-idempotent")
    // the epoch timeline reads the rolled store (scalar rows present for
    // every epoch + recent batch)
    val ep = Expectations.corpusGateTimelineEpochs(spark, base)
      .filter(org.apache.spark.sql.functions.col("table_name") ===
        "documents")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct.sorted
    assert(ep.exists(r => r._1 < r._2), s"some range must be an epoch: ${ep.toSeq}")
    assert(ep.map(_._2).max === 8L, s"recent batches stay per-batch: ${ep.toSeq}")
  }

  test("q151: keyed violation-row membership equals the audit's " +
    "n_violations per Unique/RefIn rule, copy for copy") {
    val audit = rows(Expectations.warehouseAudit(spark, D))
      .map(r => (r._1, r._2) -> r._4).toMap
    val v = Expectations.warehouseKeyedViolationRows(spark, D).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val counts = v.groupBy(r => (r._1, r._2)).view.mapValues(_.length.toLong)
    // every keyed rule of the warehouse suite appears with EXACTLY the
    // audit's violation count (zero-count rules are legitimately absent
    // from a violation-rows relation)
    val keyedRules = Seq(("orders", "unique:o_orderkey"),
      ("lineitem", "unique:l_orderkey"),
      ("lineitem", Expectations.LI_REF_NAME),
      ("customer", Expectations.CUST_REF_NAME))
    keyedRules.foreach { k =>
      assert(counts.getOrElse(k, 0L) === audit(k),
        s"$k membership must equal the audit count")
    }
    assert(counts.getOrElse(("lineitem", "unique:l_orderkey"), 0L) > 0L,
      "the fixture one-row-per-order rule must be violated (q138 demo)")
    // and per duplicated key, EVERY copy is listed (the audit counts all
    // copies of a cnt>1 group)
    val liCnt = graft.sources.Tables.lineitem(spark, D)
      .groupBy("l_orderkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    v.filter(r => r._1 == "lineitem" && r._2 == "unique:l_orderkey")
      .groupBy(_._3).foreach { case (k, copies) =>
        assert(copies.length.toLong === liCnt(k),
          s"order $k: all ${liCnt(k)} copies must be listed")
      }
  }

  test("keyedQuarantineRoute: the cleanest copy of a duplicated key is " +
    "kept, second-and-later copies divert, dangling and NULL FK rows " +
    "divert — and the multiset is deterministic") {
    import spark.implicits._
    val facts = Seq((java.lang.Long.valueOf(10L), 5L),
      (java.lang.Long.valueOf(20L), 5L), (java.lang.Long.valueOf(20L), 500L),
      (java.lang.Long.valueOf(30L), 5L), (java.lang.Long.valueOf(30L), 6L),
      (java.lang.Long.valueOf(40L), 5L), (null.asInstanceOf[java.lang.Long], 5L))
      .toDF("k", "v")
    val ref = Seq(10L, 20L, 30L).toDF("rk")
    val route = Expectations.keyedQuarantineRoute("t", facts, "k",
        Seq(Expectations.Check("range:v", col("v").between(0, 100))),
        Seq(Expectations.Unique("unique:k", Seq("k"))),
        Seq(Expectations.RefIn("ref:k->r.rk", "k", ref, "rk")))
      .collect()
      .map(r => (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2),
        r.getString(3), r.getString(4)))
      .sortBy(r => (r._1.getOrElse(-1L), r._2, r._3))
    val want = Seq(
      (None, 1L, "ref:k->r.rk", "quarantined"),
      (Some(10L), 0L, "", "clean"),
      (Some(20L), 0L, "", "clean"),
      (Some(20L), 2L, "range:v,unique:k", "quarantined"),
      (Some(30L), 0L, "", "clean"),
      (Some(30L), 1L, "unique:k", "quarantined"),
      (Some(40L), 1L, "ref:k->r.rk", "quarantined")).sortBy(
      r => (r._1.getOrElse(-1L), r._2, r._3))
    assert(route.toSeq === want,
      "the kept copy must be the scalar-cleanest; all others divert")
  }

  test("keyed route from store: a planted cross-batch duplicate and a " +
    "dangling fact route identically to the batch keyed route, and " +
    "replay is idempotent") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-keyed-route").toString
    val (fRoot, rRoot) = (s"$base/facts", s"$base/refs")
    val uq = Seq(Expectations.Unique("unique:k", Seq("k")))
    val refUq = Seq(Expectations.Unique("unique:rk", Seq("rk")))
    val refStream = Seq(Expectations.RefStream("ref:k->r.rk", "k",
      Expectations.keyStoreDir(rRoot, Seq("rk"))))
    val refBatches = Seq(Seq(10L, 20L), Seq(30L))
    val factBatches = Seq(Seq(10L, 20L), Seq(20L, 30L, 40L))
    refBatches.zipWithIndex.foreach { case (b, i) =>
      Expectations.keyedAuditIngestBatch(b.toDF("rk"), i.toLong, rRoot,
        Nil, refUq, Nil)
    }
    factBatches.zipWithIndex.foreach { case (b, i) =>
      Expectations.keyedAuditIngestBatch(b.toDF("k"), i.toLong, fRoot,
        Nil, uq, refStream)
    }
    def routeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .sortBy(r => (r._1, r._2, r._3)).toSeq
    val got = routeRows(Expectations.keyedRouteFromStore(spark, "t", fRoot,
      uq, refStream))
    val want = routeRows(Expectations.keyedQuarantineRoute("t",
      factBatches.flatten.toDF("k"), "k", Nil, uq,
      Seq(Expectations.RefIn("ref:k->r.rk", "k",
        refBatches.flatten.toDF("rk"), "rk"))))
    assert(got === want, "store route must equal the batch keyed route")
    // the plant really exercised the keyed paths: 20 duplicated ACROSS
    // batches (one copy diverted), 40 dangling (diverted)
    assert(got.count(r => r._1 == 20L && r._3.contains("unique:k")) === 1)
    assert(got.count(r => r._1 == 40L && r._3.contains("ref:k")) === 1)
    // replay: re-running the last fact batch overwrites its own dirs
    Expectations.keyedAuditIngestBatch(factBatches(1).toDF("k"), 1L, fRoot,
      Nil, uq, refStream)
    assert(routeRows(Expectations.keyedRouteFromStore(spark, "t", fRoot,
      uq, refStream)) === got, "replay must be idempotent")
  }

  test("compound-key store route: a multi-column Unique reconstitutes " +
    "every copy from the store exactly as the batch window ranks them, " +
    "cross-batch compound duplicates included, and replay is idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-compound-route").toString
    val uq = Seq(Expectations.Unique("u:ab", Seq("a", "b")))
    // (1,1) duplicated ACROSS batches; (2,1) within one batch; (1,2)
    // shares a's value with (1,1) but is a distinct tuple — a
    // single-column encoding would conflate it
    val b0 = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 1L))
    val b1 = Seq((1L, 1L), (3L, 3L))
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      Expectations.keyedAuditIngestBatch(b.toDF("a", "b"), i.toLong, root,
        Nil, uq, Nil)
    }
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(r => (r._1, r._2, r._3)).toSeq
    val got = rowsOf(Expectations.keyedRouteFromStore(spark, "t", root,
      uq, Nil))
    // the batch twin: rank every physical row within its tuple
    import org.apache.spark.sql.expressions.Window
    val twin = rowsOf((b0 ++ b1).toDF("a", "b")
      .withColumn("f_u", (row_number().over(
        Window.partitionBy("a", "b").orderBy("a")) > 1).cast("long"))
      .select(lit("t").as("table_name"), col("a"), col("b"),
        col("f_u").as("n_failed"),
        when(col("f_u") === 1L, lit("u:ab")).otherwise(lit("")).as("failed")))
    assert(got === twin, "compound store route == the batch window rank")
    assert(got.count(r => r._1 == 1L && r._2 == 1L && r._3 == 1L) === 1 &&
      got.count(r => r._1 == 1L && r._2 == 1L) === 2,
      "the cross-batch compound duplicate diverted exactly one copy")
    assert(got.filter(r => r._1 == 1L && r._2 == 2L)
      .forall(_._3 === 0L),
      "a tuple sharing one column's value is NOT conflated")
    Expectations.keyedAuditIngestBatch(b1.toDF("a", "b"), 1L, root, Nil,
      uq, Nil)
    assert(rowsOf(Expectations.keyedRouteFromStore(spark, "t", root, uq,
      Nil)) === got, "replay must be idempotent")
  }

  test("q162 catalog coherence: the compound route's per-pair copy " +
    "counts equal the raw lineitem group sizes and its violation mass " +
    "equals the audit arithmetic") {
    val route = Expectations.streamingCompoundKeyedRoute(spark, D)
    val perPair = route.groupBy("l_partkey", "l_suppkey")
      .agg(count(lit(1)).as("n"),
        sum(when(col("status") === "quarantined", 1L).otherwise(0L))
          .as("nq"))
    val raw = graft.sources.Tables.lineitem(spark, D)
      .groupBy("l_partkey", "l_suppkey").agg(count(lit(1)).as("rn"))
    val joined = perPair.join(raw, Seq("l_partkey", "l_suppkey"), "full")
    assert(joined.filter(col("n").isNull || col("rn").isNull ||
      col("n") =!= col("rn") ||
      col("nq") =!= greatest(col("rn") - 1L, lit(0L))).count() === 0L,
      "per-pair copies == raw group size; quarantined == copies - 1")
  }

  test("route store: the COMPLETE route (scalar + Unique + RefIn per " +
    "physical row) off stores equals keyedQuarantineRoute, the " +
    "signature-ranked kept copy wins over arrival order, a row can fail " +
    "all three rule classes at once, and replay is idempotent") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-route-store").toString
    val (fRoot, rRoot) = (s"$base/facts", s"$base/refs")
    val checks = Seq(Expectations.Check("range:v", col("v").between(0, 100)))
    val uq = Seq(Expectations.Unique("unique:k", Seq("k")))
    val refStream = Seq(Expectations.RefStream("ref:fk->r", "fk", rRoot))
    // batch 0 carries the DIRTY copy of key 20 (range fail) BEFORE the
    // clean copy arrives in batch 1 — the kept copy must be the
    // signature-cleanest, not the first arrival; key 30's copies each
    // fail range AND ref, and the second-ranked one adds unique — one
    // physical row failing all three rule classes at once
    val b0 = Seq((10L, 5L, 1L), (20L, 500L, 1L), (30L, 700L, 99L))
    val b1 = Seq((20L, 5L, 1L), (30L, 800L, 99L), (40L, 5L, 2L))
    Seq(Seq(1L), Seq(2L)).zipWithIndex.foreach { case (ids, i) =>
      Expectations.routeIngestBatch(ids.toDF("r"), i.toLong, rRoot, "r",
        Nil, Nil)
    }
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      Expectations.routeIngestBatch(b.toDF("k", "v", "fk"), i.toLong,
        fRoot, "k", checks, Seq("fk"))
    }
    def routeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .sortBy(r => (r._1, r._2, r._3)).toSeq
    val got = routeRows(Expectations.routeFromStore(spark, "t", fRoot, "k",
      uq, refStream))
    val want = routeRows(Expectations.keyedQuarantineRoute("t",
      (b0 ++ b1).toDF("k", "v", "fk"), "k", checks, uq,
      Seq(Expectations.RefIn("ref:fk->r", "fk", Seq(1L, 2L).toDF("rr"),
        "rr"))))
    assert(got === want, "store route must equal the complete batch route")
    assert(got.filter(_._1 == 20L).map(r => (r._2, r._3)).sorted ===
      Seq((0L, ""), (2L, "range:v,unique:k")),
      "key 20: the clean later copy is kept, the dirty first arrival " +
        "diverts with its scalar AND unique labels")
    assert(got.filter(_._1 == 30L).map(r => (r._2, r._3)).sorted ===
      Seq((2L, "range:v,ref:fk->r"), (3L, "range:v,ref:fk->r,unique:k")),
      "key 30: one copy fails all three rule classes at once")
    // replay: re-running the last batches overwrites their own dirs
    Expectations.routeIngestBatch(b1.toDF("k", "v", "fk"), 1L, fRoot, "k",
      checks, Seq("fk"))
    Expectations.routeIngestBatch(Seq(2L).toDF("r"), 1L, rRoot, "r", Nil,
      Nil)
    assert(routeRows(Expectations.routeFromStore(spark, "t", fRoot, "k",
      uq, refStream)) === got, "replay must be idempotent")
    // a Unique keyed off anything but the store's row identity refuses
    intercept[IllegalArgumentException] {
      Expectations.routeFromStore(spark, "t", fRoot, "k",
        Seq(Expectations.Unique("unique:v", Seq("v"))), Nil)
    }
    // coded retention: compaction consolidates the per-batch dirs into
    // ONE batch=0 dir (the Compaction swap), every physical row
    // surviving verbatim (per-copy facts, not aggregates) — the readout
    // is unchanged, dirs are bounded, and further batches fold on top
    Expectations.compactRouteStore(spark, fRoot)
    Expectations.compactRouteStore(spark, rRoot)
    assert(routeRows(Expectations.routeFromStore(spark, "t", fRoot, "k",
      uq, refStream)) === got, "compaction must preserve the route")
    val fs = new org.apache.hadoop.fs.Path(fRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(fRoot)).toSeq
      .count(s => s.isDirectory &&
        s.getPath.getName.startsWith("batch=")) <= 2,
      "compaction must bound the batch dirs")
    val b2 = Seq((50L, 5L, 1L), (20L, 5L, 1L))
    Expectations.routeIngestBatch(b2.toDF("k", "v", "fk"), 2L, fRoot, "k",
      checks, Seq("fk"))
    val got2 = routeRows(Expectations.routeFromStore(spark, "t", fRoot,
      "k", uq, refStream))
    val want2 = routeRows(Expectations.keyedQuarantineRoute("t",
      (b0 ++ b1 ++ b2).toDF("k", "v", "fk"), "k", checks, uq,
      Seq(Expectations.RefIn("ref:fk->r", "fk", Seq(1L, 2L).toDF("rr"),
        "rr"))))
    assert(got2 === want2, "post-compaction batches fold on top exactly")
  }

  test("route-store coded retention: compact-every-K fires inside the " +
    "ingest, dirs stay bounded, the readout equals the batch route, " +
    "and replaying the policy batch is idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-route-policy").toString
    val checks = Seq(Expectations.Check("range:v", col("v").between(0, 100)))
    val uq = Seq(Expectations.Unique("unique:k", Seq("k")))
    val batches = (0 until 5).map(i =>
      Seq((i.toLong * 10, 5L), (7L, if (i == 3) 500L else 5L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      Expectations.routeIngestWithPolicy(b.toDF("k", "v"), i.toLong, root,
        "k", checks, Nil, compactEvery = 2)
    }
    def rowsOf() = Expectations.routeFromStore(spark, "t", root, "k", uq,
        Nil).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._1, r._2, r._3)).toSeq
    val got = rowsOf()
    val want = Expectations.keyedQuarantineRoute("t",
        batches.flatten.toDF("k", "v"), "k", checks, uq, Nil).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._1, r._2, r._3)).toSeq
    assert(got === want, "policy-compacted route == the batch route")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def nDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .count(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
    assert(nDirs() <= 4, s"dirs must stay bounded under the policy: ${nDirs()}")
    // replay the policy batch itself: re-compacts the same prefix, then
    // re-folds deterministically on top
    Expectations.routeIngestWithPolicy(batches(4).toDF("k", "v"), 4L, root,
      "k", checks, Nil, compactEvery = 2)
    assert(rowsOf() === got, "replaying the policy batch is idempotent")
  }

  test("q152/q153 catalog coherence: per-rule route flags reconcile with " +
    "the audit — scalar and RefIn exactly, Unique minus one kept copy " +
    "per duplicated key") {
    val audit = rows(Expectations.warehouseAudit(spark, D))
      .map(r => (r._1, r._2) -> r._4).toMap
    val route = Expectations.warehouseRowGateRoute(spark, D).collect()
      .map(r => (r.getString(0), r.getString(3)))
    def flagged(tbl: String, rule: String): Long =
      route.count(r => r._1 == tbl &&
        r._2.split(",").contains(rule)).toLong
    // scalar + RefIn flags: exact
    assert(flagged("orders", "range:o_totalprice") ===
      audit(("orders", "range:o_totalprice")))
    assert(flagged("lineitem", "range:l_quantity") ===
      audit(("lineitem", "range:l_quantity")))
    assert(flagged("lineitem", Expectations.LI_REF_NAME) ===
      audit(("lineitem", Expectations.LI_REF_NAME)))
    assert(flagged("customer", Expectations.CUST_REF_NAME) ===
      audit(("customer", Expectations.CUST_REF_NAME)))
    // unique flags: audit counts ALL copies; the route keeps one per key
    val nDupKeys = graft.sources.Tables.lineitem(spark, D)
      .groupBy("l_orderkey").count()
      .filter(col("count") > 1).count()
    assert(flagged("lineitem", "unique:l_orderkey") ===
      audit(("lineitem", "unique:l_orderkey")) - nDupKeys)
    // and the streaming keyed route agrees with the batch route on the
    // keyed flags
    val streamed = Expectations.streamingWarehouseKeyedRoute(spark, D)
      .collect().map(r => (r.getString(0), r.getString(3)))
    def sflagged(tbl: String, rule: String): Long =
      streamed.count(r => r._1 == tbl &&
        r._2.split(",").contains(rule)).toLong
    assert(sflagged("lineitem", "unique:l_orderkey") ===
      flagged("lineitem", "unique:l_orderkey"))
    assert(sflagged("orders", "unique:o_orderkey") ===
      flagged("orders", "unique:o_orderkey"))
  }
}
