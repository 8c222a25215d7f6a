package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The FINAL-VERDICT REFOLD contract ([[ReleaseStream.refoldQuarResidue]]):
  * after the repair, an LWW-gated root's readout equals the batch twin
  * ([[Curation.divertedReleaseExport]]) over the FINAL version of every
  * doc — the stream==batch contract upgraded from "row verdicts
  * reconcile" to full cascade equivalence. The planted scenario covers
  * every residue class the fsck warning names: an exact keeper whose
  * SAME-BATCH shadowed copy only the claim ledger remembers, a near-dup
  * BRIDGE whose excision un-merges two components, contested eval seats,
  * and an over-cap source — plus idempotency, the future-fold posture
  * (the excised doc must be gone from the probe index too), the
  * post-compaction ledger, and the archive-coverage fail-fast.
  */
class RefoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val checks = Seq(Expectations.inSet("lang", Seq("en", "de")))

  private def df(rows: Seq[(Long, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "lang", "text")
  }

  private def rowsOf(d: DataFrame): Set[(Long, String, Long, String, String, Long)] =
    d.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getString(3), r.getString(4), r.getLong(5))).toSet

  /** The batch twin over the FINAL rows: verified LSH pairs over the
    * final corpus, the diverted export on top.
    */
  private def finalTwin(rows: Seq[(Long, String, String, String)])
      : Set[(Long, String, Long, String, String, Long)] = {
    val d = df(rows)
    val pairs = Dedup.verifiedPairsFromIndex(
      Dedup.nearDupIndex(d.select("doc_id", "text")), 800).select("d1", "d2")
    rowsOf(Curation.divertedReleaseExport(d, checks, pairs))
  }

  // 18-word shared core: 16 trigram shingles; each 4-word suffix adds 4.
  // J(A, Dbr) = J(B, Dbr) = 16/20 = .800 (>= the 800 threshold);
  // J(A, B) = 16/24 = .667 — Dbr is the BRIDGE holding {A, Dbr, B}
  // together, exactly the component its excision must split.
  private val core = (1 to 18).map(i => s"w$i").mkString(" ")
  private val textA = core + " a1 a2 a3 a4"
  private val textB = core + " b1 b2 b3 b4"
  private val textD = core

  /** batch 0: everything clean. doc 10 and doc 20 share a text (10 is
    * the keeper, 20 the SAME-BATCH shadowed copy); 30/35/40 are the
    * bridge triple; 100..139 are en fillers under one over-cap source
    * (SOURCE_CAP = 20) that also contest the PER_LANG = 20 eval seats.
    */
  private val b0: Seq[(Long, String, String, String)] =
    Seq((10L, "s1", "en", "t u v w x y z"),
      (20L, "s1", "en", "t u v w x y z"),
      (30L, "s2", "de", textA),
      (35L, "s2", "de", textD),
      (40L, "s2", "de", textB)) ++
      (100L until 140L).map(i =>
        (i, "s4", "en", s"filler $i alpha beta gamma delta epsilon"))

  /** batch 1: re-crawls flipping docs 10 (keeper), 35 (bridge) and two
    * fillers to DIRTY — their final verdict is quarantined, their clean
    * folds are the residue.
    */
  private val flipped = Set(10L, 35L, 105L, 110L)
  private val b1: Seq[(Long, String, String, String)] =
    b0.filter(r => flipped.contains(r._1))
      .map(r => (r._1, r._2, "xx", r._4))

  /** One row per doc at its latest version — what the repaired state
    * must equal the batch twin over.
    */
  private val finalRows: Seq[(Long, String, String, String)] =
    b0.filterNot(r => flipped.contains(r._1)) ++ b1

  private def archive(): DataFrame = {
    import spark.implicits._
    (b0.map(r => (r._1, 0L, r._4)) ++ b1.map(r => (r._1, 1L, r._4)))
      .toDF("doc_id", "ver", "text")
  }

  private def ingestBoth(root: String): Unit = {
    ReleaseStream.releaseIngestBatch(df(b0), 0L, root,
      IngestPolicy(gateChecks = checks))
    ReleaseStream.releaseIngestBatch(df(b1), 1L, root,
      IngestPolicy(gateChecks = checks))
  }

  test("refold: the repaired state == the diverted batch twin over final " +
    "verdicts — keeper promotion via the claim ledger, bridge un-merge, " +
    "eval re-seat and cap re-rank all land; fsck goes clean; the repair " +
    "is idempotent") {
    val root = Files.createTempDirectory("graft-refold").toString
    ingestBoth(root)
    val before = rowsOf(ReleaseStream.releaseState(spark, root))
    // the hazard the repair exists for: doc 20 suppressed by the
    // excisable keeper 10, doc 40 a near-dup casualty of the bridge
    assert(before.find(_._1 == 20L).get._4 === "exact",
      "pre-repair, the shadowed copy must still be suppressed")
    assert(before.find(_._1 == 40L).get._4 === "neardup",
      "pre-repair, the bridge must hold {30,35,40} together (LSH found " +
        "the planted .8 pairs)")
    val fsckBefore = ReleaseStream.fsckReleaseState(spark, root, deep = true)
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(fsckBefore.exists(f => f._1 == "quar-winner-residue" &&
      f._2.startsWith(s"${flipped.size} ")),
      s"all ${flipped.size} flips must surface as residue: " +
        fsckBefore.mkString("; "))
    val findings = ReleaseStream.refoldQuarResidue(spark, root, archive())
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(findings.exists(f => f._1 == "residue" &&
      f._2.startsWith(s"${flipped.size} ")), findings.mkString("; "))
    val after = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(after === finalTwin(finalRows),
      "repaired state must equal the diverted batch twin over final rows")
    assert(after.find(_._1 == 20L).get._4 !== "exact",
      "the shadowed same-batch copy must be promoted — only the claim " +
        "ledger (not per-batch minima) can know it exists")
    assert(after.find(_._1 == 40L).get._4 !== "neardup",
      "un-merging the bridge must free the far component's doc")
    assert(after.filter(r => flipped.contains(r._1))
      .forall(r => r._4 == "quarantined" && r._6 == 0L),
      "flipped docs stay quarantined with zero mixture weight")
    val fsckAfter = ReleaseStream.fsckReleaseState(spark, root, deep = true)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(!fsckAfter.exists(_._1 == "quar-winner-residue") &&
      !fsckAfter.exists(_._2 == "error"),
      s"post-repair fsck must be residue-free and error-free: " +
        fsckAfter.mkString("; "))
    // idempotency: a second repair finds nothing and changes nothing
    val again = ReleaseStream.refoldQuarResidue(spark, root, archive())
      .collect().map(_.getString(2))
    assert(again.exists(_.contains("no quar-winner residue")),
      again.mkString("; "))
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === after,
      "re-running the repair must be a no-op")
  }

  test("refold: future folds build on the repaired state — a new near-dup " +
    "of the EXCISED doc must not cluster against it (index excision), and " +
    "a new exact copy of its text claims fresh") {
    val root = Files.createTempDirectory("graft-refoldfwd").toString
    ingestBoth(root)
    ReleaseStream.refoldQuarResidue(spark, root, archive())
    // doc 50: near-dup of ONLY the excised bridge text (J = 17/18 vs 35,
    // 16/21 = .76 vs A/B — below threshold); doc 60: exact copy of the
    // excised doc 10's text
    val b2 = Seq((50L, "s2", "de", textD + " z1"),
      (60L, "s1", "en", "t u v w x y z"))
    ReleaseStream.releaseIngestBatch(df(b2), 2L, root,
      IngestPolicy(gateChecks = checks))
    val got = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(got === finalTwin(finalRows ++ b2),
      "post-repair folds must keep equaling the final-verdict twin — " +
        "the excised doc must be gone from the probe index and the claim " +
        "ledger alike")
    assert(got.find(_._1 == 50L).get._4 !== "neardup",
      "the newcomer must not inherit a cluster through the excised bridge")
  }

  test("refold after COMPACTION: the consolidated claim ledger still " +
    "holds the shadowed copy's claim (collapsing to min-per-hash would " +
    "lose it) and the repair stays exact") {
    val root = Files.createTempDirectory("graft-refoldcomp").toString
    ingestBoth(root)
    ReleaseStream.compactReleaseState(spark, root)
    ReleaseStream.refoldQuarResidue(spark, root, archive())
    val after = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(after === finalTwin(finalRows),
      "post-compaction repair must equal the final-verdict twin")
    assert(after.find(_._1 == 20L).get._4 !== "exact",
      "the promotion must survive ledger consolidation")
  }

  test("refold refuses an archive that does not cover a residue doc's " +
    "folded history (a partial excision would leave ghost keeper slots)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-refoldarc").toString
    ingestBoth(root)
    // drop EVERY version of doc 10 — its re-crawl reused the same text,
    // so leaving the ver-1 row would still cover the folded claim
    val partial = (b0.filter(_._1 != 10L).map(r => (r._1, 0L, r._4)) ++
      b1.filter(_._1 != 10L).map(r => (r._1, 1L, r._4)))
      .toDF("doc_id", "ver", "text")
    val e = intercept[IllegalArgumentException] {
      ReleaseStream.refoldQuarResidue(spark, root, partial)
    }
    assert(e.getMessage.contains("archive does not cover"),
      s"got: ${e.getMessage}")
  }

  test("refold POLICY: the ingest tees its own archive, the K-th batch " +
    "repairs below its own id before folding, post-repair batches " +
    "compose, and REPLAYING the policy batch is idempotent") {
    val root = Files.createTempDirectory("graft-refoldpol").toString
    val arch = s"$root/archive"
    def step(b: Long, rows: Seq[(Long, String, String, String)]): Unit = {
      ReleaseStream.releaseIngestBatch(df(rows), b, root,
        IngestPolicy(gateChecks = checks, archiveDir = Some(arch),
          refoldEvery = 2))
      ()
    }
    step(0L, b0)
    step(1L, b1)
    // the policy batch: fires the repair (below id 2) THEN folds two new
    // docs — one of them near-dup of ONLY the excised bridge text
    val b2 = Seq((50L, "s2", "de", textD + " z1"),
      (60L, "s1", "en", "t u v w x y z"))
    step(2L, b2)
    val got = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(got === finalTwin(finalRows ++ b2),
      "policy-repaired state + post-repair fold must equal the " +
        "final-verdict twin")
    val fsck = ReleaseStream.fsckReleaseState(spark, root, deep = true)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(!fsck.exists(_._1 == "quar-winner-residue") &&
      !fsck.exists(_._2 == "error"), fsck.mkString("; "))
    // the archive store: one dir per batch, replay-overwritten
    val dirs = new java.io.File(arch).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs === Set("batch=0", "batch=1", "batch=2"),
      s"the ingest must own its archive, got $dirs")
    // replay the POLICY batch: the repair re-resolves the already-
    // repaired frontier (no-op) and the fold converges
    step(2L, b2)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === got,
      "replaying the policy batch must be idempotent")
  }

  test("refold no-ops loudly on roots with nothing to repair: ungated " +
    "roots, and gated roots whose flips all went dirty->clean") {
    import spark.implicits._
    val ungated = Files.createTempDirectory("graft-refoldung").toString
    ReleaseStream.releaseIngestBatch(df(b0.take(5)), 0L, ungated)
    val f1 = ReleaseStream.refoldQuarResidue(spark, ungated,
      b0.take(5).map(r => (r._1, 0L, r._4)).toDF("doc_id", "ver", "text"))
      .collect().map(_.getString(2))
    assert(f1.exists(_.contains("no quarantine store")), f1.mkString("; "))
    // dirty-then-clean: the LWW readout already handles it — no residue
    val root = Files.createTempDirectory("graft-refoldclean").toString
    ReleaseStream.releaseIngestBatch(
      df(Seq((7L, "s1", "xx", "p q r"))), 0L, root,
      IngestPolicy(gateChecks = checks))
    ReleaseStream.releaseIngestBatch(
      df(Seq((7L, "s1", "en", "p q r"))), 1L, root,
      IngestPolicy(gateChecks = checks))
    val f2 = ReleaseStream.refoldQuarResidue(spark, root,
      Seq((7L, 0L, "p q r"), (7L, 1L, "p q r"))
        .toDF("doc_id", "ver", "text"))
      .collect().map(_.getString(2))
    assert(f2.exists(_.contains("no quar-winner residue")),
      f2.mkString("; "))
  }
}
