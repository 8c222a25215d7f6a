package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** RE-CRAWL UPDATE SEMANTICS ([[ReleaseStream.exciseRearrivals]] via
  * `updateKeys` on the gated ingest): a doc re-arriving with CHANGED
  * text has its whole first-version cascade footprint excised BEFORE
  * the new version folds, so the state equals the batch twin
  * ([[Curation.divertedReleaseExport]]) over the LATEST version of
  * every doc — in-line, with no repair cadence. The planted scenario
  * covers every stale-residue class the excision retires: an exact
  * keeper whose text moves away (the shadowed copy must be promoted
  * and a LATER copy of the old text must claim against the promotee,
  * not the stale ledger row), a near-dup BRIDGE whose text moves away
  * (the component must un-merge, and a later near-dup of the OLD text
  * must not cluster through the excised index entry), a SOURCE change
  * (cap counts move between sources), a clean→dirty update (diverts
  * over already-excised state — the final verdict with no refold), and
  * replay idempotency of the update batch.
  */
class UpdateFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val checks = Seq(Expectations.inSet("lang", Seq("en", "de")))

  private def df(rows: Seq[(Long, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "lang", "text")
  }

  private def rowsOf(d: DataFrame): Set[(Long, String, Long, String, String, Long)] =
    d.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getString(3), r.getString(4), r.getLong(5))).toSet

  /** The batch twin over the LATEST rows: verified LSH pairs over the
    * final corpus, the diverted export on top.
    */
  private def finalTwin(rows: Seq[(Long, String, String, String)])
      : Set[(Long, String, Long, String, String, Long)] = {
    val d = df(rows)
    val pairs = Dedup.verifiedPairsFromIndex(
      Dedup.nearDupIndex(d.select("doc_id", "text")), 800).select("d1", "d2")
    rowsOf(Curation.divertedReleaseExport(d, checks, pairs))
  }

  // the RefoldSpec geometry: 18-word shared core, two 4-word suffixes;
  // J(A, Dbr) = J(B, Dbr) = 16/20 = .800, J(A, B) = 16/24 = .667 — Dbr
  // is the BRIDGE holding {A, Dbr, B} together
  private val core = (1 to 18).map(i => s"w$i").mkString(" ")
  private val textA = core + " a1 a2 a3 a4"
  private val textB = core + " b1 b2 b3 b4"
  private val textD = core

  /** batch 0: everything clean. 10 and 20 share a text (10 the keeper,
    * 20 the shadowed copy); 30/35/40 the bridge triple; 100..139 en
    * fillers under one over-cap source that also contest the eval
    * seats.
    */
  private val b0: Seq[(Long, String, String, String)] =
    Seq((10L, "s1", "en", "t u v w x y z"),
      (20L, "s1", "en", "t u v w x y z"),
      (30L, "s2", "de", textA),
      (35L, "s2", "de", textD),
      (40L, "s2", "de", textB)) ++
      (100L until 140L).map(i =>
        (i, "s4", "en", s"filler $i alpha beta gamma delta epsilon"))

  /** batch 1: the UPDATE wave — 10 (keeper) and 35 (bridge) re-arrive
    * clean with UNRELATED new texts, 105 re-arrives clean under a NEW
    * source, 110 re-arrives DIRTY (final verdict quarantined, with the
    * new text's token count).
    */
  private val updated = Set(10L, 35L, 105L, 110L)
  private val b1: Seq[(Long, String, String, String)] =
    Seq((10L, "s1", "en", "fresh ten text entirely new"),
      (35L, "s2", "de", "moved away from the bridge core completely"),
      (105L, "s9", "en", "filler 105 alpha beta gamma delta epsilon"),
      (110L, "s4", "xx", "one hundred ten went dirty"))

  /** One row per doc at its latest version. */
  private val finalRows: Seq[(Long, String, String, String)] =
    b0.filterNot(r => updated.contains(r._1)) ++ b1

  private def step(root: String, b: Long,
                   rows: Seq[(Long, String, String, String)]): Unit = {
    ReleaseStream.releaseIngestBatch(df(rows), b, root,
      IngestPolicy(gateChecks = checks,
        archiveDir = Some(s"$root/archive"), updateKeys = true))
    ()
  }

  test("updateKeys: the state after a changed-text re-crawl equals the " +
    "batch twin over LATEST versions — keeper promotion, bridge " +
    "un-merge, cap re-count under a source change, dirty update " +
    "diverting over excised state; replaying the update batch is " +
    "idempotent") {
    val root = Files.createTempDirectory("graft-updfold").toString
    step(root, 0L, b0)
    val before = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(before.find(_._1 == 20L).get._4 === "exact",
      "pre-update, the shadowed copy must be suppressed by the keeper")
    assert(before.find(_._1 == 40L).get._4 === "neardup",
      "pre-update, the bridge must hold {30,35,40} together")
    step(root, 1L, b1)
    val got = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(got === finalTwin(finalRows),
      "update-mode state must equal the diverted batch twin over the " +
        "latest version of every doc")
    assert(got.find(_._1 == 20L).get._4 !== "exact",
      "the keeper's text moved away — its stale claim must not keep " +
        "suppressing the shadowed copy")
    assert(got.find(_._1 == 40L).get._4 !== "neardup",
      "the bridge's text moved away — the component must un-merge")
    assert(got.find(_._1 == 110L).get._4 === "quarantined",
      "a dirty update diverts over already-excised state — the final " +
        "verdict, in-line")
    // replay: the excision re-resolves the already-repaired pre-batch
    // frontier (no residue — the first attempt consumed it) and the
    // fold rewrites its own dirs deterministically
    step(root, 1L, b1)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === got,
      "replaying the update batch must be idempotent")
  }

  test("updateKeys: POST-update folds build on retired state — a copy of " +
    "the old keeper text claims against the PROMOTED doc (not the stale " +
    "ledger row), a near-dup of the old bridge text does not cluster " +
    "through the excised index entry, and a near-dup of the NEW text " +
    "does") {
    val root = Files.createTempDirectory("graft-updfwd").toString
    step(root, 0L, b0)
    step(root, 1L, b1)
    // 50: near-dup of ONLY the excised old bridge text; 60: exact copy
    // of the old keeper text (20 now owns it); 70: near-dup of 35's NEW
    // text (7/8 shingles shared)
    val b2 = Seq((50L, "s2", "de", textD + " z1"),
      (60L, "s1", "en", "t u v w x y z"),
      (70L, "s2", "de", "moved away from the bridge core completely yes"))
    step(root, 2L, b2)
    val got = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(got === finalTwin(finalRows ++ b2),
      "post-update folds must keep equaling the latest-version twin")
    assert(got.find(_._1 == 50L).get._4 !== "neardup",
      "the newcomer must not inherit a cluster through the excised " +
        "old-text index entry")
    assert(got.find(_._1 == 60L).get._4 === "exact",
      "the old text is still live via the promoted copy — a later " +
        "arrival loses to it")
    assert(Set(got.find(_._1 == 70L).get._4,
      got.find(_._1 == 35L).get._4).contains("neardup"),
      "the updated doc's NEW text must be probe-able — one of the " +
        "near-dup pair is removed")
  }

  test("updateKeys composes with the compaction and refold policies: the " +
    "policy batch compacts FIRST, so the update excision reads the " +
    "CONSOLIDATED ledger (the shadowed copy's claim must survive " +
    "consolidation for the promotion), the refold cadence stays a live " +
    "no-op, and the state equals the latest-version twin") {
    val root = Files.createTempDirectory("graft-updcomp").toString
    def pstep(b: Long, rows: Seq[(Long, String, String, String)]): Unit = {
      ReleaseStream.releaseIngestBatch(df(rows), b, root,
        IngestPolicy(compactEvery = 2, gateChecks = checks,
          archiveDir = Some(s"$root/archive"), refoldEvery = 2,
          updateKeys = true))
      ()
    }
    pstep(0L, b0)
    val mid = Seq((200L, "s5", "en", "another doc entirely new words"))
    pstep(1L, mid)
    // batch 2 fires ALL the policies before its own fold: compaction
    // (below 2), refold (no residue — a live no-op), then the update
    // excision against the consolidated ledger, then the fold
    pstep(2L, b1)
    val got = rowsOf(ReleaseStream.releaseState(spark, root))
    assert(got === finalTwin(finalRows ++ mid),
      "all-policies state must equal the latest-version twin")
    assert(got.find(_._1 == 20L).get._4 !== "exact",
      "the promotion must work off the CONSOLIDATED claim ledger")
    val fsck = ReleaseStream.fsckReleaseState(spark, root, deep = true)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(!fsck.exists(_._1 == "quar-winner-residue") &&
      !fsck.exists(_._2 == "error"), fsck.mkString("; "))
  }

  test("MemoryStream end-to-end: update semantics rides " +
    "streamingReleaseIngest — the re-crawl wave excises inside " +
    "foreachBatch (archive retention on) and the streamed state equals " +
    "the latest-version twin") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft-updmem").toString
    val in = MemoryStream[(Long, String, String, String)](spark)
    val q = ReleaseStream.streamingReleaseIngest(
      in.toDF().toDF("doc_id", "source", "lang", "text"), root,
      Files.createTempDirectory("graft-updmemck").toString,
      IngestPolicy(gateChecks = checks, archiveDir = Some(s"$root/archive"),
        updateKeys = true, archiveEvery = 2))
    // batch 2 (the update wave) fires the archive consolidation AND the
    // in-line excision inside the same foreachBatch invocation
    val late = Seq((60L, "s1", "en", "t u v w x y z"))
    try {
      in.addData(b0); q.processAllAvailable()
      in.addData(late); q.processAllAvailable()
      in.addData(b1); q.processAllAvailable()
    } finally q.stop()
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) ===
      finalTwin(finalRows ++ late),
      "streamed update-mode state == the latest-version twin")
  }

  test("updateKeys refusals: without archiveDir (the excision needs the " +
    "stale version texts), and combined with gateUnique (REPLACE vs " +
    "DIVERT are mutually exclusive key policies)") {
    val root = Files.createTempDirectory("graft-updref").toString
    val e1 = intercept[IllegalArgumentException] {
      IngestPolicy(gateChecks = checks, updateKeys = true)
    }
    assert(e1.getMessage.contains("updateKeys needs archiveDir"),
      s"got: ${e1.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      IngestPolicy(gateChecks = checks,
        archiveDir = Some(s"$root/archive"), gateUnique = true,
        updateKeys = true)
    }
    assert(e2.getMessage.contains("mutually exclusive"),
      s"got: ${e2.getMessage}")
    // the other policy refusals, all at construction (no Spark job): the
    // two archive-reading cadences without an archive, and negative
    // cadences, which used to disable a policy silently
    val refusals = Seq(
      (() => IngestPolicy(refoldEvery = 2), "refoldEvery needs archiveDir"),
      (() => IngestPolicy(archiveEvery = 2),
        "archiveEvery compacts the crawl archive"),
      (() => IngestPolicy(compactEvery = -1), "compactEvery: 0 disables"),
      (() => IngestPolicy(archiveDir = Some(s"$root/archive"),
        refoldEvery = -2), "refoldEvery: 0 disables"),
      (() => IngestPolicy(archiveDir = Some(s"$root/archive"),
        archiveEvery = -2), "archiveEvery: 0 disables"))
    refusals.foreach { case (build, msg) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(msg), s"want '$msg', got: ${e.getMessage}")
    }
  }
}
