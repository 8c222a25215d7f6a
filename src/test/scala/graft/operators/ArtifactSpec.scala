package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

/** The build-once curation-index artifact (q87/q89/q90) must be a pure
  * CACHE: every from-index query path returns bit-identical output to its
  * from-raw-text twin on the fixture corpus. The artifact build itself is
  * also exercised through the content-keyed ensure path (same-session
  * memoization + on-disk marker).
  */
class ArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plantedDocs =
    Dedup.withPlantedExcerpts(
      Tables.documents(spark, TestSpark.SF0001).select("doc_id", "text"))

  private lazy val idx =
    DedupArtifacts.buildCurationIndex(plantedDocs, 900).persist()

  test("containmentPairsFromIndex == containmentPairs on the planted corpus") {
    val fromIdx = containmentRows(
      Dedup.containmentPairsFromIndex(idx, 900, 800))
    val direct = containmentRows(
      Dedup.containmentPairs(plantedDocs, cache = false))
    assert(fromIdx.nonEmpty && fromIdx === direct,
      s"missing=${direct -- fromIdx} extra=${fromIdx -- direct}")
  }

  private def containmentRows(df: org.apache.spark.sql.DataFrame) =
    df.select("d1", "d2", "jaccard_x1e3", "containment_x1e3").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("leakFreeSplitContainmentFromIndex == leakFreeSplitContainment") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val fromIdx = rows(
      Dedup.leakFreeSplitContainmentFromIndex(plantedDocs, idx))
    val direct = rows(
      Dedup.leakFreeSplitContainment(plantedDocs, cache = false))
    assert(fromIdx === direct)
  }

  test("ensureCurationIndex is content-keyed and builds once per session") {
    val d1 = DedupArtifacts.ensureCurationIndex(spark, TestSpark.SF0001)
    val d2 = DedupArtifacts.ensureCurationIndex(spark, TestSpark.SF0001)
    assert(d1 === d2)
    assert(new java.io.File(s"$d1/_GRAFT_INDEX_OK").exists())
    // the persisted relation matches the in-memory build
    val stored = spark.read.parquet(d1)
    assert(stored.columns.sorted.toSeq ===
      Seq("doc_id", "pref", "sh", "sig"))
    assert(stored.count() === idx.count())
  }

  private def rawDocs =
    Tables.documents(spark, TestSpark.SF0001).select("doc_id", "text")

  private lazy val rawIdx =
    DedupArtifacts.buildCurationIndex(rawDocs, 900).persist()

  test("verifiedPairsFromIndex == jaccardPairsLshVerified on the raw corpus") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("d1", "d2", "jaccard_x1e3").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromIdx = rows(Dedup.verifiedPairsFromIndex(rawIdx, 800))
    val direct = rows(Dedup.jaccardPairsLshVerified(rawDocs, 800, cache = false))
    assert(fromIdx.nonEmpty && fromIdx === direct,
      s"missing=${direct -- fromIdx} extra=${fromIdx -- direct}")
  }

  test("nearDupClustersFromIndex == nearDupClusters; " +
    "leakFreeSplitFromIndex == leakFreeSplit") {
    val lblIdx = Dedup.nearDupClustersFromIndex(rawIdx, 800).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lblDirect = Dedup.nearDupClusters(rawDocs, 800, cache = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lblIdx === lblDirect)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val fromIdx = rows(Dedup.leakFreeSplitFromIndex(rawDocs, rawIdx, 800))
    val direct = rows(Dedup.leakFreeSplit(rawDocs, 800))
    assert(fromIdx === direct)
  }

  test("curateStrict from the whole-corpus pair artifact == live LSH " +
    "over the gated subset (pairwise-property equality)") {
    val docs = Tables.documents(spark, TestSpark.SF0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val fromArtifact = rows(Curation.curateStrict(docs,
      txtPairs = Some(Dedup.verifiedPairsFromIndex(rawIdx, 800))))
    val live = rows(Curation.curateStrict(docs))
    assert(fromArtifact.nonEmpty && fromArtifact === live,
      "corpus-pair routing must be a pure cache of the gated-subset LSH")
  }

  test("raw and planted artifacts resolve to distinct content-keyed dirs") {
    val p = DedupArtifacts.ensureCurationIndex(spark, TestSpark.SF0001)
    val r = DedupArtifacts.ensureCurationIndex(spark, TestSpark.SF0001,
      planted = false)
    assert(p !== r, "planted and raw corpora must never share an artifact")
    assert(spark.read.parquet(r).count() === rawIdx.count())
  }

  test("ensureTree publishes atomically: a crashed build never publishes, " +
    "and the retry rebuilds from scratch (no partial content survives)") {
    val key = "tree-crash-spec|" + java.util.UUID.randomUUID().toString
    // the random key makes a fresh tree in the shared artifact cache:
    // remove it (and any staging dir) whatever the outcome
    var staging: Option[String] = None
    try {
      val boom = intercept[RuntimeException] {
        DedupArtifacts.ensureTree(key) { dir =>
          staging = Some(dir)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, "partial.txt"), "half-written")
          throw new RuntimeException("boom")
        }
      }
      assert(boom.getMessage === "boom")
      // the retry must get a CLEAN staging dir (the crashed attempt's
      // partial content must not leak into the published tree) and
      // publish atomically
      val dir = DedupArtifacts.ensureTree(key) { d =>
        assert(!new java.io.File(d, "partial.txt").exists(),
          "the staging dir of a retry must start clean")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, "good.txt"), "ok")
      }
      assert(new java.io.File(dir, "good.txt").exists(),
        "the retried build's content must be published")
      assert(new java.io.File(dir, "_GRAFT_INDEX_OK").exists(),
        "the published tree carries its completeness marker")
      assert(!new java.io.File(dir + ".tmp").exists(),
        "the staging dir must be gone after publication")
    } finally {
      staging.foreach { s =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s))
        org.apache.hadoop.fs.FileUtil.fullyDelete(
          new java.io.File(s.stripSuffix(".tmp")))
      }
    }
  }
}
