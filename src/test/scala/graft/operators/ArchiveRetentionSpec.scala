package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ARCHIVE RETENTION ([[Curation.compactFlatBatchStore]] via
  * `archiveEvery` on the gated ingest): the crawl archive tee otherwise
  * accumulates one directory per batch forever — the small-files
  * problem the store compactors exist for, re-created on the archive.
  * Consolidation is row-preserving (every archived VERSION survives,
  * the as-of cut moves from directory names to the rows' own `ver`),
  * crash-safe through the index compactor's write-tmp / commit-marker /
  * delete / publish protocol, and transparent to the consumers that
  * matter: the refold repair and the update excision read stale-version
  * texts off the consolidated store unchanged.
  */
class ArchiveRetentionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val checks = Seq(Expectations.inSet("lang", Seq("en", "de")))

  private def df(rows: Seq[(Long, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "lang", "text")
  }

  private val b0: Seq[(Long, String, String, String)] =
    Seq((10L, "s1", "en", "t u v w x y z"),
      (20L, "s1", "en", "a b c d e f g"),
      (30L, "s2", "de", "h i j k l m n"))
  private val b1: Seq[(Long, String, String, String)] =
    Seq((40L, "s1", "en", "o p q r s t u"))
  private val b2: Seq[(Long, String, String, String)] =
    Seq((10L, "s1", "en", "t u v w x y z nine"),
      (50L, "s2", "de", "v w x y z a b"))

  private def arcRows(dir: String, below: Long): Set[(Long, Long, String)] =
    ReleaseStream.readArchive(spark, dir, below)
      .select("doc_id", "ver", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("archiveEvery consolidates the per-batch dirs (row-preserving, " +
    "every version survives), as-of reads cut on the rows' own ver, and " +
    "the update excision at the SAME batch reads the consolidated store") {
    val root = Files.createTempDirectory("graft-arcret").toString
    val arch = s"$root/archive"
    def step(b: Long, rows: Seq[(Long, String, String, String)]): Unit = {
      ReleaseStream.releaseIngestBatch(df(rows), b, root,
        IngestPolicy(gateChecks = checks, archiveDir = Some(arch),
          updateKeys = true, archiveEvery = 2))
      ()
    }
    step(0L, b0)
    step(1L, b1)
    // batch 2: the archive compaction (dirs 0,1 -> one batch=0) runs
    // FIRST, then the update excision of doc 10 reads the CONSOLIDATED
    // archive for its stale version text, then the fold
    step(2L, b2)
    val dirs = new java.io.File(arch).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs === Set("batch=0", "batch=2"),
      s"dirs 0,1 must consolidate into batch=0; got $dirs")
    // every version survives consolidation; the as-of cut is row-level
    assert(arcRows(arch, 3L) ===
      (b0.map(r => (r._1, 0L, r._4)) ++ b1.map(r => (r._1, 1L, r._4)) ++
        b2.map(r => (r._1, 2L, r._4))).toSet,
      "full read must hold every archived version")
    assert(arcRows(arch, 1L) === b0.map(r => (r._1, 0L, r._4)).toSet,
      "below=1 must cut INSIDE the consolidated dir by the rows' own ver")
    // the excision worked off the consolidated store: doc 10's old text
    // no longer claims, its new version folded
    val got = ReleaseStream.releaseState(spark, root)
      .filter(col("doc_id") === 10L).select("n_tokens")
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(8L),
      "doc 10's latest version (8 tokens) must be the folded one — the " +
        "excision found its stale text in the consolidated archive")
  }

  test("crash windows: a leftover tmp without the marker rolls back " +
    "(originals authoritative); a marker present publishes the merged " +
    "tmp and deletes the merged-in originals") {
    import spark.implicits._
    val arch = Files.createTempDirectory("graft-arccrash").toString
    def write(b: Long, rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("doc_id", "ver", "text")
        .write.mode("overwrite").parquet(s"$arch/batch=$b")
    write(0L, Seq((1L, 0L, "alpha")))
    write(1L, Seq((2L, 1L, "beta")))
    // window 1: died before commit — tmp exists, no marker
    Seq((9L, 9L, "junk")).toDF("doc_id", "ver", "text")
      .write.mode("overwrite").parquet(s"$arch/.compact-tmp")
    assert(arcRows(arch, 10L) ===
      Set((1L, 0L, "alpha"), (2L, 1L, "beta")),
      "pre-marker crash: originals stay authoritative, tmp discarded")
    assert(!new java.io.File(s"$arch/.compact-tmp").exists,
      "recovery must delete the uncommitted tmp")
    // window 2: died after the marker, before deletes/publish — the
    // merged tmp is authoritative
    Seq((1L, 0L, "alpha"), (2L, 1L, "beta")).toDF("doc_id", "ver", "text")
      .write.mode("overwrite").parquet(s"$arch/.compact-tmp")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$arch/.compact-commit"), "2\n")
    assert(arcRows(arch, 10L) ===
      Set((1L, 0L, "alpha"), (2L, 1L, "beta")),
      "post-marker crash: recovery publishes the merged tmp")
    val dirs = new java.io.File(arch).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs === Set("batch=0"),
      s"recovery must leave exactly the consolidated dir; got $dirs")
  }

  test("re-consolidation is lossless (a consolidated batch=0 merges " +
    "again with newer dirs) and a replayed policy batch no-ops") {
    val root = Files.createTempDirectory("graft-arcre").toString
    val arch = s"$root/archive"
    def step(b: Long, rows: Seq[(Long, String, String, String)]): Unit = {
      ReleaseStream.releaseIngestBatch(df(rows), b, root,
        IngestPolicy(gateChecks = checks, archiveDir = Some(arch),
          updateKeys = true, archiveEvery = 2))
      ()
    }
    step(0L, b0)
    step(1L, b1)
    step(2L, b2)  // consolidates {0,1}
    step(3L, Seq((60L, "s1", "en", "c d e f g h i")))
    step(4L, Seq((70L, "s2", "de", "j k l m n o p")))  // consolidates {0,2,3}
    val expect = (b0.map(r => (r._1, 0L, r._4)) ++
      b1.map(r => (r._1, 1L, r._4)) ++ b2.map(r => (r._1, 2L, r._4)) ++
      Seq((60L, 3L, "c d e f g h i"), (70L, 4L, "j k l m n o p"))).toSet
    assert(arcRows(arch, 5L) === expect,
      "re-consolidation must preserve every version")
    val before = arcRows(arch, 5L)
    step(4L, Seq((70L, "s2", "de", "j k l m n o p")))  // replay
    assert(arcRows(arch, 5L) === before,
      "replaying the policy batch must leave the archive unchanged")
    val dirs = new java.io.File(arch).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs === Set("batch=0", "batch=4"),
      s"got $dirs")
  }
}
