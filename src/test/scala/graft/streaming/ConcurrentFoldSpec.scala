package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ExecutionException

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Curation, Dedup, ReleaseStream}
import graft.sources.Tables

/** The release fold runs its two dataflows at once: the cluster-label
  * ingest on a thread of its own, the release stores on the caller's. A
  * failure in either branch fails the fold with that branch's own
  * exception, only after both branches have ended, and before the
  * release manifest; a retry then folds as if nothing had failed. The
  * label branch's jobs carry the caller's local properties (job group,
  * streaming ids, tags).
  */
class ConcurrentFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.documents(spark, TestSpark.SF0001)
    .select("doc_id", "source", "lang", "text").persist()

  private def rowsOf(df: DataFrame): Set[(Long, String, Long, String, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getString(3), r.getString(4), r.getLong(5))).toSet

  /** q132 over `docs`, every constituent derived live. */
  private lazy val twin = rowsOf(Curation.releaseExport(docs,
    Dedup.nearDupClusters(docs.select("doc_id", "text"), 800, cache = false)))

  private def liveFoldThreads(): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName == ReleaseStream.LabelThread && t.isAlive)

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  /** Folds batch 0 into `root` with `fault` (a regular file where a
    * directory belongs) in place, checks how the fold failed, then
    * clears the fault and checks that a retry reads out equal to q132.
    */
  private def failThenRetry(root: String, fault: String)
                           (afterFailure: => Unit = ()): Unit = {
    val blocker = Paths.get(s"$root/$fault")
    Files.write(blocker, "not a directory".getBytes("UTF-8"))
    val e = intercept[Exception](ReleaseStream.releaseIngestBatch(docs, 0L,
      root))
    assert(!e.isInstanceOf[ExecutionException],
      s"the branch's own exception, not a wrapper: $e")
    assert(causes(e).exists(c => String.valueOf(c.getMessage)
      .contains(fault)), s"the error names $fault: $e")
    assert(!new File(s"$root/batch=0/_MANIFEST").exists,
      "a failed fold commits no release manifest")
    assert(liveFoldThreads().isEmpty, "the fold left its label thread alive")
    afterFailure
    Files.delete(blocker)
    ReleaseStream.releaseIngestBatch(docs, 0L, root)
    assert(new File(s"$root/batch=0/_MANIFEST").exists)
    assert(rowsOf(ReleaseStream.releaseState(spark, root)) === twin,
      "the retried fold == q132")
  }

  test("a failing label branch fails the fold with its own error, commits " +
    "no release manifest, and a retry folds equal to q132") {
    val root = Files.createTempDirectory("graft-concurrent-labels").toString
    failThenRetry(root, "clabels")()
  }

  test("a failing release branch fails the fold only after the label " +
    "branch has committed, and a retry folds equal to q132") {
    val root = Files.createTempDirectory("graft-concurrent-release").toString
    failThenRetry(root, "batch=0") {
      // the fold waited for the label branch: its commit is on disk
      assert(new File(s"$root/clabels/batch=0/_MANIFEST").exists,
        "the fold threw before its label branch ended")
    }
  }

  test("every job the fold starts, the label branch's included, carries " +
    "the calling thread's local properties") {
    // runs after the folds above, so a thread kept from an earlier
    // (untagged) fold would show here as untagged label jobs
    val tag = "graft.spec.concurrentFold"
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer[(Boolean, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val tagged = js.properties != null &&
          js.properties.getProperty(tag) != null
        jobs.synchronized {
          jobs += (tagged -> js.stageInfos.map(_.details).mkString("\n"))
        }
      }
    }
    val root = Files.createTempDirectory("graft-concurrent-props").toString
    SpecBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try ReleaseStream.releaseIngestBatch(docs, 0L, root)
    finally {
      sc.setLocalProperty(tag, null)
      SpecBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = jobs.synchronized(jobs.toList)
    assert(seen.exists(_._2.contains("clusterIngestBatch")),
      "the listener saw no job of the label branch")
    val untagged = seen.filterNot(_._1)
    assert(untagged.isEmpty, s"${untagged.size} of ${seen.size} jobs lack " +
      s"the caller's tag, e.g.\n${untagged.headOption.map(_._2)}")
  }
}
