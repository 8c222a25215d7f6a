package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.ReleaseStream
import graft.sources.Tables

/** A release readout plans its store reads without Spark jobs. A parquet
  * read without a schema makes Spark infer one with a job of its own
  * (call site `parquet at File:line`) on every call; the release and
  * label stores declare their schemas, so after one folded batch (at
  * most 32 leaf paths per store, below Spark's parallel-listing
  * threshold) a warm `releaseState` starts none of those jobs.
  */
class NoSchemaInferenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Tag = "graft.spec.noSchemaInference"

  /** The short call site of every job `body` starts on this thread: the
    * name of the job's result stage, e.g. `parquet at X.scala:12`.
    */
  private def callSitesOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val sites = mutable.ArrayBuffer[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(Tag) != null &&
            js.stageInfos.nonEmpty)
          sites.synchronized { sites += js.stageInfos.maxBy(_.stageId).name }
    }
    SpecBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, "1")
    try body
    finally {
      sc.setLocalProperty(Tag, null)
      SpecBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    sites.synchronized(sites.toList)
  }

  test("a warm releaseState over one folded batch runs no schema-inference " +
    "job") {
    val docs = Tables.documents(spark, TestSpark.SF0001)
      .select("doc_id", "source", "lang", "text")
    val root = Files.createTempDirectory("graft-noinfer").toString
    ReleaseStream.releaseIngestBatch(docs, 0L, root)
    val cold = ReleaseStream.releaseState(spark, root).collect()
    val warm = callSitesOf {
      assert(ReleaseStream.releaseState(spark, root).collect().toSet ===
        cold.toSet)
    }
    assert(warm.nonEmpty, "the listener saw none of the readout's jobs")
    assert(!warm.exists(_.startsWith("parquet at")),
      s"warm readout jobs: ${warm.mkString("; ")}")
    // the listener does catch an inference job: a leaf of that state
    // read without a schema starts one
    val leaf = new java.io.File(s"$root/batch=0/tiny/evals").toURI.toString
    assert(callSitesOf(spark.read.parquet(leaf))
      .exists(_.startsWith("parquet at")))
  }
}
