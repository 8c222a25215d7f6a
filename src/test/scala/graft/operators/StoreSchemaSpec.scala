package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.SpecBus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

/** The declared leaf schemas the release and cluster-label stores are
  * read with equal what their writers write. A declared schema drops a
  * column it does not name and reads a column the files lack as NULL,
  * both silently, so every leaf a small gated fold and its refold leave
  * on disk is checked against its declaration: names, column order and
  * types (nullability aside — a file source reads every column as
  * nullable).
  */
class StoreSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every store leaf and tiny relation a gated two-batch fold " +
    "writes has exactly its declared schema") {
    val corpus = Tables.documents(spark, TestSpark.SF0001)
      .select("doc_id", "source", "lang", "text").persist()
    val langs = corpus.select("lang").distinct().collect()
      .map(_.getString(0)).sorted
    // the first language diverts, so the quar store exists too
    val root = Files.createTempDirectory("graft-storeschema").toString
    val archive = s"$root-archive"
    val policy = IngestPolicy(gateChecks =
      Seq(Expectations.inSet("lang", langs.tail.toSeq)),
      archiveDir = Some(archive))
    val even = corpus.filter(pmod(col("doc_id"), lit(2L)) === 0)
    ReleaseStream.releaseIngestBatch(even, 0L, root, policy)
    ReleaseStream.releaseIngestBatch(
      corpus.filter(pmod(col("doc_id"), lit(2L)) === 1), 1L, root, policy)
    // re-crawls of folded docs that now divert: the refold excises them
    // and writes its own generation, batch=-1
    ReleaseStream.releaseIngestBatch(even.filter(col("lang") =!= langs.head)
      .orderBy("doc_id").limit(8).withColumn("lang", lit(langs.head)), 2L,
      root, policy)
    val refold = ReleaseStream.refoldQuarResidue(spark, root,
      ReleaseStream.readArchive(spark, archive, Long.MaxValue))
      .collect().map(_.getString(0))
    assert(refold.contains("residue"), refold.mkString("; "))

    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(glob: String): Seq[String] =
      Option(fs.globStatus(new Path(s"$root/$glob"))).toSeq.flatten
        .filter(_.isDirectory).map(_.getPath.toString)
    def check(what: String, glob: String, declared: StructType): Int = {
      val ls = leaves(glob)
      assert(ls.nonEmpty, s"$what: the fold wrote no leaf matching $glob")
      ls.foreach { leaf =>
        val written = SpecBus.asNullable(spark.read.parquet(leaf).schema)
        assert(written === SpecBus.asNullable(declared),
          s"$what leaf $leaf: written ${written.toDDL}, declared " +
            declared.toDDL)
      }
      ls.size
    }

    assert(ReleaseStream.STORE_SCHEMA.keySet === ReleaseStream.PCOL.keySet)
    ReleaseStream.STORE_SCHEMA.foreach { case (store, schema) =>
      check(s"store $store",
        s"batch=*/$store/${ReleaseStream.PCOL(store)}=*", schema)
    }
    // the refold rewrites the fact, claim and source-mirror stores
    Seq("doc", "ex", "src").foreach { store =>
      check(s"refold store $store",
        s"batch=-1/$store/${ReleaseStream.PCOL(store)}=*",
        ReleaseStream.STORE_SCHEMA(store))
    }
    ReleaseStream.TINY_SCHEMA.foreach { case (rel, schema) =>
      assert(check(s"tiny $rel", s"batch=*/tiny/$rel", schema) === 3,
        s"tiny $rel: one copy per folded batch and one from the refold")
    }
    check("labels", "clabels/batch=*/cbkt=*", Curation.LABEL_SCHEMA)
    check("docmap", "clabels/batch=*/docmap/dbkt=*", Curation.DOCMAP_SCHEMA)
    check("pairs", "cpairs/batch=*", Curation.PAIR_SCHEMA)
    // the near-dup index is read with the schema of the delta it indexes
    val delta = Dedup.nearDupIndex(corpus.select("doc_id", "text"))
    check("index docs", "cidx/docs/batch=*/dbkt=*", delta.schema)
    check("index bands", "cidx/bands/batch=*/bb=*",
      Dedup.bandBuckets(delta.select("doc_id", "sig"), carrySig = false)
        .schema)
    corpus.unpersist()
  }
}
