package graft.operators

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one bucketed-store writer ([[Curation.writeBucketedBatch]]) returns
  * the buckets it wrote from a directory listing, not a Spark job. The
  * manifests of every bucketed store are built from that set, so it must
  * equal the distinct bucket values of the rows written.
  */
class BucketedWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpPath(): String =
    new File(Files.createTempDirectory("graft-bkt").toFile, "out").getPath

  test("the listed set equals the written rows' distinct bucket values, " +
    "one file per bucket") {
    val df = (0L until 40L).toDF("id").withColumn("b", pmod(col("id") * 7, lit(5L)))
      .filter(col("b") =!= 2L)
    val path = tmpPath()
    val listed = Curation.writeBucketedBatch(df, path, "b")
    val distinct = df.select("b").distinct().as[Long].collect().toSet
    assert(listed === distinct)
    assert(listed === Set(0L, 1L, 3L, 4L))
    listed.foreach { k =>
      val parts = new File(path, s"b=$k").listFiles().map(_.getName)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.length === 1, s"bucket $k holds ${parts.length} files")
    }
    assert(spark.read.parquet(path).count() === df.count())
  }

  test("an empty frame lists no bucket") {
    val df = Seq.empty[(Long, Long)].toDF("id", "b")
    assert(Curation.writeBucketedBatch(df, tmpPath(), "b") === Set.empty[Long])
  }

  test("rewriting the same path with fewer buckets (a replay) lists only " +
    "the new ones") {
    val path = tmpPath()
    assert(Curation.writeBucketedBatch(
      Seq((1L, 0L), (2L, 1L), (3L, 2L)).toDF("id", "b"), path, "b") ===
      Set(0L, 1L, 2L))
    assert(Curation.writeBucketedBatch(
      Seq((4L, 1L)).toDF("id", "b"), path, "b") === Set(1L))
    assert(!new File(path, "b=0").exists() && !new File(path, "b=2").exists())
  }

  test("the listing ignores _SUCCESS, .crc and non-bucket entries, and " +
    "fails on a non-numeric bucket directory, naming it") {
    val path = tmpPath()
    val dir = new File(path)
    Seq("b=3", "b=11", "docmap", "c=4").foreach(d => new File(dir, d).mkdirs())
    Seq("_SUCCESS", "._SUCCESS.crc", ".b=5.crc", "b=6").foreach { f =>
      Files.writeString(new File(dir, f).toPath, "")
    }
    assert(Curation.listedBuckets(spark, path, "b") === Set(3L, 11L))
    assert(Curation.listedBuckets(spark, path, "c") === Set(4L))
    assert(Curation.listedBuckets(spark, s"$path/absent", "b") === Set.empty[Long])
    new File(dir, "b=__HIVE_DEFAULT_PARTITION__").mkdirs()
    val e = intercept[IllegalStateException] {
      Curation.listedBuckets(spark, path, "b")
    }
    assert(e.getMessage.contains(s"$path/b=__HIVE_DEFAULT_PARTITION__"),
      e.getMessage)
  }
}
