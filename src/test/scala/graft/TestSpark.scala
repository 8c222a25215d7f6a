package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // one compiled-class cache for every spec in the forked JVM
    .config("spark.sql.codegen.cache.maxEntries", Sessions.CodegenCacheEntries)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  val SF0001 = "/root/testdata/sf0.001"
  val SF001 = "/root/testdata/sf0.01"
}
