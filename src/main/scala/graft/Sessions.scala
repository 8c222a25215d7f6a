package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession recipe for every driver-contract main (Verify, Bench,
  * TimeQuery, Explain, Demo). The mains must agree on session config for
  * their dumps/timings to be comparable — three hand-copied builder blocks
  * had already drifted on defaults before this existed.
  */
object Sessions {
  /** Entries in Spark's generated-code cache (a static conf, read once per
    * JVM; Spark's default is 100). Measured working sets, in distinct
    * compiles: one perfbench `release_fold` run 460, one `graft.Verify`
    * run at sf0.001 over fresh artifacts 3933. At the default the
    * release fold evicted its own classes, so a fold recompiled (and ran
    * interpreted again) what an identical earlier fold had just
    * compiled: 260 compiles in the timed fold, 0 with this cache. Sized
    * at about twice the Verify set.
    */
  val CodegenCacheEntries = 8000

  def local(cpus: String, logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      // first session of the JVM exercises the extensions injection path
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** cpus from SPARK_GRAFT_CPUS with a per-main default. */
  def localFromEnv(defaultCpus: String, logLevel: String): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus), logLevel)
}
