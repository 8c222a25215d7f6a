package graft

/** Plan inspector: `sbt "runMain graft.Explain q10_segment_revenue"` prints
  * the formatted physical plan (post-AQE where applicable) for any declared
  * query, against SPARK_GRAFT_SF_DIR (default sf0.01).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.localFromEnv(defaultCpus = "8", logLevel = "ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      // materialize so AQE finalizes, then show the adaptive result
      df.write.format("noop").mode("overwrite").save()
      println("---- final adaptive plan ----")
      println(df.queryExecution.executedPlan.toString.take(4000))
    }
    spark.stop()
  }
}
