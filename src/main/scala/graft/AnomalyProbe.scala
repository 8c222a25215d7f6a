package graft

import org.apache.spark.sql.functions._

import graft.operators.ReleaseStream

/** Diagnostic main for the round-13 evaluation anomaly (NOTES.md round-13
  * sixth wave): in a minority of fresh JVMs — sticky per JVM — the
  * ROW-COLLECT of the deep release lineage returned a different
  * value-world than the AGGREGATE/WRITE shapes of the same relation,
  * while parquet dumps + DuckDB agreed with the aggregate. All shipped
  * readouts were mitigated (value pins ride the write-shaped oracle
  * gate); this probe intentionally re-creates the UNMITIGATED
  * comparison so an affected JVM can be caught and dissected live.
  *
  * Protocol: build the LIVE churn (deep lineage — both readouts derived
  * from the state tree, no artifact routing), roll it up three ways —
  * (a) the q136 aggregate collected, (b) a driver-side rollup of the
  * collected churn rows, (c) the q136 aggregate written to parquet and
  * read back — and compare per-cell values. Exit 17 on any mismatch
  * (the loop driver keeps the JVM's dumps); exit 0 when all three
  * worlds agree. Run via
  *   tools/anomaly_hunt.sh [n_jvms]   # fresh JVM per iteration
  */
object AnomalyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "/tmp/anomaly_probe")
    val spark = Sessions.localFromEnv(defaultCpus = "8", logLevel = "ERROR")
    val root = ReleaseStream.ensureScenarioState(spark, sfDir,
      ReleaseStream.Scenarios.Base)
    val churn = ReleaseStream.releaseChurn(spark, root, prevBatch = 1L)

    def cells(rows: Seq[(String, String, Long, Long)]): Map[(String, String), (Long, Long)] =
      rows.groupBy(r => (r._1, r._2))
        .map { case (k, rs) => k -> (rs.map(_._3).sum, rs.map(_._4).sum) }

    // (a) aggregate shape, collected
    val agg = ReleaseStream.releaseChurnStats(churn).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // (b) collect shape, rolled up on the driver
    val coll = cells(churn.collect().map(r => (r.getString(1), r.getString(2),
      1L, r.getLong(4) - r.getLong(3))).toSeq)
    // (c) write shape: aggregate written to parquet, read back
    val wPath = s"$outDir/stats_parquet"
    ReleaseStream.releaseChurnStats(churn)
      .write.mode("overwrite").parquet(wPath)
    val written = spark.read.parquet(wPath).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap

    val worlds = Seq("agg" -> agg, "collect" -> coll, "write" -> written)
    val disagreements = for {
      Seq((n1, w1), (n2, w2)) <- worlds.combinations(2).toSeq
      k <- (w1.keySet ++ w2.keySet).toSeq.sorted
      if w1.get(k) != w2.get(k)
    } yield s"$n1 vs $n2 at $k: ${w1.get(k)} != ${w2.get(k)}"

    if (disagreements.nonEmpty) {
      val dir = new java.io.File(outDir); dir.mkdirs()
      val report = new java.io.PrintWriter(s"$outDir/report.txt")
      try {
        disagreements.foreach(report.println)
        report.println("\n==== churn collect rows ====")
        churn.collect().foreach(r => report.println(r.toString))
        report.println("\n==== executed plan (stats) ====")
        report.println(ReleaseStream.releaseChurnStats(churn)
          .queryExecution.executedPlan.toString)
        report.println("\n==== executed plan (churn) ====")
        report.println(churn.queryExecution.executedPlan.toString)
        report.println(s"\nroot=$root")
      } finally report.close()
      churn.write.mode("overwrite").parquet(s"$outDir/churn_parquet")
      System.err.println(s"[anomaly] CAUGHT: ${disagreements.size} " +
        s"disagreements; dumps in $outDir")
      spark.stop()
      sys.exit(17)
    }
    println(s"[anomaly] all three evaluation worlds agree " +
      s"(${agg.size} cells)")
    spark.stop()
  }
}
