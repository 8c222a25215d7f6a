package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Linear-scale growth smoke for the containment family (VERDICT r9 #4):
  * replicate the planted corpus R times with DISTINCT content per replica
  * (doc_id offset + a per-replica token suffix, so each replica keeps the
  * original's pair structure but shares no shingle across replicas), then
  * measure candidate counts and wall time of the q87/q89/q90 shapes at 1x
  * and Rx. The prefix filter's claim is that candidates and time grow
  * ~linearly in corpus size when the new content is unrelated — an
  * all-pairs-shaped bug would grow them ~quadratically. Run via
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.operators.GrowthSmoke"
  * Measured numbers live in SCALING.md; GrowthSpec pins the count
  * linearity (exactly Rx pairs, ~linear candidates) at sf0.001.
  */
object GrowthSmoke {

  /** R copies of the corpus: replica 0 verbatim; replica r shifts doc_id
    * by r*1e7 and suffixes every token with "_r<r>", preserving per-doc
    * token counts, df distribution and pair structure inside the replica
    * while guaranteeing zero shared shingles across replicas.
    */
  private[operators] def replicate(docs: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        array_join(
          transform(split(col("text"), " "), t => concat(t, lit(s"_r$r"))),
          " ").as("text"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.localFromEnv(defaultCpus = "32", logLevel = "ERROR")
    val base = Dedup.withPlantedExcerpts(
      graft.sources.Tables.documents(spark, sfDir).select("doc_id", "text"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    for (scale <- Seq(1, 10)) {
      val corpus = replicate(base, scale)
      val (idx, tBuild) = timed {
        val i = DedupArtifacts.buildCurationIndex(corpus, 900).persist()
        i.count(); i
      }
      val (nCand, tCand) = timed(
        Dedup.containmentCandidates(Dedup.hashedShingles(corpus), 900).count())
      val (nPairs, tQ87) = timed(
        Dedup.containmentPairsFromIndex(idx, 900, 800).count())
      val (_, tQ89) = timed(
        Dedup.leakFreeSplitContainmentFromIndex(corpus, idx).count())
      val (nInc, tQ90) = timed {
        val h = pmod(graft.operators.Sketches.phash60(col("doc_id")), lit(2L))
        val slim = idx.select("doc_id", "sh", "pref")
        val a = slim.filter(h === 0).persist()
        val n = Dedup.incrementalContainmentPairs(a.limit(0), a)
          .union(Dedup.incrementalContainmentPairs(a, slim.filter(h =!= 0)))
          .count()
        a.unpersist(); n
      }
      println(f"[growth] scale=${scale}%2d docs=${corpus.count()}%7d " +
        f"cand=$nCand%8d pairs=$nPairs%6d inc_pairs=$nInc%6d " +
        f"t_build=$tBuild%6.2f t_cand=$tCand%6.2f t_q87=$tQ87%6.2f " +
        f"t_q89=$tQ89%6.2f t_q90=$tQ90%6.2f")
      idx.unpersist()
    }

    // near-dup GRAPH family (q22 pairs -> q49 labels -> q101 ranks): same
    // replication regime over the raw corpus; pair/label counts must grow
    // exactly Rx and the PageRank/contraction wall times ~linearly
    val rawBase = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    for (scale <- Seq(1, 10)) {
      val corpus = GrowthSmoke.replicate(rawBase, scale)
      val (pairs, tPairs) = timed {
        val p = Dedup.jaccardPairsLshVerified(corpus, 800, cache = false)
          .select("d1", "d2").persist()
        p.count(); p
      }
      val nPairs = pairs.count()
      val (nLabels, tCc) = timed(
        Dedup.nearDupClusters(corpus, 800, cache = false).count())
      val (_, tPr) = timed(
        Dedup.pageRank(corpus.select("doc_id"), pairs, iters = 3).count())
      println(f"[growth-graph] scale=${scale}%2d docs=${corpus.count()}%7d " +
        f"pairs=$nPairs%6d labels=$nLabels%6d " +
        f"t_pairs=$tPairs%6.2f t_cc=$tCc%6.2f t_pagerank=$tPr%6.2f")
      pairs.unpersist()
    }

    // chunk-dedup family (q114 report / q115 savings / q122 profile):
    // same replication regime. Replica tokens are suffixed, so chunk
    // boundary draws differ per replica and q114's report is ~linear
    // (GrowthSpec pins the exact claim: zero cross-replica chunk
    // identity); cluster structure is isomorphic per replica, so q115
    // savings fields and q122 histogram masses are exactly Rx.
    for (scale <- Seq(1, 10)) {
      val planted = replicate(base, scale)
      val (nChunks, tQ114) = timed(ChunkDedup.cdcChunks(planted).count())
      val docsS = replicate(rawBase, scale)
        .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(10L))))
      val labels = Dedup.nearDupClusters(
        docsS.select("doc_id", "text"), 800, cache = false).persist()
      labels.count()
      val (nSav, tQ115) = timed(
        ChunkDedup.dedupSavings(docsS, labels).count())
      val (nProf, tQ122) = timed(
        ChunkDedup.clusterProfile(docsS.select("doc_id", "text"), labels)
          .count())
      println(f"[growth-chunk] scale=${scale}%2d docs=${planted.count()}%7d " +
        f"chunk_rows=$nChunks%7d sav_rows=$nSav%4d prof_rows=$nProf%4d " +
        f"t_q114=$tQ114%6.2f t_q115=$tQ115%6.2f t_q122=$tQ122%6.2f")
      labels.unpersist()
    }

    // Streaming probe-I/O growth (VERDICT r10 #5): one large base batch
    // builds the index, then B SMALL delta batches ingest sequentially;
    // per batch we print the probe's directory/file reads against the
    // index total. The claim under test: a small delta's probe I/O is
    // bounded by ITS OWN bucket coverage (per prior batch dir), not by
    // the accumulated corpus volume — and compaction collapses the
    // per-prior-batch term back to one directory set, keeping a
    // long-running stream's per-batch reads flat.
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft-growth-stream").toString
    // a one-doc delta: a near-duplicate of one base doc (so the band AND
    // doc probes both fire), re-keyed into a per-batch id namespace
    def smallBatch(b: Int): DataFrame = rawBase.orderBy("doc_id").limit(1)
      .select((col("doc_id") + lit(b * 10000000L + 5000000L)).as("doc_id"),
        col("text"))
    def nFiles(paths: Seq[String]): Int = paths.map(p =>
      Option(new java.io.File(p.stripPrefix("file:")).listFiles)
        .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)).sum
    def bandTotal(upTo: Long): Seq[String] = Curation.prunedBatchPaths(
      spark, s"$streamDir/index/bands", upTo, "bb", (0L until 32L).toSet)
    Curation.nearDupIngestBatch(replicate(rawBase, 4), 0L,
      s"$streamDir/index", s"$streamDir/pairs", 800)
    (1 to 6).foreach { b =>
      if (b == 5) {
        Curation.compactIncrementalIndex(spark, s"$streamDir/index", b.toLong)
        println(s"[growth-stream] compacted index up to batch $b")
      }
      val (bandPaths, docPaths) = Curation.nearDupIngestBatch(
        smallBatch(b), b.toLong, s"$streamDir/index", s"$streamDir/pairs", 800)
      val tot = bandTotal(b.toLong)
      println(f"[growth-stream] batch=$b%2d band_dirs_read=${bandPaths.size}%3d/" +
        f"${tot.size}%3d band_files_read=${nFiles(bandPaths)}%4d/" +
        f"${nFiles(tot)}%4d doc_dirs_read=${docPaths.size}%3d")
    }

    // Release-state fold growth (round 14): the q134 family's claim is
    // that a small crawl batch's fold reads buckets proportional to ITS
    // OWN content, not to the accumulated corpus — and that compaction
    // collapses the per-batch owner-dir term so a long-running stream's
    // read fan-out stays flat. One corpus-sized base batch, then B
    // one-doc deltas (an exact duplicate, so the ex/doc/src probes all
    // fire); per batch we print dirs READ per store vs dirs ON DISK.
    val relDir = java.nio.file.Files
      .createTempDirectory("graft-growth-release").toString
    val relBase = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "lang", "text")
    def relDelta(b: Int): DataFrame = relBase.orderBy("doc_id").limit(1)
      .select((col("doc_id") + lit(b * 10000000L)).as("doc_id"),
        col("source"), col("lang"), col("text"))
    def relDirsOnDisk(): Int = {
      val base = new java.io.File(relDir)
      Option(base.listFiles).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .flatMap(b => Seq("ex", "sh", "doc", "src").flatMap(st =>
          Option(new java.io.File(b, st).listFiles).getOrElse(Array.empty)
            .filter(_.isDirectory)))
        .length
    }
    val (_, tRelBase) = timed(
      ReleaseStream.releaseIngestBatch(relBase, 0L, relDir))
    println(f"[growth-release] base fold docs=${relBase.count()}%7d " +
      f"t=$tRelBase%6.2f dirs_on_disk=${relDirsOnDisk()}%4d")
    // retention is the CODED policy now (round-15): compact-every-5 runs
    // inside the ingest itself — no manual compaction call anywhere in
    // this loop; the batch-5 dirs_on_disk drop is the policy firing
    (1 to 6).foreach { b =>
      val (paths, tRel) = timed(ReleaseStream.releaseIngestBatch(
        relDelta(b), b.toLong, relDir, IngestPolicy(compactEvery = 5)))
      println(f"[growth-release] batch=$b%2d ex_dirs_read=${paths.ex.size}%3d " +
        f"sh_dirs_read=${paths.sh.size}%3d doc_dirs_read=${paths.doc.size}%3d " +
        f"src_dirs_read=${paths.src.size}%3d dirs_on_disk=${relDirsOnDisk()}%4d " +
        f"t=$tRel%5.2f")
    }
    spark.stop()
  }
}
