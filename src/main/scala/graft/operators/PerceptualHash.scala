package graft.operators

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Image perceptual-hash near-duplicate detection (q73) — the multimodal
  * dedup gap from VERDICT r5 #7: byte-sha dedup (q45) misses images that
  * are the SAME PICTURE in different bytes (re-encode, recompression,
  * metadata churn). The fix is a perceptual fingerprint over DECODED
  * pixels: a 64-bit average hash (aHash: 8x8 block-luma grid, bit = block
  * above image mean) computed through the real `ImageCodec` decode, then
  * Hamming-banded near-dup pairing with exactly q23's pigeonhole idiom —
  * band equi-joins, never an all-pairs distance scan.
  *
  * Scale shape at 100 TB: decode runs once per image inside
  * `mapPartitions` (per-partition codec init, CPU-bound, no shuffle);
  * the only thing that ever shuffles is the 16-byte (doc_id, lo, hi)
  * hash relation — originals never move. The banded self-join is the
  * q23/q61 equi-join shape: 8 bands x 8 bits, pigeonhole-complete for
  * Hamming <= 7, candidates verified by exact popcount on the join rows.
  *
  * Oracle strategy (what makes a pixel pipeline hash-checkable in SQL):
  * the fixture images are SYNTHESIZED — each doc_id gets a 16x16 RGB
  * image whose gray level at (x, y) is an integer function of
  * `phash60(doc_id)`, lossless-encoded (PNG), and every `twinEvery`-th
  * doc also appears RE-ENCODED as BMP under a shifted id: same decoded
  * pixels, entirely different bytes — the planted recompression twin a
  * byte-sha can never pair. The DuckDB twin computes the SAME pixels
  * analytically and replays aHash + banding in SQL, so a single value
  * mismatch anywhere in decode -> pixel access -> hash -> join fails the
  * gate: the oracle verifies the REAL imageio decode, not a stub.
  * Lossy JPEG recompression (pixels change, hash must not) has no SQL
  * twin by nature; PerceptualHashSpec pins that robustness instead.
  */
object PerceptualHash {

  /** Fixture geometry: 16x16 gray images, 2x2-pixel blocks on the 8x8
    * aHash grid. The OPERATOR accepts any decodable image >= 8x8.
    */
  private val IMG_DIM = 16
  private val TWIN_EVERY = 10
  private val TWIN_OFFSET = 1000L
  private val MAX_HAMMING = 3

  /** Gray level at (x, y) for the image seeded by 60-bit hash `h` — pure
    * BIGINT arithmetic, replayed verbatim by [[pixelSqlExpr]]. The hash
    * seeds base level and two gradient slopes, so images differ per doc
    * but have the low-frequency structure aHash is designed for.
    */
  private def pixel(h: Long, x: Int, y: Int): Int =
    ((h % 256) + x * (1 + (h / 256) % 16) + y * (1 + (h / 65536) % 16)
      + x * y).toInt % 256

  private def pixelSqlExpr: String =
    "((h % 256) + x * (1 + (h // 256) % 16) + y * (1 + (h // 65536) % 16)" +
      " + x * y) % 256"

  private def grayImage(h: Long): BufferedImage = {
    val img = new BufferedImage(IMG_DIM, IMG_DIM, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < IMG_DIM) {
      var x = 0
      while (x < IMG_DIM) {
        val p = pixel(h, x, y)
        img.setRGB(x, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    img
  }

  private def encodeBmp(img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  /** The q73 fixture: one lossless PNG per document plus a BMP re-encode
    * of every `twinEvery`-th image under doc_id + `twinOffset` — identical
    * pixels, disjoint bytes. Synthesis is per-partition executor work off
    * the broadcast-free (doc_id, h) projection; at corpus scale this
    * operator is replaced by the real binary column and everything
    * downstream ([[imageAHash]], [[perceptualNearDup]]) is unchanged.
    */
  def synthesizeImages(docs: DataFrame, twinEvery: Int = TWIN_EVERY,
                       twinOffset: Long = TWIN_OFFSET): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val ids = docs.select(col("doc_id"))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(twinEvery.toLong)) === 0L)
        .select((col("doc_id") + twinOffset).as("doc_id")))
    ids
      .select(col("doc_id"),
        Sketches.phash60(
          when(col("doc_id") >= twinOffset, col("doc_id") - twinOffset)
            .otherwise(col("doc_id"))).as("h"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        ImageCodec.initPartition()
        it.map { case (docId, h) =>
          val img = grayImage(h)
          if (docId >= twinOffset)
            Multimodal.MediaRecord(docId, "image/bmp", encodeBmp(img))
          else
            Multimodal.MediaRecord(docId, "image/png", ImageCodec.encodePng(img))
        }
      }
      .toDF()
  }

  /** 64-bit average hash of decoded pixels as two unsigned 32-bit halves
    * (lo = bits 0..31, hi = 32..63) — split so every value, shift, and
    * popcount stays inside non-negative BIGINT range in BOTH engines (the
    * q23 move that keeps bit 63 from overflowing a SQL left-shift).
    *
    * Bit b (= by*8 + bx) is set iff 64 * blockSum(bx, by) > totalSum —
    * integer-exact, no float mean. Block (bx, by) covers pixels
    * [bx*w/8, (bx+1)*w/8) x [by*h/8, (by+1)*h/8); luma is the integer
    * (299r + 587g + 114b) / 1000, which for the grayscale fixture is the
    * raw gray level exactly (299 + 587 + 114 = 1000).
    */
  def aHash64(bytes: Array[Byte]): Option[(Long, Long)] =
    ImageCodec.decode(bytes).flatMap { img =>
      val w = img.getWidth; val h = img.getHeight
      if (w < 8 || h < 8) None
      else {
        val blockSum = new Array[Long](64)
        var y = 0
        while (y < h) {
          val by = y * 8 / h
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF
            val b = rgb & 0xFF
            blockSum(by * 8 + x * 8 / w) += (299 * r + 587 * g + 114 * b) / 1000
            x += 1
          }
          y += 1
        }
        var total = 0L
        var i = 0
        while (i < 64) { total += blockSum(i); i += 1 }
        var lo = 0L; var hi = 0L
        i = 0
        while (i < 64) {
          if (64L * blockSum(i) > total) {
            if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
          }
          i += 1
        }
        Some((lo, hi))
      }
    }

  /** Per-partition batched decode+hash over a media relation
    * ([[Multimodal.MediaRecord]] shape): emits (doc_id, lo, hi); payloads
    * that do not decode to a >= 8x8 image quarantine (O-12: dropped from
    * the HASH relation — a fingerprint of garbage pairs with nothing).
    * The output is 16 bytes per image: the only relation that shuffles.
    */
  def imageAHash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[Multimodal.MediaRecord].mapPartitions { it =>
      ImageCodec.initPartition()
      it.flatMap(rec => aHash64(rec.content).map(lh => (rec.doc_id, lh._1, lh._2)))
    }.toDF("doc_id", "lo", "hi")
  }

  /** Adds the 8x8 banding rows to any relation carrying (lo, hi): one row
    * per (input row, band) with the band's byte value — shared by the
    * image- and frame-granularity joins so the two can never drift.
    */
  private def withBands(hashes: DataFrame, carry: Seq[String]): DataFrame = {
    val bandCols = (0 until 8).map { j =>
      val half = if (j < 4) col("lo") else col("hi")
      struct(lit(j).as("band"),
        shiftright(half, (j % 4) * 8).bitwiseAND(lit(255L)).as("bv"))
    }
    val keep = carry.map(col) ++ Seq(col("lo"), col("hi"))
    hashes.select(keep :+ explode(array(bandCols: _*)).as("bb"): _*)
      .select(keep ++ Seq(col("bb.band").as("band"), col("bb.bv").as("bv")): _*)
  }

  private def hammingCol(a: String, b: String): org.apache.spark.sql.Column =
    (bit_count(col(s"$a.lo").bitwiseXOR(col(s"$b.lo"))) +
      bit_count(col(s"$a.hi").bitwiseXOR(col(s"$b.hi")))).cast("int")

  /** Hamming-banded near-dup pairs over an aHash relation: 8 bands of 8
    * bits, so any pair with Hamming distance <= 7 shares at least one
    * whole band (pigeonhole) and surfaces from a pure (band, value)
    * EQUI-JOIN; exact popcount on the candidate rows then enforces
    * `maxHamming`. Identical hashes (recompression twins) land at 0.
    */
  def perceptualNearDup(hashes: DataFrame,
                        maxHamming: Int = MAX_HAMMING): DataFrame = {
    require(maxHamming <= 7,
      s"perceptualNearDup: 8x8 banding is pigeonhole-complete only to " +
        s"Hamming 7, got $maxHamming")
    val banded = withBands(hashes, Seq("doc_id"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        hammingCol("a", "b").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental perceptual-index ingest — q58/q64's maintenance idea on
    * the image modality: the INDEX IS the 16-byte (doc_id, lo, hi) hash
    * relation (decode runs once, at each image's own ingest), and a new
    * batch band-joins against index ∪ delta to emit every verified pair
    * TOUCHING the delta. Ingesting batches B1..Bn and unioning each
    * batch's pairs yields EXACTLY the whole-corpus [[perceptualNearDup]]
    * result: banding is pigeonhole-complete and verification exact, and
    * a cross-batch pair surfaces when its later endpoint ingests (the
    * earlier one is already in the index). PerceptualHashSpec pins
    * batch-union equality and ingest-order independence; q75's oracle is
    * the whole-corpus q73 SQL — the gate hash-checks the maintenance
    * contract itself. Per-batch cost scales with |delta| x bucket
    * collisions, never |corpus|²; originals are never re-read.
    */
  def incrementalPerceptualPairs(index: DataFrame, delta: DataFrame,
                                 maxHamming: Int = MAX_HAMMING): DataFrame = {
    val all = index.unionByName(delta)
    val allB = withBands(all, Seq("doc_id"))
    val deltaB = withBands(delta, Seq("doc_id"))
    allB.as("a").join(deltaB.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") =!= col("b.doc_id"))
      // canonical (least, greatest) orientation dedups band collisions AND
      // keeps a delta-delta pair from appearing in both directions; the
      // popcount is symmetric, so it can ride through the distinct
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        hammingCol("a", "b").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Streaming perceptual-index ingest — the [[incrementalPerceptualPairs]]
    * maintenance loop as a Structured Streaming sink (the image twin of
    * `Curation.streamingNearDupIngest`): each micro-batch of media rows
    * decodes+hashes ONCE, pairs against the accumulated hash index, and
    * persists its banded hash rows BUCKETED by probe key —
    * `indexDir/pbands/batch=<id>/pb=<(band*256+bv) mod 32>/` — so a later
    * batch enumerates and reads only the bucket directories its own band
    * values fall into (the Curation round-10 layout; the hash rows carry
    * lo/hi, so the ONE relation serves both the candidate join and the
    * popcount verify). Writes are batch-keyed directory overwrites, so a
    * replayed batch (at-least-once delivery) lands byte-identically —
    * effective exactly-once without a transaction log. Stream == batch:
    * unioning the per-batch pair dumps equals the whole-corpus
    * [[perceptualNearDup]] (same argument as q75, spec-pinned).
    * `Curation.compactIncrementalIndex` covers the pbands relation too.
    */
  def streamingPerceptualIngest(media: DataFrame, indexDir: String,
                                pairsDir: String, checkpoint: String,
                                maxHamming: Int = MAX_HAMMING)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        perceptualIngestBatch(batch, batchId, indexDir, pairsDir, maxHamming)
      }
      .start()

  /** One micro-batch of the perceptual ingest (the foreachBatch body,
    * factored out like `Curation.nearDupIngestBatch`).
    */
  private[operators] def perceptualIngestBatch(batch: DataFrame,
                                               batchId: Long, indexDir: String,
                                               pairsDir: String,
                                               maxHamming: Int): Unit = {
    val spark = batch.sparkSession
    val delta = imageAHash(spark, batch).persist()
    val deltaB = withBands(delta, Seq("doc_id"))
      .withColumn("pb", pmod(col("band") * 256 + col("bv"),
        lit(Curation.IDX_BUCKETS))).persist()
    val idxB = Curation.readPrunedIndex(spark, s"$indexDir/pbands", batchId,
      "pb", Curation.bucketSet(deltaB, col("pb")), deltaB.drop("pb"))
    idxB.unionByName(deltaB.drop("pb")).as("a")
      .join(deltaB.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        hammingCol("a", "b").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
    Curation.writeBucketedBatch(deltaB, s"$indexDir/pbands/batch=$batchId", "pb")
    deltaB.unpersist(); delta.unpersist()
    ()
  }

  /** Frame-level video near-dup: every `everyKth` frame of each AVI/MJPEG
    * payload is decoded and aHashed ([[aHash64]]), frames pair across
    * videos through the same banded Hamming join, and per video pair the
    * evidence aggregates to
    * (v1, v2, matched_frames, n_frames_1, n_frames_2) — matched_frames
    * counts DISTINCT v1 frames with a perceptual match in v2, so a
    * repeated still can never inflate the score. Pairs survive when
    * matched_frames >= minMatched. Catches re-muxed containers (same
    * JPEG payloads, new byte layout), frame-dropped copies, and
    * recompressed frames — none of which byte-sha can pair.
    *
    * Scale shape: identical to [[perceptualNearDup]] with frames as the
    * unit — decode is partition-local, the shuffle carries 20-byte
    * (video, frame, lo, hi) rows, banding keeps the join equi. No SQL
    * oracle by nature (JPEG pixel decode has no DuckDB twin — unlike the
    * q73 lossless fixture); PerceptualHashSpec pins re-mux, subset, and
    * recompression recall plus disjoint-video rejection. The q73 oracle
    * already hash-checks the shared decode->hash->band machinery.
    */
  def videoNearDup(spark: SparkSession, media: DataFrame, everyKth: Int = 1,
                   maxHamming: Int = MAX_HAMMING,
                   minMatched: Int = 2): DataFrame = {
    import spark.implicits._
    val k = math.max(1, everyKth)
    val frameHashes = media.as[Multimodal.MediaRecord].mapPartitions { it =>
      ImageCodec.initPartition()
      it.flatMap { rec =>
        VideoCodec.decode(rec.content).toSeq.flatMap { avi =>
          avi.frames.zipWithIndex
            .filter { case (_, i) => i % k == 0 }
            .flatMap { case (jpeg, i) =>
              aHash64(jpeg).map(lh => (rec.doc_id, i, lh._1, lh._2))
            }
        }
      }
    }.toDF("doc_id", "frame_no", "lo", "hi")
    val framePairs = perceptualNearDupFrames(frameHashes, maxHamming)
    val counts = frameHashes.groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"))
    framePairs.groupBy("v1", "v2")
      .agg(countDistinct("f1").as("matched_frames"))
      .filter(col("matched_frames") >= minMatched)
      .join(counts.withColumnRenamed("doc_id", "v1")
        .withColumnRenamed("n_frames", "n_frames_1"), "v1")
      .join(counts.withColumnRenamed("doc_id", "v2")
        .withColumnRenamed("n_frames", "n_frames_2"), "v2")
      .select("v1", "v2", "matched_frames", "n_frames_1", "n_frames_2")
      .orderBy("v1", "v2")
  }

  /** The banded join at (video, frame) granularity: candidate frame pairs
    * across DIFFERENT videos, verified by exact popcount.
    */
  private def perceptualNearDupFrames(frameHashes: DataFrame,
                                      maxHamming: Int): DataFrame = {
    val banded = withBands(frameHashes, Seq("doc_id", "frame_no"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("v1"), col("b.doc_id").as("v2"),
        col("a.frame_no").as("f1"), col("b.frame_no").as("f2"),
        hammingCol("a", "b").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q73: perceptual near-dup over the synthesized fixture — REAL decode
    // of 550 PNG/BMP payloads, aHash, banded Hamming join. The planted
    // BMP twins must pair with their PNG originals at hamming 0.
    "q73_perceptual_neardup" -> ((s, d) =>
      perceptualNearDup(
        imageAHash(s, synthesizeImages(Tables.documents(s, d))))
        .orderBy("d1", "d2")),

    // Q75: the index maintained incrementally — fixture ingested in two
    // batches, each batch's touching-pairs unioned; the oracle replays the
    // WHOLE-CORPUS q73 SQL, hash-checking that incremental ingest loses
    // and invents nothing.
    "q75_perceptual_index_merge" -> ((s, d) => {
      val hashes = imageAHash(s, synthesizeImages(Tables.documents(s, d)))
      val b1 = hashes.filter(pmod(col("doc_id"), lit(2L)) === 0L)
      val b2 = hashes.filter(pmod(col("doc_id"), lit(2L)) =!= 0L)
      incrementalPerceptualPairs(b1.limit(0), b1)
        .unionByName(incrementalPerceptualPairs(b1, b2))
        .orderBy("d1", "d2")
    })
  )

  /** The DuckDB twin recomputes the fixture pixels ANALYTICALLY (the same
    * BIGINT pixel function, never touching image bytes) and replays
    * aHash + banding — agreement proves the Spark side's decoded pixels
    * are exactly the encoded ones.
    */
  private def nearDupOracleSql: String =
    s"""WITH ids AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL
       |  SELECT doc_id + $TWIN_OFFSET FROM documents WHERE doc_id % $TWIN_EVERY = 0),
       |hh AS (SELECT doc_id,
       |         ${Sketches.phash60Sql(
           s"CASE WHEN doc_id >= $TWIN_OFFSET THEN doc_id - $TWIN_OFFSET" +
           s" ELSE doc_id END")} AS h
       |       FROM ids),
       |px AS (SELECT doc_id, x, y, $pixelSqlExpr AS p
       |       FROM hh, range(0, $IMG_DIM) tx(x), range(0, $IMG_DIM) ty(y)),
       |blk AS (SELECT doc_id, (y * 8 // $IMG_DIM) * 8 + (x * 8 // $IMG_DIM) AS b,
       |          CAST(SUM(p) AS BIGINT) AS bs
       |        FROM px GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(SUM(bs) AS BIGINT) AS ts FROM blk GROUP BY 1),
       |hash AS (SELECT blk.doc_id,
       |           CAST(SUM(CASE WHEN b < 32 AND 64 * bs > ts
       |                    THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS lo,
       |           CAST(SUM(CASE WHEN b >= 32 AND 64 * bs > ts
       |                    THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS hi
       |         FROM blk JOIN tot ON blk.doc_id = tot.doc_id
       |         GROUP BY 1),
       |banded AS (SELECT doc_id, lo, hi, band,
       |             (CASE WHEN band < 4 THEN lo ELSE hi END
       |              >> ((band % 4) * 8)) & 255 AS bv
       |           FROM hash, unnest([0, 1, 2, 3, 4, 5, 6, 7]) t(band)),
       |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |            CAST(bit_count(xor(a.lo, b.lo))
       |                 + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
       |          FROM banded a JOIN banded b
       |            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT d1, d2, hamming FROM pairs
       |WHERE hamming <= $MAX_HAMMING ORDER BY d1, d2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q73_perceptual_neardup" -> nearDupOracleSql,
    "q75_perceptual_index_merge" -> nearDupOracleSql
  )
}
