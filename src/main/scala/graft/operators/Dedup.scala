package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deduplication operators over the `documents` table (LLM-pipeline surface,
  * SURVEY.md s2.5 E-9 plus the training-data-pipeline extensions):
  *
  *  - q18: exact dedup by content hash (group on sha2, keep min doc_id).
  *  - q21: exact n-gram Jaccard near-dup pairs via a shingle inverted-index
  *    self-join — the exact-but-quadratic-in-collisions baseline, and the
  *    oracle for the approximate methods.
  *  - q22: MinHash + LSH banding — the 100 TB path. Signature computation is
  *    a single hash-aggregate per document (64 mins in one pass); banding
  *    turns the pair search into an equi-join on (band, band-hash), so the
  *    shuffle carries doc->bucket rows, never candidate cross-products.
  *  - q23: SimHash signatures + Hamming-distance pairs via 16-bit block
  *    pigeonhole blocking (4 blocks: any pair with Hamming distance <= 3
  *    shares at least one exact block, so blocking loses nothing).
  *
  * q22's LSH pruning uses xxhash64 (Spark-native, codegen'd, seed-stable)
  * internally, but its OUTPUT is the exact-verified pair set, so its oracle
  * is plain exact-Jaccard SQL; q23's SimHash is built on the portable
  * md5-derived hash so the signatures themselves reproduce in DuckDB.
  * ScalaTest additionally asserts LSH-candidate containment against the
  * exact q21 pairs at both test SFs.
  */
object Dedup {

  /** Distinct token 3-gram shingles per document. transform/sequence stay
    * inside codegen; explode is the only generator.
    */
  private[operators] def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("toks")) - 3), i =>
          concat_ws(" ",
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2),
            element_at(col("toks"), i + 3))))).as("shingle"))

  private val N_HASHES = 64
  private val N_BANDS = 16
  private val ROWS_PER_BAND = N_HASHES / N_BANDS

  /** Distinct 64-bit-hashed shingles — the shared index relation: the
    * MinHash signatures, the LSH verification join, and the per-doc counts
    * all consume THIS, so a pipeline that persists it tokenizes the corpus
    * exactly once (the 100 TB cost is the tokenize+explode pass, not the
    * hashing).
    */
  private[operators] def hashedShingles(docs: DataFrame): DataFrame =
    shingles(docs).select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))

  /** MinHash signature as ONE array column: `(doc_id, sig: array<long>)`,
    * over the hashed-shingle relation. The N seeded hashes re-hash the
    * 8-byte shingle hash instead of the string (equally valid minwise
    * family, and it lets the signature aggregate share its input with the
    * verification join). A single hash-aggregate: map-side partial mins,
    * one shuffle keyed by doc_id; packing into an array lets the candidate
    * join carry the signature along instead of re-joining the aggregate.
    */
  private[operators] def minhashSignatures(sh: DataFrame): DataFrame = {
    val mins = (0 until N_HASHES).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until N_HASHES).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** LSH candidate pairs with their minhash-estimated Jaccard (fraction of
    * equal signature components, scaled x1e3). The equi-join key is
    * (band, band-hash); signatures ride along, so the estimate is a
    * codegen'd zip_with over the joined rows — no third pass.
    */
  private[operators] def minhashCandidates(docs: DataFrame, cache: Boolean = true): DataFrame =
    minhashCandidatesFromHashed(hashedShingles(docs), cache)

  /** The banded doc->bucket relation: `(doc_id, band, bh [, sig])`. The
    * equi-join key of every LSH pair search; `carrySig` additionally rides
    * the signature array along for consumers that compute the minhash
    * estimate on collisions.
    */
  private[operators] def bandBuckets(sig: DataFrame, carrySig: Boolean): DataFrame = {
    val bandCols = (0 until N_BANDS).map { b =>
      val cols = (0 until ROWS_PER_BAND).map(r =>
        element_at(col("sig"), b * ROWS_PER_BAND + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bh"))
    }
    val carried = if (carrySig) Seq(col("sig")) else Nil
    sig
      .select(col("doc_id") +: carried :+ explode(array(bandCols: _*)).as("bb"): _*)
      .select(Seq(col("doc_id")) ++ carried ++
        Seq(col("bb.band").as("band"), col("bb.bh").as("bh")): _*)
  }

  private[operators] def minhashCandidatesFromHashed(sh: DataFrame,
                                                     cache: Boolean): DataFrame = {
    // both join sides read the signature table; `cache=false` trades the
    // recompute for zero pinned blocks (the long-lived facade path)
    val sig0 = minhashSignatures(sh)
    val sig = if (cache) sig0.persist() else sig0
    val buckets = bandBuckets(sig, carrySig = true)
    val nEqual = aggregate(
      zip_with(col("s1"), col("s2"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sig").as("s1"), col("b.sig").as("s2"))
      // estimate BEFORE dedup: a pair colliding in k bands recomputes the
      // (cheap, codegen'd) estimate k times, but the distinct exchange then
      // carries 24-byte rows instead of two 512-byte signature arrays.
      .select(col("d1"), col("d2"),
        floor(nEqual.cast("double") * lit(1000.0) / N_HASHES + lit(0.5))
          .cast("long").as("est_jaccard_x1e3"))
      .distinct()
  }

  /** Candidate PAIRS only — what the exact-verification pipelines consume.
    * Unlike [[minhashCandidatesFromHashed]] the signatures do NOT ride
    * through the bucket join and no estimate is computed: the verified
    * paths discard it anyway, so the join carries 24-byte keyed rows and
    * the distinct exchange dedups (d1, d2) directly (measurably cheaper —
    * the estimate surface pays for two 512-byte arrays per collision).
    */
  private[operators] def minhashCandidatePairs(sig: DataFrame): DataFrame = {
    val buckets = bandBuckets(sig, carrySig = false)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  // ---------------------------------------------------- LSH calibration --

  private val CAL_HASHES = 64
  private val CAL_ROWS = ROWS_PER_BAND      // 4 rows/band — the q22 banding
  private val CAL_BANDS = CAL_HASHES / CAL_ROWS

  /** Portable 64-permutation MinHash signature (columns m0..m63) over the
    * STRING shingles. The production pipeline (q22) minhashes xxhash64'd
    * shingles — fast but with no DuckDB twin; this calibration family uses
    * the md5-derived [[Sketches.phash60]] seeded per permutation so the
    * oracle replays every signature bit-for-bit. Both are minwise families
    * over the same shingle sets, and the S-curve being measured depends
    * only on the (bands, rows) geometry and minwise uniformity — not on
    * which concrete hash realizes it.
    */
  private[operators] def calSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val aggs = (0 until CAL_HASHES).map(i =>
      min(Sketches.phash60(concat(lit(s"$i|"), col("shingle")))).as(s"m$i"))
    shingles(docs).groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** q112's planted similarity GRADIENT (the q87 planted-excerpt idiom):
    * docs in hash class c = phash60(id)%10, c in 1..5, emit a prefix copy
    * keeping (5+c)/10 of their tokens as doc id+3e6. Prefix shingles are a
    * subset of the parent's, so each pair's trigram Jaccard is ~(m-2)/(n-2)
    * — a deterministic ladder spanning the 0.6..1.0 buckets that both
    * engines replay, giving the S-curve something to measure at every
    * similarity level (the natural fixture corpus clusters at one bucket).
    */
  /** Row-wise guard for the planted-fixture id namespaces (ADVICE r10):
    * every REAL doc id must sit below the planted offset, else a planted
    * id could collide with a real doc and silently merge two documents'
    * shingle sets. Evaluated inside the rows already being scanned (no
    * extra pass, no driver action); a violating corpus fails the query
    * loudly instead of corrupting the fixture's ground truth. The oracle
    * twins carry no guard on purpose — a precondition failure surfaces
    * as a Spark error, never as a silent hash mismatch.
    */
  private def assertIdBelow(c: Column, bound: Long): Column =
    when(c >= bound || c < 0,
      raise_error(concat(lit(s"planted-id namespace requires 0 <= id < $bound, got "),
        c.cast("string")))).otherwise(c)

  def withPlantedRevisions(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val h = Sketches.phash60(col("doc_id")) % 10
    val toks = split(col("text"), " ")
    val planted = docs
      .filter(h.between(1L, 5L))
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1),
          floor((size(toks) * (h + lit(5))).cast("double") / 10).cast("int")))
          .as("text"))
    docs.select(assertIdBelow(col("doc_id"), 3000000L).as("doc_id"), col("text"))
      .unionAll(planted)
  }

  /** The [[withPlantedRevisions]] corpus as a DuckDB CTE body (relation
    * columns: doc_id, text).
    */
  private def plantedRevisionsSql: String =
    s"""SELECT doc_id, text FROM documents
       |      UNION ALL
       |      SELECT doc_id + 3000000 AS doc_id,
       |             array_to_string(l[1:CAST((len(l) * (h + 5)) // 10 AS INT)], ' ') AS text
       |      FROM (SELECT doc_id, string_split(text, ' ') AS l,
       |              ${Sketches.phash60Sql("doc_id")} % 10 AS h
       |            FROM documents)
       |      WHERE h BETWEEN 1 AND 5""".stripMargin

  /** Per-pair calibration relation: exact Jaccard (>= threshold), the
    * 64-hash estimate's match count, and whether the 16x4 banding catches
    * the pair (some band's 4 rows all collide).
    */
  private[operators] def calibrationPairs(docs: DataFrame,
                                          thresholdX1e3: Int): DataFrame =
    calibrationPairsFromState(jaccardPairs(docs, thresholdX1e3),
      calSignatures(docs))

  /** [[calibrationPairs]] against ALREADY-MATERIALIZED ground-truth pairs
    * and signature relations — the artifact-served form: both inputs are
    * deterministic derived state of an immutable corpus snapshot, so the
    * catalog persists them content-keyed (the q106 prior-state treatment)
    * and a warm q112 call pays only this pairs-sized join + the bucket
    * report, not the quadratic truth computation.
    */
  private[operators] def calibrationPairsFromState(pairs: DataFrame,
                                                   sig: DataFrame): DataFrame = {
    val a = sig.toDF(sig.columns.map(_ + "_a"): _*)
    val b = sig.toDF(sig.columns.map(_ + "_b"): _*)
    val matches = (0 until CAL_HASHES).map(i =>
      when(col(s"m${i}_a") === col(s"m${i}_b"), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    val caught = (0 until CAL_BANDS).map { bnd =>
      (0 until CAL_ROWS).map(r =>
        col(s"m${bnd * CAL_ROWS + r}_a") === col(s"m${bnd * CAL_ROWS + r}_b"))
        .reduce(_ && _)
    }.reduce(_ || _)
    pairs.join(a, pairs("d1") === a("doc_id_a"))
      .join(b, pairs("d2") === b("doc_id_b"))
      .select(col("d1"), col("d2"), col("jaccard_x1e3"),
        matches.as("n_match"),
        when(caught, lit(1L)).otherwise(lit(0L)).as("caught"))
  }

  /** q112: EMPIRICAL LSH S-CURVE — per exact-Jaccard bucket (0.6-0.7, ...,
    * 1.0), how many true pairs the q22-geometry banding (16 bands x 4
    * rows) would catch, plus the minhash estimator's mean absolute error.
    * This is the calibration report a pipeline runs on a corpus SAMPLE
    * before committing band parameters for the full 100 TB pass: the
    * recall column is the measured catch probability 1-(1-J^r)^b at the
    * corpus's actual similarity distribution, and the error column
    * certifies the 64-hash estimator's resolution. (The q22 contract —
    * verified-LSH equals exact at t=0.8 — is a yes/no pin at one
    * threshold; this measures the whole curve below it.)
    *
    * Scale shape: the signature is ONE hash-aggregate over the shingle
    * pass (64 map-side partial mins, doc-sized output); the eval join is
    * pair-graph-sized against the doc-sized signature relation (two
    * hash joins on doc ids); the report is bucket-sized. The exact-pair
    * ground truth reuses q21's inverted-index join — on a sample corpus
    * by construction, exactly how the harness is meant to run.
    */
  def lshCalibration(docs: DataFrame, thresholdX1e3: Int = 600): DataFrame =
    calibrationReport(calibrationPairs(docs, thresholdX1e3))

  /** The q112 report off a [[calibrationPairsFromState]] relation. */
  private[operators] def calibrationReport(cal: DataFrame): DataFrame =
    cal
      .selectExpr("jaccard_x1e3 DIV 100 AS jac_bucket", "caught",
        s"(n_match * 1000) DIV $CAL_HASHES AS est_x1e3", "jaccard_x1e3")
      .selectExpr("jac_bucket", "caught",
        "CASE WHEN est_x1e3 > jaccard_x1e3 THEN est_x1e3 - jaccard_x1e3 " +
          "ELSE jaccard_x1e3 - est_x1e3 END AS aerr")
      .groupBy("jac_bucket")
      .agg(count(lit(1)).as("n_pairs"), sum("caught").as("n_caught"),
        sum("aerr").as("sum_abs_err"))
      .selectExpr("jac_bucket", "n_pairs", "n_caught",
        "(n_caught * 1000) DIV n_pairs AS recall_x1e3",
        "sum_abs_err DIV n_pairs AS mean_abs_err_x1e3")
      .orderBy("jac_bucket")

  /** The q112 DuckDB twin, generated from the same (hashes, bands, rows)
    * constants so the two can never drift.
    */
  private def lshCalibrationOracle(thresholdX1e3: Int): String = {
    val sigCols = (0 until CAL_HASHES)
      .map(i => s"MIN(${Sketches.phash60Sql(s"'$i|' || shingle")}) AS m$i")
      .mkString(", ")
    val matches = (0 until CAL_HASHES)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val caught = (0 until CAL_BANDS).map { bnd =>
      "(" + (0 until CAL_ROWS)
        .map(r => s"a.m${bnd * CAL_ROWS + r} = b.m${bnd * CAL_ROWS + r}")
        .mkString(" AND ") + ")"
    }.mkString(" OR ")
    s"""WITH corpus AS ($plantedRevisionsSql),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
       |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
       |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
       |       WHERE len(l) >= 3),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT d1, d2,
       |            CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) AS j
       |          FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
       |          WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= $thresholdX1e3),
       |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |per AS (SELECT p.j // 100 AS jac_bucket,
       |          CASE WHEN $caught THEN 1 ELSE 0 END AS caught,
       |          (($matches) * 1000) // $CAL_HASHES AS est, p.j AS j
       |        FROM pairs p JOIN sig a ON p.d1 = a.doc_id JOIN sig b ON p.d2 = b.doc_id)
       |SELECT jac_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(caught) AS BIGINT) AS n_caught,
       |       (CAST(SUM(caught) AS BIGINT) * 1000) // COUNT(*) AS recall_x1e3,
       |       CAST(SUM(CASE WHEN est > j THEN est - j ELSE j - est END) AS BIGINT)
       |         // COUNT(*) AS mean_abs_err_x1e3
       |FROM per
       |GROUP BY jac_bucket
       |ORDER BY jac_bucket""".stripMargin
  }

  private val SIMHASH_BITS = 60   // width of the portable md5-derived hash
  private val SIMHASH_BLOCKS = 4  // 4 x 15-bit blocks: pigeonhole-complete
  private val BLOCK_BITS = SIMHASH_BITS / SIMHASH_BLOCKS

  /** 60-bit SimHash per document from token-frequency-weighted bit votes.
    * One explode + two hash-aggregates; everything else is codegen'd bit
    * arithmetic. The token hash is the portable md5-derived
    * [[Sketches.phash60]], so the signature — and therefore the whole q23
    * pair set — is reproducible in the DuckDB oracle, unlike the previous
    * xxhash64 form which could only get a rows-only check.
    */
  private[operators] def simhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("w"))
      .withColumn("th", Sketches.phash60(col("tok")))
    val bitSums = (0 until SIMHASH_BITS).map { i =>
      sum(when(col("th").bitwiseAND(lit(1L << i)) =!= 0L, col("w"))
        .otherwise(-col("w"))).as(s"b$i")
    }
    val agg = tf.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    agg.select(col("doc_id"),
      (0 until SIMHASH_BITS).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** The DuckDB twin of the q23 plan, generated from the same constants. */
  private def simhashOracleSql: String = {
    val bitSums = (0 until SIMHASH_BITS).map(i =>
      s"SUM(CASE WHEN (th >> $i) & 1 = 1 THEN w ELSE -w END) AS b$i")
      .mkString(",\n         ")
    val assemble = (0 until SIMHASH_BITS).map(i =>
      s"(CASE WHEN b$i > 0 THEN 1::BIGINT << $i ELSE 0::BIGINT END)")
      .mkString(" +\n         ")
    val blks = (0 until SIMHASH_BLOCKS).mkString("[", ", ", "]")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tfc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS w FROM tok GROUP BY 1, 2),
       |tf AS (SELECT doc_id, w, ${Sketches.phash60Sql("tok")} AS th FROM tfc),
       |bits AS (SELECT doc_id,
       |         $bitSums
       |         FROM tf GROUP BY doc_id),
       |sh AS (SELECT doc_id,
       |         $assemble AS simhash
       |       FROM bits),
       |blocks AS (SELECT doc_id, simhash, blk,
       |             (simhash >> (blk * $BLOCK_BITS)) & ${(1 << BLOCK_BITS) - 1} AS bv
       |           FROM sh, unnest($blks) AS t(blk)),
       |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |            CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |          FROM blocks a JOIN blocks b
       |            ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT d1, d2, hamming FROM pairs WHERE hamming <= 3 ORDER BY d1, d2""".stripMargin
  }

  /** Exact trigram-Jaccard near-dup pairs over any (doc_id, text) relation,
    * scaled-integer threshold (x1e3). Shingles are hashed to 64-bit before
    * the self-join so the inverted-index shuffle carries 8-byte keys
    * instead of strings (collision odds over the shingle space ~1e-11).
    */
  def jaccardPairs(docs: DataFrame, thresholdX1e3: Int, cache: Boolean = true): DataFrame = {
    // the shingle relation feeds three consumers (both self-join sides and
    // the per-doc counts); a lazy persist materializes it once instead of
    // re-tokenizing the corpus three times — the same "persist the index"
    // move a production dedup run makes explicitly. Query-catalog entries
    // keep cache=true (process-scoped runs); facade-reachable paths pass
    // cache=false so a long-lived session pins no blocks.
    val sh0 = hashedShingles(docs)
    val sh = if (cache) sh0.persist() else sh0
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("nboth"))
    exactJaccardFilter(inter, sh, thresholdX1e3, cache)
  }

  private[operators] val EXC_TOKENS = 12

  /** q87's planted inclusions: docs in hash class phash60(id)%50==0 emit
    * their first [[EXC_TOKENS]] tokens as a new document (id + 2e6) — a
    * deterministic "quote of a larger document" both engines replay.
    */
  def withPlantedExcerpts(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val excerpts = docs
      .filter(Sketches.phash60(col("doc_id")) % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, EXC_TOKENS))
          .as("text"))
    docs.select(assertIdBelow(col("doc_id"), 2000000L).as("doc_id"), col("text"))
      .unionAll(excerpts)
  }

  /** q87: containment pairs — the ASYMMETRIC near-dup regime symmetric
    * Jaccard is blind to. A 12-token excerpt inside a 300-token document
    * has J ~ 0.03 (no dedup gate fires) but containment
    * |A∩B| / min(|A|,|B|) = 1.0: quote inclusion, boilerplate embedding,
    * the doc-inside-doc case substring dedup papers call out. Reported
    * pairs are the containment-only set (containment >= contMin, Jaccard
    * < jacMax) with both scores, so the operator complements rather than
    * duplicates q21/q22.
    *
    * Candidate generation is a PREFIX-FILTERED probe (the PPJoin/All-Pairs
    * family's prefix filter, specialized to overlap/min containment), NOT a
    * full inverted self-join — MinHash banding can't stand in here because
    * containment pairs have low Jaccard by construction:
    *
    *  - order every document's shingles by GLOBAL rarity (document
    *    frequency ascending, shingle hash as tie-break);
    *  - a pair with containment >= t shares >= ceil(t*n) of the smaller
    *    side's n shingles, so at most floor((1-t)*n) of them miss the other
    *    doc — any floor((1-t)*n)+1 of its shingles must hit. Each doc
    *    therefore indexes only that PREFIX (~10% of its shingles at t=0.9);
    *  - candidates = prefix-side join against the full inverted index. A
    *    corpus-hot shingle (df=d) almost never survives into a rarest-first
    *    prefix, so it contributes ~0 candidates instead of the d^2 rows the
    *    old self-join paid; join volume is rare-shingle-bounded.
    *
    * The filter is EXACT (every qualifying pair is caught via its min
    * side's prefix — DedupSpec pins output equality with the brute-force
    * pair set), and verification computes (nboth, n1, n2) on candidates
    * only, the same candidates-only shape as [[jaccardPairsLshVerified]].
    * At 100 TB this keeps the one asymmetric-dedup path in the catalog
    * bucketed-not-all-pairs.
    */
  def containmentPairs(docs: DataFrame, contMinX1e3: Int = 900,
                       jacMaxX1e3: Int = 800,
                       cache: Boolean = true): DataFrame = {
    val sh0 = hashedShingles(docs)
    val sh = if (cache) sh0.persist() else sh0
    containmentPairsFromHashed(sh, contMinX1e3, jacMaxX1e3, cache)
  }

  /** [[containmentPairs]] over a caller-supplied hashed-shingle relation
    * (see [[jaccardPairsLshVerifiedFromHashed]] for why).
    */
  /** q87's candidate generator, exposed for the pruning spec: distinct
    * (d1 < d2) pairs sharing at least one shingle from either side's
    * rarest-first prefix. Exactness argument in [[containmentPairs]];
    * the spec additionally pins the PRUNING claim — a corpus-hot shingle
    * must produce ~0 candidates, not df² of them.
    */
  private[operators] def containmentCandidates(
      sh: DataFrame, contMinX1e3: Int): DataFrame = {
    val prefix = rarestPrefix(sh, contMinX1e3)
      .select(col("doc_id"), explode(col("pref")).as("shingle"))
    prefix.as("p")
      .join(sh.as("f"),
        col("p.shingle") === col("f.shingle") &&
          col("p.doc_id") =!= col("f.doc_id"))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("d1"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("d2"))
      .distinct()
  }

  private[operators] def containmentPairsFromHashed(
      sh: DataFrame, contMinX1e3: Int, jacMaxX1e3: Int,
      cache: Boolean): DataFrame = {
    val cand = containmentCandidates(sh, contMinX1e3)
    // exact intersection counts restricted to candidates — join sizes scale
    // with |candidates| x shingles-per-doc, never corpus^2
    val inter = cand
      .join(sh.as("a"), col("d1") === col("a.doc_id"))
      .join(sh.as("b"),
        col("d2") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("nboth"))
    val cnt0 = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cnt = if (cache) cnt0.persist() else cnt0
    val jac = floor(col("nboth") * lit(1000.0) /
      (col("c1.n") + col("c2.n") - col("nboth")) + lit(0.5)).cast("long")
    val cont = floor(col("nboth") * lit(1000.0) /
      least(col("c1.n"), col("c2.n")) + lit(0.5)).cast("long")
    inter
      .join(cnt.as("c1"), col("d1") === col("c1.doc_id"))
      .join(cnt.as("c2"), col("d2") === col("c2.doc_id"))
      .select(col("d1"), col("d2"), jac.as("jaccard_x1e3"),
        cont.as("containment_x1e3"))
      .filter(col("containment_x1e3") >= contMinX1e3 &&
        col("jaccard_x1e3") < jacMaxX1e3)
      .orderBy("d1", "d2")
  }

  /** q90: the per-document CONTAINMENT index — `(doc_id, sh, pref)` where
    * `sh` is the doc's sorted distinct hashed-shingle array and `pref` its
    * floor((1-t)n)+1 rarest-at-index-time shingles. Append-only corpora
    * then never re-run q87 from scratch: a new batch probes this index
    * (see [[incrementalContainmentPairs]]).
    *
    * Exactness does NOT depend on the rarity order: the prefix-filter
    * theorem only needs SOME floor((1-t)n)+1-subset of each doc's shingles
    * (any L distinct elements of the min side must contain a shared one
    * when at most L-1 miss), so document frequencies computed over THIS
    * batch — stale by the time later batches arrive — still give a
    * correct prefix forever. Rarity ordering is purely the pruning
    * heuristic that keeps corpus-hot shingles out of prefixes.
    */
  def containmentIndex(docs: DataFrame, contMinX1e3: Int = 900): DataFrame =
    rarestPrefix(hashedShingles(docs), contMinX1e3)

  /** Per-doc `(doc_id, sh, pref)`: sorted distinct shingle array plus the
    * floor((1-t)n)+1 rarest shingles (document frequency ascending, hash
    * tie-break). One groupBy with map-side partial aggregation and a
    * per-ROW array sort — deliberately NOT a window: ranking via
    * row_number would sort-shuffle the whole shingle relation by doc_id,
    * while this shape shuffles one pre-aggregated row per document and
    * sorts each doc's (df, shingle) list locally (arrays are
    * document-sized). Measured 8.1 → ~5 s on the q90 ingest at sf0.1.
    */
  private[operators] def rarestPrefix(sh: DataFrame, contMinX1e3: Int): DataFrame = {
    // the final score rounds half-up, so containment as low as
    // tEff = (contMin - 0.5)/1000 = (2*contMin - 1)/2000 still reports
    // >= contMin — size the prefix for that effective threshold or
    // rounding-boundary pairs could be missed. Prefix length must be the
    // EXACT n - ceil(tEff*n) + 1; computing it as floor((1-tEff)*n)+1 in
    // doubles is one SHORT for ~665 (threshold, n) combos (tEff is not
    // representable; e.g. contMin=613, n=80 gives 31 vs the required 32),
    // so do the ceil on the exact rational with integer arithmetic:
    // ceil((2t-1)*n / 2000) = ((2t-1)*n + 1999) div 2000. The products stay
    // < 2^53 for any realistic per-doc shingle count, so the long-typed
    // floor-division below is exact.
    val num = lit(2L * contMinX1e3 - 1)
    val n = size(col("ds")).cast("long")
    val need = floor((num * n + lit(1999L)) / lit(2000L)).cast("long")
    val dfRel = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(dfRel, "shingle")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df"), col("shingle"))).as("ds"))
      .select(col("doc_id"),
        sort_array(transform(col("ds"), x => x.getField("shingle"))).as("sh"),
        transform(
          slice(sort_array(col("ds")), lit(1),
            (n - need + lit(1L)).cast("int")),
          x => x.getField("shingle")).as("pref"))
  }

  /** Containment pairs TOUCHING the delta: every (cont >= contMin,
    * jac < jacMax) pair with at least one endpoint in `delta`, candidates
    * from BOTH prefix directions (the min side of a cross pair can sit in
    * either the index or the delta):
    * delta-prefix ⋈ (index ∪ delta)-shingles  ∪  (index ∪ delta)-prefix ⋈
    * delta-shingles. Verification is a LOCAL `array_intersect` over the
    * carried arrays — no corpus-wide shingle join at ingest time, per-batch
    * cost ∝ |delta| × posting collisions (the q64 idiom lifted to the
    * asymmetric regime). Ingesting batches B1..Bn and unioning each batch's
    * pairs yields EXACTLY the whole-corpus [[containmentPairs]] result
    * (every pair is emitted at its later endpoint's ingest, and only
    * there); IncrementalNearDupSpec pins it including order-invariance,
    * and q90's oracle is the SAME whole-corpus SQL as q87's.
    */
  def incrementalContainmentPairs(index: DataFrame, delta: DataFrame,
                                  contMinX1e3: Int = 900,
                                  jacMaxX1e3: Int = 800): DataFrame = {
    val all = index.unionByName(delta)
    def pref(d: DataFrame) =
      d.select(col("doc_id"), explode(col("pref")).as("shingle"))
    def full(d: DataFrame) =
      d.select(col("doc_id"), explode(col("sh")).as("shingle"))
    def half(p: DataFrame, f: DataFrame) = p.as("p")
      .join(f.as("f"),
        col("p.shingle") === col("f.shingle") &&
          col("p.doc_id") =!= col("f.doc_id"))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("d1"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("d2"))
    val cand = half(pref(delta), full(all))
      .union(half(pref(all), full(delta)))
      .distinct()
    containmentVerify(cand, all, contMinX1e3, jacMaxX1e3)
  }

  /** Containment + Jaccard verification of candidate pairs against a
    * doc-keyed `(doc_id, sh, …)` relation covering every candidate
    * endpoint — local `array_intersect` over the carried arrays (the q90
    * verify tail, shared by the in-memory and the persisted-bucketed-index
    * paths).
    */
  private[operators] def containmentVerify(cand: DataFrame, docs: DataFrame,
                                           contMinX1e3: Int,
                                           jacMaxX1e3: Int): DataFrame = {
    val jac = floor(col("nboth") * lit(1000.0) /
      (col("n1") + col("n2") - col("nboth")) + lit(0.5)).cast("long")
    val cont = floor(col("nboth") * lit(1000.0) /
      least(col("n1"), col("n2")) + lit(0.5)).cast("long")
    cand
      .join(docs.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("nboth"),
        size(col("sh1")).cast("long").as("n1"),
        size(col("sh2")).cast("long").as("n2"))
      .select(col("d1"), col("d2"), jac.as("jaccard_x1e3"),
        cont.as("containment_x1e3"))
      .filter(col("containment_x1e3") >= contMinX1e3 &&
        col("jaccard_x1e3") < jacMaxX1e3)
  }

  /** q87 computed FROM the persisted curation-index artifact
    * ([[DedupArtifacts.ensureCurationIndex]]): candidates are the same
    * rarest-prefix probe (pref-explode against sh-explode of the SAME
    * relation), verification the same local `array_intersect` — but the
    * tokenize, document-frequency, prefix and count aggregations are all
    * prepaid in the artifact, so a warm catalog run is candidates + verify
    * only. ArtifactSpec pins output equality with [[containmentPairs]].
    */
  private[operators] def containmentPairsFromIndex(idx: DataFrame,
                                                   contMinX1e3: Int,
                                                   jacMaxX1e3: Int): DataFrame = {
    val prefix = idx.select(col("doc_id"), explode(col("pref")).as("shingle"))
    val full = idx.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val cand = prefix.as("p")
      .join(full.as("f"),
        col("p.shingle") === col("f.shingle") &&
          col("p.doc_id") =!= col("f.doc_id"))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("d1"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("d2"))
      .distinct()
    containmentVerify(cand, idx, contMinX1e3, jacMaxX1e3)
  }

  /** q89 computed FROM the persisted curation-index artifact: Jaccard
    * edges from the carried minhash signatures (band candidates + local
    * array_intersect verify — the same pair set as
    * [[jaccardPairsLshVerifiedFromHashed]], one definition of exact
    * Jaccard), containment edges from [[containmentPairsFromIndex]];
    * contraction and the broadcast repair join are exactly q88's. The
    * corpus relation is still scanned once for the per-split token
    * counts — that pass is the report's own cost, not index rebuild.
    * ArtifactSpec pins output equality with [[leakFreeSplitContainment]].
    */
  private[operators] def leakFreeSplitContainmentFromIndex(
      docs: DataFrame, idx: DataFrame, thresholdX1e3: Int = 800,
      contMinX1e3: Int = 900): DataFrame =
    leakFreeSplitContainmentFromPairs(docs,
      nearDupVerify(
        minhashCandidatePairs(idx.select("doc_id", "sig")), idx, thresholdX1e3),
      containmentPairsFromIndex(idx, contMinX1e3, jacMaxX1e3 = thresholdX1e3))

  /** [[leakFreeSplitContainmentFromIndex]] against the persisted Jaccard
    * and containment pair artifacts — both edge relations are build-once
    * state; a warm q89 call pays contraction + the one corpus scan the
    * report itself needs.
    */
  private[operators] def leakFreeSplitContainmentFromPairs(
      docs: DataFrame, jacPairs: DataFrame, contPairs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val edges = jacPairs.select("d1", "d2")
      .unionAll(contPairs.select("d1", "d2"))
      .distinct()
    val (comps, _) = ccStarContract(edges)
    splitRepairReport(docs, comps)
  }

  /** The q22 verified-pair set computed FROM a curation-index relation
    * `(doc_id, sig, sh, …)` instead of raw text: band candidates from the
    * carried minhash signatures, exact-Jaccard verification as a local
    * `array_intersect` over the carried shingle arrays. Same pair set as
    * [[jaccardPairsLshVerified]] (one definition of exact Jaccard;
    * ArtifactSpec pins the equality) — the build-once/query-many form the
    * q49/q86/q88/q95 consumers share so the corpus is tokenized once per
    * snapshot, not once per query.
    */
  private[operators] def verifiedPairsFromIndex(idx: DataFrame,
                                                thresholdX1e3: Int): DataFrame =
    nearDupVerify(minhashCandidatePairs(idx.select("doc_id", "sig")), idx,
      thresholdX1e3)

  /** q49's labels from the curation-index artifact (see
    * [[verifiedPairsFromIndex]]).
    */
  private[operators] def nearDupClustersFromIndex(idx: DataFrame,
                                                  thresholdX1e3: Int): DataFrame =
    clustersFromPairs(verifiedPairsFromIndex(idx, thresholdX1e3))

  /** q49's labels from an already-materialized pair relation (the
    * verified-pairs artifact — [[DedupArtifacts.ensureVerifiedPairs]]).
    */
  private[operators] def clustersFromPairs(pairs: DataFrame): DataFrame = {
    val (labels, _) = ccStarContract(pairs.select("d1", "d2"))
    labels.orderBy("doc_id")
  }

  /** Total rank mass for [[dupCentrality]], and the damping split 85/15.
    * 1e12 leaves ~3 significant decimal digits per node at a billion docs
    * while 85*mass stays far under BIGINT range.
    */
  private val RANK_SCALE = 1000000000000L

  /** q101: DUPLICATION CENTRALITY — damped PageRank over the verified
    * near-dup graph. A doc's rank measures how centrally it sits in the
    * duplication structure: boilerplate/template hubs (one page near-dup'd
    * by many spokes which are themselves duplicated) score far above an
    * isolated mutual pair, which a flat degree count can't distinguish.
    * Curation uses the rank as a down-weighting signal the per-pair views
    * (q22) and flat components (q49) don't expose.
    *
    * Exactly reproducible across engines: ranks are BIGINT shares of
    * [[RANK_SCALE]]; each iteration is r'(u) = (15*(SCALE div n)) div 100
    * + (85 * sum_{v->u} (r(v) div deg(v))) div 100 — every step integer
    * division of non-negative values, so Spark `DIV` == DuckDB `//` and
    * the whole fixpoint prefix hash-checks. Dangling (isolated) docs keep
    * the base rank and contribute nothing (the standard simplification;
    * rank mass is not re-injected — documented, both engines identical).
    *
    * 100 TB shape: edges come from the LSH-verified pair set (never
    * all-pairs); each of the `iters` rounds is ONE edge-sized equi-join
    * plus ONE partial-aggregating groupBy on the destination key — no
    * global sort, no driver-side graph. The only driver scalar is n.
    */
  def dupCentrality(docs: DataFrame, idx: DataFrame, thresholdX1e3: Int,
                    iters: Int = 3): DataFrame = {
    val pairs = verifiedPairsFromIndex(idx, thresholdX1e3).select("d1", "d2")
    pageRank(docs.select("doc_id"), pairs, iters)
  }

  /** The rank fixpoint prefix behind [[dupCentrality]]: `pairs` (d1, d2)
    * symmetrize into directed edges; `iters` rounds of the integer
    * recurrence; output (doc_id, deg, rank_x1e12) per node.
    */
  private[operators] def pageRank(nodes0: DataFrame, pairs: DataFrame,
                                  iters: Int): DataFrame =
    pageRank(nodes0, pairs, iters, CC_LOCAL_MAX_EDGES)

  private[operators] def pageRank(nodes0: DataFrame, pairs: DataFrame,
                                  iters: Int,
                                  localMaxEdges: Long): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .persist()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    val nodes = nodes0.persist()
    val n = nodes.count() // bounded driver state: one scalar
    val r0 = RANK_SCALE / n
    val base = (15L * r0) / 100L
    val nEdges = edges.count()
    // size-gated local path (the ccStarContract argument): rank evolution
    // closes over the EDGE-TOUCHED nodes (an isolated doc's rank is the
    // constant `base` after iteration 1 — no in-flow ever reaches it), so
    // a gate-bounded edge set iterates on the driver with the IDENTICAL
    // integer recurrence and broadcasts (deg, rank) back over the node
    // scan — per-iteration shuffle scheduling, which dominated q101's
    // wall time, disappears. Exceeding graphs iterate distributed below.
    if (nEdges <= localMaxEdges) {
      // restrict to src ∈ nodes BEFORE collecting (the distributed path's
      // ranks join does exactly this — an outside src never contributes
      // inflow), but KEEP edges whose dst falls outside nodes: they still
      // count in the source's out-degree (`deg` above is computed over
      // the FULL edge set), they just deliver their rank share nowhere.
      // A dst-membership indicator rides along so rank cells exist for
      // exactly the edge-touched members of nodes. Without this the two
      // paths diverge from iteration 2 when pair endpoints fall outside
      // nodes0 (catalog callers pass full node sets; this pins the
      // general case). Both joins are distributed; only the gate-bounded
      // edge list reaches the driver.
      val es = edges
        .join(nodes.select(col("doc_id").as("src")), Seq("src"), "left_semi")
        .join(nodes.select(col("doc_id").as("dst"), lit(1L).as("din")),
          Seq("dst"), "left")
        .select("src", "dst", "din")
        .collect().map(r => (r.getLong(0), r.getLong(1), !r.isNullAt(2)))
      val degM = scala.collection.mutable.LongMap.empty[Long]
      es.foreach { case (s, _, _) => degM(s) = degM.getOrElse(s, 0L) + 1L }
      val keys = es.map(_._1).toSet ++ es.collect { case (_, d, true) => d }
      var ranks = scala.collection.mutable.LongMap.empty[Long]
      keys.foreach(k => ranks(k) = r0)
      (1 to iters).foreach { _ =>
        val inflow = scala.collection.mutable.LongMap.empty[Long]
        es.foreach { case (s, d, _) =>
          inflow(d) = inflow.getOrElse(d, 0L) + ranks(s) / degM(s)
        }
        val next = scala.collection.mutable.LongMap.empty[Long]
        keys.foreach(k =>
          next(k) = base + (85L * inflow.getOrElse(k, 0L)) / 100L)
        ranks = next
      }
      val spark = nodes.sparkSession
      val touched = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(
          keys.toSeq.map(k => Row(k, degM.getOrElse(k, 0L), ranks(k))),
          math.max(1, math.min(32, keys.size / 4096))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("deg",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("r",
            org.apache.spark.sql.types.LongType, nullable = false)))))
      return nodes
        .join(touched, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"),
          coalesce(col("r"), lit(if (iters >= 1) base else r0))
            .as("rank_x1e12"))
        .orderBy("doc_id")
    }
    var ranks = nodes.select(col("doc_id"), lit(r0).as("r"))
    (1 to iters).foreach { _ =>
      val inflow = edges
        .join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .join(deg, "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(expr("r DIV deg")).as("s"))
      ranks = nodes.join(inflow, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          s"$base + (85 * coalesce(s, 0)) DIV 100 AS r")
    }
    nodes
      .join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("deg"))
      .join(ranks, "doc_id")
      .select(col("doc_id"), col("deg"), col("r").as("rank_x1e12"))
      .orderBy("doc_id")
  }

  /** q106: INCREMENTAL NEAR-DUP CLUSTERS — fold a batch of new documents
    * into existing connected-component labels without re-running CC over
    * the whole corpus. The old graph enters the contraction COMPRESSED to
    * its star edges (doc -> component representative, one edge per
    * labeled doc): star edges connect exactly the components the original
    * edges did, the representative IS the component's min doc_id, and
    * every previously-labeled doc appears as an edge endpoint — so CC
    * over (old star edges UNION delta pairs) equals CC from scratch,
    * label for label (q49's min-doc convention included). The q58/q64/
    * q84/q90 mergeable-index contract, lifted to graph state.
    *
    * 100 TB shape: per batch the work is the delta's candidate probe
    * (bucketed index layout) + star contraction restricted to the
    * components the delta's pairs TOUCH (endpoint lookup → old roots →
    * their rows; everything else passes through unchanged) — so the
    * iterative part runs over delta-sized edges, never the accumulated
    * label state, and nothing rebuilds the historical pair set.
    */
  def incrementalNearDupClusters(idxOld: DataFrame, idxDelta: DataFrame,
                                 labelsOld: DataFrame,
                                 thresholdX1e3: Int): DataFrame =
    foldClusterLabels(labelsOld,
      incrementalNearDupPairs(idxOld, idxDelta, thresholdX1e3)
        .select("d1", "d2"))

  /** The label-state fold behind [[incrementalNearDupClusters]] and the
    * streaming cluster ingest, as a QUOTIENT-graph contraction: each delta
    * endpoint maps to its old component root (itself if unlabeled), the
    * star contraction runs over those root-level edges only — a
    * DELTA-sized graph, never the accumulated label state — and the
    * resulting root→newRoot mapping broadcasts back over the labels in
    * one pass. Exact by the standard CC quotient argument: contracting
    * each old component to its root preserves connectivity between
    * components, old roots are their components' min doc_ids and new docs
    * are their own ids, so the quotient component's min node == the full
    * component's min doc_id — q49's label convention, label for label.
    * (The earlier form contracted old-star-edges ∪ delta directly; at any
    * corpus size that iterates over the full labeled graph for every
    * batch, and the iterative rounds dominated q106's wall time.)
    */
  private[operators] def foldClusterLabels(labelsOld: DataFrame,
                                           deltaPairs: DataFrame): DataFrame = {
    val lbl = labelsOld.select("doc_id", "cluster_id")
    val p = deltaPairs.select("d1", "d2")
      .join(lbl.select(col("doc_id").as("d1"), col("cluster_id").as("r1")),
        Seq("d1"), "left")
      .join(lbl.select(col("doc_id").as("d2"), col("cluster_id").as("r2")),
        Seq("d2"), "left")
      .select(coalesce(col("r1"), col("d1")).as("d1"),
        coalesce(col("r2"), col("d2")).as("d2"))
    // constraint barrier: the probe/label plans feeding this can carry
    // inferred constraints that reference attributes outside their own
    // output (seen with localCheckpoint-derived lineage), and the
    // contraction's first eager checkpoint then dies inside the
    // optimizer's constraint rewrite (key-not-found). An RDD round-trip
    // yields a clean leaf with identical rows/schema.
    val edges0 = p.filter(col("d1") =!= col("d2")).distinct()
    val edges = labelsOld.sparkSession
      .createDataFrame(edges0.rdd, edges0.schema)
    // m: quotient node (old root | new doc) -> merged root; delta-sized,
    // so it broadcasts — the labels-wide work is ONE remap projection
    val (m, _) = ccStarContract(edges)
    val mB = broadcast(m
      .select(col("doc_id").as("node"), col("cluster_id").as("new_root")))
    val remapped = lbl
      .join(mB, lbl("cluster_id") === col("node"), "left")
      .select(lbl("doc_id"),
        coalesce(col("new_root"), lbl("cluster_id")).as("cluster_id"))
    // quotient nodes never labeled before = the delta's new docs (an old
    // root is itself a labeled doc and drops out here)
    val newDocs = m.join(lbl, Seq("doc_id"), "left_anti")
      .select("doc_id", "cluster_id")
    remapped.unionByName(newDocs).orderBy("doc_id")
  }

  /** q88 from the curation-index artifact: index-derived Jaccard edges,
    * q49 contraction, and the one corpus scan the report itself needs
    * (per-split token counts) — the raw-corpus twin of
    * [[leakFreeSplitContainmentFromIndex]] without containment edges.
    */
  private[operators] def leakFreeSplitFromIndex(docs: DataFrame,
      idx: DataFrame, thresholdX1e3: Int): DataFrame =
    leakFreeSplitFromPairs(docs, verifiedPairsFromIndex(idx, thresholdX1e3))

  /** [[leakFreeSplitFromIndex]] against the persisted pair artifact. */
  private[operators] def leakFreeSplitFromPairs(docs: DataFrame,
                                                pairs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val (comps, _) = ccStarContract(pairs.select("d1", "d2"))
    splitRepairReport(docs, comps)
  }

  /** Join intersection counts with per-doc shingle counts and apply the
    * scaled-integer Jaccard threshold (shared tail of the exact and the
    * LSH-verified paths — one definition, one oracle meaning). The count
    * aggregate is referenced as BOTH join sides (c1/c2) and a broadcast
    * side never reuses the other side's exchange, so `cache` persists it —
    * one doc-cardinality aggregate instead of two (plan-verified; the same
    * duplicated-aggregate shape the q22 profile showed for signatures).
    */
  private def exactJaccardFilter(inter: DataFrame, sh: DataFrame,
                                 thresholdX1e3: Int, cache: Boolean): DataFrame = {
    val cnt0 = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cnt = if (cache) cnt0.persist() else cnt0
    val jac = floor(col("nboth") * lit(1000.0) /
      (col("c1.n") + col("c2.n") - col("nboth")) + lit(0.5)).cast("long")
    inter
      .join(cnt.as("c1"), col("d1") === col("c1.doc_id"))
      .join(cnt.as("c2"), col("d2") === col("c2.doc_id"))
      .select(col("d1"), col("d2"), jac.as("jaccard_x1e3"))
      .filter(col("jaccard_x1e3") >= thresholdX1e3)
  }

  /** The 100 TB near-dup shape: MinHash-LSH banding prunes the candidate
    * space, exact trigram Jaccard verifies ONLY the candidates. Unlike
    * [[jaccardPairs]] there is no shingle self-join over the full corpus —
    * the only corpus-wide joins are band-bucket equi-joins, so a hot shingle
    * (a corpus-wide common trigram) cannot produce a quadratic bucket.
    *
    * With 16 bands x 4 rows, P(candidate | J=0.8) = 1-(1-0.8^4)^16 ~ 0.9998;
    * DedupSpec pins LSH-candidates ⊇ all exact pairs >= 0.8 on the fixture
    * corpus, so the q32 oracle sees identical output through this path.
    */
  def jaccardPairsLshVerified(docs: DataFrame, thresholdX1e3: Int,
                              cache: Boolean = true): DataFrame = {
    // ONE hashed-shingle relation feeds the signature aggregate, the
    // verification join (both sides) and the per-doc counts — persisting it
    // means the corpus is tokenized once for the whole pipeline.
    val sh0 = hashedShingles(docs)
    val sh = if (cache) sh0.persist() else sh0
    jaccardPairsLshVerifiedFromHashed(sh, thresholdX1e3, cache)
  }

  /** [[jaccardPairsLshVerified]] over a caller-supplied hashed-shingle
    * relation — lets a composite pipeline (q89) tokenize the corpus ONCE
    * and feed both the Jaccard and the containment edge generators.
    */
  private[operators] def jaccardPairsLshVerifiedFromHashed(
      sh: DataFrame, thresholdX1e3: Int, cache: Boolean): DataFrame = {
    // the signature table feeds BOTH bucket-join sides; one side arrives
    // via BroadcastExchange, which never reuses the other side's shuffle,
    // so without persist the 64-min aggregate runs twice (plan-verified)
    val sig0 = minhashSignatures(sh)
    val sig = if (cache) sig0.persist() else sig0
    val cand = minhashCandidatePairs(sig)
    // Exact intersection counts restricted to candidate pairs: fan each pair
    // out by d1's shingles, keep those d2 also has. Join sizes scale with
    // |candidates| x shingles-per-doc, never with corpus^2.
    val inter = cand
      .join(sh.as("a"), col("d1") === col("a.doc_id"))
      .join(sh.as("b"),
        col("d2") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("nboth"))
    exactJaccardFilter(inter, sh, thresholdX1e3, cache)
  }

  /** Min-label propagation to fixpoint over a (d1, d2) pair graph:
    * each iteration is one shuffle-join on the node id, and the iteration
    * count is the graph DIAMETER. Returns (unsorted labels, iterations);
    * result is localCheckpoint-truncated, all loop blocks released.
    */
  private[operators] def ccPropagate(pairs: DataFrame): (DataFrame, Int) = {
    // every round's frame is localCheckpoint(true)-materialized: each
    // iteration reads its predecessor twice, so UNTRUNCATED lineage would
    // double the logical plan per iteration — persist alone caches the data
    // but keeps the exponential plan tree, which blows up analysis/explain
    // after ~20 rounds (measured: heap OOM inside explainString on a
    // 47-round chain). Checkpointed blocks are edge-sized and reclaimed by
    // the ContextCleaner once the superseding round drops its reference.
    val edges = pairs
      .union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .persist()
    var labels = edges.select(col("d1").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // convergence = no label changed this iteration; the flag is computed
    // inside the propagation select, so the check is ONE aggregation job
    // (sum of 0/1 flags — no unbounded label sums, which would overflow
    // for hash-derived 2^60-scale ids under ANSI arithmetic)
    var converged = false
    var rounds = 0
    while (!converged) {
      val prop = edges.join(labels, col("d2") === col("node"))
        .groupBy(col("d1")).agg(min("label").as("nlabel"))
      val next = labels.join(prop, col("node") === col("d1"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          (coalesce(col("nlabel"), col("label")) < col("label"))
            .cast("long").as("chg"))
        .localCheckpoint(true)
      rounds += 1
      converged = next.agg(coalesce(sum("chg"), lit(0L))).head().getLong(0) == 0L
      labels = next.select("node", "label")
    }
    val result = labels
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .localCheckpoint(true)
    edges.unpersist()
    (result, rounds)
  }

  /** One large-star round: every node's STRICTLY LARGER neighbors connect
    * to the minimum of its closed neighborhood. Input/output edges are
    * canonical (u > v), self-loop-free, distinct.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val adj = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val m = adj.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    adj.join(m, "u")
      .filter(col("v") > col("u")) // m <= u < v, so (v, m) stays canonical
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** One small-star round: every node and its smaller neighbors connect to
    * the minimum of its closed smaller-neighborhood. Canonical in, canonical
    * out.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val m = edges.groupBy("u").agg(min("v").as("m")) // v < u, so min _is_ m
    edges.join(m, "u")
      .select(col("v").as("n"), col("m"))
      .union(m.select(col("u").as("n"), col("m")))
      .filter(col("n") =!= col("m"))
      .select(col("n").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") to the same min-label fixpoint as
    * [[ccPropagate]], in O(log n) ALTERNATION ROUNDS instead of
    * diameter-many — the difference between 8 and 10,000 shuffles when a
    * 100 TB near-dup graph hides a long chain. Every operation is still an
    * equi-join/aggregate on the node id (no collect, no driver graph);
    * at the fixpoint the edge set IS the star forest (node -> component
    * min), so labels read off without a final propagation. DedupCcSpec pins
    * label equality with ccPropagate on chains/cliques/random graphs and
    * the round advantage on a planted 60-node chain.
    */
  /** Edge-count gate below which the contraction collects the canonical
    * edge set to a driver union-find instead of iterating distributed —
    * the small-side-goes-local posture of a broadcast join, with driver
    * state bounded at ~3 MB of longs. Why it exists: each distributed
    * alternation round costs a fixed ~6 shuffle jobs (largeStar,
    * smallStar, checkpoint, convergence check), which DOMINATES wall time
    * when the pair graph is small — measured this round at sf0.1, a
    * 187-edge quotient graph took 1.3–3 s purely in round scheduling. At
    * 100 TB a corpus-wide near-dup graph exceeds the gate and iterates
    * distributed exactly as before; per-batch quotient graphs that fit
    * under it are precisely the ones where a driver pass is the right
    * plan. Label equality of the two paths is DedupCcSpec-pinned.
    */
  private[operators] val CC_LOCAL_MAX_EDGES = 200000L

  private[operators] def ccStarContract(pairs: DataFrame): (DataFrame, Int) =
    ccStarContract(pairs, CC_LOCAL_MAX_EDGES)

  private[operators] def ccStarContract(pairs: DataFrame,
                                        localMaxEdges: Long): (DataFrame, Int) = {
    // localCheckpoint(true) per round, same reason as ccPropagate: truncate
    // the otherwise per-round-doubling logical plan, not just cache data
    var edges = pairs
      .select(greatest(col("d1"), col("d2")).as("u"), least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val nEdges = edges.count()
    if (nEdges <= localMaxEdges) return (ccLocalUnionFind(edges), 0)
    var rounds = 0
    var converged = nEdges == 0
    while (!converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      rounds += 1
      // fixpoint: both sets are distinct & canonical, so equality is
      // same-count plus empty one-sided difference (two small jobs)
      converged = next.count() == edges.count() &&
        next.except(edges).isEmpty
      edges = next
    }
    edges
      .select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
      .localCheckpoint(true) -> rounds
  }

  /** Driver union-find over a (gate-bounded) canonical edge set — the
    * [[ccStarContract]] small-graph path. Min-valued root wins every
    * union, so the final root IS the component's minimum node id (the
    * q49 label convention) with no relabeling pass; path compression in
    * `find` keeps the total near-linear. Output is parallelized back out
    * (not a LocalRelation) so downstream joins don't re-serialize the
    * label set into every task closure.
    */
  private def ccLocalUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val es = edges.select("u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val labels = parent.keys.toArray.map(n => Row(n, find(n)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(labels.toIndexedSeq,
        math.max(1, math.min(32, labels.length / 4096))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Connected components over the verified near-dup pair graph — the
    * cluster granularity a principled dedup actually needs (pairwise
    * dropping over-deletes on chains; a cluster keeps exactly one
    * representative). Runs [[ccStarContract]] (round count bounded by
    * O(log n), not graph diameter); `star = false` selects the plain
    * min-label propagation loop — identical labels (spec-pinned), kept as
    * the readable fixpoint anchor. Output: one row per document that
    * appears in any pair, with the component's minimum doc_id as
    * cluster_id; the oracle (a transitive-closure recursive CTE) is
    * algorithm-independent.
    */
  def nearDupClusters(docs: DataFrame, thresholdX1e3: Int,
                      cache: Boolean = true, star: Boolean = true): DataFrame = {
    val pairs = jaccardPairsLshVerified(docs, thresholdX1e3, cache)
      .select(col("d1"), col("d2"))
    val (labels, _) = if (star) ccStarContract(pairs) else ccPropagate(pairs)
    labels.orderBy("doc_id")
  }

  /** q95: CANONICAL SELECTION per near-dup cluster — after q49 groups
    * near-duplicates, the pipeline must decide which copy to KEEP. The
    * policy here is the standard one: the highest-quality member (the
    * q26 quality score), doc_id ascending as the deterministic tiebreak.
    * Emits one row per multi-member cluster: the keeper, its quality,
    * and the member count (so `n_members - 1` is the drop count).
    *
    * 100 TB shape: the cluster relation is pair-graph-sized (only docs
    * that appear in some near-dup pair), quality is a per-row codegen
    * expression on the corpus scan, and the argmax is a single hash
    * aggregate via `max(struct(quality, -doc_id, doc_id))` — partial
    * aggregation applies, no window over the corpus, no sort except the
    * final presentation ORDER BY.
    */
  def clusterCanonical(docs: DataFrame, thresholdX1e3: Int,
                       cache: Boolean = true): DataFrame =
    clusterCanonicalFromLabels(docs,
      nearDupClusters(docs, thresholdX1e3, cache))

  /** [[clusterCanonical]] with the cluster labels supplied by the caller
    * (e.g. derived from the persisted curation-index artifact).
    */
  private[operators] def clusterCanonicalFromLabels(docs: DataFrame,
      labels: DataFrame): DataFrame = {
    val q = docs.select(col("doc_id"),
      TextAnalysis.qualityCol.as("quality_x1e3"))
    labels.join(q, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality_x1e3"), (-col("doc_id")).as("neg_id"),
          col("doc_id").as("keep_id"))).as("best"))
      .select(col("cluster_id"), col("best.keep_id").as("keep_id"),
        col("best.quality_x1e3").as("keep_quality_x1e3"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** Exact embedding-cosine near-dup pairs: every (v1 < v2) with
    * floor-scaled cosine >= thresholdX1e4. This is the quadratic exact
    * baseline (the embedding analogue of [[jaccardPairs]]) and the oracle
    * anchor; [[embeddingNearDupLsh]] is the bucketed scale path. The dot
    * products fold left-to-right over doubles, matching the DuckDB twin
    * bit-for-bit (same determinism contract as q20).
    */
  def embeddingNearDupPairs(embs: DataFrame, thresholdX1e4: Int): DataFrame = {
    // the pairwise loop runs |corpus|^2 times: the fused codegen'd cosine
    // (one JIT'd loop per pair, q20c-proven bit-identical to the oracle
    // formula) is the difference between seconds and minutes here — the
    // interpreted HOF fold pays three lambda evaluations per element
    graft.functions.GraftFunctions.register(embs.sparkSession)
    val e = Similarity.asDouble(embs)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        floor(graft.functions.GraftFunctions.cosine(col("a.emb"), col("b.emb")) * 10000 + lit(0.5))
          .cast("long").as("cos_x1e4"))
      .filter(col("cos_x1e4") >= thresholdX1e4)
  }

  /** The scale shape for embedding near-dup: random-hyperplane sign bands
    * prune the pair space to an equi-join on (band, bucket), then exact
    * cosine verifies ONLY the candidates — precision is 1.0 by construction,
    * recall is the banding probability 1-(1-p^bandBits)^nBands with
    * p = 1 - angle/pi. Band sizing is threshold-dependent: in the true
    * near-dup regime (cos >= 0.9, p >= 0.9) the default 8x8 keeps recall
    * >= 0.97 while collapsing the candidate space; at looser thresholds
    * callers trade bandBits down for recall. Planes are the same fixed
    * deterministic set as the q24 ANN index.
    */
  /** The dim-or-derive + per-row width assert shared by every sign-band
    * consumer: a ragged embedding would null every plane dot via zip_with
    * padding and silently degrade each band join to a quadratic self
    * cross-join, so mismatches fail loudly instead.
    */
  private[operators] def dimAsserted(embs: DataFrame, dim: Int,
                                     who: String): (DataFrame, Int) = {
    val actualDim =
      if (dim > 0) dim
      else embs.select(size(col("embedding"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1) // empty input: any width
        // works — downstream joins produce the correct empty pair set
    (Similarity.asDouble(embs)
      .withColumn("emb", when(size(col("emb")) === actualDim, col("emb"))
        .otherwise(raise_error(concat(
          lit(s"$who: embedding dim != $actualDim for vec_id="),
          col("vec_id").cast("string"))))), actualDim)
  }

  /** Random-hyperplane sign-band buckets over an `(vec_id, emb)` relation:
    * one row per (vector, band) with the band's `bandBits`-bit sign bucket
    * — the q61 index relation, shared with the LSH contamination probe.
    * Planes are the fixed deterministic q24 set, so two relations bucketed
    * with the same (bandBits, nBands, dim) are join-compatible.
    */
  private[operators] def signBandBuckets(e: DataFrame, bandBits: Int,
                                         nBands: Int, dim: Int): DataFrame = {
    val allPlanes = Similarity.planes(bandBits * nBands, dim)
    val bandCols = (0 until nBands).map { b =>
      val bucket = (0 until bandBits).map { i =>
        val plane = array(allPlanes(b * bandBits + i).map(lit).toIndexedSeq: _*)
        when(Similarity.dot(col("emb"), plane) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
      struct(lit(b).as("band"), bucket.as("bv"))
    }
    e.select(col("vec_id"), col("emb"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("emb"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  def embeddingNearDupLsh(embs: DataFrame, thresholdX1e4: Int,
                          bandBits: Int = 8, nBands: Int = 8,
                          dim: Int = 0, cache: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(embs.sparkSession)
    // dim <= 0 derives the plane width from the data (one first() on the
    // index build — negligible)
    val (e0, actualDim) = dimAsserted(embs, dim, "embeddingNearDupLsh")
    val e = if (cache) e0.persist() else e0
    val buckets = signBandBuckets(e, bandBits, nBands, actualDim)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") < col("b.vec_id"))
      // verify BEFORE distinct (same trade as minhashCandidates): a pair
      // colliding in k bands recomputes the codegen'd cosine k times, but
      // the distinct exchange then carries 24-byte rows, not two arrays
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        floor(graft.functions.GraftFunctions.cosine(col("a.emb"), col("b.emb")) * 10000 + lit(0.5))
          .cast("long").as("cos_x1e4"))
      .distinct()
      .filter(col("cos_x1e4") >= thresholdX1e4)
  }

  private val TWIN_N = 25
  private val TWIN_OFFSET = 100000L

  /** The q61 fixture slice: the embeddings corpus plus a planted near-dup
    * twin of each vec_id < TWIN_N — same vector with the FIRST component
    * scaled 1.5x (exact double arithmetic, so DuckDB replays it bitwise),
    * re-keyed to vec_id + TWIN_OFFSET. Emitted as `embedding: array<double>`
    * so both engines run the identical sequential-fold cosine.
    */
  private[operators] def plantedTwinCorpus(embs: DataFrame): DataFrame = {
    val e = Similarity.asDouble(embs).withColumnRenamed("emb", "embedding")
    val twins = e.filter(col("vec_id") < TWIN_N)
      .select((col("vec_id") + TWIN_OFFSET).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1) * lit(1.5)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1))
          .as("embedding"))
    e.select(assertIdBelow(col("vec_id"), TWIN_OFFSET).as("vec_id"),
        col("embedding"))
      .unionByName(twins)
  }

  /** The q61 oracle's banded-bucket relation: one UNION ALL branch per
    * band, each bucket a sum of sign bits against the SAME fixed
    * hyperplanes [[embeddingNearDupLsh]] uses (prefix-stable LCG, so
    * planes(bandBits*nBands, dim) matches the Spark side's draw order).
    */
  private def lshBandSql(bandBits: Int, nBands: Int, dim: Int): String = {
    val ps = Similarity.planes(bandBits * nBands, dim)
    (0 until nBands).map { b =>
      val bv = (0 until bandBits).map { i =>
        val plane = ps(b * bandBits + i)
          .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(emb, $plane) > 0 THEN 1::BIGINT << $i ELSE 0::BIGINT END)"
      }.mkString(" +\n           ")
      s"SELECT vec_id, emb, $b AS band,\n           $bv AS bv FROM e"
    }.mkString("\nUNION ALL\n")
  }

  /** The exact-dedup index as a maintained relation: one row per distinct
    * content hash with the winning (minimum) doc_id and the copy count —
    * q18's output plus the hash key, kept because the key is what makes the
    * index INCREMENTALLY maintainable.
    */
  def dedupIndex(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Merge a delta's dedup index into the corpus index — the incremental
    * maintenance step an append-only 100 TB corpus runs per ingest batch
    * instead of re-deduping everything: (min, sum) are associative, so
    * index(A) merge index(B) == index(A union B) for disjoint doc batches
    * (DedupSpec pins it). Expressed as a full-outer equi-join on the hash:
    * with the corpus index STORED BUCKETED by content_hash
    * (Sources.writeBucketed), the stored side joins with no Exchange and
    * per-batch cost is delta-sized (also spec-asserted on the plan).
    */
  def mergeDedupIndex(index: DataFrame, delta: DataFrame): DataFrame =
    index.as("a").join(delta.as("b"), Seq("content_hash"), "full_outer")
      .select(col("content_hash"),
        // least() skips nulls (null only when both are), so the outer-join
        // min-merge needs no coalesce gymnastics
        least(col("a.keep_id"), col("b.keep_id")).as("keep_id"),
        (coalesce(col("a.n_copies"), lit(0L)) +
          coalesce(col("b.n_copies"), lit(0L))).as("n_copies"))

  /** The NEAR-dup index relation — q58's incremental-maintenance idea
    * extended from exact hashes to MinHash-LSH: one row per document with
    * its minhash signature AND its sorted distinct hashed-shingle array.
    * Carrying the shingle hashes is what makes a later batch verifiable
    * against the index WITHOUT re-reading corpus text — the 100 TB corpus
    * is tokenized exactly once, at its own ingest. One hash-aggregate
    * builds both columns (single shuffle keyed by doc_id).
    *
    * Storage contract at scale: persist this doc-keyed relation plus a
    * (band, bh)-bucketed projection of [[bandBuckets]] over it; the
    * per-batch candidate join then reads only colliding buckets and the
    * verification joins stay co-partitioned on doc_id.
    */
  def nearDupIndex(docs: DataFrame): DataFrame =
    nearDupIndexFromHashed(hashedShingles(docs))

  /** [[nearDupIndex]] over a caller-supplied hashed-shingle relation (the
    * artifact build tokenizes once for this AND the containment index).
    */
  private[operators] def nearDupIndexFromHashed(sh: DataFrame): DataFrame = {
    val mins = (0 until N_HASHES).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh$i"))
    sh.groupBy("doc_id")
      .agg(mins.head,
        (mins.tail :+ sort_array(collect_set(col("shingle"))).as("sh")): _*)
      .select(col("doc_id"),
        array((0 until N_HASHES).map(i => col(s"mh$i")): _*).as("sig"),
        col("sh"))
  }

  /** Near-dup pairs TOUCHING the delta: every verified pair with at least
    * one endpoint in `delta`, candidates generated by band-bucket equi-join
    * of the delta against index ∪ delta. Ingesting batches B1..Bn and
    * unioning each batch's incremental pairs yields EXACTLY the full-corpus
    * [[jaccardPairsLshVerified]] result (every pair's later endpoint sees
    * the earlier one in the index) — IncrementalNearDupSpec pins it, and
    * q64's oracle hash-checks it against the whole-corpus SQL. Per-batch
    * cost scales with |delta| x bucket collisions, never with |corpus|²;
    * verification is a local `array_intersect` over the carried shingle
    * arrays (no corpus-wide shingle join at all).
    */
  def incrementalNearDupPairs(index: DataFrame, delta: DataFrame,
                              thresholdX1e3: Int): DataFrame = {
    val all = index.unionByName(delta)
    val allB = bandBuckets(all.select("doc_id", "sig"), carrySig = false)
    val deltaB = bandBuckets(delta.select("doc_id", "sig"), carrySig = false)
    nearDupVerify(nearDupCandidates(allB, deltaB), all, thresholdX1e3)
  }

  /** Band-collision candidates of a banded delta against a banded corpus
    * (which must INCLUDE the delta's own band rows so delta-delta pairs
    * appear). Canonical (least, greatest) orientation both dedups band
    * collisions and stops a delta-delta pair from appearing in both
    * directions. Factored out of [[incrementalNearDupPairs]] so the
    * bucketed persisted-index ingest (Curation) can feed it a
    * partition-pruned corpus side instead of a full index scan.
    */
  private[operators] def nearDupCandidates(allB: DataFrame,
                                           deltaB: DataFrame): DataFrame =
    allB.as("a")
      .join(deltaB.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()

  /** Exact-Jaccard verification of candidate pairs against a doc-keyed
    * `(doc_id, …, sh)` relation that must cover every candidate endpoint —
    * a LOCAL `array_intersect` over the carried arrays, never a
    * corpus-wide shingle join (the q64 verify tail, shared by the
    * in-memory and the persisted-bucketed-index paths).
    */
  private[operators] def nearDupVerify(cand: DataFrame, docs: DataFrame,
                                       thresholdX1e3: Int): DataFrame = {
    val jac = floor(col("nboth") * lit(1000.0) /
      (col("n1") + col("n2") - col("nboth")) + lit(0.5)).cast("long")
    cand
      .join(docs.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("nboth"),
        size(col("sh1")).cast("long").as("n1"),
        size(col("sh2")).cast("long").as("n2"))
      .select(col("d1"), col("d2"), jac.as("jaccard_x1e3"))
      .filter(col("jaccard_x1e3") >= thresholdX1e3)
  }

  /** The q48 90/5/5 hash-split expression, shared by the audit (q86) and
    * the repair (q88) so the two can never desynchronize.
    */
  private[operators] def hashSplitOf(c: Column): Column = {
    val h = pmod(Sketches.phash60(c), lit(100L))
    when(h < 90, lit("train")).when(h < 95, lit("val")).otherwise(lit("test"))
  }

  /** q88: leakage-free train/val/test split — the REPAIR for what the q86
    * audit detects. A per-document hash split (q48) puts near-duplicate
    * pairs on opposite sides of the train/eval fence with probability
    * ~2·5%·95% per pair; the fix is to make the split a pure function of
    * the near-dup COMPONENT, not the document: every doc is assigned the
    * q48 hash split of its component representative (the component's min
    * doc_id from q49's connected components), singletons of their own id.
    * No verified near-dup pair can then straddle splits (both endpoints
    * share a representative by construction), while singleton documents —
    * the overwhelming mass of a real corpus — keep their q48 assignment
    * bit-for-bit, so re-splitting an already-released corpus moves only
    * docs that gained a duplicate.
    *
    * Scale shape: the component relation is pair-graph-sized (only docs
    * appearing in some verified pair — tiny next to the corpus), so the
    * repair join is a broadcast against the corpus scan; everything
    * upstream is the already-scale-shaped q22 LSH + q49 star-contraction
    * pipeline. Output mirrors q48's per-split doc/token counts plus
    * `n_moved` — how many docs the repair relocated vs naive q48 (the
    * quantity a release manager reports next to the q86 leak count).
    */
  def leakFreeSplit(docs: DataFrame, thresholdX1e3: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val comps = nearDupClusters(docs.select("doc_id", "text"), thresholdX1e3)
    splitRepairReport(docs, comps)
  }

  /** Shared q88/q89 tail: assign every doc the hash split of its component
    * representative (its own id when singleton), aggregate per-split
    * doc/token/moved counts. The component relation is pair-graph-sized,
    * so the corpus join broadcasts.
    */
  private def splitRepairReport(docs: DataFrame, comps: DataFrame): DataFrame = {
    val rep = coalesce(col("cluster_id"), col("doc_id"))
    docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .join(broadcast(comps), Seq("doc_id"), "left")
      .select(col("nt"), hashSplitOf(rep).as("split"),
        when(hashSplitOf(rep) =!= hashSplitOf(col("doc_id")), 1L)
          .otherwise(0L).as("moved"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        sum("moved").as("n_moved"))
      .orderBy("split")
  }

  /** q89: CONTAINMENT-AWARE leak-free split. q88 keys its repair on q49's
    * symmetric near-dup components only — but an asymmetric containment
    * pair (a 12-token quote inside a 300-token document: Jaccard ~0.03,
    * containment 1.0) is invisible to that graph, so quote and source can
    * still straddle train/test and leak eval text into training. This
    * variant unions the q87 containment edges into the component graph
    * before contraction: excerpt and container then share a representative
    * by construction and always land in the same split.
    *
    * Edge cover is complete at the declared gates: Jaccard edges carry
    * every pair >= threshold; containment edges carry containment >= cont
    * with Jaccard < threshold (q87's gate is jacMax = the same 0.8) — so
    * (jac >= t) OR (cont >= c) pairs all enter the union.
    *
    * Scale shape: both edge generators are candidates-only (q22 banding
    * for Jaccard, rarest-prefix probe for containment); the union is two
    * pair-graph-sized relations; contraction and the broadcast repair join
    * are exactly q88's. Output schema mirrors q88 for direct comparison.
    */
  def leakFreeSplitContainment(docs: DataFrame, thresholdX1e3: Int = 800,
                               contMinX1e3: Int = 900,
                               cache: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // ONE hashed-shingle relation feeds BOTH edge generators — the corpus
    // is tokenized+exploded once for the whole composite pipeline (at
    // 100 TB the tokenize pass dominates; everything downstream is
    // candidates-shaped)
    val sh0 = hashedShingles(docs.select("doc_id", "text"))
    val sh = if (cache) sh0.persist() else sh0
    val edges = jaccardPairsLshVerifiedFromHashed(sh, thresholdX1e3, cache)
      .select("d1", "d2")
      .unionAll(
        containmentPairsFromHashed(sh, contMinX1e3,
          jacMaxX1e3 = thresholdX1e3, cache).select("d1", "d2"))
      .distinct()
    val (comps, _) = ccStarContract(edges)
    splitRepairReport(docs, comps)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q112: empirical LSH S-curve + minhash-estimator error by exact-
    // Jaccard bucket, over the corpus + planted similarity gradient
    // (see [[lshCalibration]] / [[withPlantedRevisions]]). The quadratic
    // ground-truth pair set and the 64-hash signature relation are
    // build-once content-keyed artifacts — calibration state of an
    // immutable corpus snapshot; a warm call pays the pairs-sized match
    // join + the bucket report (CalibrationSpec pins from-state ==
    // from-text).
    "q112_lsh_calibration" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val key = DedupArtifacts.corpusKey(docs, "cal") + "|t=600|h=64|v=1"
      val pairs = s.read.parquet(DedupArtifacts.ensureDerived(s,
        s"$key|pairs")(
        jaccardPairs(withPlantedRevisions(docs), 600)))
      val sigs = s.read.parquet(DedupArtifacts.ensureDerived(s,
        s"$key|sigs")(calSignatures(withPlantedRevisions(docs))))
      calibrationReport(calibrationPairsFromState(pairs, sigs))
    }),

    // Q88: leakage-free split assignment (see [[leakFreeSplit]]), edges
    // from the shared raw-corpus artifact (the q89 treatment).
    "q88_leakfree_split" -> ((s, d) =>
      leakFreeSplitFromPairs(Tables.documents(s, d),
        s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d)))),

    // Q89: containment-aware leak-free split over the corpus + planted
    // excerpts — the fixture where q88's Jaccard-only repair measurably
    // leaks (excerpt and source doc hash to different splits) and this
    // variant provably cannot (see [[leakFreeSplitContainment]]).
    "q89_leakfree_containment" -> ((s, d) => {
      // build-once: signatures/shingle-arrays/prefixes come from the
      // content-keyed curation-index artifact (built on first use, shared
      // with q87/q90); this run pays candidates + verify + contraction +
      // the one corpus scan the report itself needs
      leakFreeSplitContainmentFromPairs(
        withPlantedExcerpts(Tables.documents(s, d)),
        s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d, planted = true)),
        s.read.parquet(DedupArtifacts.ensureContainmentPairs(s, d)))
    }),

    // Q58: incremental dedup-index maintenance — the corpus split into two
    // ingest batches, each indexed independently, merged; the oracle
    // computes the whole-corpus index directly, so the gate hash-checks the
    // merge's index(A)+index(B) == index(A u B) contract.
    "q58_dedup_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val half = docs.filter(col("doc_id") % 2 === 0)
      val rest = docs.filter(col("doc_id") % 2 =!= 0)
      mergeDedupIndex(dedupIndex(half), dedupIndex(rest))
        .orderBy("keep_id")
    }),

    // Q18 (E-9): exact content-hash dedup. Grouping on the 32-byte hash
    // instead of the full text means the shuffle carries hashes, not
    // documents — the difference between feasible and not at 100 TB.
    "q18_dedup_exact" -> ((s, d) =>
      dedupIndex(Tables.documents(s, d))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")),

    // Q87: containment-only pairs over the corpus + planted excerpts
    // (asymmetric inclusion — the quote-in-document case Jaccard misses).
    "q87_containment" -> ((s, d) =>
      // build-once: candidates + verify over the shared curation-index
      // artifact (ArtifactSpec pins equality with containmentPairs)
      containmentPairsFromIndex(
        s.read.parquet(DedupArtifacts.ensureCurationIndex(s, d)), 900, 800)
        .orderBy("d1", "d2")),

    // Q90: incremental containment maintenance — the corpus + excerpts
    // ingested as two hash-split batches, each batch's pairs found against
    // the index state at its ingest, unioned. Same oracle as q87:
    // incremental == whole-corpus is the contract, hash-checked. The
    // batches split on phash60 parity (NOT doc_id parity: planted excerpt
    // ids share their source's parity, which would keep every
    // source-excerpt pair inside one batch and never exercise the
    // cross-batch probe).
    "q90_containment_incremental" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // the two batch indexes are SLICES of the shared build-once artifact
      // (its global-df prefixes are still valid per batch — exactness
      // needs only SOME exact-length subset per doc, the q90 argument);
      // what this run measures is the incremental probe+verify work
      val idx = s.read.parquet(DedupArtifacts.ensureCurationIndex(s, d))
        .select("doc_id", "sh", "pref")
      val h = pmod(Sketches.phash60(col("doc_id")), lit(2L))
      val idxA = idx.filter(h === 0).persist()
      val idxB = idx.filter(h =!= 0)
      incrementalContainmentPairs(idxA.limit(0), idxA)
        .union(incrementalContainmentPairs(idxA, idxB))
        .orderBy("d1", "d2")
    }),

    // Q21: exact trigram-Jaccard near-dup pairs (threshold 0.6). The
    // inverted-index join is exact; at 100 TB the q22 LSH pass prunes the
    // candidate space first and this join runs only on candidates.
    "q21_jaccard_pairs" -> ((s, d) =>
      jaccardPairs(Tables.documents(s, d), 600).orderBy("d1", "d2")),

    // Q22: the MinHash-LSH near-dup pipeline as a user runs it at scale —
    // banded candidate generation (xxhash64 internally) followed by exact
    // trigram-Jaccard verification of candidates only, threshold 0.8. The
    // verified output equals the exact q21-style pair set (containment is
    // spec-pinned at both test SFs), so the oracle is plain exact-Jaccard
    // SQL even though the pruning hash has no DuckDB twin. The raw
    // candidate/estimate surface stays available via minhashCandidates.
    // Caveat: that equality is probabilistic in general — 16x4 banding
    // misses a true J=0.8 pair with p ~ 2e-4 — so the oracle holds on the
    // evaluated corpora (verified at sf0.001/0.01/0.1), not as a theorem;
    // a miss on some future corpus indicts the gate setup, not the code.
    "q22_minhash_lsh" -> ((s, d) =>
      jaccardPairsLshVerified(Tables.documents(s, d), 800)
        .orderBy("d1", "d2")),

    // Q86: split-leakage audit — near-dup pairs straddling the q48
    // train/val/test assignment. A near-duplicate of a test document
    // sitting in train is eval contamination the exact-hash split can
    // never see (identical docs hash to the SAME split only when ids
    // collide — near-dups don't). Composes the q22 verified pairs with
    // the q48 split expression; at 100 TB the leak report is the gate a
    // release pipeline runs after every re-split.
    "q86_split_leakage" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // build-once: verified pairs from the raw-corpus curation-index
      // artifact (shared with q49/q64/q88/q95; ArtifactSpec pins the
      // pair-set equality with the from-text path)
      s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d))
        .select(col("d1"), col("d2"), col("jaccard_x1e3"),
          hashSplitOf(col("d1")).as("split1"),
          hashSplitOf(col("d2")).as("split2"))
        .filter(col("split1") =!= col("split2"))
        .orderBy("d1", "d2")
    }),

    // Q64: incremental near-dup maintenance — the corpus ingested as two
    // batches (even/odd doc_id), each batch's pairs found against the
    // index state at its ingest, unioned. Same oracle as q22: incremental
    // == whole-corpus is the contract, hash-checked. The batch indexes
    // are doc-parity SLICES of the shared raw-corpus artifact (the q90
    // treatment); what this run measures is the incremental probe+verify.
    "q64_neardup_incremental" -> ((s, d) => {
      val idx = s.read
        .parquet(DedupArtifacts.ensureCurationIndex(s, d, planted = false))
        .select("doc_id", "sig", "sh")
      val idxA = idx.filter(col("doc_id") % 2 === 0).persist()
      val idxB = idx.filter(col("doc_id") % 2 =!= 0)
      incrementalNearDupPairs(idxA.limit(0), idxA, 800)
        .union(incrementalNearDupPairs(idxA, idxB, 800))
        .orderBy("d1", "d2")
    }),

    // Q49: near-dup connected components (clusters) at Jaccard >= 0.8,
    // from the shared raw-corpus artifact.
    "q49_neardup_clusters" -> ((s, d) =>
      clustersFromPairs(
        s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d)))),

    // Q106: incremental cluster maintenance — even docs labeled first,
    // odd docs folded into those labels; contract: == q49 from scratch
    // (same oracle). The even-half PRIOR labels are a build-once derived
    // artifact (keyed off the content-keyed curation-index dir, so any
    // corpus/threshold change misses): production folds a delta into
    // state it reads FROM STORAGE, and that is what the warm run now
    // measures — the odd-half probe + fold, not the prior-state rebuild.
    "q106_cc_incremental" -> ((s, d) => {
      val idxDir = DedupArtifacts.ensureCurationIndex(s, d, planted = false)
      val idx = s.read.parquet(idxDir).select("doc_id", "sig", "sh")
      val idxA = idx.filter(col("doc_id") % 2 === 0).persist()
      val idxB = idx.filter(col("doc_id") % 2 =!= 0)
      val labelsA = s.read.parquet(
        DedupArtifacts.ensureDerived(s,
          s"${DedupArtifacts.keyOf(idxDir)}|evenlabels|t=800|v=2") {
          val (l, _) = ccStarContract(
            incrementalNearDupPairs(idxA.limit(0), idxA, 800)
              .select("d1", "d2"))
          l
        })
      incrementalNearDupClusters(idxA, idxB, labelsA, 800)
    }),

    // Q101: duplication centrality — integer PageRank over the verified
    // near-dup graph (template-hub detection), edges from the shared
    // raw-corpus artifact.
    "q101_dup_centrality" -> ((s, d) =>
      pageRank(Tables.documents(s, d).select("doc_id"),
        s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d))
          .select("d1", "d2"), iters = 3)),

    // Q95: canonical (keep-best-quality) selection per q49 cluster.
    "q95_cluster_canonical" -> ((s, d) =>
      clusterCanonicalFromLabels(Tables.documents(s, d).select("doc_id", "text"),
        clustersFromPairs(
          s.read.parquet(DedupArtifacts.ensureVerifiedPairs(s, d))))),

    // Q40: exact embedding-cosine near-dup pairs. The synthetic corpus has
    // no true duplicates (max pairwise cosine ~0.51 at sf0.01), so the demo
    // threshold 0.45 sits in the far tail (p99 ~0.29) and returns a small
    // non-empty pair set at every SF; production near-dup runs at >= 0.9
    // go through embeddingNearDupLsh (spec-pinned exact-equal on planted
    // duplicates).
    "q40_embedding_neardup" -> ((s, d) =>
      embeddingNearDupPairs(Tables.embeddings(s, d), 4500).orderBy("v1", "v2")),

    // Q61: the 100 TB embedding near-dup path as a driver-gated catalog
    // query — sign-band LSH candidate generation + exact-cosine
    // verification at cos >= 0.9, over the corpus PLUS planted twins
    // (vec_id < 25 re-emitted at vec_id + 100000 with their first
    // component scaled 1.5x — a deterministic, cross-engine-replayable
    // "near duplicate" since one perturbed component of 64 keeps cosine
    // ~0.99 without making band-bucket equality trivial the way an exact
    // copy would). The oracle replays the ENTIRE index in SQL — same
    // planted twins, same 64 fixed hyperplanes as band literals, same
    // band equi-join and verification — so the approximate path itself is
    // hash-checked, not just spec-pinned (the q24 idiom; plan shows band
    // equi-joins, no theta join — PlanShapeSpec asserts it).
    "q61_embedding_lsh" -> ((s, d) => {
      val corpus = plantedTwinCorpus(Tables.embeddings(s, d))
      embeddingNearDupLsh(corpus, 9000).orderBy("v1", "v2")
    }),

    // Q23: SimHash near-dup pairs, Hamming <= 3, found via block-equality
    // blocking (pigeonhole-complete for <= 3 over 4 blocks). The portable
    // signature makes the pair set exactly oracle-checkable.
    "q23_simhash_pairs" -> ((s, d) => {
      val sim = simhashSignatures(Tables.documents(s, d)).persist()
      val blockCols = (0 until SIMHASH_BLOCKS).map(b => struct(lit(b).as("blk"),
        shiftrightunsigned(col("simhash"), b * BLOCK_BITS)
          .bitwiseAND(lit(((1L << BLOCK_BITS) - 1))).as("bv")))
      val blocks = sim.select(col("doc_id"), col("simhash"),
          explode(array(blockCols: _*)).as("bb"))
        .select(col("doc_id"), col("simhash"),
          col("bb.blk").as("blk"), col("bb.bv").as("bv"))
      blocks.as("a")
        .join(blocks.as("b"),
          col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy("d1", "d2")
    })
  )

  /** Whole-corpus exact-Jaccard pairs >= threshold — the shared oracle for
    * every LSH-pruned-plus-exact-verified pair query (q22, q64): banding
    * recall 1.0 on the fixture pairs is spec-pinned, so the SQL needs no
    * banding model. Threshold interpolated from the one Scala constant the
    * Spark side uses (the ADVICE r4 q57 lesson).
    */
  /** The q49 connected-components label derivation as a shared CTE chain
    * (requires a `WITH RECURSIVE` prefix) ending in
    * `labels` = (doc_id, cluster_id) — q95's canonical selection replays
    * it verbatim before picking keepers.
    */
  private[operators] def ccLabelsCtesSql: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
      |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
      |       WHERE len(l) >= 3),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT d1, d2 FROM inter
      |          JOIN cnt c1 ON c1.doc_id = d1
      |          JOIN cnt c2 ON c2.doc_id = d2
      |          WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= 800),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a),
      |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  private def verifiedPairsOracle(thresholdX1e3: Int): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
       |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
       |       WHERE len(l) >= 3),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT d1, d2,
       |       CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) AS jaccard_x1e3
       |FROM inter
       |JOIN cnt c1 ON c1.doc_id = d1
       |JOIN cnt c2 ON c2.doc_id = d2
       |WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= $thresholdX1e3
       |ORDER BY d1, d2""".stripMargin

  /** q101 twin: the q22 exact-pair chain, symmetrized into edges, then the
    * PageRank fixpoint prefix unrolled one CTE pair per iteration — the
    * same integer recurrence as [[dupCentrality]] (`//` == Spark `DIV` on
    * the non-negative operands used here). n is a CROSS JOIN scalar.
    */
  private def dupCentralityOracleSql(iters: Int): String = {
    val head =
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
         |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
         |       WHERE len(l) >= 3),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT d1, d2 FROM inter
         |          JOIN cnt c1 ON c1.doc_id = d1
         |          JOIN cnt c2 ON c2.doc_id = d2
         |          WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= 800),
         |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
         |          UNION ALL SELECT d2, d1 FROM pairs),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT doc_id FROM documents),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
         |r0 AS (SELECT nodes.doc_id, $RANK_SCALE // nn.n AS r
         |       FROM nodes CROSS JOIN nn)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS doc_id, CAST(SUM(p.r // g.deg) AS BIGINT) AS s
         |        FROM edges e JOIN r${k - 1} p ON p.doc_id = e.src
         |        JOIN deg g ON g.src = e.src
         |        GROUP BY 1),
         |r$k AS (SELECT nodes.doc_id,
         |          (15 * ($RANK_SCALE // nn.n)) // 100
         |            + (85 * COALESCE(c$k.s, 0)) // 100 AS r
         |        FROM nodes CROSS JOIN nn
         |        LEFT JOIN c$k ON c$k.doc_id = nodes.doc_id)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + its +
      s"""
         |SELECT nd.doc_id, COALESCE(g.deg, 0) AS deg, rf.r AS rank_x1e12
         |FROM nodes nd
         |LEFT JOIN deg g ON g.src = nd.doc_id
         |JOIN r$iters rf ON rf.doc_id = nd.doc_id
         |ORDER BY nd.doc_id""".stripMargin
  }

  /** q86 twin: the q22 exact-pair chain with the q48 split CASE applied
    * to both endpoints.
    */
  private def splitLeakageOracleSql: String = {
    def splitSql(x: String) =
      s"""CASE WHEN ${Sketches.phash60Sql(x)} % 100 < 90 THEN 'train'
         |     WHEN ${Sketches.phash60Sql(x)} % 100 < 95 THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
       |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
       |       WHERE len(l) >= 3),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT d1, d2,
       |            CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) AS jaccard_x1e3
       |          FROM inter
       |          JOIN cnt c1 ON c1.doc_id = d1
       |          JOIN cnt c2 ON c2.doc_id = d2
       |          WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= 800)
       |SELECT d1, d2, jaccard_x1e3,
       |       ${splitSql("d1")} AS split1,
       |       ${splitSql("d2")} AS split2
       |FROM pairs
       |WHERE ${splitSql("d1")} <> ${splitSql("d2")}
       |ORDER BY d1, d2""".stripMargin
  }

  /** q87 twin: the exact chain over documents + replayed excerpts. */
  private def containmentOracleSql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents
       |        UNION ALL
       |        SELECT doc_id + 2000000,
       |               array_to_string((string_split(text, ' '))[1:$EXC_TOKENS], ' ')
       |        FROM documents
       |        WHERE ${Sketches.phash60Sql("doc_id")} % 50 = 0),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM base),
       |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
       |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
       |       WHERE len(l) >= 3),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |sc AS (SELECT d1, d2,
       |         CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) AS jaccard_x1e3,
       |         CAST(FLOOR(nboth * 1000.0 / LEAST(c1.n, c2.n) + 0.5) AS BIGINT) AS containment_x1e3
       |       FROM inter
       |       JOIN cnt c1 ON c1.doc_id = d1
       |       JOIN cnt c2 ON c2.doc_id = d2)
       |SELECT d1, d2, jaccard_x1e3, containment_x1e3
       |FROM sc WHERE containment_x1e3 >= 900 AND jaccard_x1e3 < 800
       |ORDER BY d1, d2""".stripMargin

  /** q88 twin: q49's transitive-closure components LEFT-joined onto the
    * corpus, split CASE over the component representative.
    */
  private def leakFreeSplitOracleSql: String = {
    def splitSql(x: String) =
      s"""CASE WHEN ${Sketches.phash60Sql(x)} % 100 < 90 THEN 'train'
         |     WHEN ${Sketches.phash60Sql(x)} % 100 < 95 THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
       |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
       |       WHERE len(l) >= 3),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT d1, d2 FROM inter
       |          JOIN cnt c1 ON c1.doc_id = d1
       |          JOIN cnt c2 ON c2.doc_id = d2
       |          WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= 800),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a),
       |comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
       |assigned AS (
       |  SELECT len(string_split(d.text, ' ')) AS nt,
       |         ${splitSql("COALESCE(c.cluster_id, d.doc_id)")} AS split,
       |         CASE WHEN ${splitSql("COALESCE(c.cluster_id, d.doc_id)")}
       |                <> ${splitSql("d.doc_id")} THEN 1 ELSE 0 END AS moved
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |       CAST(SUM(moved) AS BIGINT) AS n_moved
       |FROM assigned GROUP BY split
       |ORDER BY split""".stripMargin
  }

  /** q89 twin: documents + replayed excerpts, components over the UNION of
    * Jaccard (>= 0.8) and containment (>= 0.9) edges, split CASE over the
    * component representative — the q88 twin widened by the q87 edge set.
    */
  private def leakFreeContainmentOracleSql: String = {
    def splitSql(x: String) =
      s"""CASE WHEN ${Sketches.phash60Sql(x)} % 100 < 90 THEN 'train'
         |     WHEN ${Sketches.phash60Sql(x)} % 100 < 95 THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents
       |        UNION ALL
       |        SELECT doc_id + 2000000,
       |               array_to_string((string_split(text, ' '))[1:$EXC_TOKENS], ' ')
       |        FROM documents
       |        WHERE ${Sketches.phash60Sql("doc_id")} % 50 = 0),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM base),
       |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
       |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
       |       WHERE len(l) >= 3),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT d1, d2 FROM inter
       |          JOIN cnt c1 ON c1.doc_id = d1
       |          JOIN cnt c2 ON c2.doc_id = d2
       |          WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= 800
       |             OR CAST(FLOOR(nboth * 1000.0 / LEAST(c1.n, c2.n) + 0.5) AS BIGINT) >= 900),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a),
       |comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
       |assigned AS (
       |  SELECT len(string_split(d.text, ' ')) AS nt,
       |         ${splitSql("COALESCE(c.cluster_id, d.doc_id)")} AS split,
       |         CASE WHEN ${splitSql("COALESCE(c.cluster_id, d.doc_id)")}
       |                <> ${splitSql("d.doc_id")} THEN 1 ELSE 0 END AS moved
       |  FROM base d LEFT JOIN comp c ON c.doc_id = d.doc_id)
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |       CAST(SUM(moved) AS BIGINT) AS n_moved
       |FROM assigned GROUP BY split
       |ORDER BY split""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q112_lsh_calibration" -> lshCalibrationOracle(600),
    // q90 shares q87's whole-corpus oracle: batch-split ingest + union
    // must reproduce the direct computation exactly.
    "q90_containment_incremental" -> containmentOracleSql,
    "q89_leakfree_containment" -> leakFreeContainmentOracleSql,
    "q88_leakfree_split" -> leakFreeSplitOracleSql,
    "q87_containment" -> containmentOracleSql,
    "q86_split_leakage" -> splitLeakageOracleSql,
    "q101_dup_centrality" -> dupCentralityOracleSql(3),
    "q58_dedup_merge" ->
      """SELECT sha256(text) AS content_hash,
        |       MIN(doc_id) AS keep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY sha256(text)
        |ORDER BY keep_id""".stripMargin,

    "q49_neardup_clusters" ->
      s"""WITH RECURSIVE $ccLabelsCtesSql
         |SELECT doc_id, cluster_id FROM labels
         |ORDER BY doc_id""".stripMargin,

    // q106 shares q49's oracle: folding batches into existing labels must
    // reproduce the from-scratch components label for label.
    "q106_cc_incremental" ->
      s"""WITH RECURSIVE $ccLabelsCtesSql
         |SELECT doc_id, cluster_id FROM labels
         |ORDER BY doc_id""".stripMargin,

    // q95 twin: the q49 label chain + the q26 quality expression, keeper
    // picked by the same (quality DESC, doc_id ASC) total order.
    "q95_cluster_canonical" ->
      s"""WITH RECURSIVE $ccLabelsCtesSql,
         |q AS (SELECT doc_id, ${TextAnalysis.QUALITY_SQL} AS quality_x1e3
         |      FROM documents),
         |r AS (SELECT l.cluster_id, l.doc_id, q.quality_x1e3,
         |        ROW_NUMBER() OVER (PARTITION BY l.cluster_id
         |          ORDER BY q.quality_x1e3 DESC, l.doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_members
         |      FROM labels l JOIN q ON l.doc_id = q.doc_id)
         |SELECT cluster_id, doc_id AS keep_id,
         |       quality_x1e3 AS keep_quality_x1e3,
         |       CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin,

    "q23_simhash_pairs" -> simhashOracleSql,

    "q18_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY sha256(text)
        |ORDER BY keep_id""".stripMargin,

    "q21_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |       FROM toks, unnest(range(1, len(l) - 1)) AS t(i)
        |       WHERE len(l) >= 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nboth
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT d1, d2,
        |       CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) AS jaccard_x1e3
        |FROM inter
        |JOIN cnt c1 ON c1.doc_id = d1
        |JOIN cnt c2 ON c2.doc_id = d2
        |WHERE CAST(FLOOR(nboth * 1000.0 / (c1.n + c2.n - nboth) + 0.5) AS BIGINT) >= 600
        |ORDER BY d1, d2""".stripMargin,

    "q22_minhash_lsh" -> verifiedPairsOracle(800),

    // q64 shares q22's oracle: batch-split ingest + incremental merge must
    // reproduce the whole-corpus pair set bit for bit.
    "q64_neardup_incremental" -> verifiedPairsOracle(800),

    "q61_embedding_lsh" ->
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |tw AS (SELECT vec_id + $TWIN_OFFSET AS vec_id,
         |         [emb[1] * CAST(1.5 AS DOUBLE)] || emb[2:] AS emb
         |       FROM e0 WHERE vec_id < $TWIN_N),
         |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM tw),
         |bands AS (
         |${lshBandSql(8, 8, 64)}),
         |cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id),
         |scored AS (SELECT v1, v2,
         |    CAST(FLOOR(list_dot_product(e1.emb, e2.emb) /
         |      (sqrt(list_dot_product(e1.emb, e1.emb)) * sqrt(list_dot_product(e2.emb, e2.emb)))
         |      * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cos_x1e4
         |  FROM cand JOIN e e1 ON v1 = e1.vec_id JOIN e e2 ON v2 = e2.vec_id)
         |SELECT v1, v2, cos_x1e4 FROM scored
         |WHERE cos_x1e4 >= 9000
         |ORDER BY v1, v2""".stripMargin,

    "q40_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
        |       CAST(FLOOR(list_dot_product(a.emb, b.emb) /
        |         (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
        |         * 10000 + 0.5) AS BIGINT) AS cos_x1e4
        |       FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT v1, v2, cos_x1e4 FROM p
        |WHERE cos_x1e4 >= 4500
        |ORDER BY v1, v2""".stripMargin
  )
}
