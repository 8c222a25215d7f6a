package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Distributed k-means over the embeddings table (q54) — the coarse-
  * quantizer trainer an IVF index (q24b) needs, and the embedding-space
  * analogue of the q49 clustering family.
  *
  * Lloyd's algorithm in its canonical distributed shape: centroids are tiny
  * driver/broadcast state (k x dim), each iteration is ONE pass over the
  * data — a broadcast cross-join (k rows against each vector) scored
  * map-side, an argmin aggregate whose partial aggregation collapses the k
  * candidate rows per vector BEFORE the exchange (so the shuffle carries
  * one vector-sized row per vector, once per iteration — no corpus
  * re-join), then a partial-aggregating (cid, dim) groupBy for the
  * centroid update, whose output (k x dim rows) collects to the driver for
  * the next round. Nothing in the loop is quadratic; at 100 TB the
  * identical plan runs with larger k and the update exchange still carries
  * k x dim x partitions rows.
  *
  * Determinism/portability: vectors are quantized once to x1e6 scaled
  * BIGINTs, so distances and centroid updates are EXACT integer arithmetic
  * — no float-sum order dependence anywhere — and the DuckDB oracle replays
  * the whole training (same init, 3 unrolled iterations, floor-division
  * centroid averages) in SQL, making an iterative ML trainer hash-checkable
  * cross-engine. Init is the k vectors with the smallest
  * (phash60(vec_id), vec_id) — the same portable-hash idiom as q42/q48.
  * Assignment tie-break: least (distance, cid).
  */
object Clustering {

  private val K = 8
  private val ITERS = 3
  private val QSCALE = 1000000L
  /** Fixture embedding width — used ONLY by the oracle SQL (a static string
    * must pin it). The trainer itself derives the width from the data, so
    * `trainQuantizer` works for any embeddings table (a hardcoded width
    * would overflow dims > 64 and silently zero-pad dims < 64).
    */
  private val DIM = 64

  /** x1e6-quantized vectors `(vec_id, qv: array<long>)` — the same
    * floor(x * scale + 0.5) contract as q46, so both engines agree bitwise.
    */
  private def quantized(embs: DataFrame): DataFrame =
    Similarity.asDouble(embs).select(col("vec_id"),
      transform(col("emb"), x =>
        floor(x * QSCALE + lit(0.5)).cast("long")).as("qv"))

  /** Exact squared L2 distance between the quantized vector column and a
    * literal centroid array — a codegen'd zip_with/aggregate fold.
    */
  private def sqDist(qv: Column, cv: Column): Column =
    aggregate(zip_with(qv, cv, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** One assignment pass: per vector, the centroid minimizing
    * (distance, cid). `cents` must be broadcastable (k rows). With
    * `carryVec` the quantized vector rides through the argmin aggregate
    * (every pre-aggregation row of a vec_id holds the same qv, so `first`
    * is deterministic) — that is what lets the update pass run WITHOUT
    * re-joining the corpus: map-side partial aggregation collapses the k
    * candidate rows before the exchange, so each iteration shuffles one
    * row per vector, once.
    */
  private def assign(q: DataFrame, cents: DataFrame,
                     carryVec: Boolean = false): DataFrame = {
    val scored = q.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("qv"), col("cid"),
        sqDist(col("qv"), col("cv")).as("dist"))
    val aggs =
      if (carryVec) Seq(min(struct(col("dist"), col("cid"))).as("m"),
        first("qv").as("qv"))
      else Seq(min(struct(col("dist"), col("cid"))).as("m"))
    val base = scored.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
    val out = Seq(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist")) ++
      (if (carryVec) Seq(col("qv")) else Nil)
    base.select(out: _*)
  }

  /** Deterministic-sample modulus for `sampleFraction` (phash60 is uniform
    * on [0, 2^60), so `h % 2^20 < frac * 2^20` is an unbiased, portable,
    * rerun-stable row sample — the q42/q48 idiom).
    */
  private val SAMPLE_MOD = 1L << 20

  private def sampleCut(f: Double): Long = (f * SAMPLE_MOD).toLong

  /** The DuckDB twin of the `sampleFraction` training filter — empty for
    * the exact (full-corpus) variant.
    */
  private def sampleWhereSql(f: Double): String =
    if (f >= 1.0) ""
    else s"WHERE ${Sketches.phash60Sql("vec_id")} % $SAMPLE_MOD < ${sampleCut(f)}"

  /** Train k-means and return (final centroids as (cid -> components),
    * final assignment DataFrame (vec_id, cid, dist)). The per-iteration
    * centroid state is k x dim longs — collected and re-broadcast each
    * round, exactly how a cluster implementation carries it.
    *
    * `sampleFraction < 1` is the 100 TB training posture: Lloyd iterations
    * (init + assignment/update rounds) run on a deterministic hash-sample
    * of the corpus — centroid quality needs a representative sample, not
    * every row — and only the FINAL assignment makes a full-corpus pass.
    * Iteration cost drops from O(iters * corpus) to
    * O(iters * corpus * fraction) + O(corpus); ClusteringSpec bounds the
    * WCSS loss on the fixture. The default 1.0 is the exact variant q54's
    * oracle replays.
    */
  def kmeans(embs: DataFrame, k: Int = K, iters: Int = ITERS,
             sampleFraction: Double = 1.0)
  : (Map[Int, Array[Long]], DataFrame) = {
    val spark = embs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val q = quantized(embs).persist()
    try {
      val train =
        if (sampleFraction >= 1.0) q
        else q.filter(Sketches.phash60(col("vec_id")) % SAMPLE_MOD <
          lit(sampleCut(sampleFraction)))
      val init = train
        .select(col("vec_id"), col("qv"), Sketches.phash60(col("vec_id")).as("h"))
        .orderBy("h", "vec_id").limit(k)
        .collect()
      var cents: Map[Int, Array[Long]] = init.zipWithIndex.map { case (r, i) =>
        i -> r.getSeq[Long](1).toArray
      }.toMap
      require(cents.nonEmpty,
        "kmeans: empty training input (corpus empty, or sampleFraction too small)")
      // the data defines the width; every vector must agree with the seeds
      // (ragged input would otherwise corrupt the update step silently)
      val dim = cents.head._2.length
      def centsDf = cents.toSeq.sortBy(_._1)
        .map { case (cid, cv) => (cid, cv.toSeq) }
        .toDF("cid", "cv")
      for (_ <- 1 to iters) {
        // update: one (cid, dim) aggregate over the vec-carrying assignment
        // (no corpus re-join — see assign); k x dim rows come back to the
        // driver, where the floor-divided average (Math.floorDiv: exact
        // integer semantics, the oracle's (s - pmod)/n twin) forms the next
        // broadcast state. An emptied cluster keeps its previous centroid.
        val sums = assign(train, centsDf, carryVec = true)
          .select(col("cid"), posexplode(col("qv")).as(Seq("p", "v")))
          .groupBy("cid", "p")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect()
        val updated = sums.groupBy(_.getInt(0)).map { case (cid, rows) =>
          val cv = new Array[Long](dim)
          rows.foreach { r =>
            require(r.getInt(1) < dim,
              s"kmeans: vector wider than the $dim-dim seeds (ragged input)")
            cv(r.getInt(1)) = Math.floorDiv(r.getLong(2), r.getLong(3))
          }
          cid -> cv
        }
        cents = cents ++ updated
      }
      // eager localCheckpoint: materialize the final assignment WHILE q is
      // still persisted and truncate its lineage, so consumers neither
      // re-quantize the corpus nor depend on the about-to-drop cache
      (cents, assign(q, centsDf).localCheckpoint(true))
    } finally q.unpersist()
  }

  /** Final centroids scaled back to doubles (component / 1e6) — the form a
    * coarse IVF quantizer (q24b) consumes.
    */
  def trainedCentroids(embs: DataFrame, k: Int = K, iters: Int = ITERS,
                       sampleFraction: Double = 1.0)
  : Map[Int, Array[Double]] =
    kmeans(embs, k, iters, sampleFraction)._1.map { case (cid, cv) =>
      cid -> cv.map(_.toDouble / QSCALE)
    }

  /** q54 result: per-cluster exact-integer summaries — size, membership
    * checksum, within-cluster sum of squared distances, centroid component
    * sum. Emptied clusters have no members and thus no row.
    */
  def kmeansSummary(embs: DataFrame): DataFrame = {
    val (cents, assigned) = kmeans(embs)
    val spark = embs.sparkSession
    import spark.implicits._
    val centSums = cents.toSeq
      .map { case (cid, cv) => (cid, cv.sum) }
      .toDF("cid", "cent_sum")
    assigned.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum("vec_id").as("sum_vec_ids"),
        sum("dist").as("wcss"))
      .join(broadcast(centSums), "cid")
      .select("cid", "n_vecs", "sum_vec_ids", "wcss", "cent_sum")
      .orderBy("cid")
  }

  /** Default SemDeDup target cluster size: with balanced clusters of c
    * vectors, the within-cluster pair space is sum(c_i^2) ~ n*c — LINEAR in
    * the corpus for fixed c. 64 keeps each cluster's pair block trivially
    * executor-sized (64^2 = 4096 cosine evaluations).
    */
  private val SEMDEDUP_TARGET_CLUSTER = 64

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with [[kmeans]], then prune high-cosine
    * near-duplicates WITHIN clusters only. This is the published scale path
    * for embedding dedup — the quadratic pair space collapses to
    * sum(cluster_size^2), which stays ~n * targetClusterSize because k
    * SCALES WITH THE CORPUS: the default k = ceil(n / targetClusterSize),
    * so doubling the corpus doubles the cluster count, not the cluster
    * sizes (the within-cluster self-join shuffles on cid; a pathological
    * mega-cluster is the k-too-small symptom, fixed by a larger k — pass
    * it explicitly or lower targetClusterSize — not by a different plan).
    * `sampleFraction` is the training posture dial: Lloyd init +
    * iterations on the deterministic hash-sample, full-corpus final
    * assignment — at 100 TB you never Lloyd-iterate the whole corpus.
    * The catalog q66 RUNS the sampled variant (fraction 1/4) and its
    * oracle replays the sample filter, so the scale path itself is the
    * hash-checked path; k derives from the FULL corpus count either way
    * (= 8 at the fixture's 500 vectors).
    *
    * Keep rule (deterministic): a vector is dropped iff some same-cluster
    * vector with a STRICTLY GREATER (dist-to-centroid, vec_id) has cosine
    * >= threshold with it — i.e. per near-dup neighborhood the member
    * farthest from its centroid survives, the paper's low-centroid-
    * similarity keep heuristic with an exact total-order tie-break. Cosine
    * is the q40 contract: the codegen'd left-to-right fold, floor-scaled
    * x1e4, bit-identical to the DuckDB twin.
    *
    * Returns every vector: (vec_id, cid, dist, kept 0/1) — full-granularity
    * so the oracle checks the decision for each row, not just counts.
    * Eagerly materialized (localCheckpoint), so no intermediate cache
    * outlives the call.
    */
  def semDedup(embs: DataFrame, thresholdX1e4: Int, k: Int = 0,
               iters: Int = ITERS,
               targetClusterSize: Int = SEMDEDUP_TARGET_CLUSTER,
               sampleFraction: Double = 1.0): DataFrame = {
    val kk =
      if (k > 0) k
      else math.max(1,
        math.ceil(embs.count().toDouble / targetClusterSize).toInt)
    val (_, assigned) = kmeans(embs, kk, iters, sampleFraction)
    semDedupFromAssigned(embs, assigned, thresholdX1e4)
  }

  /** [[semDedup]]'s post-training tail against an ALREADY-MATERIALIZED
    * assignment relation (vec_id, cid, dist) — the artifact-served form:
    * the trained quantizer + assignment is build-once state of an
    * immutable embedding snapshot (the q70/q72 ensureIvfPqIndex posture),
    * so a warm q66 call pays only the intra-cluster pair join.
    */
  private[operators] def semDedupFromAssigned(embs: DataFrame,
                                              assigned: DataFrame,
                                              thresholdX1e4: Int): DataFrame = {
    val j = assigned.select("vec_id", "cid", "dist")
      .join(Similarity.asDouble(embs), "vec_id")
      .select(col("vec_id"), col("cid"), col("dist"), col("emb"))
      .persist()
    try {
      val cos = graft.functions.GraftFunctions.cosine(col("l.emb"), col("r.emb"))
      // left_semi: each dropped row emitted once, no distinct needed
      val drops = j.as("l").join(j.as("r"),
        col("l.cid") === col("r.cid") &&
          struct(col("r.dist"), col("r.vec_id")) >
            struct(col("l.dist"), col("l.vec_id")) &&
          floor(cos * 10000 + lit(0.5)).cast("long") >= thresholdX1e4,
        "left_semi")
        .select(col("vec_id"), lit(0L).as("kept"))
      j.join(drops, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"), col("dist"),
          coalesce(col("kept"), lit(1L)).as("kept"))
        .orderBy("vec_id")
        .localCheckpoint(true)
    } finally j.unpersist()
  }

  /** Product-quantization codebook training (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the
    * compression half of IVF-PQ, the standard way a 100 TB ANN index fits
    * in memory: split each vector into `m` subspaces, run [[kmeans]]
    * independently in each, store per-vector codes (m small ints) instead
    * of the vector (m*subdim floats) — 64x smaller here.
    *
    * Everything inherits kmeans' exact-integer determinism, so the whole
    * training + encoding hash-checks cross-engine. All m subspace
    * trainings are FUSED into one Lloyd loop: each iteration is a single
    * corpus scan against the broadcast (subspace, cid, cv) codebook
    * relation (m*k tiny rows), the per-(vec_id, subspace) argmin is
    * partial-aggregated map-side before the exchange, and the update is
    * one (subspace, cid, position) aggregate whose m*k*subdim rows come
    * back to the driver. iters+1 corpus scans total, versus m*(iters+1)
    * when the subspaces train sequentially — the shuffle volume is
    * identical (m slice-sized rows per vector per iteration), so fusing
    * is pure scan savings, the term that dominates at 100 TB.
    *
    * Returns (codebooks keyed by (subspace, cid), codes DataFrame
    * (vec_id, code0..code{m-1}, qerr) with qerr = exact summed squared
    * quantization error across subspaces).
    */
  def pqTrain(embs: DataFrame, m: Int = PQ_M, k: Int = K, iters: Int = ITERS)
  : (Map[(Int, Int), Array[Long]], DataFrame) = {
    val spark = embs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val dim = embs.select(size(col("embedding"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"pqTrain: dim $dim not divisible by $m")
    val sub = dim / m
    val q = quantized(embs).persist()
    try {
      // init: the k hash-least vectors seed EVERY subspace (the selection
      // keys on vec_id only, so slicing before or after picking commutes —
      // bit-identical to training each subspace separately)
      val init = q
        .select(col("vec_id"), col("qv"), Sketches.phash60(col("vec_id")).as("h"))
        .orderBy("h", "vec_id").limit(k)
        .collect()
      require(init.nonEmpty, "pqTrain: empty embeddings input")
      var books: Map[(Int, Int), Array[Long]] =
        (for ((r, i) <- init.zipWithIndex; j <- 0 until m) yield
          (j, i) -> r.getSeq[Long](1).slice(j * sub, (j + 1) * sub).toArray).toMap
      def booksDf = books.toSeq
        .sortBy { case ((j, cid), _) => (j, cid) }
        .map { case ((j, cid), cv) => (j, cid, cv.toSeq) }
        .toDF("j", "cid", "cv")
      // one scan scores all m subspaces: m*k candidate rows per vector,
      // collapsed to m rows map-side by the (vec_id, j) argmin partial agg
      def assignAll(carrySlice: Boolean): DataFrame = {
        val sv = slice(col("qv"), col("j") * sub + 1, lit(sub))
        val cols = Seq(col("vec_id"), col("j"), col("cid"),
          sqDist(sv, col("cv")).as("dist")) ++
          (if (carrySlice) Seq(sv.as("sv")) else Nil)
        val scored = q.crossJoin(broadcast(booksDf)).select(cols: _*)
        val aggs = Seq(min(struct(col("dist"), col("cid"))).as("mm")) ++
          (if (carrySlice) Seq(first("sv").as("sv")) else Nil)
        val out = Seq(col("vec_id"), col("j"), col("mm.cid").as("cid"),
          col("mm.dist").as("dist")) ++
          (if (carrySlice) Seq(col("sv")) else Nil)
        scored.groupBy("vec_id", "j").agg(aggs.head, aggs.tail: _*)
          .select(out: _*)
      }
      for (_ <- 1 to iters) {
        val sums = assignAll(carrySlice = true)
          .select(col("j"), col("cid"), posexplode(col("sv")).as(Seq("p", "v")))
          .groupBy("j", "cid", "p")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect()
        val updated = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case ((j, cid), rows) =>
            val cv = new Array[Long](sub)
            rows.foreach(r => cv(r.getInt(2)) = Math.floorDiv(r.getLong(3), r.getLong(4)))
            (j, cid) -> cv
          }
        books = books ++ updated
      }
      // final assignment pivots (vec_id, j, cid, dist) to one codes row per
      // vector — a conditional aggregate, not an m-way self-join
      val codeCols = (0 until m).map(j =>
        max(when(col("j") === j, col("cid"))).as(s"code$j"))
      val codes = assignAll(carrySlice = false)
        .groupBy("vec_id")
        .agg(codeCols.head, codeCols.tail :+ sum("dist").as("qerr"): _*)
        .orderBy("vec_id")
        .localCheckpoint(true)
      (books, codes)
    } finally q.unpersist()
  }

  private val PQ_M = 4

  /** Encode vectors against FROZEN codebooks — the incremental-ingest half
    * of PQ: new batches get codes without retraining (train once on a
    * sample, encode forever). One quantization pass, then per subspace a
    * broadcast argmin against that subspace's k centroids; assembly joins
    * the m assignments on vec_id. `PqSpec` pins pqEncode(corpus, trained)
    * == pqTrain's own codes.
    */
  def pqEncode(embs: DataFrame,
               codebooks: Map[(Int, Int), Array[Long]]): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val m = codebooks.keys.map(_._1).max + 1
    val q = quantized(embs).persist()
    try {
      val parts = (0 until m).map { j =>
        val sub = codebooks((j, 0)).length
        val centsDf = codebooks.collect { case ((`j`, cid), cv) => (cid, cv.toSeq) }
          .toSeq.sortBy(_._1).toDF("cid", "cv")
        assign(q.select(col("vec_id"),
          slice(col("qv"), j * sub + 1, sub).as("qv")), centsDf)
          .select(col("vec_id"), col("cid").as(s"code$j"),
            col("dist").as(s"dist$j"))
      }
      val qerr = (0 until m).map(j => col(s"dist$j")).reduce(_ + _)
      parts.reduce(_.join(_, "vec_id"))
        .select(col("vec_id") +: (0 until m).map(j => col(s"code$j")) :+
          qerr.as("qerr"): _*)
        .orderBy("vec_id")
        .localCheckpoint(true)
    } finally q.unpersist()
  }

  /** The ADC distance expression shared by every PQ search path: per
    * subspace the k exact squared distances from the query slice to the
    * codebook centroids fold into a k-entry LITERAL array (computed
    * driver-side), and each corpus row's distance is the sum of m
    * `element_at` lookups indexed by its codes — all inside whole-stage
    * codegen, no vector column anywhere.
    */
  private def adcColumn(qvec: Array[Long],
                        codebooks: Map[(Int, Int), Array[Long]],
                        m: Int, k: Int): Column = {
    val sub = qvec.length / m
    (0 until m).map { j =>
      val qs = qvec.slice(j * sub, (j + 1) * sub)
      val table = (0 until k).map { c =>
        val cv = codebooks((j, c))
        lit(qs.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      element_at(array(table: _*), col(s"code$j") + 1)
    }.reduce(_ + _)
  }

  private def quantizedQueryVec(embs: DataFrame, queryVecId: Long,
                                who: String): Array[Long] =
    quantized(embs.filter(col("vec_id") === queryVecId))
      .collect().headOption
      .map(_.getSeq[Long](1).toArray)
      .getOrElse(throw new IllegalArgumentException(
        s"$who: query vec_id $queryVecId not found"))

  /** PQ ADC search (the query half of IVF-PQ): squared-L2 top-k against the
    * [[pqTrain]] codes by asymmetric distance computation — per subspace,
    * the distance from the query slice to each of the k centroids is
    * precomputed driver-side (k x m exact longs), and each corpus vector's
    * approximate distance is the sum of m table lookups indexed by its
    * codes. The scan touches ONLY the codes relation (m small ints per
    * vector — no vectors move), which is exactly why PQ indexes scale: at
    * 100 TB the same plan reads a 64x-compressed table with the 32-entry
    * literal table folded into codegen.
    *
    * This one-shot form TRAINS INSIDE THE CALL (it pins the training for
    * q70's oracle and PqSpec); production searches go through
    * [[buildIvfPqIndex]] + [[ivfPqSearchIndexed]] — train once offline,
    * query many (the q70/q72 catalog path).
    *
    * Exact integer arithmetic end-to-end (quantized query slice vs
    * quantized centroids), so the ADC distances — not just the ranking —
    * hash-check cross-engine.
    */
  def pqSearch(embs: DataFrame, queryVecId: Long = 0L, topK: Int = 10,
               m: Int = PQ_M, k: Int = K, iters: Int = ITERS): DataFrame = {
    val (codebooks, codes) = pqTrain(embs, m, k, iters)
    val qvec = quantizedQueryVec(embs, queryVecId, "pqSearch")
    codes.filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), adcColumn(qvec, codebooks, m, k).cast("long").as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** IVF-PQ search — the full composed index: the trained coarse quantizer
    * partitions the corpus into cells (inverted lists), the query probes
    * its `probes` nearest cells, and ADC over the PQ codes ranks ONLY the
    * vectors in probed cells. At 100 TB this is the shape that makes ANN
    * tractable: the scan is (corpus/k x probes) rows of m-int codes —
    * both a cell-pruned and a 64x-compressed read. Candidate ranking is
    * identical to [[pqSearch]] restricted to the probed cells (spec-pinned),
    * so recall loss comes only from cell pruning, tunable via `probes`.
    * Like [[pqSearch]], this one-shot form trains inside the call; the
    * indexed path is [[buildIvfPqIndex]] + [[ivfPqSearchIndexed]].
    */
  def ivfPqSearch(embs: DataFrame, queryVecId: Long = 0L, topK: Int = 10,
                  probes: Int = 2, m: Int = PQ_M, k: Int = K,
                  iters: Int = ITERS): DataFrame = {
    val (coarse, assigned) = kmeans(embs, k, iters)
    val (codebooks, codes) = pqTrain(embs, m, k, iters)
    val qvec = quantizedQueryVec(embs, queryVecId, "ivfPqSearch")
    val probed = coarse.toSeq.map { case (cid, cv) =>
      (qvec.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
    }.sorted.take(probes).map(_._2)
    codes
      .join(assigned.filter(col("cid").isin(probed: _*)).select("vec_id"), "vec_id")
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), adcColumn(qvec, codebooks, m, k).cast("long").as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** Persist trained PQ codebooks as parquet (subspace, cid, cv) — the
    * train-once/encode-forever artifact an offline index build ships to
    * the encode and search jobs.
    */
  def saveCodebooks(path: String,
                    codebooks: Map[(Int, Int), Array[Long]],
                    spark: SparkSession): Unit = {
    import spark.implicits._
    codebooks.toSeq
      .map { case ((j, cid), cv) => (j, cid, cv.toSeq) }
      .sortBy { case (j, cid, _) => (j, cid) }
      .toDF("subspace", "cid", "cv")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Inverse of [[saveCodebooks]]. */
  def loadCodebooks(path: String, spark: SparkSession)
  : Map[(Int, Int), Array[Long]] =
    spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toArray)
      .toMap

  /** Coarse-quantizer centroids as parquet (cid, cv) — the second tiny
    * artifact an IVF-PQ index ships beside [[saveCodebooks]]'s.
    */
  def saveCentroids(path: String, cents: Map[Int, Array[Long]],
                    spark: SparkSession): Unit = {
    import spark.implicits._
    cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }.sortBy(_._1)
      .toDF("cid", "cv")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Inverse of [[saveCentroids]]. */
  def loadCentroids(path: String, spark: SparkSession): Map[Int, Array[Long]] =
    spark.read.parquet(path).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
      .toMap

  /** Offline IVF-PQ index build — the build half of the build-once/
    * query-many contract. Writes three artifacts under `dir`:
    *
    *   - `coarse/`    (cid, cv): the trained coarse quantizer (k tiny rows)
    *   - `codebooks/` (subspace, cid, cv): the PQ codebooks (m*k tiny rows)
    *   - `codes/cell=<cid>/` (vec_id, code0..m-1, qerr): per-vector PQ
    *     codes PARTITIONED BY coarse cell — the inverted lists are
    *     literally the parquet directory layout, so a probed search is
    *     partition pruning, not a filter.
    *
    * At 100 TB this job runs once (with [[kmeans]] `sampleFraction` for
    * the trainers); new vectors append via [[pqEncode]]/
    * [[streamingPqEncode]] against the frozen codebooks.
    */
  def buildIvfPqIndex(embs: DataFrame, dir: String, m: Int = PQ_M,
                      k: Int = K, iters: Int = ITERS): Unit = {
    val spark = embs.sparkSession
    val (coarse, assigned) = kmeans(embs, k, iters)
    val (books, codes) = pqTrain(embs, m, k, iters)
    saveCentroids(s"$dir/coarse", coarse, spark)
    saveCodebooks(s"$dir/codebooks", books, spark)
    codes.join(assigned.select(col("vec_id"), col("cid").as("cell")), "vec_id")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    indexMetaCache.synchronized { indexMetaCache.remove(dir) } // rebuilt dir
  }

  /** Search a [[buildIvfPqIndex]] artifact — NO training anywhere in the
    * call: codebooks and coarse centroids load as driver-side literals
    * (m*k + k tiny rows), the probe list is a driver-side argmin over k
    * centroids, and the corpus-side plan is a codes-only parquet scan
    * (partition-pruned to the probed cells) + the codegen'd [[adcColumn]]
    * + TakeOrderedAndProject. `probes <= 0` scans every cell (exhaustive
    * ADC — q70's ranking); `excludeVecId` drops a known self-match.
    *
    * The query arrives as the raw double vector (searches are for vectors
    * NOT in the index); quantization is the same x1e6 floor contract as
    * training, so rankings stay exact-integer.
    */
  /** Driver-side cache of loaded index metadata (codebooks + coarse
    * centroids, a few KB per index): artifacts are immutable once built,
    * and a serving process answering many queries re-reads neither — the
    * per-query cost is ONLY the codes scan.
    */
  private val indexMetaCache = scala.collection.mutable.Map
    .empty[String, (Map[(Int, Int), Array[Long]], Map[Int, Array[Long]])]

  private def indexMeta(spark: SparkSession, dir: String)
  : (Map[(Int, Int), Array[Long]], Map[Int, Array[Long]]) =
    indexMetaCache.synchronized {
      indexMetaCache.getOrElseUpdate(dir,
        (loadCodebooks(s"$dir/codebooks", spark),
          loadCentroids(s"$dir/coarse", spark)))
    }

  def ivfPqSearchIndexed(spark: SparkSession, dir: String,
                         query: Array[Double], topK: Int = 10,
                         probes: Int = 0, excludeVecId: Long = -1L)
  : DataFrame = {
    val (books, coarse) = indexMeta(spark, dir)
    val m = books.keys.map(_._1).max + 1
    val k = books.keys.map(_._2).max + 1
    val qvec = query.map(x => math.floor(x * QSCALE + 0.5).toLong)
    val all = spark.read.parquet(s"$dir/codes")
    val codes =
      if (probes <= 0) all
      else {
        val probed = coarse.toSeq.map { case (cid, cv) =>
          (qvec.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
        }.sorted.take(probes).map(_._2)
        all.filter(col("cell").isin(probed: _*))
      }
    codes.filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id"), adcColumn(qvec, books, m, k).cast("long").as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  private val builtIndexDirs = scala.collection.mutable.Set[String]()
  // sfDir -> resolved index dir: fixtures are immutable, so the corpus
  // fingerprint needs computing once per corpus per session, not per query
  private val indexDirCache = scala.collection.mutable.Map[String, String]()

  /** Build-once gate for the q70/q72 catalog queries: the index directory
    * is CONTENT-KEYED — md5 of (corpus path, row count, vec_id checksum,
    * m/k/iters, artifact version) — so a stale artifact can never serve a
    * different corpus, parameterization, or algorithm revision; it just
    * misses and rebuilds. First call per key pays the (deterministic)
    * training; every later call — warm bench iterations, repeated user
    * searches — is pure indexed search.
    */
  private val ARTIFACT_VERSION = 1

  private[graft] def ensureIvfPqIndex(spark: SparkSession, sfDir: String)
  : String = indexDirCache.synchronized {
    indexDirCache.getOrElseUpdate(sfDir, ensureIvfPqIndexUncached(spark, sfDir))
  }

  private def ensureIvfPqIndexUncached(spark: SparkSession, sfDir: String)
  : String = {
    val embs = Tables.embeddings(spark, sfDir)
    val fp = embs.agg(count(lit(1)), coalesce(sum(col("vec_id")), lit(0L)))
      .collect()(0)
    val key = s"$sfDir|${fp.getLong(0)}|${fp.getLong(1)}" +
      s"|m=$PQ_M|k=$K|it=$ITERS|v=$ARTIFACT_VERSION"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val dir = s"${DedupArtifacts.artifactRoot}/ivfpq_$digest"
    this.synchronized {
      if (!builtIndexDirs.contains(dir)) {
        val marker = new java.io.File(s"$dir/_GRAFT_INDEX_OK")
        if (!marker.exists()) {
          buildIvfPqIndex(embs, dir)
          marker.createNewFile()
        }
        builtIndexDirs += dir
      }
    }
    dir
  }

  /** One corpus vector as raw doubles (the catalog queries' self-query). */
  private def queryVec(spark: SparkSession, sfDir: String,
                       vecId: Long): Array[Double] =
    Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .filter(col("vec_id") === vecId).collect()
      .headOption.map(_.getSeq[Double](1).toArray)
      .getOrElse(throw new IllegalArgumentException(
        s"queryVec: vec_id $vecId not found in $sfDir"))

  /** Streaming PQ encode: each embedding micro-batch is encoded against
    * the frozen codebook artifact and written batch-keyed (per-batchId
    * overwrite — replays rewrite the same directory, the effective-
    * exactly-once contract of `Curation.streamingNearDupIngest`).
    * Encoding is row-independent, so the union of batch outputs equals
    * [[pqEncode]] of the union (spec-pinned) — this is how the other
    * 99.99% of a growing corpus gets compressed without retraining.
    */
  def streamingPqEncode(embs: DataFrame, codebookPath: String,
                        codesDir: String, checkpoint: String)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val codebooks = loadCodebooks(codebookPath, embs.sparkSession)
    embs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        pqEncode(batch, codebooks)
          .write.mode("overwrite").parquet(s"$codesDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** q66 threshold — same x1e4 cosine scale as q40/q61. */
  private val SEMDEDUP_T = 4500

  /** q72 probe count (of K=8 coarse cells). */
  private val IVFPQ_PROBES = 2

  /** q99: LINEAR PROBE of embedding quality — the standard "are these
    * embeddings any good for this labeling" measurement: train a
    * nearest-class-centroid classifier on a hash-split 80% of the labeled
    * vectors, report per-class accuracy on the held-out 20%. (Nearest
    * centroid IS a linear classifier: argmin_c ||x − mu_c||^2 =
    * argmax_c (x·mu_c − ||mu_c||^2/2).)
    *
    * Determinism/portability: vectors quantize once to x1e4 BIGINTs, so
    * the per-class sums S_c, the dot products x·S_c, and ||S_c||^2 are
    * EXACT integers (|x| < 0.58, 64 dims: exact to ~1e7 rows/class —
    * beyond that the production path carries per-dim double means, same
    * plan); the only floats are two divisions of exact integers per
    * (vector, class) score, identical IEEE sequences in both engines. The
    * 80/20 split is the portable-hash idiom (phash60(vec_id) % 5).
    * Prediction tie-break: smallest label.
    *
    * 100 TB shape: training is ONE partial-aggregating (label, dim)
    * groupBy; the model (k x dim + k counts) is broadcast-sized; scoring
    * is a map-side broadcast join + per-vector argmax aggregate. One pass
    * over train, one over eval, no corpus self-join, no global sort.
    *
    * On the synthetic fixture the labels carry ~chance linear signal and
    * the probe reports exactly that (the MEASUREMENT is the contract);
    * ClusteringSpec additionally pins 100% accuracy on a planted
    * linearly-separable corpus, so the probe provably detects signal
    * when it exists.
    */
  def linearProbe(embs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embs.sparkSession)
    val q = embs.select(col("vec_id"), col("label").cast("long").as("label"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(10000.0) + lit(0.5)).cast("long"))
        .as("q"),
      pmod(Sketches.phash60(col("vec_id").cast("string")), lit(5L)).as("h"))
    val tr = q.filter(col("h") =!= 0)
    val ev = q.filter(col("h") === 0)
    val tq = tr.select(col("label"), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy("label", "pos").agg(sum("qv").as("s"))
    val cn = tr.groupBy("label").agg(count(lit(1)).as("n"))
    val ssq = tq.groupBy("label").agg(sum(col("s") * col("s")).as("ss"))
    val cent = tq.join(cn, "label").join(ssq, "label")
      .withColumnRenamed("label", "cand")
    val evx = ev.select(col("vec_id"), col("label").as("true_label"),
      posexplode(col("q")).as(Seq("pos", "qv")))
    val dots = evx.join(broadcast(cent), Seq("pos"))
      .groupBy("vec_id", "true_label", "cand", "n", "ss")
      .agg(sum(col("qv") * col("s")).as("dot"))
    val score = col("dot").cast("double") / col("n") -
      col("ss").cast("double") / (lit(2.0) * col("n") * col("n"))
    dots
      .select(col("vec_id"), col("true_label"), col("cand"), score.as("sc"))
      .groupBy("vec_id", "true_label")
      .agg(min(struct((-col("sc")).as("negs"), col("cand").as("p"))).as("b"))
      .select(col("true_label").as("label"), col("b.p").as("pred"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc_x1e3",
        floor(col("n_correct") * lit(1000.0) / col("n_eval") + lit(0.5))
          .cast("long"))
      .orderBy("label")
  }

  /** q102: TOP-PRINCIPAL-COMPONENT PROJECTION — the dominant direction of
    * the (mean-centered) embedding cloud via power iteration, and every
    * vector's coefficient along it. The classic post-processing lever for
    * embedding pipelines ("all-but-the-top": the top component is usually
    * a corpus-frequency artifact; subtracting it sharpens cosine
    * similarity for dedup/retrieval) and the 1-D version of a PCA trainer
    * expressed as pure Spark aggregates.
    *
    * Determinism/portability: vectors quantize once to x1e4 BIGINTs;
    * per-dim means are integer divisions of exact sums; each power step
    * is dot = sum_i c_i*v_i per row (exact BIGINT), scaled down by DIV
    * 1e4, accumulated into w_i = sum_rows c_i*(dot DIV 1e4), then
    * renormalized to ~x1e4 by w DIV max(1, max|w| DIV 1e4). Integer
    * division here is TRUNCATION toward zero in Spark (`DIV`), DuckDB
    * (`//`) and Scala (`/`) alike — spec-pinned — so driver-side
    * renormalization and the DuckDB CTE replay agree bit for bit.
    * Sign convention: fixed by v0 = (1e4, ..., 1e4).
    *
    * 100 TB shape: the dim-sized mean and direction are the ONLY driver
    * state (the kmeans-centroid pattern); each iteration is one narrow
    * pass over the persisted centered relation — the dot is a per-row
    * array fold (no join, no shuffle), the w update a partial-aggregating
    * 64-key groupBy. Nothing is quadratic in n or dim. Integer headroom:
    * |w| <= n * 2e4 * 2.6e6 stays under BIGINT to ~1e8 rows per
    * partition-group; beyond that raise the DIV scale one decade.
    */
  def pc1Projection(embs: DataFrame, iters: Int = 3): DataFrame = {
    val q = embs.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(10000.0) + lit(0.5)).cast("long"))
        .as("q"))
      .persist()
    val n = q.count() // bounded driver state: one scalar
    val dim = q.select(size(col("q"))).first().getInt(0)
    val sums = q.select(posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy("pos").agg(sum("qv").as("s")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val mean = (0 until dim).map(i => sums.getOrElse(i, 0L) / n)
    val mLit = array(mean.map(lit): _*)
    val c = q.select(col("vec_id"),
      zip_with(col("q"), mLit, (a, b) => a - b).as("c")).persist()

    def dotCol(v: IndexedSeq[Long]): Column =
      aggregate(zip_with(col("c"), array(v.map(lit): _*), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)

    var v: IndexedSeq[Long] = IndexedSeq.fill(dim)(10000L)
    (1 to iters).foreach { _ =>
      val w = c.select(col("c"), dotCol(v).as("dot"))
        .select(col("c"), expr("dot DIV 10000").as("ds"))
        .select(col("ds"), posexplode(col("c")).as(Seq("pos", "cv")))
        .groupBy("pos").agg(sum(col("cv") * col("ds")).as("w")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val warr = (0 until dim).map(i => w.getOrElse(i, 0L))
      val d = math.max(1L, warr.map(math.abs).max / 10000L)
      v = warr.map(_ / d)
    }
    c.select(col("vec_id"), dotCol(v).as("dot"))
      .selectExpr("vec_id", "dot DIV 10000 AS proj_x1e4")
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_pc1_projection" -> ((s, d) => pc1Projection(Tables.embeddings(s, d))),
    "q99_linear_probe" -> ((s, d) => linearProbe(Tables.embeddings(s, d))),
    "q54_kmeans" -> ((s, d) => kmeansSummary(Tables.embeddings(s, d))),
    // q66 takes the corpus-derived k (ceil(n/64): 8 at sf0.01's 500
    // vectors, 79 at sf0.1's 5000 — the oracle derives the same k via a
    // scalar subquery) and the SAMPLED training path — the 100 TB posture
    // is the gated path, not a variant
    // q66: the trained assignment is a build-once content-keyed artifact
    // (kmeans over an immutable snapshot is calibration state, the
    // q70/q72 posture); a warm call pays the intra-cluster pair join
    "q66_semdedup" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val assigned = s.read.parquet(DedupArtifacts.ensureDerived(s,
        DedupArtifacts.embeddingsKey(embs, "semdedup-assign") +
          s"|k=auto$SEMDEDUP_TARGET_CLUSTER|it=$ITERS|sf=$SEMDEDUP_SAMPLE|v=1") {
        val kk = math.max(1, math.ceil(
          embs.count().toDouble / SEMDEDUP_TARGET_CLUSTER).toInt)
        kmeans(embs, kk, ITERS, SEMDEDUP_SAMPLE)._2
          .select("vec_id", "cid", "dist")
      })
      semDedupFromAssigned(embs, assigned, SEMDEDUP_T)
        .orderBy("vec_id")
    }),
    "q69_pq_train" -> ((s, d) => pqTrain(Tables.embeddings(s, d))._2),
    // q70/q72 run the INDEXED path: first call per corpus builds the
    // artifact (deterministic — identical to what the oracle replays),
    // every later call is pure search over the persisted codes
    "q70_pq_search" -> ((s, d) =>
      ivfPqSearchIndexed(s, ensureIvfPqIndex(s, d), queryVec(s, d, 0L),
        topK = 10, probes = 0, excludeVecId = 0L)),
    "q72_ivfpq_search" -> ((s, d) =>
      ivfPqSearchIndexed(s, ensureIvfPqIndex(s, d), queryVec(s, d, 0L),
        topK = 10, probes = IVFPQ_PROBES, excludeVecId = 0L))
  )

  /** The oracle unrolls the SAME training in SQL: quantization, hash-order
    * init, `ITERS` assignment/update rounds (floor-division averages via the
    * portable (s - nonneg-mod) / n formula), final assignment, summaries.
    * [[kmeansCtesSql]] is the shared CTE prefix (through `fin` =
    * (vec_id, cid, dist)) so q66's oracle replays the identical training.
    */
  private def kmeansCtesSql: String =
    kmeansCtesSqlFor("", "embedding::DOUBLE[]", DIM)

  /** The kmeans CTE chain with every CTE name prefixed by `pfx` and the
    * source vector expression parameterized — `fin` becomes `${pfx}fin` =
    * (vec_id, cid, dist). q54 uses the unprefixed whole-vector form; q69
    * instantiates one prefixed chain per PQ subspace slice. A non-empty
    * `trainWhereSql` restricts Lloyd init + iterations to the
    * deterministic hash-sample (the Spark side's `sampleFraction` twin);
    * the final assignment always covers the full corpus.
    */
  private[operators] def kmeansCtesSqlFor(pfx: String, vecSql: String,
                                          dim: Int,
                                          trainWhereSql: String = "",
                                          kSql: String = K.toString): String = {
    val iterCtes = (1 to ITERS).map { i =>
      val prev = if (i == 1) s"${pfx}c0" else s"${pfx}c${i - 1}"
      // assignment against prev centroids, then per-(cid, dim) sums over
      // 1-based positions, floor-div average, keep-previous for empty cids
      s"""${pfx}a$i AS (SELECT vec_id, qv, cid, dist FROM (
         |  SELECT e.vec_id, e.qv, c.cid,
         |         CAST(list_aggregate(list_transform(e.qv, (x, i) -> (x - c.cv[i]) * (x - c.cv[i])), 'sum') AS BIGINT) AS dist,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |           CAST(list_aggregate(list_transform(e.qv, (x, i) -> (x - c.cv[i]) * (x - c.cv[i])), 'sum') AS BIGINT), c.cid) AS rn
         |  FROM ${pfx}t e CROSS JOIN $prev c) WHERE rn = 1),
         |${pfx}u$i AS (SELECT cid, p, CAST(SUM(qv[p]) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
         |        FROM ${pfx}a$i, unnest(range(1, ${dim + 1})) AS up(p) GROUP BY cid, p),
         |${pfx}n$i AS (SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY p) AS cv FROM ${pfx}u$i GROUP BY cid),
         |${pfx}c$i AS (SELECT p.cid, COALESCE(c.cv, p.cv) AS cv FROM $prev p LEFT JOIN ${pfx}n$i c USING (cid))"""
        .stripMargin
    }.mkString(",\n")
    s"""${pfx}e AS (SELECT vec_id,
       |        list_transform($vecSql, x ->
       |          CAST(FLOOR(x * $QSCALE + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS qv
       |      FROM embeddings),
       |${pfx}t AS (SELECT * FROM ${pfx}e $trainWhereSql),
       |${pfx}c0 AS (SELECT cid, cv FROM (
       |       SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS cid, qv AS cv
       |       FROM (SELECT vec_id, qv, ${Sketches.phash60Sql("vec_id")} AS h FROM ${pfx}t))
       |       WHERE cid < ($kSql)),
       |$iterCtes,
       |${pfx}fin AS (SELECT vec_id, cid, dist FROM (
       |  SELECT e.vec_id, c.cid,
       |         CAST(list_aggregate(list_transform(e.qv, (x, i) -> (x - c.cv[i]) * (x - c.cv[i])), 'sum') AS BIGINT) AS dist,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |           CAST(list_aggregate(list_transform(e.qv, (x, i) -> (x - c.cv[i]) * (x - c.cv[i])), 'sum') AS BIGINT), c.cid) AS rn
       |  FROM ${pfx}e e CROSS JOIN ${pfx}c$ITERS c) WHERE rn = 1)""".stripMargin
  }

  private def kmeansOracleSql: String =
    s"""WITH $kmeansCtesSql
       |SELECT f.cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |       CAST(SUM(f.vec_id) AS BIGINT) AS sum_vec_ids,
       |       CAST(SUM(f.dist) AS BIGINT) AS wcss,
       |       CAST(MIN(cs.cent_sum) AS BIGINT) AS cent_sum
       |FROM fin f JOIN (SELECT cid, CAST(list_aggregate(cv, 'sum') AS BIGINT) AS cent_sum FROM c$ITERS) cs
       |  ON f.cid = cs.cid
       |GROUP BY f.cid
       |ORDER BY f.cid""".stripMargin

  /** q66's training-sample fraction: Lloyd on a quarter of the corpus,
    * full-corpus final assignment (see [[semDedup]]).
    */
  private val SEMDEDUP_SAMPLE = 0.25

  /** q66 twin: the kmeans CTEs WITH the q66 sample filter on the training
    * set, then the same within-cluster
    * drop-if-a-greater-(dist, vec_id)-near-dup-exists decision with q40's
    * exact cosine formula.
    */
  /** q66's corpus-derived seed count, as SQL: mirrors semDedup's
    * `max(1, ceil(n / targetClusterSize))` over the FULL corpus (the
    * sample filter applies to training rows, not to k). CAST to DOUBLE
    * before dividing — a bare `/ 64.0` would be DuckDB DECIMAL math.
    */
  private def semDedupKSql: String =
    s"(SELECT GREATEST(1, CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / " +
      s"$SEMDEDUP_TARGET_CLUSTER) AS BIGINT)) FROM embeddings)"

  private def semDedupOracleSql: String =
    s"""WITH ${kmeansCtesSqlFor("", "embedding::DOUBLE[]", DIM,
           sampleWhereSql(SEMDEDUP_SAMPLE), semDedupKSql)},
       |ed AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |j AS (SELECT f.vec_id, f.cid, f.dist, ed.emb
       |      FROM fin f JOIN ed ON f.vec_id = ed.vec_id),
       |drops AS (SELECT DISTINCT l.vec_id FROM j l JOIN j r
       |  ON l.cid = r.cid
       | AND (r.dist > l.dist OR (r.dist = l.dist AND r.vec_id > l.vec_id))
       | AND CAST(FLOOR(list_dot_product(l.emb, r.emb) /
       |       (sqrt(list_dot_product(l.emb, l.emb)) * sqrt(list_dot_product(r.emb, r.emb)))
       |       * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) >= $SEMDEDUP_T)
       |SELECT j.vec_id, j.cid, j.dist,
       |       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM j LEFT JOIN drops d ON j.vec_id = d.vec_id
       |ORDER BY j.vec_id""".stripMargin

  /** q69 twin: one prefixed kmeans CTE chain per subspace slice, joined on
    * vec_id. The slice expression is DuckDB's 1-based inclusive list slice
    * of the same DOUBLE[] cast the whole-vector chain quantizes.
    */
  private def pqOracleSql: String = {
    val sub = DIM / PQ_M
    val chains = (0 until PQ_M).map { j =>
      kmeansCtesSqlFor(s"s$j", s"(embedding::DOUBLE[])[${j * sub + 1}:${(j + 1) * sub}]", sub)
    }.mkString(",\n")
    val codes = (0 until PQ_M).map(j => s"s${j}fin.cid AS code$j").mkString(", ")
    val qerr = (0 until PQ_M).map(j => s"s${j}fin.dist").mkString(" + ")
    val joins = (1 until PQ_M).map(j => s"JOIN s${j}fin USING (vec_id)").mkString(" ")
    s"""WITH $chains
       |SELECT vec_id, $codes, CAST($qerr AS BIGINT) AS qerr
       |FROM s0fin $joins
       |ORDER BY vec_id""".stripMargin
  }

  /** q70 twin: the q69 chains, plus per-subspace ADC tables computed from
    * the final centroids against the quantized query slice, summed via
    * equi-joins on the code.
    */
  private def pqSearchOracleSql: String = {
    val sub = DIM / PQ_M
    val chains = (0 until PQ_M).map { j =>
      kmeansCtesSqlFor(s"s$j", s"(embedding::DOUBLE[])[${j * sub + 1}:${(j + 1) * sub}]", sub)
    }.mkString(",\n")
    val tables = (0 until PQ_M).map { j =>
      s"""t$j AS (SELECT c.cid,
         |  CAST(list_aggregate(list_transform(c.cv, (x, i) -> (x - q.qv[i]) * (x - q.qv[i])), 'sum') AS BIGINT) AS d
         |  FROM s${j}c$ITERS c, (SELECT qv FROM s${j}e WHERE vec_id = 0) q)"""
        .stripMargin
    }.mkString(",\n")
    val joins = ((1 until PQ_M).map(j => s"JOIN s${j}fin f$j USING (vec_id)") ++
      (0 until PQ_M).map(j => s"JOIN t$j ON t$j.cid = f$j.cid")).mkString(" ")
    val dsum = (0 until PQ_M).map(j => s"t$j.d").mkString(" + ")
    s"""WITH $chains,
       |$tables
       |SELECT vec_id, CAST($dsum AS BIGINT) AS adc_dist
       |FROM s0fin f0 $joins
       |WHERE vec_id <> 0
       |ORDER BY adc_dist, vec_id
       |LIMIT 10""".stripMargin
  }

  /** q72 twin: the q70 chains PLUS the whole-vector coarse chain (prefix
    * `g`) — the probe list is the `IVFPQ_PROBES` final coarse centroids
    * nearest the quantized query (tie-break cid, matching the driver-side
    * `.sorted.take(probes)`), and the ADC ranking is restricted to vectors
    * whose coarse cell is probed.
    */
  private def ivfPqSearchOracleSql: String = {
    val sub = DIM / PQ_M
    val chains = (0 until PQ_M).map { j =>
      kmeansCtesSqlFor(s"s$j", s"(embedding::DOUBLE[])[${j * sub + 1}:${(j + 1) * sub}]", sub)
    }.mkString(",\n")
    val coarseChain = kmeansCtesSqlFor("g", "embedding::DOUBLE[]", DIM)
    val tables = (0 until PQ_M).map { j =>
      s"""t$j AS (SELECT c.cid,
         |  CAST(list_aggregate(list_transform(c.cv, (x, i) -> (x - q.qv[i]) * (x - q.qv[i])), 'sum') AS BIGINT) AS d
         |  FROM s${j}c$ITERS c, (SELECT qv FROM s${j}e WHERE vec_id = 0) q)"""
        .stripMargin
    }.mkString(",\n")
    val joins = ((1 until PQ_M).map(j => s"JOIN s${j}fin f$j USING (vec_id)") ++
      (0 until PQ_M).map(j => s"JOIN t$j ON t$j.cid = f$j.cid")).mkString(" ")
    val dsum = (0 until PQ_M).map(j => s"t$j.d").mkString(" + ")
    s"""WITH $coarseChain,
       |$chains,
       |$tables,
       |probe AS (SELECT cid FROM (
       |  SELECT c.cid,
       |    CAST(list_aggregate(list_transform(c.cv, (x, i) -> (x - q.qv[i]) * (x - q.qv[i])), 'sum') AS BIGINT) AS d
       |  FROM gc$ITERS c, (SELECT qv FROM ge WHERE vec_id = 0) q)
       |  ORDER BY d, cid LIMIT $IVFPQ_PROBES)
       |SELECT vec_id, CAST($dsum AS BIGINT) AS adc_dist
       |FROM s0fin f0 $joins JOIN gfin g USING (vec_id)
       |WHERE vec_id <> 0 AND g.cid IN (SELECT cid FROM probe)
       |ORDER BY adc_dist, vec_id
       |LIMIT 10""".stripMargin
  }

  // q99 twin: identical quantization, hash split, exact-integer class
  // sums, and the same two-exact-int-division score; 1-based list index
  // mirrors Spark's 0-based posexplode (the join key is internal to each
  // engine).
  private def linearProbeOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |        list_transform(embedding::DOUBLE[],
       |          x -> CAST(FLOOR(x * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS q,
       |        ${Sketches.phash60Sql("CAST(vec_id AS VARCHAR)")} % 5 AS h
       |      FROM embeddings),
       |tr AS (SELECT * FROM e WHERE h <> 0),
       |ev AS (SELECT * FROM e WHERE h = 0),
       |tq AS (SELECT label, i AS pos, CAST(SUM(q[i]) AS BIGINT) AS s
       |       FROM tr, unnest(range(1, len(q) + 1)) AS u(i) GROUP BY 1, 2),
       |cn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY 1),
       |ss AS (SELECT label, CAST(SUM(s * s) AS BIGINT) AS ss FROM tq GROUP BY 1),
       |evx AS (SELECT vec_id, label AS true_label, i AS pos, q[i] AS qv
       |        FROM ev, unnest(range(1, len(q) + 1)) AS u(i)),
       |dots AS (SELECT evx.vec_id, evx.true_label, tq.label AS cand,
       |           CAST(SUM(evx.qv * tq.s) AS BIGINT) AS dot
       |         FROM evx JOIN tq ON evx.pos = tq.pos GROUP BY 1, 2, 3),
       |sc AS (SELECT d.vec_id, d.true_label, d.cand,
       |         CAST(d.dot AS DOUBLE) / cn.n
       |           - CAST(ss.ss AS DOUBLE) / (CAST(2 AS DOUBLE) * cn.n * cn.n) AS sc
       |       FROM dots d JOIN cn ON d.cand = cn.label
       |                   JOIN ss ON d.cand = ss.label),
       |pred AS (SELECT true_label AS label, cand AS pred,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sc DESC, cand) AS rn
       |         FROM sc)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_eval,
       |       CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       CAST(FLOOR(CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) * 1000 AS DOUBLE)
       |            / COUNT(*) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS acc_x1e3
       |FROM pred WHERE rn = 1
       |GROUP BY label
       |ORDER BY label""".stripMargin

  // q102 twin: identical quantization, integer mean, and power steps —
  // one (d, w, vm, v) CTE quartet per iteration; `//` truncates toward
  // zero exactly like Spark DIV and the driver-side Scala `/`, so the
  // renormalized direction and every projection reproduce bit for bit.
  private def pc1OracleSql(iters: Int): String = {
    val head =
      s"""WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
         |        x -> CAST(FLOOR(x * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS q
         |      FROM embeddings),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
         |ex AS (SELECT vec_id, i AS pos, q[i] AS qv
         |       FROM e, unnest(range(1, len(q) + 1)) AS u(i)),
         |mn AS (SELECT pos, CAST(SUM(qv) AS BIGINT) // nn.n AS m
         |       FROM ex CROSS JOIN nn GROUP BY pos, nn.n),
         |cx AS (SELECT ex.vec_id, ex.pos, ex.qv - mn.m AS c
         |       FROM ex JOIN mn ON ex.pos = mn.pos),
         |v0 AS (SELECT DISTINCT pos, CAST(10000 AS BIGINT) AS v FROM ex)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""d$k AS (SELECT cx.vec_id, CAST(SUM(cx.c * v${k - 1}.v) AS BIGINT) // 10000 AS ds
         |        FROM cx JOIN v${k - 1} ON cx.pos = v${k - 1}.pos
         |        GROUP BY cx.vec_id),
         |w$k AS (SELECT cx.pos, CAST(SUM(cx.c * d$k.ds) AS BIGINT) AS w
         |        FROM cx JOIN d$k ON cx.vec_id = d$k.vec_id
         |        GROUP BY cx.pos),
         |vm$k AS (SELECT GREATEST(CAST(1 AS BIGINT),
         |           CAST(MAX(ABS(w)) AS BIGINT) // 10000) AS dd FROM w$k),
         |v$k AS (SELECT pos, w // vm$k.dd AS v FROM w$k CROSS JOIN vm$k)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + its +
      s"""
         |SELECT cx.vec_id, CAST(SUM(cx.c * vf.v) AS BIGINT) // 10000 AS proj_x1e4
         |FROM cx JOIN v$iters vf ON cx.pos = vf.pos
         |GROUP BY cx.vec_id
         |ORDER BY vec_id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q102_pc1_projection" -> pc1OracleSql(3),
    "q99_linear_probe" -> linearProbeOracleSql,
    "q54_kmeans" -> kmeansOracleSql,
    "q66_semdedup" -> semDedupOracleSql,
    "q69_pq_train" -> pqOracleSql,
    "q70_pq_search" -> pqSearchOracleSql,
    "q72_ivfpq_search" -> ivfPqSearchOracleSql
  )
}
