package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Skew mitigation for joins (SURVEY.md "salting for skew, AQE for runtime
  * re-plan"). AQE's skew-join split handles most cases at runtime; explicit
  * salting is the static fallback when one key dominates so heavily that
  * even split partitions overwhelm a task, or when AQE is unavailable
  * (streaming joins).
  */
object Skew {

  /** Salted inner equi-join: the skewed (big) side scatters each row into
    * one of `salt` sub-keys; the small side replicates `salt` ways. Same
    * result set as a plain join, but the hot key's rows spread across
    * `salt` reducers instead of one.
    *
    * The salt is derived from a per-row id, not randomness — replays and
    * retries stay deterministic-in-distribution without violating Spark's
    * task-retry assumptions.
    *
    * The join carries a merge hint: salting only matters when the small
    * side is too big to broadcast (otherwise broadcast and skew is moot),
    * so the rewrite pins the shuffled-join path and the resulting exchange
    * partitions on (key, salt) — the scatter IS the point.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
                 smallKey: String, salt: Int): DataFrame = {
    val salted = big.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salt.toLong)).cast("int"))
    val expanded = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1)))).hint("merge")
    salted
      .join(expanded,
        salted(bigKey) === expanded(smallKey) && salted("_salt") === expanded("_salt"))
      .drop("_salt")
  }

  /** Diagnostic: per-key row counts of the heaviest keys — what you run
    * FIRST to decide whether salting is warranted.
    */
  def topKeys(df: DataFrame, key: String, k: Int = 20): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key))
      .limit(k)

  /** q62: the salted lineitem⋈orders join rolled up to a deterministic
    * per-priority summary. Salting is semantics-preserving — it changes the
    * shuffle layout (hot key scattered over `salt` reducers), never the
    * result — so the oracle is the PLAIN join. `l_quantity` is
    * integer-valued in the fixtures; casting to BIGINT keeps the sum exact
    * across engines.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q62_salted_join" -> ((s, d) =>
      saltedJoin(Tables.lineitem(s, d), Tables.orders(s, d),
          "l_orderkey", "o_orderkey", salt = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"))
        .orderBy("o_orderpriority"))
  )

  val oracleSql: Map[String, String] = Map(
    "q62_salted_join" ->
      """SELECT o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
