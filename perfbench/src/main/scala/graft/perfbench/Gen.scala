package graft.perfbench

import scala.collection.mutable
import scala.util.Random

/** Zipf-skewed keys over `n` codes: rank r is drawn with weight 1/r^s, and
  * ranks map to codes through a seeded permutation, so hot keys are spread
  * over the key space rather than clustered at its low end. */
final class Zipf(n: Int, s: Double, rng: Random) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var run = 0.0
    w.map { x => run += x; run / total }
  }
  private val codeOf: Array[Long] = rng.shuffle((1L to n.toLong).toVector).toArray

  def next(): Long = {
    val u = rng.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    codeOf(lo)
  }
}

/** Seeded inputs. Everything the program receives is made here from the
  * workload seed; the same seed gives the same inputs. */
object Gen {

  private val Names = Vector("Deren", "Shalom", "Augustus", "Mira", "Tovin", "Ysolde",
    "Kael", "Brannoc", "Ilse", "Orrin", "Vesna", "Quill")
  private val Classes = Vector("S", "A", "B", "C")
  private val Librams = Vector("Fraud", "Sloth", "War", "Greed", "Envy", "Pride", "Gluttony")
  private val Tendencies = Vector("Fury", "Reticle", "Wrath", "Gloom", "Mercy", "Vigil")

  final case class Row(code: Long, name: String, clazz: String, libram: Option[String],
                       tendency: Option[String], createdUs: Long, updatedUs: Long)

  def row(rng: Random, code: Long, createdUs: Long, updatedUs: Long): Row =
    Row(code, Names(rng.nextInt(Names.size)) + rng.nextInt(100), Classes(rng.nextInt(Classes.size)),
      if (rng.nextInt(10) == 0) None else Some(Librams(rng.nextInt(Librams.size))),
      if (rng.nextInt(10) == 0) None else Some(Tendencies(rng.nextInt(Tendencies.size))),
      createdUs, updatedUs)

  private def q(s: String) = "\"" + s + "\""
  private def rowJson(r: Row): String =
    s"""{"code":${r.code},"name":${q(r.name)},"class":${q(r.clazz)},""" +
      s""""libram":${r.libram.map(q).getOrElse("null")},"tendency":${r.tendency.map(q).getOrElse("null")},""" +
      s""""created_at":${r.createdUs},"updated_at":${r.updatedUs}}"""

  /** A Debezium envelope in the shape the engine's change log carries. */
  def envelope(op: String, before: Option[Row], after: Option[Row], lsn: Long, tsMs: Long): String =
    s"""{"payload":{"before":${before.map(rowJson).getOrElse("null")},""" +
      s""""after":${after.map(rowJson).getOrElse("null")},"source":{"version":"2.7.0.Final",""" +
      s""""connector":"postgresql","name":"cdc-cascade-postgres","ts_ms":$tsMs,"snapshot":"false",""" +
      s""""db":"cdc-cascade-db","sequence":null,"ts_us":${tsMs * 1000},"ts_ns":${tsMs * 1000000},""" +
      s""""schema":"public","table":"sinners","txId":${lsn - 99100},"lsn":$lsn,"xmin":null},""" +
      s""""transaction":null,"op":"$op","ts_ms":$tsMs,"ts_us":${tsMs * 1000},"ts_ns":${tsMs * 1000000}}}"""

  /** A seeded change stream over Zipf keys. An absent key is created (`r`
    * for a snapshot read, else `c`); a live key is updated or deleted. A
    * small share of lines is malformed JSON, which the consumer drops.
    * Each row image carries its generation time in `updated_at` (epoch us).
    */
  final class ChangeStream(seed: Long, keys: Int, skew: Double, snapshotShare: Double,
                           deleteShare: Double, malformedShare: Double) {
    private val rng = new Random(seed)
    private val zipf = new Zipf(keys, skew, new Random(seed * 31 + 7))
    private val live = mutable.HashMap[Long, Row]()
    private var lsn = 100000L

    /** Next line, with its key and op (None and "bad" for a malformed line). */
    def next(nowUs: Long): (Option[Long], String, String) = {
      if (rng.nextDouble() < malformedShare) {
        val bad = if (rng.nextBoolean()) s"""{"payload":{"before":null,"after":{"code":${rng.nextInt(keys)}"""
                  else "not-json " + rng.nextInt(1000000)
        return (None, "bad", bad)
      }
      val code = zipf.next()
      lsn += 1
      val (op, before, after) = live.get(code) match {
        case None =>
          (if (rng.nextDouble() < snapshotShare) "r" else "c", None, Some(row(rng, code, nowUs, nowUs)))
        case Some(old) if rng.nextDouble() < deleteShare => ("d", Some(old), None)
        case Some(old) => ("u", Some(old), Some(row(rng, code, old.createdUs, nowUs)))
      }
      after.fold(live.remove(code))(r => live.put(code, r))
      (Some(code), op, envelope(op, before, after, lsn, nowUs / 1000))
    }
  }

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  private val Vocab = Vector("scan", "column", "window", "order", "sort", "part", "agg", "value",
    "line", "key", "join", "merge", "group", "query", "a", "vector", "hash", "slow", "stream",
    "filter", "fast", "the", "batch", "spark", "table", "small", "data", "big", "customer", "row")
  private val Langs = Vector("en" -> 0.39, "fr" -> 0.16, "es" -> 0.16, "zh" -> 0.15, "de" -> 0.14)

  /** A bag-of-words corpus shaped like the repository's document fixture:
    * 8–90 words over a 30-word vocabulary, five languages, twenty sources,
    * and near-duplicates (an original text with " dup" appended or its
    * last word dropped) for the dedup stages to find. The seed picks the
    * texts; the shape is the same for every seed — the language counts,
    * and one near-duplicate of an original every 16th document — so the
    * work the fold does varies little from seed to seed. */
  def documents(seed: Long, n: Int): Seq[Doc] = {
    val rng = new Random(seed)
    val langs = rng.shuffle(Langs.flatMap { case (l, p) => Seq.fill(math.round(p * n).toInt)(l) }
      .padTo(n, "en").take(n))
    val originals = mutable.ArrayBuffer[String]()
    (0 until n).map { i =>
      val text =
        if (i % 16 == 15) {
          val base = originals(rng.nextInt(originals.size))
          if (i % 32 == 15) base + " dup" else base.split(' ').dropRight(1).mkString(" ")
        } else {
          val t = Seq.fill(8 + rng.nextInt(83))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
          originals += t
          t
        }
      Doc(i.toLong, text, langs(i), s"src${i % 20}")
    }
  }
}
