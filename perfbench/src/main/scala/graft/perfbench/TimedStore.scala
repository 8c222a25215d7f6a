package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.store.KeyValueStore

/** One store call as seen from outside: kind (`get`/`put`/`del`), key,
  * start and end ([[Clock]] ns), and whether a `get` hit. */
final case class StoreOp(kind: String, key: String, start: Long, end: Long, hit: Boolean)

/** Wraps the `KeyValueStore` the benchmark hands to the program and logs
  * every call. The log is the store layer's counters and latencies, and it
  * is how the benchmark sees when an invalidation or upsert reached the
  * store. */
final class TimedStore(inner: KeyValueStore) extends KeyValueStore {
  private val log = new ConcurrentLinkedQueue[StoreOp]()
  private val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def timed[T](kind: String, key: String)(f: => T)(hit: T => Boolean): T = {
    val t0 = Clock.now()
    val r = f
    log.add(StoreOp(kind, key, t0, Clock.now(), hit(r)))
    r
  }

  override def get(key: String): Option[String] = timed("get", key)(inner.get(key))(_.isDefined)
  override def put(key: String, value: String): Unit = {
    written.add(key)
    timed("put", key)(inner.put(key, value))(_ => false)
  }
  override def del(key: String): Unit = timed("del", key)(inner.del(key))(_ => false)
  override def size: Int = inner.size

  def ops: Seq[StoreOp] = log.asScala.toSeq

  /** Every key ever written that still holds a value, read without logging. */
  def contents: Map[String, String] = written.asScala.toSeq.flatMap(k => inner.get(k).map(k -> _)).toMap
  def close(): Unit = inner match { case c: AutoCloseable => c.close(); case _ => }

  /** `store.*` metrics over the calls made from `fromNs` on. */
  def metrics(fromNs: Long): Map[String, Double] = {
    val ops = this.ops.filter(_.start >= fromNs)
    def us(kind: String) = ops.filter(_.kind == kind).map(o => (o.end - o.start) / 1e3)
    val gets = ops.filter(_.kind == "get")
    Map(
      "store.get_calls" -> gets.size.toDouble,
      "store.get_hit_ratio" -> (if (gets.isEmpty) Double.NaN else gets.count(_.hit).toDouble / gets.size),
      "store.get_us_p50" -> Stats.median(us("get")),
      "store.put_calls" -> ops.count(_.kind == "put").toDouble,
      "store.put_us_p50" -> Stats.median(us("put")),
      "store.del_calls" -> ops.count(_.kind == "del").toDouble,
      "store.del_us_p50" -> Stats.median(us("del")),
      "store.keys_end" -> inner.size.toDouble)
  }
}
