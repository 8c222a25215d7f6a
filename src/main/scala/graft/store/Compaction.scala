package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe directory swap of the flat batch-dir stores (the
  * near-dup and containment indexes, the crawl archive, the chunk and
  * centroid indexes, and the keyed-audit key, pending-miss, route and
  * history stores): merge the `batch=<id>` dirs below a bound `upTo` into
  * ONE `batch=0` dir. The merged relation may have its own schema: a
  * rolled history store's `batch=0` holds epoch rows, and its readers
  * tell it apart by [[compacted]].
  *
  * [[compact]] writes the merged relation to `root/.compact-tmp`, then
  * publishes the commit marker `root/.compact-commit` (body `"<upTo>\n"`)
  * atomically through [[Manifests.publish]] — the pivot — and finishes by
  * calling [[recover]]: the happy path IS the recovery path. Before the
  * marker exists the originals are authoritative and recovery deletes a
  * leftover tmp; once it exists the tmp is, and recovery deletes the
  * merged-in originals, renames the tmp to `batch=0`, writes the
  * permanent `_COMPACTED` record and deletes the marker. Every step is
  * idempotent, so a crash anywhere leaves the original tree or the merged
  * one after the next [[recover]], which every reader runs first.
  * `CompactionSpec` crashes every filesystem call of a swap.
  */
object Compaction {

  private val TMP = ".compact-tmp"
  private val MARKER = ".compact-commit"
  private val RECORD = "_COMPACTED"

  /** Merge batches `ids` (all below `upTo`) of the store at `root`:
    * `write(dirs, tmp)` writes the merged relation of the batch dirs
    * `dirs` to the tmp dir `tmp`. Run [[recover]] first. MUST only be
    * called with `upTo` <= the store's committed frontier: no batch below
    * it may be written again, since recovery deletes every one.
    */
  def compact(conf: Configuration, root: String, ids: Seq[Long], upTo: Long)
             (write: (Seq[String], String) => Unit): Unit = {
    require(ids.nonEmpty && ids.forall(_ < upTo),
      s"compaction of $root: batches ${ids.mkString(",")} not all below $upTo")
    val base = new Path(root)
    write(ids.map(b => s"$root/batch=$b"), new Path(base, TMP).toString)
    Manifests.publish(conf, new Path(base, MARKER),
      s"$upTo\n".getBytes("UTF-8"))
    recover(base.getFileSystem(conf), root)
  }

  /** Finish or roll back a swap in flight at `root` (a no-op, two
    * `exists` checks, when there is none). A marker records a committed
    * swap permanently in `_COMPACTED`, so per-batch consumers refuse the
    * tree ([[compacted]]) whichever path finished it.
    */
  def recover(fs: FileSystem, root: String): Unit = {
    val base = new Path(root)
    val tmp = new Path(base, TMP)
    val marker = new Path(base, MARKER)
    if (fs.exists(marker)) {
      val upTo = readBound(fs, marker)
      // no tmp means the rename already happened and batch=0 IS the
      // merged output; otherwise a batch=0 is a merged-in original
      val published = !fs.exists(tmp)
      Manifests.batches(fs, root)
        .filter(k => k < upTo && (k > 0 || !published))
        .foreach(k => fs.delete(new Path(base, s"batch=$k"), true))
      if (!published)
        require(fs.rename(tmp, new Path(base, "batch=0")),
          s"could not publish $tmp under $base")
      val out = fs.create(new Path(base, RECORD), true)
      try out.write(s"$upTo\n".getBytes("UTF-8")) finally out.close()
      fs.delete(marker, false)
    } else if (fs.exists(tmp)) {
      // died before the commit: the originals are authoritative
      fs.delete(tmp, true)
      fs.delete(new Path(base, s"$MARKER.tmp"), false)
    }
  }

  /** True while a swap at `root` is in flight or crashed (not recovered). */
  def inFlight(fs: FileSystem, root: String): Boolean =
    Seq(TMP, MARKER).exists(n => fs.exists(new Path(root, n)))

  /** True once a swap at `root` committed: batch identity below its bound
    * is gone.
    */
  def compacted(fs: FileSystem, root: String): Boolean =
    fs.exists(new Path(root, RECORD))

  private def readBound(fs: FileSystem, marker: Path): Long = {
    val in = fs.open(marker)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"compaction marker $marker holds '${text.trim}', not a batch bound" +
        " — it was not written by a compaction; restore the store"))
  }
}
