package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path,
  UnsupportedFileSystemException}

/** The one commit protocol of the incremental stores (SCD2, release,
  * cluster labels): a batch writes its data under `root/batch=<id>/`,
  * then publishes `batch=<id>/_MANIFEST`, and only a published manifest
  * makes the batch visible. [[publish]] is also the commit point of the
  * directory swap ([[Compaction]]).
  *
  * The manifest text is an optional format-version header line, one
  * `<tag> <key> <value>` line per entry, and an `END <n>` terminator. A
  * torn write can therefore neither surface as a committed manifest (the
  * publish is atomic) nor parse as a silently shorter one (the terminator
  * and its count are checked). Each store keeps only its own mapping
  * between typed entries and lines, and its [[Format]].
  */
object Manifests {

  private val NAME = "_MANIFEST"

  /** A store's manifest layout. `state` names the store in messages
    * ("release state" gives "rebuild the release state"); `legacy` runs
    * on the raw lines before the structural checks, so a store that
    * recognises a predecessor layout fails it with its own migration
    * message instead of a misleading "truncated".
    */
  final case class Format(state: String, header: Option[String],
                          tags: Set[String],
                          legacy: (String, Seq[String]) => Unit)

  final case class Entry(tag: String, key: String, value: String)

  /** Publish `bytes` at `path` ATOMICALLY, including over an existing
    * file. The overwrite case is load-bearing: release compaction and the
    * label residue repair REWRITE the frontier manifest with a different
    * body, and a delete-then-rename window there leaves no frontier
    * manifest at all — [[latest]] would silently resolve the prior batch
    * (its data dirs still exist until prune), and the next fold would
    * build on regressed state with no error. The path must hold either
    * the complete old or the complete new body at every instant: on
    * `file://` that is `java.nio.Files.move` with `ATOMIC_MOVE` (the
    * POSIX rename(2) overwrite); elsewhere it is
    * `FileContext.rename(OVERWRITE)`, which HDFS implements as one atomic
    * namenode op. (The generic `AbstractFileSystem` default for OVERWRITE
    * is itself delete-then-rename — verified against hadoop-client 3.4.2.
    * The `file` binding, [[LocalAbstractFs]], overrides only the 2-arg
    * `renameInternal` in its raw layer, as Hadoop's `RawLocalFs` does —
    * which is why the local path goes through nio and not FileContext.)
    */
  def publish(conf: Configuration, path: Path, bytes: Array[Byte]): Unit = {
    val fs = path.getFileSystem(conf)
    val tmp = new Path(path.getParent, s"${path.getName}.tmp")
    fs.mkdirs(path.getParent) // an empty batch writes no data directory
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    // The checksummed local FileSystem writes `.<name>.crc` sidecars, but
    // the moves below go through the RAW filesystem and move only the
    // data file — drop both sidecars first or a post-move read through
    // the checksummed fs fails on the stale crc. (Deleting path's crc
    // BEFORE the swap is safe: a missing sidecar just skips verification.)
    Seq(path, tmp).foreach(f =>
      fs.delete(new Path(f.getParent, s".${f.getName}.crc"), false))
    val qp = fs.makeQualified(path)
    val qtmp = fs.makeQualified(tmp)
    if (qp.toUri.getScheme == "file")
      java.nio.file.Files.move(
        java.nio.file.Paths.get(qtmp.toUri.getPath),
        java.nio.file.Paths.get(qp.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    else
      try
        FileContext.getFileContext(qp.toUri, conf)
          .rename(qtmp, qp, Options.Rename.OVERWRITE)
      catch {
        case _: UnsupportedFileSystemException =>
          // Object-store connectors (s3a, gs, abfs) register a FileSystem
          // but no AbstractFileSystem, so FileContext cannot bind there.
          // Fall back to delete+rename through the FileSystem API — NOT
          // atomic (a crash between the two leaves no frontier manifest
          // and latest resolves the prior batch), on exactly the stores
          // that never offered an atomic rename anyway; HDFS and file://
          // keep the atomic swap.
          fs.delete(qp, false)
          if (!fs.rename(qtmp, qp))
            sys.error(s"manifest publication failed: rename($tmp -> $qp) " +
              "returned false after delete — frontier manifest is missing")
      }
  }

  /** Commit batch `batchId`'s manifest under `root` — called AFTER the
    * batch's data is written, since its presence is what makes the batch
    * readable.
    */
  def write(conf: Configuration, root: String, batchId: Long, fmt: Format,
            entries: Seq[Entry]): Unit = {
    val body = fmt.header.map(_ + "\n").getOrElse("") +
      entries.map(e => s"${e.tag} ${e.key} ${e.value}\n").mkString +
      s"END ${entries.size}\n"
    publish(conf, path(root, batchId), body.getBytes("UTF-8"))
  }

  /** Every `batch=<id>` directory id under `root`, ascending; empty when
    * `root` does not exist.
    */
  def batches(fs: FileSystem, root: String): Seq[Long] = {
    val base = new Path(root)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted
  }

  /** A fresh generation id for a store whose batch ids are `ids`: below
    * both 0 and every id, so it collides with no batch and no earlier
    * generation. A compaction writes its consolidated state there before
    * pivoting to it.
    */
  def freshGeneration(ids: Seq[Long]): Long = (0L +: ids).min - 1L

  /** The batch ids under `root` that hold a published manifest, ascending. */
  def committed(fs: FileSystem, root: String): Seq[Long] =
    batches(fs, root).filter(b => fs.exists(path(root, b)))

  /** The newest COMMITTED manifest strictly below `below` (replay safety:
    * a retried batch never reads its own attempt's write — an uncommitted
    * batch directory has no manifest and is skipped). A MISSING root
    * means "first batch"; any other filesystem failure propagates.
    */
  def latest(conf: Configuration, root: String, below: Long, fmt: Format)
      : Option[(Long, Seq[Entry])] = {
    val base = new Path(root)
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) return None
    require(fs.getFileStatus(base).isDirectory,
      s"${fmt.state} path $root exists but is not a directory")
    committed(fs, root).filter(_ < below).lastOption
      .map(b => (b, read(fs, root, b, fmt)))
  }

  /** Parse batch `batchId`'s manifest, rejecting an unknown header, a
    * missing or disagreeing `END` terminator, and any entry line that is
    * not `<tag> <key> <value>` with one of the format's tags — each with
    * a message naming the file.
    */
  def read(fs: FileSystem, root: String, batchId: Long,
           fmt: Format): Seq[Entry] = {
    val p = path(root, batchId)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    fmt.legacy(p.toString, lines)
    fmt.header.foreach(h => require(lines.headOption.contains(h),
      s"manifest $p has no '$h' header — unknown or future format," +
        s" rebuild the ${fmt.state}"))
    val body = lines.drop(fmt.header.size)
    require(body.nonEmpty && body.last.startsWith("END "),
      s"manifest $p is truncated (no END terminator)")
    require(body.last.stripPrefix("END ").trim.toIntOption
        .contains(body.size - 1),
      s"manifest $p entry count disagrees with its END terminator")
    body.dropRight(1).map { l =>
      l.trim.split(" ") match {
        case Array(tag, k, v) =>
          require(fmt.tags(tag), s"manifest $p has unknown entry tag '$tag'")
          Entry(tag, k, v)
        case _ =>
          throw new IllegalArgumentException(s"manifest $p has a malformed " +
            s"entry line '$l' (want '<tag> <key> <value>')")
      }
    }
  }

  private def path(root: String, batchId: Long): Path =
    new Path(s"$root/batch=$batchId/$NAME")
}
