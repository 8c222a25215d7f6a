package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Crash safety of the shared directory swap, proved once for every
  * batch-dir store that compacts through it. [[ManifestsSpec]]'s
  * fault-injecting filesystems fail the k-th mutating call of a
  * compaction, for every k up to the call count of a clean one: the
  * merged relation's write, the marker's publish, and the deletes,
  * rename and record of the recovery that finishes it. Fourteen batch
  * dirs hold additive `<key> <count>` rows, and batches 0–11 merge into
  * a summed `batch=0` (so the marker's bound, 12, has two digits and a
  * torn one would read back as 1). After each crash [[Compaction.recover]]
  * must leave exactly the original tree or exactly the merged one, file
  * names included, and re-running the compaction must converge on the
  * merged tree. No Spark.
  */
class CompactionSpec extends AnyFunSuite {
  import ManifestsSpec._

  private val conf = faultyConf()

  private val Batches = 14L
  private val UpTo = 12L

  private def rowsOf(b: Long): Map[String, Long] =
    Map(s"k${b % 3}" -> 1L, s"b$b" -> (b + 1))

  private def writeRows(fs: FileSystem, dir: String,
                        rows: Map[String, Long]): Unit = {
    fs.mkdirs(new Path(dir))
    val out = fs.create(new Path(dir, "part"), true)
    try out.write(rows.toSeq.sorted.map { case (k, n) => s"$k $n\n" }
      .mkString.getBytes("UTF-8"))
    finally out.close()
  }

  private def readRows(fs: FileSystem, dir: String): Map[String, Long] = {
    val in = fs.open(new Path(dir, "part"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.split(" ") match { case Array(k, n) => k -> n.toLong })
      .toMap
    finally in.close()
  }

  /** The compactor's shape: recover, then swap the batches below `UpTo`
    * into their summed rows when there are two or more of them.
    */
  private def compactStore(fs: FileSystem, root: String): Unit = {
    Compaction.recover(fs, root)
    val ids = Manifests.batches(fs, root).filter(_ < UpTo)
    if (ids.size > 1)
      Compaction.compact(conf, root, ids, UpTo) { (dirs, tmp) =>
        writeRows(fs, tmp, dirs.map(readRows(fs, _)).flatten
          .groupMapReduce(_._1)(_._2)(_ + _))
      }
  }

  /** Every batch's rows, as a reader sees them after recovery. */
  private def state(fs: FileSystem, root: String): Map[Long, Map[String, Long]] = {
    Compaction.recover(fs, root)
    Manifests.batches(fs, root).map(b => b -> readRows(fs, s"$root/batch=$b"))
      .toMap
  }

  /** Every file under `root` (sidecars included), relative to it. */
  private def names(root: String): Set[String] = {
    val base = Paths.get(new Path(root).toUri.getPath)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(base.relativize(_).toString).toSet
    finally walk.close()
  }

  private val original: Map[Long, Map[String, Long]] =
    (0L until Batches).map(b => b -> rowsOf(b)).toMap
  private val merged: Map[Long, Map[String, Long]] =
    original.filter(_._1 >= UpTo) +
      (0L -> (0L until UpTo).flatMap(rowsOf).groupMapReduce(_._1)(_._2)(_ + _))

  private def seeded(scheme: String): (FileSystem, String) = {
    val root = tmpRoot("graft-compaction", scheme)
    val fs = new Path(root).getFileSystem(conf)
    original.foreach { case (b, rows) => writeRows(fs, s"$root/batch=$b", rows) }
    (fs, root)
  }

  for (scheme <- Seq("file", "crash"))
    test(s"$scheme://: a crash at any filesystem call of a swap recovers to " +
      "the original or the merged tree, and a re-run converges") {
      val (cleanFs, clean) = seeded(scheme)
      val before = names(clean)
      compactStore(cleanFs, clean)
      assert(state(cleanFs, clean) === merged)
      assert(Compaction.compacted(cleanFs, clean) &&
        !Compaction.inFlight(cleanFs, clean))
      val after = names(clean)

      val crashedAt = scala.collection.mutable.Set[String]()
      var k = 1
      var done = false
      while (!done) {
        val (fs, root) = seeded(scheme)
        calls = Vector.empty; crashAt = k
        val crashed =
          try { compactStore(fs, root); false }
          catch { case _: Crash => true }
          finally crashAt = -1
        val where = s"crash at ${calls.lift(k - 1)} (call $k)"
        val got = state(fs, root)
        assert(!Compaction.inFlight(fs, root), s"$where: recovery finished")
        if (got == original) {
          assert(crashed, "an uncrashed swap commits")
          assert(names(root) === before, s"$where: rollback left files")
          assert(!Compaction.compacted(fs, root))
        } else {
          assert(got === merged, s"$where: a third state")
          assert(names(root) === after, s"$where: recovery's files differ")
        }
        if (crashed) {
          crashedAt += calls(k - 1)
          compactStore(fs, root)
          assert(state(fs, root) === merged, s"$where: the re-run converges")
          assert(names(root) === after)
          k += 1
        } else done = true
      }
      val want = Set("mkdirs", "create", "write", "close", "delete", "rename") ++
        (if (scheme == "crash") Set("renamed") else Set.empty)
      assert(crashedAt.toSet === want)
    }

  test("an unparseable marker fails recovery with a message naming it") {
    val (fs, root) = seeded("file")
    val marker = s"$root/.compact-commit"
    Files.writeString(Paths.get(marker), "1x\n")
    val ex = intercept[IllegalArgumentException](Compaction.recover(fs, root))
    assert(ex.getMessage.contains(marker), ex.getMessage)
  }
}
