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
  * torn one would read back as 1). A second input swaps a single batch,
  * batch 0 below bound 1, beside the frontier batch 1: the keyed-audit
  * history rollup's first swap under a rollup-every-2 policy. After each
  * crash [[Compaction.recover]] must leave exactly the original tree or
  * exactly the merged one, file names included, and re-running the
  * compaction must converge on the merged tree. No Spark.
  */
class CompactionSpec extends AnyFunSuite {
  import ManifestsSpec._

  private val conf = faultyConf()

  /** `batches` dirs, of which those below `upTo` swap when there are at
    * least `minBatches` of them.
    */
  private case class Input(batches: Long, upTo: Long, minBatches: Int)
  private val inputs = Seq(Input(14L, 12L, 2), Input(2L, 1L, 1))

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

  /** The compactor's shape: recover, then swap the batches below `upTo`
    * into their summed rows when there are `minBatches` or more of them.
    */
  private def compactStore(fs: FileSystem, root: String, in: Input): Unit = {
    Compaction.recover(fs, root)
    val ids = Manifests.batches(fs, root).filter(_ < in.upTo)
    if (ids.size >= in.minBatches)
      Compaction.compact(conf, root, ids, in.upTo) { (dirs, tmp) =>
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

  private def original(in: Input): Map[Long, Map[String, Long]] =
    (0L until in.batches).map(b => b -> rowsOf(b)).toMap
  private def merged(in: Input): Map[Long, Map[String, Long]] =
    original(in).filter(_._1 >= in.upTo) + (0L ->
      (0L until in.upTo).flatMap(rowsOf).groupMapReduce(_._1)(_._2)(_ + _))

  private def seeded(scheme: String,
                     in: Input = inputs.head): (FileSystem, String) = {
    val root = tmpRoot("graft-compaction", scheme)
    val fs = new Path(root).getFileSystem(conf)
    original(in).foreach { case (b, rows) =>
      writeRows(fs, s"$root/batch=$b", rows)
    }
    (fs, root)
  }

  for (scheme <- Seq("file", "crash"))
    test(s"$scheme://: a crash at any filesystem call of a swap recovers to " +
      "the original or the merged tree, and a re-run converges") {
      for (in <- inputs) {
        val (cleanFs, clean) = seeded(scheme, in)
        val before = names(clean)
        compactStore(cleanFs, clean, in)
        assert(state(cleanFs, clean) === merged(in))
        assert(Compaction.compacted(cleanFs, clean) &&
          !Compaction.inFlight(cleanFs, clean))
        val after = names(clean)

        val crashedAt = scala.collection.mutable.Set[String]()
        var k = 1
        var done = false
        while (!done) {
          val (fs, root) = seeded(scheme, in)
          calls = Vector.empty; crashAt = k
          val crashed =
            try { compactStore(fs, root, in); false }
            catch { case _: Crash => true }
            finally crashAt = -1
          val where = s"$in: crash at ${calls.lift(k - 1)} (call $k)"
          val got = state(fs, root)
          assert(!Compaction.inFlight(fs, root), s"$where: recovery finished")
          // a one-batch swap merges to the same rows, so the record, not
          // the rows, tells a rollback from a commit
          if (!Compaction.compacted(fs, root)) {
            assert(crashed, "an uncrashed swap commits")
            assert(got === original(in), s"$where: rollback changed rows")
            assert(names(root) === before, s"$where: rollback left files")
          } else {
            assert(got === merged(in), s"$where: a third state")
            assert(names(root) === after, s"$where: recovery's files differ")
          }
          if (crashed) {
            crashedAt += calls(k - 1)
            compactStore(fs, root, in)
            assert(state(fs, root) === merged(in),
              s"$where: the re-run converges")
            assert(names(root) === after)
            k += 1
          } else done = true
        }
        val want =
          Set("mkdirs", "create", "write", "close", "delete", "rename") ++
            (if (scheme == "crash") Set("renamed") else Set.empty)
        assert(crashedAt.toSet === want, s"$in")
      }
    }

  test("an unparseable marker fails recovery with a message naming it") {
    val (fs, root) = seeded("file")
    val marker = s"$root/.compact-commit"
    Files.writeString(Paths.get(marker), "1x\n")
    val ex = intercept[IllegalArgumentException](Compaction.recover(fs, root))
    assert(ex.getMessage.contains(marker), ex.getMessage)
  }
}
