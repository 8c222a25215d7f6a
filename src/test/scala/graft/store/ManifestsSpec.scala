package graft.store

import java.io.{IOException, OutputStream}
import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream,
  FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Crash safety of the shared manifest commit, proved once for every store
  * that uses it. A fault-injecting Hadoop FileSystem (registered through
  * the test's own Configuration) fails the k-th filesystem call of a
  * publish, for every k up to the call count of a clean publish: the tmp
  * mkdirs and create, the body write (which lands half its bytes first —
  * a torn tmp), the close, both sidecar deletes, and the move. After each
  * crash [[Manifests.latest]] must resolve the complete old manifest or the
  * complete new one — never none, never a partial one — and replaying the
  * publish must converge on the new one.
  *
  * Two schemes cover both publish paths: `file://` (the nio ATOMIC_MOVE
  * swap; the move itself is the OS rename and is not injectable) and
  * `crash://`, a local directory whose AbstractFileSystem renames with an
  * atomic overwrite the way HDFS does, so the FileContext path and a crash
  * on either side of the move are exercised. No Spark.
  */
class ManifestsSpec extends AnyFunSuite {
  import ManifestsSpec._

  private val conf = faultyConf()

  private val formats = Seq(
    Manifests.Format("test state", Some("GRAFT_TEST_MANIFEST v1"),
      Set("A", "B"), (_, _) => ()),
    Manifests.Format("test state", None, Set("A", "B"), (_, _) => ()))

  private val genEntries: Gen[Seq[Manifests.Entry]] = {
    val entry = for {
      tag <- Gen.oneOf("A", "B")
      key <- Gen.oneOf(Gen.posNum[Int].map(_.toString),
        Gen.nonEmptyListOf(Gen.alphaLowerChar).map(cs => s"doc/${cs.mkString}"))
      value <- Gen.nonEmptyListOf(Gen.choose(-3L, 40L)).map(_.mkString(","))
    } yield Manifests.Entry(tag, key, value)
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, entry))
  }

  private def sample(seed: Long): Seq[Manifests.Entry] =
    genEntries.apply(Gen.Parameters.default, Seed(seed)).get

  /** Publish with the k-th filesystem call crashing; true if it crashed. */
  private def crashingWrite(k: Int, root: String, batchId: Long,
                            fmt: Manifests.Format,
                            entries: Seq[Manifests.Entry]): Boolean = {
    calls = Vector.empty; crashAt = k
    try { Manifests.write(conf, root, batchId, fmt, entries); false }
    catch { case _: Crash => true }
    finally crashAt = -1
  }

  for (scheme <- Seq("file", "crash"); overwrite <- Seq(false, true))
    test(s"$scheme://: a crash at any step of " +
      (if (overwrite) "a frontier rewrite" else "a new batch's publish") +
      " leaves the complete old or the complete new manifest") {
      val crashedAt = scala.collection.mutable.Set[String]()
      for (seed <- 1L to 4L; fmt <- formats) {
        val old = sample(seed)
        val neu = sample(seed + 1000L)
        // the new-batch case commits over batch 0; the rewrite case
        // replaces batch 1's manifest in place (the compaction pivot)
        val (oldB, newB) = if (overwrite) (1L, 1L) else (0L, 1L)
        var k = 1
        var done = false
        while (!done) {
          val root = tmpRoot("graft-manifests", scheme)
          Manifests.write(conf, root, oldB, fmt, old)
          val crashed = crashingWrite(k, root, newB, fmt, neu)
          val got = Manifests.latest(conf, root, Long.MaxValue, fmt)
          assert(got.contains((oldB, old)) || got.contains((newB, neu)),
            s"crash at ${calls.lastOption} (call $k, ${fmt.header}): got $got")
          if (crashed) {
            crashedAt += calls(k - 1)
            def local(name: String) = Paths.get(
              new Path(s"$root/batch=$newB/$name").toUri.getPath)
            val torn = if (calls(k - 1) == "write")
              Some(Files.size(local("_MANIFEST.tmp"))) else None
            Manifests.write(conf, root, newB, fmt, neu)
            assert(Manifests.latest(conf, root, Long.MaxValue, fmt)
              .contains((newB, neu)), "replaying the publish converges")
            torn.foreach(n => assert(n > 0 && n < Files.size(
              local("_MANIFEST")), "the write crash left a torn tmp"))
            k += 1
          } else {
            assert(got.contains((newB, neu)), "an uncrashed publish commits")
            done = true
          }
        }
      }
      val want = Set("mkdirs", "create", "write", "close", "delete") ++
        (if (scheme == "crash") Set("rename", "renamed") else Set.empty)
      assert(crashedAt.toSet === want)
    }

  test("latest(below) resolves the newest committed batch strictly below, " +
    "skipping manifest-less and torn-tmp-only batch directories") {
    val fmt = formats.head
    val root = tmpRoot("graft-manifests", "file")
    assert(Manifests.latest(conf, s"$root/absent", Long.MaxValue, fmt)
      .isEmpty, "a missing root is the first batch")
    val e0 = Seq(Manifests.Entry("A", "0", "0"))
    val e1 = Seq(Manifests.Entry("B", "doc/1", "0,1"))
    Manifests.write(conf, root, 0, fmt, e0)
    Manifests.write(conf, root, 1, fmt, e1)
    // batch 2: data written, crashed before its publish with a torn tmp;
    // batch 3: an empty in-flight directory
    Files.createDirectories(Paths.get(s"$root/batch=2/kbkt=0"))
    Files.writeString(Paths.get(s"$root/batch=2/_MANIFEST.tmp"),
      "GRAFT_TEST_MANIFEST v1\nA 0 2\n")
    Files.createDirectories(Paths.get(s"$root/batch=3"))
    val fs = new Path(root).getFileSystem(conf)
    assert(Manifests.batches(fs, root) === Seq(0L, 1L, 2L, 3L))
    assert(Manifests.committed(fs, root) === Seq(0L, 1L))
    assert(Manifests.latest(conf, root, Long.MaxValue, fmt)
      .contains((1L, e1)))
    assert(Manifests.latest(conf, root, 1, fmt).contains((0L, e0)))
    assert(Manifests.latest(conf, root, 0, fmt).isEmpty)
  }
}

object ManifestsSpec {

  final class Crash(call: String)
      extends IOException(s"injected crash at $call")

  /** A Configuration binding `file://` to [[FaultyFs]] and `crash://` to
    * [[CrashFs]]/[[CrashAfs]], uncached.
    */
  def faultyConf(): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[FaultyFs].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c.set("fs.crash.impl", classOf[CrashFs].getName)
    c.setBoolean("fs.crash.impl.disable.cache", true)
    c.set("fs.AbstractFileSystem.crash.impl", classOf[CrashAfs].getName)
    c
  }

  /** A fresh local temp dir, as a `scheme://` root. */
  def tmpRoot(prefix: String, scheme: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    if (scheme == "file") dir else s"$scheme://$dir"
  }

  /** The mutating filesystem calls seen since the last reset; the call
    * whose 1-based index is `crashAt` throws [[Crash]] instead of running.
    */
  @volatile var calls: Vector[String] = Vector.empty
  @volatile var crashAt: Int = -1

  private def call(name: String): Unit = {
    calls :+= name
    if (calls.size == crashAt) throw new Crash(name)
  }

  /** A write crash lands half the bytes first (torn), then throws. */
  private final class FaultyStream(out: OutputStream) extends OutputStream {
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      try call("write")
      catch { case c: Crash => out.write(b, off, len / 2); throw c }
      out.write(b, off, len)
    }
    override def close(): Unit = { call("close"); out.close() }
  }

  /** The checksummed local FileSystem with every mutating call injectable. */
  class FaultyFs(raw: FileSystem) extends LocalFileSystem(raw) {
    def this() = this(new RawLocalFileSystem)
    override def mkdirs(f: Path): Boolean = { call("mkdirs"); super.mkdirs(f) }
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      call("create")
      new FSDataOutputStream(new FaultyStream(super.create(f, permission,
        overwrite, bufferSize, replication, blockSize, progress)), null)
    }
    override def delete(f: Path, recursive: Boolean): Boolean = {
      call("delete"); super.delete(f, recursive)
    }
    // unused by an atomic publish; a delete-then-rename one crashes here
    override def rename(src: Path, dst: Path): Boolean = {
      call("rename"); super.rename(src, dst)
    }
  }

  class CrashRawFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("crash:///")
    override def getScheme: String = "crash"
  }

  /** `crash://` — local files under a scheme with no nio shortcut. */
  class CrashFs extends FaultyFs(new CrashRawFs) {
    override def getScheme: String = "crash"
  }

  /** FileContext binding for `crash://`: an atomic overwrite rename (what
    * HDFS's namenode rename provides), injectable on either side.
    */
  class CrashAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new CrashRawFs, conf, "crash", false) {
    override def renameInternal(src: Path, dst: Path,
                                overwrite: Boolean): Unit = {
      call("rename")
      Files.move(Paths.get(src.toUri.getPath), Paths.get(dst.toUri.getPath),
        StandardCopyOption.ATOMIC_MOVE)
      call("renamed")
    }
  }
}
