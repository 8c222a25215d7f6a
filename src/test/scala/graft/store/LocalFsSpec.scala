package graft.store

import java.io.{File, IOException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.{LocalFs => HadoopLocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[LocalFs]] and [[LocalAbstractFs]] are bound to `file://` for every
  * Configuration, as FileSystem and as FileContext, and they differ from
  * Hadoop's stock local filesystems only in how they set permissions:
  * same mode bits, same checksums, no `chmod` process.
  */
class LocalFsSpec extends AnyFunSuite {

  private val root = new URI("file:///")

  private def fresh(fs: FileSystem): FileSystem = {
    fs.initialize(root, new Configuration())
    fs
  }

  private def tmpDir(): File = Files.createTempDirectory("graft-localfs").toFile

  private def mode(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  /** The modes of everything under `dir`, by path relative to `dir`. */
  private def modesUnder(dir: File): Map[String, String] = {
    val d = dir.toPath
    val walk = Files.walk(d)
    try walk.iterator.asScala.filter(_ != d)
      .map(p => d.relativize(p).toString -> mode(p.toFile)).toMap
    finally walk.close()
  }

  /** The modes of everything `fs` makes for one file create and one
    * nested mkdirs under `dir`.
    */
  private def modesMadeBy(fs: FileSystem, dir: File): Map[String, String] = {
    val base = new Path(dir.toURI)
    val out = fs.create(new Path(base, "new/part-0"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(base, "a/b/c")))
    modesUnder(dir)
  }

  private def flipByte(f: File, at: Long): Unit = {
    val raf = new RandomAccessFile(f, "rw")
    try { raf.seek(at); val b = raf.read(); raf.seek(at); raf.write(b ^ 0xff) }
    finally raf.close()
  }

  /** A FileContext over `file://` with the default binding. */
  private def fc(): FileContext = FileContext.getFileContext(root, new Configuration())

  /** A FileContext over Hadoop's stock `org.apache.hadoop.fs.local.LocalFs`. */
  private def stockFc(): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(root, conf)
  }

  private def fcWrite(fc: FileContext, path: Path, bytes: Array[Byte]): Unit = {
    val out = fc.create(path, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
  }

  /** Reads `path` through the checksummed stream. `open(path)` without a
    * buffer size would skip the checksum: Hadoop's `FilterFs` hands it
    * straight to the raw filesystem, for the stock `local.LocalFs` too.
    */
  private def fcRead(fc: FileContext, path: Path): Array[Byte] = {
    val in = fc.open(path, 4096)
    try in.readAllBytes() finally in.close()
  }

  test("file:// resolves to LocalFs for a plain Configuration and for a " +
    "Spark session's Hadoop conf") {
    assert(FileSystem.get(root, new Configuration()).isInstanceOf[LocalFs])
    assert(FileSystem.getLocal(new Configuration()).isInstanceOf[LocalFs])
    val sessionConf = TestSpark.spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, sessionConf).isInstanceOf[LocalFs])
  }

  test("FileContext's file:// resolves to LocalAbstractFs for a plain " +
    "Configuration and for a Spark session's Hadoop conf") {
    assert(fc().getDefaultFileSystem.isInstanceOf[LocalAbstractFs])
    val sessionConf = TestSpark.spark.sessionState.newHadoopConf()
    assert(FileContext.getFileContext(root, sessionConf).getDefaultFileSystem
      .isInstanceOf[LocalAbstractFs])
    assert(stockFc().getDefaultFileSystem.isInstanceOf[HadoopLocalFs])
  }

  test("a Spark write leaves no _SUCCESS marker") {
    val spark = TestSpark.spark
    val out = new File(tmpDir(), "t")
    spark.range(3).write.parquet(out.getPath)
    val names = out.list().toSeq
    assert(names.exists(_.endsWith(".parquet")))
    assert(!names.exists(_.contains("_SUCCESS")), names.mkString(", "))
  }

  test("files and directories get the stock local filesystem's modes, and " +
    "an explicit setPermission is honoured") {
    val stock = modesMadeBy(fresh(new LocalFileSystem()), tmpDir())
    val fs = fresh(new LocalFs)
    val dir = tmpDir()
    val ours = modesMadeBy(fs, dir)
    assert(ours.keySet === Set("new", "new/part-0", "new/.part-0.crc", "a",
      "a/b", "a/b/c"))
    assert(ours === stock)

    val file = new Path(new Path(dir.toURI), "new/part-0")
    fs.setPermission(file, new FsPermission(Integer.parseInt("600", 8).toShort))
    assert(mode(new File(dir, "new/part-0")) === "rw-------")
    fs.setPermission(new Path(new Path(dir.toURI), "a"),
      new FsPermission(Integer.parseInt("750", 8).toShort))
    assert(mode(new File(dir, "a")) === "rwxr-x---")
  }

  test("the .crc sidecar is written and a flipped data byte fails the read") {
    val fs = fresh(new LocalFs)
    val dir = tmpDir()
    val path = new Path(new Path(dir.toURI), "data.bin")
    val bytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val out = fs.create(path)
    try out.write(bytes) finally out.close()
    assert(new File(dir, ".data.bin.crc").isFile)

    flipByte(new File(dir, "data.bin"), 1000)
    val in = fs.open(path)
    try intercept[ChecksumException](in.readFully(new Array[Byte](bytes.length)))
    finally in.close()
  }

  test("setPermission on a missing path throws an IOException") {
    val fs = fresh(new LocalFs)
    val missing = new Path(new Path(tmpDir().toURI), "no/such/file")
    intercept[IOException](fs.setPermission(missing, FsPermission.getFileDefault))
  }

  test("a FileContext create and mkdir give the stock local FileContext's " +
    "modes and .crc sidecars") {
    def made(fc: FileContext): Map[String, String] = {
      val dir = tmpDir()
      val base = new Path(dir.toURI)
      fcWrite(fc, new Path(base, "new/part-0"), Array[Byte](1, 2, 3))
      fc.mkdir(new Path(base, "a/b/c"), FsPermission.getDirDefault, true)
      modesUnder(dir)
    }
    val ours = made(fc())
    assert(ours.keySet === Set("new", "new/part-0", "new/.part-0.crc", "a",
      "a/b", "a/b/c"))
    assert(ours === made(stockFc()))
  }

  test("a flipped data byte fails a FileContext read") {
    val dir = tmpDir()
    val path = new Path(new Path(dir.toURI), "data.bin")
    val bytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    fcWrite(fc(), path, bytes)
    flipByte(new File(dir, "data.bin"), 1000)
    intercept[ChecksumException](fcRead(fc(), path))
  }

  test("FileContext rename with OVERWRITE replaces an existing target") {
    val base = new Path(tmpDir().toURI)
    val (src, dst) = (new Path(base, "tmp"), new Path(base, "offsets/0"))
    val fresh = "fresh".getBytes(UTF_8)
    val ctx = fc()
    fcWrite(ctx, dst, "old contents".getBytes(UTF_8))
    fcWrite(ctx, src, fresh)
    ctx.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!ctx.util.exists(src))
    assert(fcRead(ctx, dst) === fresh) // the moved sidecar verifies it
  }

  test("a file written through the stock FileContext reads back unchanged") {
    val path = new Path(new Path(tmpDir().toURI), "commits/7")
    val bytes = Array.tabulate[Byte](10000)(i => (i * 31).toByte)
    fcWrite(stockFc(), path, bytes)
    assert(fcRead(fc(), path) === bytes)
  }
}
