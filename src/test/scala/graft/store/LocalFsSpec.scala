package graft.store

import java.io.{File, IOException, RandomAccessFile}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[LocalFs]] is bound to `file://` for every Configuration, and it
  * differs from Hadoop's stock local filesystem only in how it sets
  * permissions: same mode bits, same checksums, no `chmod` process.
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

  /** The modes of everything `fs` makes for one file create and one
    * nested mkdirs under `dir`, by path relative to `dir`.
    */
  private def modesMadeBy(fs: FileSystem, dir: File): Map[String, String] = {
    val base = new Path(dir.toURI)
    val out = fs.create(new Path(base, "new/part-0"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(base, "a/b/c")))
    val d = dir.toPath
    val walk = Files.walk(d)
    try walk.iterator.asScala.filter(_ != d)
      .map(p => d.relativize(p).toString -> mode(p.toFile)).toMap
    finally walk.close()
  }

  test("file:// resolves to LocalFs for a plain Configuration and for a " +
    "Spark session's Hadoop conf") {
    assert(FileSystem.get(root, new Configuration()).isInstanceOf[LocalFs])
    assert(FileSystem.getLocal(new Configuration()).isInstanceOf[LocalFs])
    val sessionConf = TestSpark.spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, sessionConf).isInstanceOf[LocalFs])
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

    val raf = new RandomAccessFile(new File(dir, "data.bin"), "rw")
    try { raf.seek(1000); raf.write(bytes(1000) ^ 0xff) } finally raf.close()
    val in = fs.open(path)
    try intercept[ChecksumException](in.readFully(new Array[Byte](bytes.length)))
    finally in.close()
  }

  test("setPermission on a missing path throws an IOException") {
    val fs = fresh(new LocalFs)
    val missing = new Path(new Path(tmpDir().toURI), "no/such/file")
    intercept[IOException](fs.setPermission(missing, FsPermission.getFileDefault))
  }
}
