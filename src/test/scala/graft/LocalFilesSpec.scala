package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.LocalFiles

/** Pins the engine's local file system (GraftSession's `fs.*.impl`
  * settings): `file:` resolves to [[LocalFiles]] on both Hadoop APIs,
  * it sets the same permission bits Hadoop's `chmod` would and still
  * reports symlinks, and a warm maintainer pass starts no `chmod` or
  * `readlink` process. */
class LocalFilesSpec extends AnyFunSuite with SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_localfiles")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def bits(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("file: resolves to the engine's local file system on both Hadoop APIs") {
    // the first file: FileSystem in a JVM is cached for every later
    // conf, so this is the instance every engine write goes through
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[LocalFiles.Checked], s"FileSystem: ${fs.getClass}")
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[LocalFiles])
    val afs = FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFiles.CheckedFs], s"FileContext: ${afs.getClass}")
  }

  test("created files and directories get the umask-applied bits, and symlinks stay symlinks") {
    val umask = FsPermission.getUMask(conf)
    val fileBits = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirBits = FsPermission.getDirDefault.applyUMask(umask).toString
    withDir { dir =>
      val fs = FileSystem.get(URI.create("file:///"), conf)
      val out = fs.create(new Path(s"$dir/d/f"))
      out.write(1); out.close()
      assert(bits(dir.resolve("d")) == dirBits)
      assert(bits(dir.resolve("d/f")) == fileBits)
      assert(bits(dir.resolve("d/.f.crc")) == fileBits)
      // FileContext: create, then the atomic rename Spark's
      // checkpoint manager commits with
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val tmp = new Path(s"$dir/e/tmp")
      val o2 = fc.create(tmp, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        org.apache.hadoop.fs.Options.CreateOpts.createParent())
      o2.write(2); o2.close()
      fc.rename(tmp, new Path(s"$dir/e/done"))
      assert(bits(dir.resolve("e")) == dirBits)
      assert(bits(dir.resolve("e/done")) == fileBits)
      assert(Files.exists(dir.resolve("e/.done.crc")))
      // ... which refuses to overwrite a committed file
      fs.create(new Path(s"$dir/e/tmp2")).close()
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
        fc.rename(new Path(s"$dir/e/tmp2"), new Path(s"$dir/e/done"))
      }
      // explicit bits, and a sticky bit (Hadoop's own chmod)
      fs.setPermission(new Path(s"$dir/d/f"), new FsPermission("640"))
      assert(bits(dir.resolve("d/f")) == "rw-r-----")
      fs.setPermission(new Path(s"$dir/d"), new FsPermission("1755"))
      val mode = Files.getAttribute(dir.resolve("d"), "unix:mode").asInstanceOf[Int]
      assert((mode & 0x3ff) == 0x3ed, f"mode $mode%o")
      // symlinks: reported as links on both APIs; a plain file is not
      val link = Files.createSymbolicLink(dir.resolve("link"), dir.resolve("d/f"))
      assert(fs.getFileLinkStatus(new Path(link.toString)).isSymlink)
      assert(fc.getFileLinkStatus(new Path(link.toString)).isSymlink)
      assert(fc.getFileLinkStatus(new Path(link.toString)).getSymlink.toUri.getPath
        == dir.resolve("d/f").toString)
      assert(fs.getFileLinkStatus(new Path(s"$dir/d/f")).isFile)
      assert(fc.getFileLinkStatus(new Path(s"$dir/d")).isDirectory)
    }
  }

  test("a warm maintainer pass starts no chmod or readlink process") {
    // without native IO, Hadoop's local file system forks one chmod
    // per created file or directory and one readlink per FileContext
    // rename: 200 per q208 + q212 pass, here and at sf0.1
    def pass(): Unit = Seq("q208", "q212").foreach { id =>
      val (_, fn) = SparkEntry.queries.find(_._1.takeWhile(_ != '_') == id)
        .getOrElse(fail(s"no registry query $id"))
      fn(spark, sf).collect()
    }
    pass()
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val file = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.start()
      pass()
      rec.stop()
      rec.dump(file)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      val forks = commands.filter { c =>
        val exe = c.trim.takeWhile(_ != ' ')
        Seq("chmod", "readlink").contains(exe.substring(exe.lastIndexOf('/') + 1))
      }
      assert(forks.isEmpty, s"${forks.size} chmod/readlink starts, e.g. ${forks.take(3)}")
    } finally { rec.close(); Files.deleteIfExists(file) }
  }
}
