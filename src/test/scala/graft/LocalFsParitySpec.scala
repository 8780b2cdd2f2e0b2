package graft

import java.nio.file.{Files, Path => JPath, Paths => JPaths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftRawLocalFileSystem

/** [[GraftRawLocalFileSystem]] answers exactly as Hadoop's stock
  * `RawLocalFileSystem` on the calls it takes over: the mode bits that
  * `create` and `mkdirs` leave, `getFileLinkStatus` of every kind of
  * entry, and a `setPermission` only `chmod` can carry out. */
class LocalFsParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val base = Files.createTempDirectory("graft_fs_parity")
  override def afterAll(): Unit = org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)

  private def fs(f: FileSystem): FileSystem = {
    f.initialize(new java.net.URI("file:///"), new Configuration())
    f
  }
  private val stock = fs(new RawLocalFileSystem)
  private val graft = fs(new GraftRawLocalFileSystem)

  private def octal(s: String): Integer = Integer.valueOf(Integer.parseInt(s, 8))

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Runs `ops` against each filesystem in a fresh dir of its own and
    * asserts both left the same mode on every entry, by relative path. */
  private def assertSameModes(ops: (FileSystem, Path) => Unit): Unit = {
    val Seq(want, got) = Seq(stock, graft).map { f =>
      val dir = Files.createTempDirectory(base, "modes")
      ops(f, new Path(dir.toString))
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_ != dir)
        .map(p => dir.relativize(p).toString -> mode(p).toOctalString).toMap
      finally walk.close()
    }
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("create and mkdirs leave the stock mode bits") {
    assertSameModes { (f, d) =>
      f.create(new Path(d, "default.bin")).close()
      f.create(new Path(d, "p640.bin"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 26, null).close()
      f.create(new Path(d, "nested/deeper/p600.bin"), new FsPermission("600"), true, 4096,
        1.toShort, 1L << 26, null).close()
      f.mkdirs(new Path(d, "dir/a/b"))
      f.mkdirs(new Path(d, "dir750"), new FsPermission("750"))
      f.setPermission(new Path(d, "default.bin"), new FsPermission("604"))
    }
  }

  test("getFileLinkStatus agrees on a file, a directory, a symlink and a dangling symlink") {
    val dir = Files.createTempDirectory(base, "links")
    val file = Files.write(dir.resolve("file.txt"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def view(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup,
        if (s.isSymlink) Some(s.getSymlink) else None)
    for (p <- Seq(file, sub, link, dangling, dir.resolve("missing"));
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = Try(view(stock.getFileLinkStatus(path))).toEither.left.map(_.getClass)
      val got = Try(view(graft.getFileLinkStatus(path))).toEither.left.map(_.getClass)
      assert(got === want, s"at $path")
    }
    // the stock class reports an unqualified symlink as one
    assert(graft.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(graft.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("a sticky mode, or a target already carrying special bits, takes chmod's path") {
    assertSameModes { (f, d) =>
      // java.nio cannot set the sticky bit: only chmod leaves 1777
      f.mkdirs(new Path(d, "sticky"))
      f.setPermission(new Path(d, "sticky"), new FsPermission("1777"))
      // chmod keeps a directory's setgid bit through a numeric mode;
      // a plain java.nio chmod would clear it
      f.mkdirs(new Path(d, "setgid"))
      Files.setAttribute(JPaths.get(d.toString, "setgid"), "unix:mode", octal("2755"))
      f.setPermission(new Path(d, "setgid"), new FsPermission("750"))
    }
    val d = Files.createTempDirectory(base, "sticky")
    graft.setPermission(new Path(d.toString), new FsPermission("1777"))
    assert(mode(d) === octal("1777"), mode(d).toOctalString)
  }
}
