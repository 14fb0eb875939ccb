package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local file system GraftSession installs behaves like the
  * stock one: same permission bits, same link status, same renames. Every
  * instance is built here, not taken from Hadoop's `FileSystem` cache, so
  * the stock side really is stock. */
class LocalFsSpec extends AnyFunSuite {

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(octal(s).toShort)

  private def conf(forkFree: Boolean): Configuration = {
    val c = new Configuration()
    if (forkFree) c.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    c
  }

  /** Built as Hadoop's `FileSystem.get` builds one, minus its cache. */
  private def fileSystem(forkFree: Boolean): FileSystem = {
    val cls = if (forkFree) classOf[ForkFreeLocalFileSystem] else classOf[LocalFileSystem]
    val fs: FileSystem = ReflectionUtils.newInstance(cls, conf(forkFree))
    fs.initialize(URI.create("file:///"), conf(forkFree))
    fs
  }

  private def fileContext(forkFree: Boolean): FileContext =
    FileContext.getFileContext(URI.create("file:///"), conf(forkFree))

  private def withTempDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft_localfs")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def write(out: java.io.OutputStream, text: String): Unit =
    try out.write(text.getBytes(UTF_8)) finally out.close()

  private def read(p: JPath): String = new String(Files.readAllBytes(p), UTF_8)

  /** Modes of every file and directory under `root`, by relative path. */
  private def modes(root: JPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.filter(_ != root).map(p => root.relativize(p).toString -> mode(p)).toMap
    } finally walk.close()
  }

  test("created files and nested directories get the stock permissions, through FileSystem and FileContext") {
    withTempDir { dir =>
      // under default permissions (what checkpoint writes use) and explicit ones
      def tree(forkFree: Boolean): Map[String, Int] = {
        val root = dir.resolve(if (forkFree) "fork_free" else "stock")
        val fs = fileSystem(forkFree)
        write(fs.create(new Path(s"$root/fs/default/a/b/data")), "x")
        fs.mkdirs(new Path(s"$root/fs/default/c/d"))
        write(fs.create(new Path(s"$root/fs/set/a/b/data"), perm("600"), true, 4096, 1.toShort, 1L << 20, null), "x")
        fs.mkdirs(new Path(s"$root/fs/set/c/d"), perm("700"))
        fs.close()
        val fc = fileContext(forkFree)
        val create = java.util.EnumSet.of(CreateFlag.CREATE)
        write(fc.create(new Path(s"$root/fc/default/a/b/data"), create, CreateOpts.createParent()), "x")
        fc.mkdir(new Path(s"$root/fc/default/c/d"), FsPermission.getDirDefault, true)
        write(fc.create(new Path(s"$root/fc/set/a/b/data"), create, CreateOpts.createParent(),
          CreateOpts.perms(perm("600"))), "x")
        fc.mkdir(new Path(s"$root/fc/set/c/d"), perm("700"), true)
        modes(root)
      }
      val stock = tree(forkFree = false)
      assert(tree(forkFree = true) === stock)
      assert(stock.contains("fs/default/a/b/.data.crc") && stock.contains("fc/default/a/b/.data.crc"))
      // not what the process umask gives: these permissions were really set
      assert(Seq("fs/set/a/b/data", "fs/set/c/d", "fc/set/a/b/data", "fc/set/c/d").map(stock) ===
        Seq("600", "700", "600", "700").map(octal))
    }
  }

  test("FileSystem rename onto an existing file returns false and changes neither file nor checksum") {
    withTempDir { dir =>
      val fs = fileSystem(forkFree = true)
      val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
      write(fs.create(src), "source")
      write(fs.create(dst), "destination")
      val before = Seq("src", ".src.crc", "dst", ".dst.crc").map(n => n -> read(dir.resolve(n)))
      assert(!fs.rename(src, dst))
      assert(Seq("src", ".src.crc", "dst", ".dst.crc").map(n => n -> read(dir.resolve(n))) === before)
      fs.close()
    }
  }

  test("rename to a new path moves the data file and its checksum, through FileSystem and FileContext") {
    withTempDir { dir =>
      val fs = fileSystem(forkFree = true)
      write(fs.create(new Path(s"$dir/a")), "payload")
      val crc = read(dir.resolve(".a.crc"))
      assert(fs.rename(new Path(s"$dir/a"), new Path(s"$dir/b")))
      fs.close()
      val fc = fileContext(forkFree = true)
      fc.rename(new Path(s"$dir/b"), new Path(s"$dir/c"))
      assert(!Files.exists(dir.resolve("a")) && !Files.exists(dir.resolve(".a.crc")))
      assert(!Files.exists(dir.resolve("b")) && !Files.exists(dir.resolve(".b.crc")))
      assert(read(dir.resolve("c")) === "payload")
      assert(read(dir.resolve(".c.crc")) === crc)
      // the no-overwrite rename the checkpoint file manager relies on
      write(fc.create(new Path(s"$dir/d"), java.util.EnumSet.of(CreateFlag.CREATE)), "other")
      intercept[FileAlreadyExistsException](fc.rename(new Path(s"$dir/d"), new Path(s"$dir/c")))
      assert(read(dir.resolve("c")) === "payload")
    }
  }

  test("getFileLinkStatus equals the stock result for a file, a symlink and a missing path") {
    withTempDir { dir =>
      val file = dir.resolve("file")
      Files.write(file, "abc".getBytes(UTF_8))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val (stock, forkFree) = (new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
      Seq(stock, forkFree).foreach(_.initialize(URI.create("file:///"), new Configuration()))
      def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
        if (s.isSymlink) Some(s.getSymlink) else None)
      // both spellings: the stock method sees a symlink only in the unqualified one
      val paths = Seq(file, link).flatMap(p => Seq(new Path(p.toString), new Path(p.toUri)))
      paths.foreach { p =>
        assert(fields(forkFree.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)), s"at $p")
      }
      assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
      Seq(stock, forkFree).foreach { fs =>
        intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/missing")))
      }
    }
  }

  test("setPermission sets the nine bits in process and still applies a sticky bit") {
    withTempDir { dir =>
      val fs = fileSystem(forkFree = true)
      val sub = dir.resolve("sub")
      Files.createDirectory(sub)
      fs.setPermission(new Path(sub.toString), perm("1751"))
      assert(mode(sub) === octal("1751"))
      fs.setPermission(new Path(sub.toString), perm("0705"))
      assert(mode(sub) === octal("0705"))
      fs.close()
    }
  }
}
