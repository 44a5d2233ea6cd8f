package graft.storage

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.StreamConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Graft's local filesystem against Hadoop's on one directory: the same
  * modes, statuses, link answers and checksum files, without forks.
  */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (name, filesystem) for Hadoop's and graft's, uncached. */
  private def both(c: Configuration): Seq[(String, FileSystem)] =
    Seq("hadoop" -> new LocalFileSystem(), "graft" -> new GraftLocalFileSystem()).map {
      case (n, fs) => fs.initialize(URI.create("file:///"), c); n -> fs
    }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path -> mode of everything under `root`. */
  private def modes(root: java.nio.file.Path): Map[String, Int] =
    Files.walk(root).toScala(Seq).filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap

  private def tmp(prefix: String) = Files.createTempDirectory(prefix)

  test("create and multi-level mkdirs leave the modes Hadoop leaves, under any umask") {
    for (umask <- Seq("022", "027")) {
      val dir = tmp(s"lfs-modes-$umask")
      val trees = both(conf(umask)).map { case (name, fs) =>
        val root = dir.resolve(name)
        val out = fs.create(new Path(s"$root/a/b/part-0.parquet"))
        out.write(Array[Byte](1, 2, 3))
        out.close()
        assert(fs.mkdirs(new Path(s"$root/c/d/e")))
        assert(fs.mkdirs(new Path(s"$root/f/g"), new FsPermission("700")))
        fs.create(new Path(s"$root/h/x"), new FsPermission("640"), true, 4096, 1.toShort,
          1L << 25, null).close()
        modes(root)
      }
      assert(trees.head.keySet.contains("a/b/.part-0.parquet.crc"))
      assert(trees.head == trees.last, s"umask $umask")
      val expected = if (umask == "022") Map("a/b/part-0.parquet" -> 0x1a4, "c/d/e" -> 0x1ed)
        else Map("a/b/part-0.parquet" -> 0x1a0, "c/d/e" -> 0x1e8)
      expected.foreach { case (p, m) => assert(trees.last(p) == m, p) }
    }
  }

  test("explicit setPermission: 0600, 0750 and the sticky bit (chmod) agree") {
    val dir = tmp("lfs-chmod")
    val results = both(conf()).map { case (name, fs) =>
      val f = new Path(s"$dir/$name-file")
      val d = new Path(s"$dir/$name-dir")
      fs.create(f).close()
      fs.mkdirs(d)
      Seq("600", "750", "1777").flatMap { m =>
        fs.setPermission(f, new FsPermission(m))
        val fm = mode(Paths.get(f.toUri.getPath))
        fs.setPermission(d, new FsPermission(m))
        Seq(fm, mode(Paths.get(d.toUri.getPath)))
      }
    }
    assert(results.head == results.last)
    assert(results.last.take(4) == Seq(0x180, 0x180, 0x1e8, 0x1e8))
    assert(results.last(5) == 0x3ff, "the directory keeps the sticky bit")
  }

  test("a directory made under a set-group-id parent keeps the bit, as with chmod") {
    val dir = tmp("lfs-setgid")
    val made = both(conf()).map { case (name, fs) =>
      val parent = dir.resolve(name)
      Files.createDirectory(parent)
      Files.setAttribute(parent, "unix:mode", Integer.valueOf(0x5ed)) // 02755
      fs.mkdirs(new Path(s"$parent/child"))
      fs.setPermission(new Path(s"$parent/child"), new FsPermission("750"))
      mode(parent.resolve("child"))
    }
    assert(made.head == made.last)
    assert(made.last == 0x5e8) // 02750
  }

  test("getFileStatus reports the owner, group, permission and times Hadoop reports") {
    val dir = tmp("lfs-status")
    val Seq((_, hadoop), (_, graft)) = both(conf())
    val file = new Path(s"$dir/data")
    graft.create(file).close()
    val sticky = new Path(s"$dir/sticky")
    graft.mkdirs(sticky)
    graft.setPermission(sticky, new FsPermission("1777"))
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
      s.getGroup, s.isSymlink)
    for (p <- Seq(file, sticky, new Path(dir.toString), new Path(s"file:$dir/data"))) {
      assert(fields(graft.getFileStatus(p)) == fields(hadoop.getFileStatus(p)), p)
    }
    assert(graft.getFileStatus(sticky).getPermission.getStickyBit)
    assert(graft.getFileStatus(file).getOwner == Files.getOwner(Paths.get(s"$dir/data")).getName)
    assert(graft.listStatus(new Path(dir.toString)).map(fields).toSet ==
      hadoop.listStatus(new Path(dir.toString)).map(fields).toSet)
    intercept[FileNotFoundException](graft.getFileStatus(new Path(s"$dir/missing")))
    intercept[FileNotFoundException](graft.getFileStatus(new Path(s"$dir/data/under-a-file")))
  }

  test("getFileLinkStatus: regular file, symlink and missing path") {
    val dir = tmp("lfs-links")
    val raws = both(conf()).map { case (_, fs) => fs.asInstanceOf[LocalFileSystem].getRaw }
    Files.writeString(dir.resolve("target"), "x")
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getPermission)
    for (p <- Seq(s"$dir/target", s"$dir/link", s"file:$dir/link").map(new Path(_))) {
      val Seq(h, g) = raws.map(fs => fields(fs.getFileLinkStatus(p)))
      assert(g == h, p)
    }
    assert(raws.last.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    assert(!raws.last.getFileLinkStatus(new Path(s"$dir/target")).isSymlink)
    raws.foreach { fs =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/missing")))
    }
  }

  test("FileContext rename with OVERWRITE moves the .crc with its file") {
    val dir = tmp("lfs-rename")
    val graftConf = conf()
    GraftLocalFileSystem.install(graftConf)
    val contexts = Seq("hadoop" -> conf(), "graft" -> graftConf).map { case (n, c) =>
      n -> FileContext.getFileContext(URI.create("file:///"), c)
    }
    assert(contexts.last._2.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    val listings = contexts.map { case (name, fc) =>
      val root = dir.resolve(name)
      def write(p: Path, bytes: Array[Byte]): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(bytes)
        out.close()
      }
      val (src, dst) = (new Path(s"$root/tmp/.1.tmp"), new Path(s"$root/commits/1"))
      write(dst, "old".getBytes)
      write(src, "new log entry".getBytes)
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst) // verifies the moved checksum
      val back = try new String(in.readAllBytes()) finally in.close()
      assert(back == "new log entry", name)
      modes(root)
    }
    assert(listings.head == listings.last)
    assert(listings.last.keySet == Set("tmp", "commits", "commits/1", "commits/.1.crc"))
  }
}
