package graft

import graft.io.{NioLocalFs, NioRawLocalFileSystem}
import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The fork-free local filesystem answers exactly as Hadoop's stock
  * one: every case runs against both, in twin directories, and the
  * results (statuses, modes, bytes, checksum files) must be equal. */
class LocalFsSpec extends AnyFunSuite {

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(FileSystem.getDefaultUri(new Configuration()), new Configuration())
    fs
  }
  private def stock = rawFs(new RawLocalFileSystem)
  private def nio = rawFs(new NioRawLocalFileSystem)

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** name → (mode, bytes) of every entry under `root`, `.crc` files included. */
  private def tree(root: String): Map[String, (Int, Seq[Byte])] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator.asScala.filterNot(_ == r).map { p =>
      val bytes = if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq
      r.relativize(p).toString -> (mode(p.toString), bytes)
    }.toMap
    finally walk.close()
  }

  private def twinDirs(): (String, String) = {
    val d = Files.createTempDirectory("localfs")
    (Files.createDirectory(d.resolve("stock")).toString,
      Files.createDirectory(d.resolve("nio")).toString)
  }

  test("create, mkdirs and setPermission leave Hadoop's mode bits") {
    val (a, b) = twinDirs()
    for {
      (fs, root) <- Seq(stock -> a, nio -> b)
      m <- Seq(0x1a4, 0x1ed, 0x1c0) // 0644, 0755, 0700
    } {
      val perm = new FsPermission(m.toShort)
      fs.create(new Path(s"$root/f$m"), perm, false, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(s"$root/d$m"), perm)
      fs.create(new Path(s"$root/s$m")).close()
      fs.setPermission(new Path(s"$root/s$m"), perm)
    }
    // sticky and setgid bits reach the file as chmod sets them
    Seq(stock -> a, nio -> b).foreach { case (fs, root) =>
      fs.mkdirs(new Path(s"$root/t"))
      fs.setPermission(new Path(s"$root/t"), new FsPermission(0x3ff.toShort)) // 01777
    }
    assert(Seq("f448", "d493", "s420", "t").map(n => mode(s"$b/$n")) === Seq(0x1c0, 0x1ed, 0x1a4, 0x3ff))
    assert(tree(b) === tree(a))
  }

  test("getFileLinkStatus and getLinkTarget match Hadoop on files, dirs, links and missing paths") {
    // both filesystems probe the same entries, so times and owners agree
    val r = Files.createTempDirectory("localfs")
    Files.write(r.resolve("file"), "x".getBytes(UTF_8))
    Files.createDirectory(r.resolve("dir"))
    Files.createSymbolicLink(r.resolve("link"), r.resolve("file"))
    Files.createSymbolicLink(r.resolve("rel-link"), Paths.get("dir"))
    Files.createSymbolicLink(r.resolve("dangling"), r.resolve("gone"))
    def probe(fs: RawLocalFileSystem, name: String, qualified: Boolean): String = {
      val p = new Path(s"$r/$name")
      val q = if (qualified) fs.makeQualified(p) else p
      def attempt(f: => Any): String =
        try String.valueOf(f) catch { case e: IOException => e.getClass.getName }
      (attempt(fs.getFileLinkStatus(q)) + " / " + attempt(fs.getLinkTarget(q))).replace(r.toString, "ROOT")
    }
    val (a, b) = (stock, nio)
    for {
      name <- Seq("file", "dir", "link", "rel-link", "dangling", "missing")
      qualified <- Seq(false, true)
    } assert(probe(b, name, qualified) === probe(a, name, qualified), s"$name qualified=$qualified")
    // the cases differ: the probe sees links and missing paths
    assert(probe(b, "link", qualified = false).contains("isSymlink=true"))
    assert(probe(b, "dangling", qualified = false).contains("symlink=file:ROOT/gone"))
    assert(probe(b, "missing", qualified = false).startsWith("java.io.FileNotFoundException"))
  }

  test("FileContext create and rename with OVERWRITE write what Hadoop's LocalFs writes") {
    val (a, b) = twinDirs()
    val nioConf = new Configuration()
    nioConf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    for ((conf, root) <- Seq(new Configuration() -> a, nioConf -> b)) {
      val fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
      def write(name: String, body: String): Unit = {
        val out = fc.create(new Path(s"file:$root/$name"),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      write("ckpt/0", "old batch")
      write("ckpt/.0.tmp", "new batch")
      fc.rename(new Path(s"file:$root/ckpt/.0.tmp"), new Path(s"file:$root/ckpt/0"),
        Options.Rename.OVERWRITE)
      fc.mkdir(new Path(s"file:$root/state/1"), FsPermission.getDirDefault, true)
    }
    assert(FileContext.getFileContext(new java.net.URI("file:///"), nioConf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val got = tree(b)
    assert(got("ckpt/0")._2 === "new batch".getBytes(UTF_8).toSeq)
    assert(got.contains("ckpt/.0.crc"), "the checksum moved with the file")
    assert(got === tree(a))
  }
}
