package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.ProcessStarts
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import graft.extract.{HiveProxyLocalFs, LocalFs}

/** Graft's local filesystem leaves the modes Hadoop's own leaves: the same
  * `create`, `mkdirs` and `setPermission` calls, under a random
  * `fs.permissions.umask-mode`, through [[graft.extract.LocalFs]] and
  * through a stock instance (`FileSystem.newInstance` with the default
  * `file` class) on twin paths, give equal permissions on every path they
  * touch, `.crc` files included, and equal outcomes where a call fails.
  */
object LocalFsPropSpec extends Properties("LocalFs") {

  private val fileUri = URI.create("file:///")

  private def newFs(umask: Int, impl: Option[String]): FileSystem = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", f"$umask%03o")
    impl.foreach(c.set("fs.file.impl", _))
    FileSystem.newInstance(fileUri, c)
  }

  private def mode(p: java.nio.file.Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every path under `root` with its POSIX permissions and 12 mode bits. */
  private def tree(root: java.nio.file.Path): Seq[(String, String, Int)] =
    Files.walk(root).iterator.asScala.toSeq.map { p =>
      (root.relativize(p).toString, Files.getPosixFilePermissions(p).asScala.toSeq.map(_.toString).sorted.mkString(","),
        mode(p))
    }.sortBy(_._1)

  /** Deletes `p` recursively, giving each dir owner rwx first (a mode
    * without owner bits would otherwise stop a run that is not root).
    */
  private def delete(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwx------"))
      val ls = Files.list(p)
      try ls.iterator.asScala.toList.foreach(delete) finally ls.close()
    }
    Files.delete(p)
  }

  /** The calls under test against `fs`, rooted at `root`: the outcome of
    * each (true = no exception).
    */
  private def calls(fs: FileSystem, root: java.nio.file.Path, m: Int, m2: Int): Seq[Boolean] = {
    val at = (rel: String) => new Path(root.resolve(rel).toUri)
    Seq(
      Try(fs.create(at("created"), new FsPermission(m.toShort), true, 4096, 1.toShort, 1L << 26, null).close()),
      Try(fs.create(at("plain")).close()),
      Try(fs.mkdirs(at("d1/d2"), new FsPermission(m.toShort))),
      Try(fs.mkdirs(at("e1/e2"))),
      Try(fs.setPermission(at("plain"), new FsPermission(m2.toShort))),
      Try(fs.setPermission(at("e1"), new FsPermission(m2.toShort)))
    ).map(_.isSuccess)
  }

  property("create, mkdirs and setPermission leave the stock modes") =
    forAllNoShrink(Gen.choose(0, 0x1ff), Gen.choose(0, 0x1ff), Gen.choose(0, 0x3ff)) { (umask, m, m2) =>
      val (graftFs, stockFs) = (newFs(umask, Some(classOf[LocalFs].getName)), newFs(umask, None))
      val root = Files.createTempDirectory("graft-modes-prop")
      val (g, s) = (Files.createDirectory(root.resolve("graft")), Files.createDirectory(root.resolve("stock")))
      try {
        val outcomes = (calls(graftFs, g, m, m2), calls(stockFs, s, m, m2))
        val trees = (tree(g), tree(s))
        (graftFs.getClass == classOf[LocalFs] && outcomes._1 == outcomes._2 && trees._1 == trees._2) :|
          f"umask $umask%03o, mode $m%03o, then $m2%04o: $outcomes, $trees"
      } finally {
        graftFs.close(); stockFs.close(); delete(root)
      }
    }

  property("every plain mode starts no process; a sticky mode takes Hadoop's own path") = {
    val fs = newFs(0x12, Some(classOf[LocalFs].getName))
    val root = Files.createTempDirectory("graft-sticky-prop")
    val d = new Path(root.resolve("d").toUri)
    try {
      fs.mkdirs(d)
      val all = 0 to 0x1ff
      def set(m: Int): Int = { fs.setPermission(d, new FsPermission(m.toShort)); mode(Paths.get(d.toUri)) }
      val (plain, plainStarts) = ProcessStarts(all.map(set))
      val (sticky, stickyStarts) = ProcessStarts(all.map(m => set(m | 0x200)))
      // Hadoop's own path forks one `chmod` per call where libhadoop is absent.
      val forks = if (NativeIO.isAvailable) 0 else all.size
      val wrong = all.filter(m => plain(m) != m || sticky(m) != (m | 0x200))
      (plainStarts.isEmpty && wrong.isEmpty && stickyStarts.size == forks &&
        ProcessStarts.byProgram(stickyStarts).keySet.subsetOf(Set("chmod"))) :|
        f"plain starts ${ProcessStarts.byProgram(plainStarts)}, sticky starts ${ProcessStarts.byProgram(stickyStarts)}, " +
          wrong.take(3).map(m => f"$m%03o -> ${plain(m)}%04o / ${sticky(m)}%04o").mkString(", ")
    } finally {
      fs.close(); delete(root)
    }
  }

  property("each graft class renames as the stock class it mirrors") = {
    val pairs = Seq(
      classOf[LocalFs].getName -> "org.apache.hadoop.fs.LocalFileSystem",
      classOf[HiveProxyLocalFs].getName -> "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")
    // A file renamed onto: nothing, an existing file, an existing dir.
    val targets = Seq("none", "file", "dir")
    val results = for ((graft, stock) <- pairs; t <- targets) yield {
      def run(impl: String): (Boolean, Seq[(String, String, Int)]) = {
        val fs = newFs(0x12, Some(impl))
        val root = Files.createTempDirectory("graft-rename-prop")
        try {
          Files.write(root.resolve("src"), Array[Byte](1, 2, 3))
          t match {
            case "file" => Files.write(root.resolve("dst"), Array[Byte](4))
            case "dir"  => Files.createDirectory(root.resolve("dst"))
            case _      =>
          }
          val ok = fs.rename(new Path(root.resolve("src").toUri), new Path(root.resolve("dst").toUri))
          (ok, tree(root))
        } finally {
          fs.close(); delete(root)
        }
      }
      (s"$graft onto $t", run(graft), run(stock))
    }
    val wrong = results.filter(r => r._2 != r._3)
    wrong.isEmpty :| wrong.mkString("; ")
  }
}
