package graft.extract

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession

/** The `file://` filesystem of a graft session: Hadoop's checksummed
  * `LocalFileSystem` over a raw local filesystem ([[LocalFs.Raw]]) that sets
  * permission bits in-process.
  *
  * Where libhadoop is not loaded, `RawLocalFileSystem.setPermission` forks
  * a `chmod` process, and a local write calls it once for every file and
  * dir it creates: each data file, its `.crc`, `_SUCCESS` and its `.crc`,
  * the table dir, the `_temporary` levels and each task attempt dir.
  * Writing a one-task table forks 9 of them. Everything else is Hadoop's
  * own code.
  *
  * Local disk only: HDFS and object stores never fork to set permissions,
  * and their schemes are untouched, so the cost this removes exists on
  * single-node deployments, the test suite and perfbench. FileContext users
  * (`fs.AbstractFileSystem.file.impl`, e.g. structured-streaming
  * checkpoints) keep Hadoop's own local filesystem.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

/** [[LocalFs]] in a JVM whose `file` scheme resolves to Hive's
  * `ProxyLocalFileSystem`: `hive-exec` registers it beside Hadoop's
  * `LocalFileSystem`, the later jar on the classpath wins, and a
  * `$SPARK_HOME/jars` wildcard leaves that order to the directory listing.
  * Its one difference from `LocalFileSystem` is kept: a rename onto an
  * existing file returns false instead of replacing it.
  */
final class HiveProxyLocalFs extends LocalFs {
  override def rename(src: Path, dst: Path): Boolean =
    !(try getFileStatus(dst).isFile catch { case _: java.io.FileNotFoundException => false }) &&
      super.rename(src, dst)
}

object LocalFs {

  /** `RawLocalFileSystem` with `setPermission` through
    * `Files.setPosixFilePermissions` (no process). Hadoop's own path runs
    * when the request or the path carries sticky, setuid or setgid bits
    * (`chmod` keeps a dir's setgid bit where NIO would clear it), when the
    * default filesystem has no POSIX attributes, and where `NativeIO` is
    * loaded (Hadoop chmods in-process there already).
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xfff
      val f = pathToFile(p).toPath
      if (inProcess && (mode & ~0x1ff) == 0 && (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xe00) == 0)
        Files.setPosixFilePermissions(f, rwx(mode))
      else super.setPermission(p, permission)
    }
  }

  private lazy val inProcess: Boolean = !NativeIO.isAvailable && {
    val views = FileSystems.getDefault.supportedFileAttributeViews
    views.contains("posix") && views.contains("unix")
  }

  /** The 9 rwx bits of `mode` (PosixFilePermission order is 0400 … 0001). */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(b => if ((mode >> (8 - b.ordinal) & 1) != 0) s.add(b))
    s
  }

  private val FileUri = URI.create("file:///")

  private def unset(conf: Configuration): Boolean = conf.getTrimmed("fs.file.impl", "").isEmpty

  /** Make graft's filesystem the `file` scheme's, once per SparkContext
    * Hadoop conf: the `fs.file.impl` it sets there marks the conf done, so
    * a later call is one conf lookup. Called from the session setup of
    * [[graft.Tables.t]] and from [[StagedReplace.heal]], every product
    * sink writer's first call, so a pipeline whose source never reads
    * through `Tables.t` is covered too.
    *
    *   - A user's own `fs.file.impl` wins: then nothing is changed.
    *   - `fs.file.impl` is set to the graft class that mirrors the class
    *     Hadoop resolves for `file` (`LocalFileSystem`, or Hive's proxy);
    *     any other local filesystem is left alone.
    *   - Hadoop's filesystem cache keys on scheme, authority and user, not
    *     on the conf, and Spark's `SharedState` has usually cached the
    *     stock instance already (it qualifies the warehouse path with it),
    *     so a cached instance of exactly that class is evicted with
    *     `close()` and the next lookup builds graft's. `close()` also runs
    *     the stock instance's `processDeleteOnExit`: paths registered on it
    *     with `deleteOnExit` are deleted now, not at JVM exit. Holders of
    *     the stock instance keep using it; `RawLocalFileSystem` keeps no
    *     closed state.
    *   - A task whose conf lacks the setting and that looks the
    *     filesystem up between the eviction and the lookup below caches a
    *     stock instance again; that context then forks as before, with the
    *     same results.
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (unset(conf)) synchronized {
      if (unset(conf)) {
        val stock = FileSystem.getFileSystemClass("file", conf)
        mirror(stock).foreach { graft =>
          // Set on the context's conf last, so a concurrent call waits on
          // this lock until graft's instance is the cached one.
          val withGraft = new Configuration(conf)
          withGraft.set("fs.file.impl", graft.getName)
          val cached = FileSystem.get(FileUri, withGraft)
          if (cached.getClass == stock) {
            cached.close()
            FileSystem.get(FileUri, withGraft)
          }
          conf.set("fs.file.impl", graft.getName)
        }
      }
    }
  }

  private def mirror(stock: Class[_]): Option[Class[_ <: LocalFs]] =
    if (stock == classOf[LocalFileSystem]) Some(classOf[LocalFs])
    else if (stock.getName == "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem") Some(classOf[HiveProxyLocalFs])
    else None
}
