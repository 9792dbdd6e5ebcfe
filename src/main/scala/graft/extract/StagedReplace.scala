package graft.extract

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe whole-content replacement of a parquet dir: the one swap
  * protocol behind every product overwrite (the loader's full refreshes,
  * first incremental loads and empty-batch truncations, the upsert and
  * sketch sinks, sidecar compaction and layout migration, the novelty
  * bootstrap).
  *
  * [[replace]] job-commits the full replacement to `dir.staged`, then
  * swaps RENAME-FIRST: `dir → dir.swap-old`, `dir.staged → dir`, delete
  * the old copy. A complete copy of the table exists on disk at every
  * instant, where Spark's own overwrite deletes `dir` before it writes.
  * The crash windows and their healing ([[heal]]):
  *
  *   - died during staging (staged uncommitted, live intact): delete the
  *     partial staged dir; the replacement simply re-runs when next
  *     triggered;
  *   - died between the two renames (staged committed, live gone): the
  *     staged copy IS the table — finish the swap;
  *   - died before the final delete (live intact, stray staged/old):
  *     delete the remnants.
  *
  * Every WRITER of a replaceable dir heals before touching it, appends
  * included: an append after a cut between the renames would otherwise
  * create a live dir, and the next heal would drop the committed copy.
  * Healing deletes, so it belongs to the dir's one writer; a reader that
  * may run beside that writer opens [[readable]] instead, which only looks.
  *
  * What a concurrent reader can see: the old rows, the new rows, or — for
  * the instant between the two renames — a vacant name that fails loudly
  * (`PATH_NOT_FOUND`, or `FILE_NOT_EXIST` for a handle listed before the
  * swap); never a partial table.
  *
  * Object stores: the protocol leans on directory rename being atomic,
  * which holds on local, HDFS and ABFS file systems but not on S3-like
  * stores, where a "rename" is a per-object copy + delete and a crash can
  * leave a half-moved dir. At 100 TB the swap becomes a table format's
  * atomic commit (Delta/Iceberg/Hudi `replaceWhere` / `INSERT OVERWRITE`
  * snapshots): same staged-then-publish shape, one metadata pointer swap.
  *
  * Local disk: a write there creates every file and dir through
  * [[LocalFs]], which sets their permissions in-process where Hadoop's
  * local filesystem forks a `chmod` for each (`.crc` files and the
  * commit's `_temporary` dirs included). That cost exists only on local
  * disk (single-node deployments, the test suite, perfbench); HDFS and
  * object-store paths are untouched.
  */
object StagedReplace {

  /** True when `dir` exists and holds at least one non-hidden entry.
    * Existence is checked through the Hadoop FileSystem resolved from the
    * path (java.io.File is always false on hdfs://, s3a://, …); any read
    * failure other than absence propagates rather than reading as "empty".
    */
  private[graft] def hasData(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = (this.fs(spark, dir), new Path(dir))
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Complete or clean up a [[replace]] of `dir` that crashed (the windows
    * are in the object scaladoc). Refuses, loudly, the one state it cannot
    * settle: no live `dir` beside a committed `dir.staging-<n>` left by the
    * earlier per-batch protocol, whose replayed batch would rebuild the
    * sink from its own rows alone and drop all pre-batch history. Every
    * sink writer calls this first, so it also ensures the engine
    * ([[graft.Engine.ensure]]), graft's local filesystem included, for the
    * writes that follow.
    */
  def heal(spark: SparkSession, dir: String): Unit = {
    graft.Engine.ensure(spark)
    val (fs, live, staged) = (this.fs(spark, dir), new Path(dir), new Path(s"$dir.staged"))
    val liveData = hasData(spark, dir)
    if (!liveData && fs.exists(new Path(staged, "_SUCCESS"))) {
      fs.delete(live, true) // marker-only remnant would break the rename
      renameOrThrow(fs, staged, live)
    } else {
      if (!liveData)
        Option(fs.globStatus(new Path(s"$dir.staging-*"))).toSeq.flatten
          .map(s => new Path(live.getParent, s.getPath.getName))
          .find(p => fs.exists(new Path(p, "_SUCCESS")))
          .foreach(p => throw new IllegalStateException(
            s"$dir has no data but $p holds a committed copy from an interrupted swap; restore " +
              s"it by hand (mv $p $dir, then delete any $dir.old-<n>) before writing again"))
      fs.delete(staged, true)
    }
    fs.delete(new Path(s"$dir.swap-old"), true)
  }

  /** Replace `dir`'s whole content with what `write` commits to the path it
    * is given (a fresh `dir.staged`; `write` may read the live `dir`, since
    * staging completes before any rename). Heals first, so a replayed
    * replacement sees the outcome of any crashed one. Filesystem calls
    * only: the swap launches no Spark job.
    */
  def replace(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    heal(spark, dir)
    val (fs, live, old) = (this.fs(spark, dir), new Path(dir), new Path(s"$dir.swap-old"))
    write(s"$dir.staged")
    if (fs.exists(live)) renameOrThrow(fs, live, old)
    renameOrThrow(fs, new Path(s"$dir.staged"), live)
    fs.delete(old, true)
  }

  /** The path a reader should open for `dir`: `dir` itself, or, after a
    * crash between [[replace]]'s two renames, the committed `dir.staged`
    * copy that heals into it. Touches nothing, so it is safe beside a
    * running writer (whose next swap may move the copy away mid-read, a
    * loud failure, never short rows).
    */
  def readable(spark: SparkSession, dir: String): String =
    if (!hasData(spark, dir) && fs(spark, dir).exists(new Path(s"$dir.staged/_SUCCESS"))) s"$dir.staged"
    else dir
}
