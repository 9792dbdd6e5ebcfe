package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extract.StagedReplace

/** Hand-built crash cuts of a [[StagedReplace.replace]] of `dir`: given
  * `dir` holding the old table (or nothing) and `next`, a committed copy of
  * what the replace writes, leave on disk what a crash at `cut` leaves.
  * No fault injection in the program: the states are written here.
  */
object SwapCuts {
  val All = Seq("during staging", "between the renames", "before cleanup")

  def apply(spark: SparkSession, dir: String, next: String, cut: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (live, staged, old) = (new Path(dir), new Path(s"$dir.staged"), new Path(s"$dir.swap-old"))
    val fs = live.getFileSystem(conf)
    def copyNext(to: Path): Unit = assert(FileUtil.copy(fs, new Path(next), fs, to, false, conf))
    cut match {
      case "during staging" =>
        // Tasks have written part files, the job has not committed.
        copyNext(staged)
        assert(fs.delete(new Path(staged, "_SUCCESS"), false))
      case "between the renames" =>
        if (fs.exists(live)) assert(fs.rename(live, old))
        copyNext(staged)
      case "before cleanup" =>
        if (fs.exists(live)) assert(fs.rename(live, old))
        copyNext(live)
    }
  }

  /** A copy of `dir` (a sink, a checkpoint) at `to`, for a run to start
    * from the same state more than once. */
  def copy(spark: SparkSession, dir: String, to: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    if (fs.exists(new Path(dir))) assert(FileUtil.copy(fs, new Path(dir), fs, new Path(to), false, conf))
    to
  }

  /** The rows a reader of `dir` gets — through [[StagedReplace.readable]],
    * so a cut between the renames reads the committed copy — sorted, or
    * None when there is no table. */
  def rows(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val p = StagedReplace.readable(spark, dir)
    if (StagedReplace.hasData(spark, p)) Some(sorted(spark.read.parquet(p))) else None
  }

  def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** True when neither swap sibling of `dir` is left on disk. */
  def clean(spark: SparkSession, dir: String): Boolean = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(new Path(s"$dir.staged")) && !fs.exists(new Path(s"$dir.swap-old"))
  }
}
