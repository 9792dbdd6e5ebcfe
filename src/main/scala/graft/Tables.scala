package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.{FooterStats, SkippingFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors, FutureTask, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Try}

/** Fixture-table access. Schemas come from Parquet footers — the reference
  * never declares schemas either (mkpipe_extractor_clickhouse/__init__.py:43,
  * `reader.load()` infers from the source).
  *
  * A cold read launches no Spark job and lists its path once:
  * [[readParquet]] reads on the driver the one footer Spark's own inference
  * would read in a job, and builds the relation over the file index it
  * listed. That index skips, per scan, the files whose footer statistics
  * prove no row passes the scan's pushed filters — the same decision the
  * task-side parquet reader makes per row group, plus the TIMESTAMP_NTZ
  * and raw-nanos comparisons Spark 4.1's `ParquetFilters` does not convert
  * (so an incremental `ts >= wm` scan reads only the files holding rows at
  * or past the watermark). Footers are memoized per session by (path,
  * length, mtime) ([[footerMemo]]), which survives [[invalidate]] of the
  * dir: a landed file's footer is read once.
  *
  * Timestamp normalization (session TZ is pinned UTC):
  *   - the fixtures' `events.ts` is µs TIMESTAMP_NTZ parquet at every scale
  *     factor (isAdjustedToUTC=false) and takes the NTZ branch below like
  *     any other NTZ column;
  *   - a genuine TIMESTAMP(NANOS) column (a ClickHouse DateTime64(9)
  *     export) is unreadable on Spark 4.1.2 (PARQUET_TYPE_ILLEGAL) unless
  *     `spark.sql.legacy.parquet.nanosAsLong` is set, and then reads as a
  *     raw-nanos long: the LongType branch truncates ns→µs and
  *     [[graft.plans.PushdownNanosTimestamp]] restores scan pushdown.
  *     `PlansSpec` covers this with a real nanos file;
  *   - ms-precision columns load as TIMESTAMP_NTZ (isAdjustedToUTC=false);
  *     cast to TimestampType so instant functions (unix_micros, window) work.
  *     Under a UTC session both renderings are identical.
  */
object Tables {
  val All = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // One memo map per session: (dir, tag) → a once-cell holding the value.
  // The outer map holds the session itself with reference-identity
  // semantics (SparkSession doesn't override equals), so a lookup can never
  // serve plans bound to a different session. Memoized DataFrames strongly
  // reference their session, so the weak-keyed entries in practice live
  // until JVM exit; the retention is bounded by sessions-ever-created
  // (typically 1) and a stale entry is unreachable by construction.
  private val memos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, String), FutureTask[Any]]]())

  /** The engine's one memo: the value `build` returns, computed once per
    * (session, dir, tag). Raw reads ([[t]]), graph loads, baskets,
    * signatures, centroids and materialized copies all memoize here, so
    * [[invalidate]] reaches every one of them.
    *
    * `build` runs in the calling thread OUTSIDE any map lock, so it may
    * call other memos (derived tables compose: cluster labels read pairs
    * read signatures read the raw table). Concurrent callers of the same
    * key wait for the single build ([[inParallel]] chains rely on this).
    * A build that throws is not cached — the next call retries — and its
    * exception reaches every waiting caller unwrapped. A build must not
    * recurse into its OWN key (it would wait on itself).
    *
    * IMMUTABILITY CONTRACT: entries are NEVER invalidated by an
    * underlying-data change. What an entry holds differs by layer, and
    * that is exactly the hazard on a mutable dir:
    *
    *   - a memoized RAW READ is a plan, not data — whether execution
    *     re-lists the dir (appends show through) or serves Spark's own
    *     file-status cache (appends invisible) is NONDETERMINISTIC under
    *     mutation (measured both ways across runs);
    *   - DRIVER-SIDE results (k-means centroid matrices), materialized
    *     copies (round-trip and layout dirs) and localCheckpoint'ed tables
    *     (cluster labels) are frozen at first use, permanently stale
    *     against a mutated dir;
    *   - `persist`ed derived tables (token/anchor tables) sit in between:
    *     the block cache may serve frozen partitions or silently
    *     recompute through a re-listing scan — also nondeterministic.
    *
    * A dir mutated in place therefore serves an INCOHERENT composite
    * view. That never happens in this engine's inputs-as-fixtures model
    * (extract rounds and the fixture dirs are immutable within a session;
    * the indexed streaming sinks read their sidecar state through
    * un-memoized per-batch plans) — but the day a mutable dir IS the
    * input, the caller must call [[invalidate]](spark, dir) after each
    * change (or use a fresh session). Mtime-based keying was rejected: it
    * adds a filesystem listing per access and still cannot refresh an
    * already-checkpointed derived table.
    */
  private[graft] def memo[V](spark: SparkSession, dir: String, tag: String)(build: => V): V = {
    val m = memos.computeIfAbsent(spark, _ => new ConcurrentHashMap)
    val key = (dir, tag)
    val fresh = new FutureTask[Any](() => build)
    val cell = m.putIfAbsent(key, fresh) match {
      case null => fresh.run(); fresh
      case prior => prior
    }
    try cell.get().asInstanceOf[V]
    catch {
      case e: ExecutionException =>
        m.remove(key, cell)
        throw e.getCause
    }
  }

  /** Evict every memoized plan and derived table bound to `dir` for this
    * session — the escape hatch the immutability contract on [[memo]]
    * names: call after changing a dir's contents in place, and the next
    * access re-reads and re-derives. Eviction is by dir, not by (dir,
    * tag): derived tables compose (cluster labels read signatures read the
    * raw table), so a partial eviction could rebuild one layer on a stale
    * lower layer.
    */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    val m = memos.get(spark)
    if (m != null) m.keySet().removeIf(_._1 == dir)
    // Also drop Spark's own file-status/plan caches under the path —
    // without this the freshly built plan can still serve the stale
    // listing, and WITH it the post-invalidate view is deterministic.
    spark.catalog.refreshByPath(dir)
  }

  /** The parquet footers [[org.apache.spark.sql.graft.FooterStats]] has
    * read under one table path, by (path, length, mtime): one [[memo]]
    * cell per (session, qualified table path). A key names one version of
    * one file, so the map never serves a stale footer; FooterStats prunes
    * it to the files a listing of the path sees. It is keyed by the table
    * path, not the fixture dir, so `invalidate(spark, dir)` after a delta
    * lands keeps it: the next cycle reads only the new files' footers.
    */
  def footerMemo(spark: SparkSession, root: String): ConcurrentHashMap[(String, Long, Long), ParquetMetadata] =
    memo(spark, root, "parquet-footers")(new ConcurrentHashMap[(String, Long, Long), ParquetMetadata]())

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Session-level setup runs on every call, not only on a memo miss, so
    // a conf reset between reads cannot leave a warm key without it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.plans.PushdownNanosTimestamp.install(spark)
    graft.plans.SessionRules.addStrategy(spark, graft.plans.ParamScanFilters)
    // DataFrames are immutable plans — memoized so repeated reads skip the
    // file listing and the footer read.
    memo(spark, dir, s"table/$name")(normalize(readParquet(spark, s"$dir/$name.parquet")))
  }

  /** The timestamp normalization in the header, as one projection. */
  private[graft] def normalize(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast("timestamp").as(f.name)
      else if (f.name == "ts" && f.dataType == LongType) timestamp_micros(expr("ts DIV 1000")).as("ts")
      else col(f.name)
    }: _*)

  /** `spark.read.parquet(path)` without its schema-inference job, over one
    * listing, skipping files by their footer statistics.
    *
    * Schema: Spark's non-merging inference reads one footer —
    * `_common_metadata`, else `_metadata`, else the first data file by path
    * — in a one-task job (57–70 ms per cold read). Here that footer comes
    * from [[FooterStats]] (read on the driver, or memoized) and is converted
    * with the flags that job uses.
    *
    * Relation: the one [[SkippingFileIndex]] listed here is the relation's
    * file index, built as `spark.read.schema(s).parquet(path)` builds it
    * (same partition discovery, data schema and format), so a cold read
    * lists the path once, not twice. Its `listFiles` drops every file whose
    * row-group statistics prove no row passes the scan's pushed data
    * filters: Spark's own `ParquetFilters` conversion, evaluated by
    * parquet-mr's `RowGroupFilter` at the STATISTICS level, which is the
    * first of the levels the task-side reader drops row groups at — so a
    * skipped file is one that reader would read no row from. On top of that
    * it converts what `ParquetFilters` leaves out: comparisons on INT64
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) columns (TIMESTAMP_NTZ; the
    * fixtures' `events.ts`) and on TIMESTAMP(NANOS) read as raw-nanos
    * longs. Without them an incremental `ts >= wm` scan decodes every landed
    * file's rows on every cycle.
    *
    * With schema merging on, no file to read (an empty dir, a missing
    * path) or a footer that will not read, Spark infers as usual and raises
    * its own errors; a footer column named like a partition column goes
    * through `spark.read.schema(s)`, which types that partition column.
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.conf
    val root = new Path(path)
    val index = new SkippingFileIndex(spark, root.getFileSystem(state.newHadoopConf()).makeQualified(root))
    val files = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val footerFile = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val schema: Option[StructType] = footerFile.flatMap { f =>
      FooterStats.footers(spark, index, Seq(f)).get(f.getPath.toString).flatMap(m =>
        Try(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, m), converter)).toOption)
    }
    schema.filter(_ => !conf.isParquetSchemaMergingEnabled) match {
      case Some(s) => index.relation(s).getOrElse(spark.read.schema(s).parquet(path))
      case None    => spark.read.parquet(path)
    }
  }

  /** Register every fixture table as a temp view for spark.sql paths. */
  def registerViews(spark: SparkSession, dir: String, names: Seq[String] = All): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Run independent driver-side job chains concurrently and return their
    * results in argument order (guide §2.6: Spark happily runs several jobs
    * at once inside one application — actions are only sequential because
    * the driver calls them sequentially). Used where ONE query's
    * construction contains two or more mutually independent eager chains
    * (checkpoint rounds, probe collects), and by
    * [[graft.extract.Pipeline.run]] for its independent table runs: each
    * thunk submits its jobs from its own thread and the scheduler
    * back-fills idle cores with the other chains' tasks.
    *
    * At most `spark.sparkContext.defaultParallelism` thunks (the session's
    * task slots) run at once; the rest queue in argument order. More chains
    * than slots would only queue tasks, so a 300-table pipeline never
    * starts 300 threads. A single thunk runs inline in the caller's thread.
    * The pool is created per call and torn down before returning — no
    * thread outlives the call — and its threads are created by the caller,
    * so they inherit its Spark local properties (job group, scheduler
    * pool). Every thunk ends before the call returns; the first failure in
    * argument order is then rethrown unwrapped. Thunks must not depend on
    * each other; [[memo]] stays safe because a concurrent builder blocks
    * the other thunks on the same key.
    */
  private[graft] def inParallel[T](spark: SparkSession)(thunks: (() => T)*): Seq[T] =
    if (thunks.sizeIs <= 1) thunks.map(_()).toSeq
    else {
      val width = math.min(thunks.size, spark.sparkContext.defaultParallelism)
      // Named so a leaked pool thread is visible; daemon so one never
      // holds the JVM open.
      val pool = Executors.newFixedThreadPool(width, new ThreadFactory {
        private val n = new AtomicInteger
        def newThread(r: Runnable): Thread = {
          val th = new Thread(r, s"graft-parallel-${n.incrementAndGet()}")
          th.setDaemon(true)
          th
        }
      })
      try {
        val futs = thunks.map(th => pool.submit(new Callable[T] { def call(): T = th() }))
        futs.map(f => Try(f.get())).map {
          case Failure(e: ExecutionException) => throw e.getCause
          case done => done.get
        }.toSeq
      } finally {
        pool.shutdownNow()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    }
}
