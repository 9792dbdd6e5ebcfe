package graft.extract

import graft.model._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterStats

/** The extraction engine — a Spark-first reimplementation of the reference's
  * `ClickhouseExtractor.extract` decision tree
  * (mkpipe_extractor_clickhouse/__init__.py:56-134) over Parquet-backed tables.
  *
  * Differences from the reference, by design:
  *   - The pushed SQL runs on Catalyst over temp views instead of being shipped
  *     to ClickHouse (__init__.py:40,101): the engine IS the analytic engine.
  *   - An incremental batch is read at most twice, with no cache. The
  *     empty-batch probe and the watermark (count > 0, `max(iterate
  *     column)`) come first, then the load's write. The reference runs the
  *     pushed query up to 3× (take(1), agg-max, write;
  *     __init__.py:103,112,132-134). A source that grows between the probe
  *     and the load only makes the load see rows past the watermark, which
  *     the next run's inclusive predicate re-reads (at-least-once, as
  *     there).
  *   - Where the probe comes from: on the native path (no `custom_query`,
  *     no bounds) [[org.apache.spark.sql.graft.FooterStats.probe]] reads it
  *     from parquet footer statistics with no Spark job, when they make it
  *     exact: the batch's optimized plan is a bare `iterCol >= wm` (or the
  *     first load's tautology) over a parquet relation, the column is
  *     integral, date or timestamp (or a monotone normalization of one),
  *     and every non-empty row group has exact statistics for it. The max
  *     comes back as the JVM value the aggregate returns, so the stored
  *     watermark string is byte-identical. Everything else — a
  *     `custom_query`, bounds, a JDBC or other non-file `source`, INT96,
  *     float or missing statistics, a partition column — runs one
  *     column-pruned `count` + `max` aggregate (reads only the iterate and
  *     filter columns; two jobs under AQE).
  *   - Non-custom-query extraction uses native Column predicates (filter pushed
  *     to the Parquet scan) rather than SQL text; the SQL renderer is kept for
  *     `custom_query` template parity and is property-tested equivalent.
  *
  * Measured and rejected:
  *   - Persisting the batch (MEMORY_AND_DISK) before probe, max and write —
  *     the engine's earlier design. On `perfbench` replicate (5 tables per
  *     cycle, 2 incremental) a traced cycle took 18 jobs with it, 5 of them
  *     the schema jobs of cold [[graft.Tables.t]] reads, and takes 9 with
  *     neither. The cached path's own share, 13 jobs against 9, is derived
  *     (18 − 5), not run on its own: the `take(1)` probe scales up over the
  *     partitions the watermark prunes, and the persisted batch spilled
  *     under a small storage pool. Both removals together took the cycle
  *     median from 1414 to 1085 ms (10 alternating pairs, 4-core box).
  *   - Taking the watermark from `Dataset.observe` on the load's write
  *     (one pass, cycles 967 ms): the `Observation` is filled through the
  *     listener bus, so it was set when the write returned in only 5 of 20
  *     writes, and a downstream `limit` filled it with a partial max
  *     (124596 against 149999). The watermark would depend on the loader.
  *
  * Measured (perfbench replicate, 4-core box): the stats probe removes
  * lineitem's two aggregate jobs, and file skipping cuts the files the
  * landing scans read, so a cycle runs 7 jobs instead of 9 and its traced
  * scans read 9 files at 16 and at 32 cycles (55 and 71 before, growing
  * with history); the cycle median went from 898 to 651 ms (10
  * alternating pairs, every pair won).
  *
  * Scale notes (100 TB): the count + max is a partial+final aggregate (one
  * row per partition moves, over only the columns it reads). The stats
  * probe and the scan's file skipping cost one footer read per landed file
  * per session, memoized by (path, length, mtime): a cycle reads only the
  * new files' footers, on the driver while they are at most Spark's
  * `parallelPartitionDiscovery.threshold` (32), else in one distributed
  * job, and its listing stays O(files in the dir) — the listing, not the
  * footers, is what still grows with history. `extract` does
  * not apply `partitionsCount` on Parquet — only [[readPartitioned]] (a
  * `repartitionByRange`) and JDBC stride reads use it (README.md:85-93).
  * The watermark reaches the generated code as a parameter
  * ([[graft.plans.ParamScanFilters]]), so a cycle's plans generate the
  * same source as the last cycle's: each executor JVM compiles a class
  * once and reuses it for every later cycle.
  */
final class Extractor(
    sfDir: String,
    /** Source strategy: how a table name becomes a DataFrame. Defaults to
      * the Parquet fixtures; a JDBC-backed variant passes
      * `(s, n) => JdbcSource.load(s, conn, TableConfig(n))` and the whole
      * decision tree — watermark, bounds, tri-state, template splice — runs
      * against the live source, with Catalyst pushing the incremental
      * predicates INTO the source query (the reference builds that WHERE
      * clause by hand, __init__.py:73-99; here it falls out of filter
      * pushdown). Proven end-to-end over embedded Derby in JdbcSourceSpec.
      */
    source: Option[(SparkSession, String) => DataFrame] = None) {

  /** Structured start/end logging (reference A18, __init__.py:59-65,125-131):
    * key=value pairs with table, replication method, mode, status.
    */
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Extractor])

  private def logExtract(table: TableConfig, status: String, mode: String): Unit =
    log.info("extract table={} replication_method={} write_mode={} status={}",
      table.name, table.replicationMethod.toString.toLowerCase, mode, status)

  def readTable(spark: SparkSession, name: String): DataFrame =
    source.fold(graft.Tables.t(spark, sfDir, name))(f => f(spark, name))

  /** Range-partitioned parallel read (reference A15, README.md:85-93): on a
    * JDBC source this is stride partitioning (`partitionColumn`/`lowerBound`/
    * `upperBound`/`numPartitions`); on Parquet we expose the same parallelism
    * contract as a range repartition on the partitions column. Full
    * replication does not apply partitioning (README.md:93).
    */
  def readPartitioned(spark: SparkSession, t: TableConfig): DataFrame = {
    val df = readTable(spark, t.name)
    t.effectivePartitionsColumn match {
      case Some(c) if t.partitionsCount > 1 =>
        df.repartitionByRange(t.partitionsCount, col(c))
      case _ => df
    }
  }

  /** The extract decision tree (reference __init__.py:56-134). */
  def extract(
      spark: SparkSession,
      table: TableConfig,
      lastPoint: Option[String] = None,
      sqlDir: String = "./sql"): ExtractResult = {
    val customQuery = QueryTemplate.resolve(table, sqlDir)
    logExtract(table, "started", "-")
    table.replicationMethod match {
      case ReplicationMethod.Incremental if table.iterateColumn.isDefined =>
        val r = extractIncremental(spark, table, lastPoint, customQuery)
        logExtract(table, "completed", r.writeMode.toString.toLowerCase)
        r
      case _ =>
        // Full refresh (reference __init__.py:116-123): no predicate stage,
        // overwrite mode, no watermark; custom query spliced with WHERE 1=1.
        val df = customQuery match {
          case Some(q) =>
            readTable(spark, table.name).createOrReplaceTempView(table.name)
            // custom_query is CLICKHOUSE SQL by the reference's contract
            // (it ships to ClickHouse verbatim, __init__.py:96-101), so it
            // runs through the dialect layer: LIMIT BY / QUALIFY /
            // PREWHERE / quantile(p)(x) / uniqExact and friends in a
            // user's existing YAML work unchanged.
            graft.plans.ClickHouseSql.sql(spark,
              QueryTemplate.splice(q, Predicates.Tautology))
          case None => readTable(spark, table.name)
        }
        logExtract(table, "completed", "overwrite")
        ExtractResult(Some(df), SaveMode.Overwrite, None)
    }
  }

  private def extractIncremental(
      spark: SparkSession,
      table: TableConfig,
      lastPoint: Option[String],
      customQuery: Option[String]): ExtractResult = {
    val iterCol = table.iterateColumn.get
    val df = customQuery match {
      case Some(q) =>
        // Template path: SQL-clause parity with the reference (__init__.py:96-97),
        // executed by Catalyst over a temp view instead of by ClickHouse —
        // through the DIALECT layer, since custom_query is ClickHouse SQL
        // by the reference's contract (see the full-refresh branch).
        val (clause, _) = Predicates.incrementalClause(table, lastPoint)
        readTable(spark, table.name).createOrReplaceTempView(table.name)
        graft.plans.ClickHouseSql.sql(spark, QueryTemplate.splice(q, clause))
      case None =>
        // Native path: typed Column predicate, pushed down to the Parquet scan.
        val (pred, _) = Predicates.incrementalPredicate(table, lastPoint)
        readTable(spark, table.name).filter(pred)
    }
    val (_, mode) = Predicates.incrementalClause(table, lastPoint)

    // Existence probe + watermark (reference A10/A11, __init__.py:103,110-115):
    // from footer statistics on the native path when they are exact, else
    // ONE column-pruned aggregate that reads only the iterate and filter
    // columns; the load is the batch's last pass.
    val bounded = table.filterLowerBound.isDefined || table.filterUpperBound.isDefined
    val (nonEmpty, top) = Option.when(customQuery.isEmpty && !bounded)(FooterStats.probe(df, iterCol)).flatten
      .getOrElse {
        val r = df.agg(count(lit(1)), max(col(iterCol))).head()
        (r.getLong(0) > 0L, Option(r.get(1)))
      }
    if (!nonEmpty) {
      // Empty-batch tri-state (reference __init__.py:103-108): overwrite keeps
      // the empty df so the loader truncates; append returns None (no-op).
      mode match {
        case SaveMode.Overwrite => ExtractResult(Some(df), SaveMode.Overwrite, None)
        case _                  => ExtractResult(None, SaveMode.Append, None)
      }
    } else {
      // The watermark stringified; an all-null iterate column has no max.
      ExtractResult(Some(df), mode, top.map(Extractor.stringify))
    }
  }

  /** Loader-side write, completing the reference's ExtractResult contract:
    * sink-mode selection (A14) + write-partition coalesce (A16, README.md:114).
    *
    * Overwrite (full refresh, first incremental load, empty-batch
    * truncation) goes through [[StagedReplace.replace]]: the batch is
    * committed beside the sink and swapped in by two renames, so a crash
    * mid-write leaves the previous sink whole, and a concurrent reader sees
    * the old rows, the new rows or, between the renames, a vacant name that
    * fails loudly — never an empty or partial sink (Spark's own overwrite
    * deletes the sink before it writes). Append stays a plain append,
    * at-least-once as in the reference, after a [[StagedReplace.heal]]: an
    * append into a sink whose last replace died between its renames would
    * otherwise create a fresh live dir and orphan the committed copy.
    */
  def load(result: ExtractResult, table: TableConfig, outPath: String): Unit =
    result.df.foreach { df =>
      val out = table.writePartitions.fold(df)(n => df.coalesce(n)).write.mode(result.writeMode)
      val (spark, dir) = (df.sparkSession, s"$outPath/${table.effectiveTargetName}")
      if (result.writeMode == SaveMode.Overwrite) StagedReplace.replace(spark, dir)(out.parquet)
      else {
        StagedReplace.heal(spark, dir)
        out.parquet(dir)
      }
    }
}

object Extractor {
  /** Always-seconds base of the watermark rendering (fraction appended
    * separately, trimmed); DateTimeFormatter is immutable and thread-safe.
    */
  private val WatermarkBaseFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Watermark string round-trip (reference `str(max_val)`, __init__.py:114).
    * Timestamps are rendered explicitly in UTC: `Timestamp.toString` uses the
    * JVM default timezone (spark.sql.session.timeZone does NOT affect it), so
    * on a non-UTC host the naive rendering would shift the persisted watermark
    * by the zone offset — silently skipping or re-extracting hours of rows on
    * re-splice (the re-parse path, [[Predicates.typedLit]] / SQL splice, is
    * interpreted in the UTC session zone). We convert the instant to a UTC
    * LocalDateTime and render it through `Timestamp.valueOf(...).toString`,
    * which formats the wall-clock fields directly — same
    * `yyyy-MM-dd HH:mm:ss.f…` shape as Python's str(datetime), preserved to
    * nanosecond precision, on every host.
    */
  private[graft] def stringify(v: Any): String = v match {
    case ts: java.sql.Timestamp => renderUtc(ts.toInstant)
    case i: java.time.Instant   => renderUtc(i) // java8API-enabled sessions
    case other => other.toString
  }

  /** Render the instant's UTC wall clock directly via java.time — never
    * through java.sql.Timestamp.valueOf, whose field-based constructor
    * resolves the fields in the JVM default zone: a UTC wall clock landing in
    * the default zone's DST spring-forward gap would be leniently shifted by
    * an hour, silently skipping that hour of rows on the next incremental
    * run. Shape: `yyyy-MM-dd HH:mm:ss[.fraction]` (seconds always printed,
    * fraction trimmed of trailing zeros and omitted when zero) — the same
    * shape as Timestamp.toString / Python's str(datetime), parseable by the
    * splice/typedLit re-parse.
    */
  private[graft] def renderUtc(i: java.time.Instant): String = {
    val ldt = i.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
    val base = ldt.format(WatermarkBaseFmt)
    if (ldt.getNano == 0) base
    else {
      var f = f"${ldt.getNano}%09d"
      while (f.endsWith("0")) f = f.dropRight(1)
      s"$base.$f"
    }
  }
}
