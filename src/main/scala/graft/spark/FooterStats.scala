package org.apache.spark.sql.graft

import java.io.ByteArrayInputStream
import java.time.ZoneId

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession, sources}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, RebaseDateTime}
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.{SerializableConfiguration, Utils}

/** Parquet footer statistics, read once per file per session, and the two
  * things they answer without a Spark job: which files a scan can skip
  * ([[SkippingFileIndex]]) and an incremental extract's count > 0 +
  * `max(iterate column)` ([[probe]]).
  *
  * The memo (`graft.Tables.footerMemo`) is per session and dir, keyed by
  * (path, length, mtime): a landed file is read once, a file rewritten in
  * place gets a new key, and a dir's entries are pruned to its live files
  * each time it is listed, so the memo holds at most one footer per live
  * file. A file replaced by one of the same length within the
  * filesystem's mtime resolution would keep its old footer; landing dirs
  * add files, they do not rewrite them.
  *
  * Cold footers are read on the driver while there are at most
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` of them (the
  * bound Spark's own file listing uses), and above it in one Spark job of
  * at most `spark.sql.sources.parallelPartitionDiscovery.parallelism`
  * tasks, each returning raw footer bytes the driver decodes — the way
  * `InMemoryFileIndex` lists a large dir. A footer that will not read is
  * not memoized: its file is never skipped, and a probe over it falls back.
  *
  * Lives under `org.apache.spark.sql` because the filter translation a
  * file scan pushes (`DataSourceStrategy.translateFilter`) is
  * `protected[sql]`; the skip decision must use exactly that translation.
  */
object FooterStats extends PredicateHelper {

  private def key(f: FileStatus) = (f.getPath.toString, f.getLen, f.getModificationTime)

  /** The footers of `wanted` (files of `index`), by path; files whose
    * footer will not read are absent. Prunes the dir's entries to the
    * files `index` lists now, then reads the cold ones.
    */
  def footers(spark: SparkSession, index: PartitioningAwareFileIndex,
      wanted: Seq[FileStatus]): Map[String, ParquetMetadata] = {
    val entries = _root_.graft.Tables.footerMemo(spark, index.rootPaths.mkString(","))
    val live = index.allFiles().iterator.map(key).toSet
    entries.keySet.removeIf(k => !live.contains(k))
    val fresh = read(spark, wanted.filterNot(f => entries.containsKey(key(f)))).toMap
    fresh.foreach { case (f, m) => entries.put(key(f), m) }
    wanted.flatMap(f => fresh.get(f).orElse(Option(entries.get(key(f)))).map(f.getPath.toString -> _)).toMap
  }

  private def read(spark: SparkSession, files: Seq[FileStatus]): Seq[(FileStatus, ParquetMetadata)] = {
    val state = spark.asInstanceOf[ClassicSparkSession].sessionState
    val hadoopConf = state.newHadoopConf()
    val tails: Seq[Option[Array[Byte]]] =
      if (files.size <= state.conf.parallelPartitionDiscoveryThreshold)
        files.map(f => Try(tail(hadoopConf, f.getPath.toString, f.getLen)).toOption)
      else {
        val sc = spark.sparkContext
        val conf = new SerializableConfiguration(hadoopConf)
        val paths = files.map(f => (f.getPath.toString, f.getLen))
        val prior = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
        sc.setJobDescription(s"Reading ${paths.size} parquet footers")
        try sc.parallelize(paths, math.min(paths.size, state.conf.parallelPartitionDiscoveryParallelism))
          .map { case (p, n) => Try(tail(conf.value, p, n)).toOption }.collect().toSeq
        finally sc.setJobDescription(prior)
      }
    files.zip(tails).flatMap { case (f, t) =>
      t.flatMap(b => Try(new ParquetMetadataConverter().readParquetMetadata(
        new ByteArrayInputStream(b), ParquetMetadataConverter.NO_FILTER)).toOption).map(f -> _)
    }
  }

  /** The serialized footer of a plain (unencrypted) parquet file of `length`
    * bytes: `<footer><4-byte little-endian footer length>PAR1`.
    */
  private def tail(conf: Configuration, path: String, length: Long): Array[Byte] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try {
      val end = new Array[Byte](8)
      in.readFully(length - 8, end)
      require(new String(end, 4, 4, "US-ASCII") == "PAR1", s"$path: not a plain parquet file")
      val n = java.nio.ByteBuffer.wrap(end, 0, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      require(n > 0 && n <= length - 12, s"$path: footer length $n")
      val footer = new Array[Byte](n)
      in.readFully(length - 8 - n, footer)
      footer
    } finally in.close()
  }

  /** The filters a file scan pushes to the parquet reader for these data
    * filters (FileSourceStrategy's translation), or none when the session
    * turned parquet pushdown off.
    */
  private[sql] def pushed(spark: SparkSession, dataFilters: Seq[Expression]): Seq[sources.Filter] = {
    val conf = spark.asInstanceOf[ClassicSparkSession].sessionState.conf
    val nested = Utils.stringToSeq(conf.getConf(SQLConf.NESTED_PREDICATE_PUSHDOWN_FILE_SOURCE_LIST)
      .toLowerCase(java.util.Locale.ROOT)).contains("parquet")
    if (!conf.parquetFilterPushDown) Nil
    else dataFilters.flatMap(DataSourceStrategy.translateFilter(_, nested))
  }

  /** False when this file's row-group statistics prove that no row passes
    * `filters`: the same `ParquetFilters` conversion the task-side reader
    * makes, plus [[ntz]], evaluated by parquet-mr's `RowGroupFilter` at the
    * STATISTICS level — the first of the levels the reader itself drops
    * row groups at, so a skipped file is one the reader would read no row
    * group of.
    */
  private[sql] def mayMatch(spark: SparkSession, footer: ParquetMetadata, filters: Seq[sources.Filter]): Boolean = {
    val conf = spark.asInstanceOf[ClassicSparkSession].sessionState.conf
    val meta = footer.getFileMetaData
    val schema = meta.getSchema
    val rebase = DataSourceUtils.datetimeRebaseSpec(meta.getKeyValueMetaData.get,
      conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString)
    val pf = new ParquetFilters(schema, conf.parquetFilterPushDownDate, conf.parquetFilterPushDownTimestamp,
      conf.parquetFilterPushDownDecimal, conf.parquetFilterPushDownStringPredicate,
      conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis, rebase)
    val ntzOn = conf.parquetFilterPushDownTimestamp
    // A predicate the statistics filter cannot evaluate keeps the file.
    filters.flatMap(f => pf.createFilter(f).orElse(if (ntzOn) ntz(schema, f, conf.resolver) else None))
      .reduceOption(FilterApi.and)
      .forall(p => Try(!RowGroupFilter.filterRowGroups(FilterCompat.get(p), footer.getBlocks, schema).isEmpty)
        .getOrElse(true))
  }

  /** The comparisons `ParquetFilters` leaves unconverted on INT64
    * timestamps: TIMESTAMP(MICROS, isAdjustedToUTC=false) read as
    * TIMESTAMP_NTZ (a `LocalDateTime` value; Spark's converter only knows
    * UTC-adjusted timestamps), and TIMESTAMP(NANOS) read as a raw-nanos long
    * under `nanosAsLong` (its converter only knows unannotated INT64). The
    * stored long is the column's value in both, in signed INT64 order, so
    * its min/max statistics bound it exactly as they bound any long.
    */
  private def ntz(schema: MessageType, f: sources.Filter, resolver: (String, String) => Boolean): Option[FilterPredicate] = {
    def long(name: String, v: Any): Option[(Operators.LongColumn, java.lang.Long)] =
      schema.getFields.asScala.filter(t => resolver(t.getName, name)).toSeq match {
        case Seq(t) if t.isPrimitive && t.getRepetition != Repetition.REPEATED &&
            t.asPrimitiveType.getPrimitiveTypeName == INT64 && !name.contains('.') && !name.contains('`') =>
          (t.getLogicalTypeAnnotation, v) match {
            case (ts: TimestampLogicalTypeAnnotation, d: java.time.LocalDateTime)
                if !ts.isAdjustedToUTC && ts.getUnit == TimeUnit.MICROS =>
              Some(FilterApi.longColumn(t.getName) -> Long.box(DateTimeUtils.localDateTimeToMicros(d)))
            case (ts: TimestampLogicalTypeAnnotation, n: java.lang.Long) if ts.getUnit == TimeUnit.NANOS =>
              Some(FilterApi.longColumn(t.getName) -> n)
            case _ => None
          }
        case _ => None
      }
    f match {
      case sources.EqualTo(n, v) => long(n, v).map { case (c, x) => FilterApi.eq(c, x) }
      case sources.EqualNullSafe(n, v) => long(n, v).map { case (c, x) => FilterApi.eq(c, x) }
      case sources.GreaterThan(n, v) => long(n, v).map { case (c, x) => FilterApi.gt(c, x) }
      case sources.GreaterThanOrEqual(n, v) => long(n, v).map { case (c, x) => FilterApi.gtEq(c, x) }
      case sources.LessThan(n, v) => long(n, v).map { case (c, x) => FilterApi.lt(c, x) }
      case sources.LessThanOrEqual(n, v) => long(n, v).map { case (c, x) => FilterApi.ltEq(c, x) }
      case _ => None
    }
  }

  /** Count > 0 and `max(iterCol)` of `df`, as `df.agg(count(lit(1)),
    * max(iterCol))` would return them (the max as the same JVM value), read
    * from footer statistics with no Spark job — or None when statistics
    * cannot make them exact. They are exact when:
    *
    *   - `df`'s optimized plan is a parquet relation, under at most one
    *     filter and one projection;
    *   - `iterCol` is a data column of an integral, date or timestamp type,
    *     or a monotone normalization of one (the TIMESTAMP_NTZ → TIMESTAMP
    *     cast in a fixed-offset session zone, `timestamp_micros(ns DIV
    *     1000)`);
    *   - the filter is a conjunction of `c >= literal` and `isnotnull(c)`
    *     over that column (the incremental watermark) or absent (the
    *     tautology) — an upward-closed predicate, so some row passes iff the
    *     column's maximum passes, and the maximum of the passing rows is the
    *     column's maximum;
    *   - every non-empty row group of every file has statistics for the
    *     column, with min/max or a null count equal to its row count, in a
    *     physical type whose statistics are exact (signed INT32/INT64,
    *     DATE, TIMESTAMP MICROS/MILLIS, NANOS as a long; never INT96, float
    *     or decimal), and no date or timestamp value needs calendar
    *     rebasing.
    */
  def probe(df: DataFrame, iterCol: String): Option[(Boolean, Option[Any])] = {
    val conf = df.sparkSession.asInstanceOf[ClassicSparkSession].sessionState.conf
    val plan = df.queryExecution.optimizedPlan
    val (outputs, below) = plan match {
      case Project(list, child) => (list, child)
      case p => (p.output, p)
    }
    val (cond, rel) = below match {
      case Filter(c, r: LogicalRelation) => (Some(c), r)
      case r: LogicalRelation => (None, r)
      case _ => return None
    }
    val (fs, index) = rel.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] =>
        h.location match {
          case i: PartitioningAwareFileIndex => (h, i)
          case _ => return None
        }
      case _ => return None
    }
    val out = outputs.filter(o => conf.resolver(o.name, iterCol)) match {
      case Seq(Alias(e, _)) => e
      case Seq(a: Attribute) => a
      case _ => return None
    }
    val a = out.references.toSeq match {
      case Seq(a: AttributeReference) if rel.output.exists(_.semanticEquals(a)) &&
          !fs.partitionSchema.exists(p => conf.resolver(p.name, a.name)) && monotone(out, a) => a
      case _ => return None
    }
    if (!cond.forall(c => splitConjunctivePredicates(c).forall(upward(_, a, out)))) return None

    val files = index.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    val footers = this.footers(df.sparkSession, index, files)
    if (footers.size != files.size) return None
    var rows = 0L
    var top: Option[Long] = None
    for (f <- files; footer = footers(f.getPath.toString)) {
      val meta = footer.getFileMetaData
      val fields = meta.getSchema.getFields.asScala.filter(t => conf.resolver(t.getName, a.name)).toSeq
      val field = fields match {
        case Seq(t) if t.isPrimitive && t.getRepetition != Repetition.REPEATED => t.asPrimitiveType
        case _ => return None
      }
      val value = exactAs(a.dataType, field).getOrElse(return None)
      val rebased = (a.dataType == DateType || a.dataType == TimestampType) &&
        DataSourceUtils.datetimeRebaseSpec(meta.getKeyValueMetaData.get,
          conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString).mode != LegacyBehaviorPolicy.CORRECTED
      val floor = if (a.dataType == DateType) RebaseDateTime.lastSwitchJulianDay.toLong else RebaseDateTime.lastSwitchJulianTs
      for (block <- footer.getBlocks.asScala if block.getRowCount > 0) {
        rows += block.getRowCount
        val stats = block.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(field.getName)))
          .map(_.getStatistics).orNull
        if (stats == null || stats.isEmpty) return None
        if (stats.hasNonNullValue) {
          val (lo, hi) = (value(stats.genericGetMin), value(stats.genericGetMax))
          if (rebased && lo < floor) return None
          top = Some(top.fold(hi)(math.max(_, hi)))
        } else if (!stats.isNumNullsSet || stats.getNumNulls != block.getRowCount) return None
      }
    }
    val internal = top.map[Any](v => a.dataType match {
      case ByteType => v.toByte: Any
      case ShortType => v.toShort: Any
      case IntegerType | DateType => v.toInt: Any
      case _ => v: Any
    })
    def at(e: Expression, v: Any) = BindReferences.bindReference(e, Seq[Attribute](a)).eval(InternalRow(v))
    val nonEmpty = cond.fold(rows > 0)(c => internal.exists(v => at(c, v) == true))
    val max = if (!nonEmpty) None else internal.map { v =>
      SQLConf.withExistingConf(conf)(CatalystTypeConverters.createToScalaConverter(out.dataType)(at(out, v)))
    }
    Some((nonEmpty, max))
  }

  /** A monotone non-decreasing function of `a` whose maximum is its value
    * at `a`'s maximum.
    */
  private def monotone(e: Expression, a: Attribute): Boolean = e match {
    case x: Attribute => x.semanticEquals(a) && (a.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })
    case c: Cast => c.child.semanticEquals(a) && a.dataType == TimestampNTZType && c.dataType == TimestampType &&
      c.timeZoneId.exists(z => Try(ZoneId.of(z).getRules.isFixedOffset).getOrElse(false))
    case MicrosToTimestamp(d: IntegralDivide) =>
      d.left.semanticEquals(a) && a.dataType == LongType && d.right == Literal(1000L, LongType)
    case _ => false
  }

  /** `isnotnull(c)` or `c >= literal` over the raw column or its output. */
  private def upward(c: Expression, a: Attribute, out: Expression): Boolean = {
    def on(x: Expression) = x.semanticEquals(a) || x.semanticEquals(out)
    c match {
      case IsNotNull(x) => on(x)
      case GreaterThanOrEqual(x, Literal(v, _)) => v != null && on(x)
      case LessThanOrEqual(Literal(v, _), x) => v != null && on(x)
      case _ => false
    }
  }

  /** How a statistic of `t` becomes the long value of a Catalyst `dt`
    * (epoch µs for timestamps), for the pairs whose statistics are exact
    * and ordered as Spark orders the values.
    */
  private def exactAs(dt: DataType, t: PrimitiveType): Option[Any => Long] = {
    val asLong: Any => Long = _.asInstanceOf[Number].longValue
    val ann: LogicalTypeAnnotation = t.getLogicalTypeAnnotation
    def signed(bits: Int) = ann match {
      case i: IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth == bits
      case _ => false
    }
    def ts(adjusted: Boolean): Option[Any => Long] = ann match {
      case a: TimestampLogicalTypeAnnotation if t.getPrimitiveTypeName == INT64 && a.isAdjustedToUTC == adjusted =>
        a.getUnit match {
          case TimeUnit.MICROS => Some(asLong)
          case TimeUnit.MILLIS => Some(v => Math.multiplyExact(asLong(v), 1000L))
          case _ => None
        }
      case _ => None
    }
    (dt, t.getPrimitiveTypeName) match {
      case (ByteType, INT32) if signed(8) => Some(asLong)
      case (ShortType, INT32) if signed(16) => Some(asLong)
      case (IntegerType, INT32) if ann == null || signed(32) => Some(asLong)
      case (LongType, INT64) if ann == null || signed(64) => Some(asLong)
      case (LongType, INT64) => ann match {
        case a: TimestampLogicalTypeAnnotation if a.getUnit == TimeUnit.NANOS => Some(asLong)
        case _ => None
      }
      case (DateType, INT32) if ann.isInstanceOf[DateLogicalTypeAnnotation] => Some(asLong)
      case (TimestampType, _) => ts(adjusted = true)
      case (TimestampNTZType, _) => ts(adjusted = false)
      case _ => None
    }
  }
}

/** The file index of a [[graft.Tables]] read: Spark's `InMemoryFileIndex`
  * (same listing, partition discovery, file-status cache and refresh), whose
  * `listFiles` also drops every file that [[FooterStats.mayMatch]] proves
  * holds no row passing the scan's pushed data filters. `inputFiles`,
  * `allFiles` and `sizeInBytes` still see every file.
  */
final class SkippingFileIndex(spark: SparkSession, root: Path)
    extends InMemoryFileIndex(spark, Seq(root), Map.empty, None, FileStatusCache.getOrCreate(spark)) {

  override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dirs = super.listFiles(partitionFilters, dataFilters)
    val filters = FooterStats.pushed(spark, dataFilters)
    if (filters.isEmpty) dirs
    else {
      val footers = FooterStats.footers(spark, this, dirs.flatMap(_.files.map(_.fileStatus)))
      dirs.map(d => d.copy(files = d.files.filter(f =>
        footers.get(f.fileStatus.getPath.toString).forall(FooterStats.mayMatch(spark, _, filters)))))
    }
  }

  /** The DataFrame `spark.read.schema(dataSchema).parquet(root)` builds, over
    * this index — or None when a footer column shares a partition column's
    * name (Spark then types the partition column from the schema; let it).
    */
  def relation(dataSchema: StructType): Option[DataFrame] = {
    val conf = spark.asInstanceOf[ClassicSparkSession].sessionState.conf
    val parts = partitionSchema
    if (dataSchema.exists(f => parts.exists(p => conf.resolver(p.name, f.name)))) None
    else {
      SchemaUtils.checkSchemaColumnNameDuplication(dataSchema, conf.caseSensitiveAnalysis)
      Some(spark.asInstanceOf[ClassicSparkSession].baseRelationToDataFrame(
        HadoopFsRelation(this, parts, dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(spark)))
    }
  }
}
