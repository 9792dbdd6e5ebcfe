package graft.sources

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source-format surface beyond Parquet: CSV and JSON lines, exercised as
  * lossless round-trips of the events projection (write → schema-explicit
  * read back). The reference reads exactly one source (the ClickHouse
  * connector, mkpipe_extractor_clickhouse/__init__.py:35-43); a Spark engine
  * gets every DataSource format through the same `spark.read`/`write` API —
  * these queries prove the two text formats preserve values exactly.
  *
  * Determinism notes: Spark renders doubles with the shortest round-tripping
  * decimal repr, so double → text → double is bit-exact; timestamps travel
  * as epoch-micros longs (text timestamp parsing is the classic lossy step —
  * sidestepped by design, same convention as the oracle compares). Schema is
  * passed explicitly on read-back: schema inference over text at 100 TB is
  * an extra full scan AND can widen types — never infer in production paths.
  */
object FileFormats {

  private def eventsProjection(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

  /** Temp dir whose tree is deleted at JVM exit — materialized copies are
    * memoized per session ([[graft.Tables.memo]]) but their files are plain
    * local dirs, so cleanup belongs to the JVM, not the session.
    */
  private[graft] def exitCleanedTempDir(prefix: String): String = {
    val path = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scala.util.Try {
        import java.nio.file._
        Files.walk(path).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      }))
    path.toString
  }

  /** Per-format reader/writer options: CSV needs its header; XML needs the
    * row tag on BOTH sides (the writer wraps rows, the reader unwraps the
    * same tag).
    */
  private def fmtOptions(format: String): Map[String, String] = format match {
    case "csv" => Map("header" -> "true")
    case "xml" => Map("rowTag" -> "event")
    case _ => Map.empty
  }

  private def roundtrip(spark: SparkSession, dir: String, format: String): DataFrame = {
    val base = eventsProjection(spark, dir)
    // The avro classes ship inside spark-sql here but are NOT
    // service-registered (no spark-avro module jar), so the short name
    // fails lookup; the fully-qualified FileFormat class resolves.
    val fmt =
      if (format == "avro") "org.apache.spark.sql.avro.AvroFileFormat" else format
    // One materialized copy per (source dir, format) — repeat invocations
    // (Verify then Bench, determinism tests) re-read instead of re-writing a
    // fresh temp dir each time.
    val out = graft.Tables.memo(spark, dir, s"roundtrip-$format") {
      val path = exitCleanedTempDir(s"graft-$format")
      base.write.mode("overwrite").options(fmtOptions(format)).format(fmt).save(path)
      path
    }
    spark.read.schema(base.schema).options(fmtOptions(format)).format(fmt).load(out)
      .orderBy("event_id")
  }

  /** events → CSV (header) → read back with explicit schema. */
  def scanCsvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "csv")

  /** events → JSON lines → read back with explicit schema. */
  def scanJsonRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "json")

  /** events → ORC → read back. The third columnar-format leg (Spark ships
    * the ORC DataSource natively): binary columnar round-trips are
    * value-exact by construction — no text rendering in the path — and ORC
    * carries the same predicate-pushdown/column-pruning contract as
    * parquet, so a lake standardized on ORC loses nothing of the engine's
    * scan behavior.
    */
  def scanOrcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "orc")

  /** events → Avro → read back. The ROW-oriented binary leg (Kafka's lingua
    * franca): value-exact like the columnar legs (no text rendering), but
    * record-at-a-time — the format a streaming bus hands the lake, read
    * here through the same explicit-schema discipline. Scan behavior
    * differs from columnar by design: no column pruning below the row
    * decode, which is exactly why ingestion converts to parquet/ORC after
    * landing.
    */
  def scanAvroRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "avro")

  /** events → XML (one `<event>` element per row) → read back, schema
    * explicit. Spark 4 ships the XML DataSource natively; the write side
    * renders with the same shortest-round-trip double/long text forms as
    * CSV/JSON, so values survive exactly. The feeds-and-exports leg:
    * B2B/legacy pipelines still move XML, and this proves the engine reads
    * them with full schema control (row tag on both sides).
    */
  def scanXmlRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "xml")

  /** documents.text → raw text files (one line per doc) → read back via the
    * `text` DataSource, ordered. The line-oriented leg: raw-text lakes
    * (logs, crawl dumps) enter Spark exactly this way, one `value` column
    * per line, no schema machinery. The fixture's texts contain no
    * newlines, so line framing is lossless here; a production corpus would
    * escape or length-prefix — noted, not needed for the fixture contract.
    */
  def scanTextRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Tables.memo(spark, dir, "roundtrip-text") {
      val path = exitCleanedTempDir("graft-text")
      t(spark, dir, "documents").select(col("text"))
        .write.mode("overwrite").text(path)
      path
    }
    spark.read.text(out).select(col("value").as("text")).orderBy("text")
  }

  /** Schema evolution on read: two parquet batches written with DIFFERENT
    * schemas (the second adds a `value` column — the canonical "a producer
    * upgraded mid-stream" shape), unioned by `mergeSchema` on the read
    * side; early rows surface the added column as NULL. At 100 TB schema
    * drift is a certainty, and mergeSchema's footer-only reconciliation
    * (no data rewrite, no backfill job) is the property that makes a
    * multi-year lake readable — the WRITE side never pays anything.
    * Memoized per (session, dir) like the other materialized copies.
    */
  def scanSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Tables.memo(spark, dir, "roundtrip-evolve") {
      val path = exitCleanedTempDir("graft-evolve")
      val ev = t(spark, dir, "events")
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("append").parquet(path)
      ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("append").parquet(path)
      path
    }
    spark.read.option("mergeSchema", "true").parquet(out)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** Hive-style partitioned parquet sink + pruned read-back: orders written
    * `partitionBy(o_orderstatus)`, then a status filter on the read side
    * prunes to one directory — the scan's PartitionFilters carry the
    * predicate and untouched partitions are never listed or read. At 100 TB
    * partition layout is the first knob: a pruned scan is O(selected
    * partitions) regardless of table size. (`PlanShapeSpec` pins the
    * PartitionFilters plan shape; a second assertion there shows dynamic
    * partition pruning when the filter arrives via a joined dim.)
    */
  def sinkPartitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    val out = partitionedOrders(spark, dir)
    spark.read.parquet(out)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Write (once per session+dir) orders partitioned by status; returns
    * path. Cleaned at JVM exit like the round-trip dirs.
    */
  private[graft] def partitionedOrders(spark: SparkSession, dir: String): String =
    graft.Tables.memo(spark, dir, "partitioned-orders") {
      val out = exitCleanedTempDir("graft-part")
      t(spark, dir, "orders")
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      out
    }

  // ---------------------------------------------------------------- z-order layout

  import org.apache.spark.sql.Column

  /** 32-bit Morton code interleaving two 16-bit dimensions (a's bit i lands
    * at 2i+1, b's at 2i) — pure shift/mask expressions, fully codegen'd.
    * Sorting by this value clusters BOTH dimensions simultaneously, which is
    * what per-file min/max skipping needs for multi-column predicates: a
    * single-column sort gives perfect bounds on one dim and useless bounds
    * on the other; the z-curve gives good bounds on both.
    */
  private[graft] def zValue16(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  /** Materialize the SAME events projection under THREE physical layouts
    * (once per session+dir): `linear` — range-partitioned and sorted by
    * event_id, the "insert-order" lake layout; `zorder` — sorted by the
    * Morton code of (user_id, value), the OPTIMIZE ZORDER layout; and
    * `hilbert` — sorted by the native Hilbert-curve index over the same
    * cells. 8 files each. Dimension bounds for 16-bit normalization come
    * from one 1-row aggregate (a bounded parameter fetch, same contract as
    * the probe fetches) and are CACHED alongside the paths so the stats
    * queries never re-scan for them.
    */
  private[graft] final case class Layouts(linear: String, zorder: String,
      hilbert: String, loU: Long, hiU: Long, loV: Long, hiV: Long)
  private[graft] def zorderLayouts(spark: SparkSession, dir: String): Layouts =
    graft.Tables.memo(spark, dir, "layouts") {
      val ev = t(spark, dir, "events")
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("value_c"))
      val b = ev.agg(min("user_id"), max("user_id"), min("value_c"), max("value_c")).head()
      val (loU, hiU, loV, hiV) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      def to16(c: Column, lo: Long, hi: Long): Column =
        if (hi <= lo) lit(0L)
        else floor((c - lit(lo)).cast("double") * 65535.0 / (hi - lo).toDouble).cast("long")
      val u16 = to16(col("user_id"), loU, hiU)
      val v16 = to16(col("value_c"), loV, hiV)
      def sortedBy(key: Column, slug: String): String = {
        val path = exitCleanedTempDir(slug)
        ev.withColumn("__k", key)
          .repartitionByRange(8, col("__k"))
          .sortWithinPartitions("__k")
          .drop("__k")
          .write.mode("overwrite").parquet(path)
        path
      }
      val linear = exitCleanedTempDir("graft-linear")
      ev.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(linear)
      val zorder = sortedBy(zValue16(u16, v16), "graft-zorder")
      // Third layout: same cells, Hilbert-curve order (the NATIVE
      // graft.functions.HilbertIndex expression) — continuous where the
      // z-curve teleports, so file boxes are tighter still.
      val hilbert = sortedBy(
        graft.functions.HilbertIndex.hilbert(spark, u16, v16, 16), "graft-hilbert")
      Layouts(linear, zorder, hilbert, loU, hiU, loV, hiV)
    }

  /** File-skipping report for the two layouts under a 2-D predicate box —
    * the middle 20% of each dimension's range (derived from the same 1-row
    * bounds fetch, so the box is meaningful at any scale factor): per
    * layout, how many of the 8 files a min/max-pruning reader must open.
    * Per-file bounds are computed in ONE scan per layout
    * (`input_file_name` group-by) — exactly the numbers a parquet footer
    * reader consults, reproduced over the same files. The z-ordered layout
    * must scan strictly fewer files — that factor IS the point of OPTIMIZE
    * ZORDER at 100 TB: min/max pruning works on every clustered dimension
    * at once, before any data is read.
    */
  def layoutZorderStats(spark: SparkSession, dir: String): DataFrame = {
    val l = zorderLayouts(spark, dir)
    layoutStats(spark, l, Seq("linear" -> l.linear, "zorder" -> l.zorder))
  }

  /** The 3-way layout adjudication: the same file-skipping report extended
    * with the Hilbert-sorted layout (native [[graft.functions.HilbertIndex]]
    * codegen expression). The continuity argument (Hilbert never teleports;
    * the z-curve jumps at every power-of-two seam) predicts
    * hilbert ≤ zorder < linear files opened — this query is that claim as
    * a measured number over identical data, cells, and predicate box.
    */
  def layoutHilbertStats(spark: SparkSession, dir: String): DataFrame = {
    val l = zorderLayouts(spark, dir)
    layoutStats(spark, l,
      Seq("hilbert" -> l.hilbert, "linear" -> l.linear, "zorder" -> l.zorder))
  }

  /** Per-layout min/max file-pruning counts under the shared middle-20%
    * 2-D box (see [[layoutZorderStats]]'s scaladoc for the contract). The
    * box derives from the bounds CACHED at layout build — no re-scan.
    */
  /** Per-file (user, value) min/max boxes of one layout — the parquet-
    * footer reader's view, shared by [[layoutStats]] and the spec's
    * multi-box sweep so the pruning predicate has ONE definition.
    */
  private[graft] def perFileBounds(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("user_id"), col("value_c"), input_file_name().as("f"))
      .groupBy("f")
      .agg(min("user_id").as("lo_u"), max("user_id").as("hi_u"),
        min("value_c").as("lo_v"), max("value_c").as("hi_v"))

  private def layoutStats(spark: SparkSession, l: Layouts,
      layouts: Seq[(String, String)]): DataFrame = {
    def mid(lo: Long, hi: Long, f: Double): Long = lo + ((hi - lo) * f).toLong
    val (loU, hiU) = (mid(l.loU, l.hiU, 0.4), mid(l.loU, l.hiU, 0.6))
    val (loV, hiV) = (mid(l.loV, l.hiV, 0.4), mid(l.loV, l.hiV, 0.6))
    def stats(name: String, path: String): DataFrame =
      perFileBounds(spark, path)
        .agg(count(lit(1)).as("n_files"),
          sum(when(!(col("hi_u") < loU || col("lo_u") > hiU ||
            col("hi_v") < loV || col("lo_v") > hiV), 1L).otherwise(0L))
            .as("n_files_scanned"))
        .select(lit(name).as("layout"), col("n_files"), col("n_files_scanned"))
    layouts.map { case (n, p) => stats(n, p) }.reduce(_ unionAll _).orderBy("layout")
  }

  // JVM-unique suffix: table NAMES live in the shared external catalog and
  // managed LOCATIONS would outlive the JVM (a leftover
  // spark-warehouse/graft_bkt_* dir from a previous run wedges a fresh
  // saveAsTable with LOCATION_ALREADY_EXISTS — same decay class as the
  // legacy flat-sidecar migration). External tables in exit-cleaned temp
  // dirs + a per-JVM nonce make every run self-contained.
  private val jvmTag: String =
    java.lang.Long.toHexString(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

  private[graft] def bucketedTables(spark: SparkSession, dir: String): (String, String) =
    graft.Tables.memo(spark, dir, "bucketed") {
      val tag = java.lang.Integer.toHexString(dir.hashCode) + "_" + jvmTag
      val (to, tc) = (s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag")
      // repartition(8, key) uses the SAME HashPartitioning expression
      // bucketing does (pmod of murmur3), so each write task holds exactly
      // one bucket → one file per bucket, the layout bucketed reads like.
      t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .repartition(8, col("o_custkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", exitCleanedTempDir("graft-bkt-orders"))
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(to)
      t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .repartition(8, col("c_custkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", exitCleanedTempDir("graft-bkt-customer"))
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(tc)
      (to, tc)
    }

  private[graft] def binaryAssetDir(spark: SparkSession, dir: String): String =
    graft.Tables.memo(spark, dir, "binary-assets") {
      val out = exitCleanedTempDir("graft-binassets")
      // Each task writes through the Hadoop FileSystem its path RESOLVES to
      // (executor-side getFileSystem), not java.nio: on a cluster the
      // unqualified path resolves to the default shared FS (HDFS/S3) for
      // writer tasks and the binaryFile reader alike, where a java.nio write
      // would scatter files across executor-local disks the reader never
      // sees. In local mode both resolve to file:// and behavior is
      // unchanged (the exit-cleaned temp dir remains the local cleanup
      // story; on a shared FS, lifecycle belongs to the lake's retention).
      graft.ops.Multimodal.mediaTable(spark, dir)
        .select(col("asset_id"), col("media"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val base = new org.apache.hadoop.fs.Path(out)
          val fs = base.getFileSystem(new org.apache.hadoop.conf.Configuration())
          it.foreach { r =>
            val os = fs.create(
              new org.apache.hadoop.fs.Path(base, f"${r.getLong(0)}%08d.bin"), true)
            try os.write(r.getAs[Array[Byte]](1)) finally os.close()
          }
        }
      out
    }

  /** Raw-asset ingestion through the built-in `binaryFile` DataSource — the
    * lake's media-landing read path (image/audio dumps arrive as FILES, not
    * rows; this source turns a directory of them into (path, length,
    * content) rows without any decoding). Asset files are materialized once
    * from the media table by a DISTRIBUTED foreachPartition (each task
    * writes its partition's files — no driver loop), then read back,
    * identity-parsed from the filename, and content-fingerprinted.
    *
    * Scale: binaryFile reads split by file across tasks and never load two
    * payloads per task at once (`spark.sql.files.maxPartitionBytes` grouping
    * applies); the fingerprint is a per-row codegen'd sha2. Listing is the
    * known bottleneck at millions of files — at that point the answer is
    * compacting assets into this engine's media TABLE (exactly what
    * [[graft.ops.Multimodal.mediaTable]] models), with binaryFile as the
    * one-time ingest.
    */
  def scanBinaryfile(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(binaryAssetDir(spark, dir))
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("asset_id"),
        col("length").as("byte_len"),
        sha2(col("content"), 256).as("fingerprint"))
      .orderBy("asset_id")

  /** Co-located join over bucketed tables — the shuffle-free big-join
    * answer at 100 TB. Both sides are written ONCE bucketed by the join key
    * (8 buckets, same count both sides), so the sort-merge join reads
    * bucket i of orders against bucket i of customer directly: NO exchange
    * on either side of the join (plan-pinned in PlanShapeSpec; the MERGE
    * hint keeps the small fixture side from broadcasting so the bucketed
    * path is what executes). The only shuffle in the whole query is the
    * 5-group rollup AFTER the join.
    *
    * This is the pattern that amortizes: the bucketing write costs one
    * shuffle, then every subsequent join on that key — daily loads, N
    * different queries — pays zero. The streaming MERGE sink and the CDC
    * apply kernel join against exactly such a bucketed snapshot.
    */
  def joinBucketedColocated(spark: SparkSession, dir: String): DataFrame = {
    val (to, tc) = bucketedTables(spark, dir)
    spark.table(to).hint("MERGE")
      .join(spark.table(tc).hint("MERGE"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("revenue_cents"))
      .orderBy("c_mktsegment")
  }
}
