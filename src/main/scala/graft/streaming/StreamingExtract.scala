package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.StructType

import graft.extract.StagedReplace
import graft.extract.StagedReplace.hasData
import graft.ops.LlmPipeline
import graft.ops.LlmPipeline.Modality

/** The reference's incremental mode, as true Structured Streaming.
  *
  * The batch extractor (graft.extract.Extractor) re-implements the
  * reference's micro-snapshot loop: poll → filter `>= last_point` → compute
  * new watermark → append (mkpipe_extractor_clickhouse/__init__.py:86-115).
  * Structured Streaming subsumes that loop: the file source tracks processed
  * files (exactly-once within the checkpoint, vs the reference's
  * at-least-once boundary-row re-read), `withWatermark` bounds state, and the
  * sink appends — so "incremental replication" becomes a standing query
  * instead of scheduled batches. At 100 TB this is the same plan per
  * micro-batch: pruned scan → stateful agg, state store partitioned by key.
  */
object StreamingExtract {

  /** Continuous incremental extraction of an events directory into a parquet
    * sink: the streaming equivalent of
    * `extract(replication_method=incremental, iterate_column=ts)`.
    */
  def run(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      lateness: String = "1 hour"): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .withWatermark("ts", lateness)
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Idempotent append sink via foreachBatch: each micro-batch is
    * anti-joined against the keys already in the sink before appending — the
    * loader-side compensation for the reference's at-least-once inclusive
    * watermark (__init__.py:89 re-extracts the boundary row every run;
    * SURVEY §7.5 names downstream dedup as the canonical fix).
    *
    * Scale note: this naive form rescans the whole sink per batch; at 100 TB
    * the anti-join must be scoped to the affected key/partition range (or a
    * transactional table format's MERGE), but the foreachBatch shape — batch
    * df + deterministic batchId for replay idempotence — is exactly the same.
    */
  def dedupAppendSink(
      stream: DataFrame,
      keyCol: String,
      sinkDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // An absent dir or one with no data files yet (only _SUCCESS/hidden
        // markers) means "no existing keys"; any OTHER read failure —
        // corrupt footer, transient store error, permissions — must FAIL the
        // batch rather than silently disable dedup and append duplicates.
        val existingKeys: Option[DataFrame] =
          if (hasData(spark, sinkDir)) Some(spark.read.parquet(sinkDir).select(keyCol)) else None
        val fresh = existingKeys.fold(batch.toDF())(k => batch.join(k, Seq(keyCol), "left_anti"))
        fresh.write.mode("append").parquet(sinkDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Where an indexed dedup sink at `sinkDir` keeps its `name` sidecar
    * table (`hashes`, `sigs`, `vecs`, `bands`).
    */
  private[graft] def sidecarDir(sinkDir: String, name: String): String =
    s"$sinkDir.idx/$name"

  /** Data files of a (possibly partitioned) parquet dir, recursively,
    * excluding commit markers and hidden files.
    */
  private def dataFiles(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val s = it.next()
        val n = s.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) buf += s
      }
      buf.toSeq
    }
  }

  /** Compact a sidecar index dir once its accumulated per-batch appends
    * exceed `maxFiles` data files — the standard streaming-sink decay
    * (thousands of micro-batches × a few files per append = a small-file
    * swamp whose LISTING eventually costs more than its scan). The rewrite
    * preserves semantics exactly: band tables are re-written through the
    * same (band, bpfx) partitioning the appends use (keyed repartition →
    * one file per populated grid cell), flat tables coalesce to
    * ~128 MB-target files; content is untouched, so the append-only replay
    * reasoning (anti-joins against stored rows) is unaffected. Runs as a
    * [[StagedReplace.replace]], like the layout migration: crash windows
    * heal, and a complete copy of the index exists on disk at every
    * instant.
    *
    * Reader contract (spec-pinned): consumers RE-OPEN the index per batch —
    * exactly what the indexed sinks do — and a re-opened reader sees
    * bit-identical content across a compaction. A DataFrame HELD from
    * before the swap refers to replaced part-files and fails FAST with
    * Spark's `FAILED_READ_FILE.FILE_NOT_EXIST` advisory ("underlying files
    * have been updated") — a loud invalidation, never silently short rows;
    * surviving a held handle across rewrites is what a table format's
    * snapshot layer buys at 100 TB, not something a bare parquet dir can
    * promise.
    *
    * At 100 TB the same trigger graduates to a table format's OPTIMIZE /
    * rewrite-data-files action (which also splits giant partitions by file
    * size — here a grid cell compacts to one file, which is the right
    * shape while cells stay cap-bounded).
    *
    * Returns true when a rewrite happened (spec hook).
    */
  private[graft] def compactSidecar(spark: SparkSession, dir: String,
      maxFiles: Int, partitioned: Boolean): Boolean = {
    StagedReplace.heal(spark, dir)
    val files = dataFiles(spark, dir)
    if (files.size <= maxFiles) false
    else {
      StagedReplace.replace(spark, dir) { staged =>
        val df = spark.read.parquet(dir)
        if (partitioned)
          df.repartition(col("band"), col("bpfx"))
            .write.mode("overwrite").partitionBy("band", "bpfx").parquet(staged)
        else {
          val targetFiles = math.max(1,
            math.ceil(files.map(_.getLen).sum.toDouble / (128L << 20).toDouble).toInt)
          df.repartition(targetFiles).write.mode("overwrite").parquet(staged)
        }
      }
      true
    }
  }

  /** Write band rows to a stored band table PARTITIONED by the
    * (band, bpfx) grid — `bpfx = pmod(bucket, BandPartitions)` — so a
    * steady-state batch's candidate join and occupancy count prune the
    * stored scan to the grid cells the batch touches
    * ([[graft.ops.LlmPipeline.pruneBandsToCells]]) instead of reading
    * the whole table: the index grows with the corpus, the touched-cell
    * set stays bounded at NumBands×BandPartitions.
    */
  private def writeBands(bands: DataFrame, dir: String, overwrite: Boolean): Unit =
    bands
      .withColumn("bpfx",
        pmod(col("bucket").cast("long"), lit(LlmPipeline.BandPartitions.toLong)))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("band", "bpfx")
      .parquet(dir)

  /** One-time, crash-safe migration of a LEGACY FLAT stored band table to
    * the (band, bpfx)-partitioned layout [[writeBands]] appends.
    *
    * Why it must exist: a sink indexed by pre-partitioning code wrote its
    * bands sidecar as plain unpartitioned parquet. The hashes/vecs gate
    * means adoption never re-runs for such a sink, so the first new-code
    * batch would read the flat table fine (no `bpfx` column → pruning
    * passes through) and then APPEND `band=X/bpfx=Y` partition subdirs next
    * to the flat part-files — and the NEXT batch's read of that mixed
    * layout fails partition discovery, permanently wedging the sink. So any
    * reader that might be followed by an append must first bring the layout
    * forward.
    *
    * Mechanism: heal any crashed rewrite, then detect flat layout from the
    * parquet schema (a partitioned table surfaces `bpfx` as a partition
    * column; names never collide — the band tables carry exactly (band,
    * bucket, doc_id)). If flat, rewrite it partitioned through
    * [[StagedReplace.replace]] — a complete band table exists on disk at
    * every instant, and every crash window replays safely. Band rows are
    * append-only content, so the rewrite changes layout, never data.
    */
  private[graft] def ensurePartitionedBands(spark: SparkSession, dir: String): Unit = {
    StagedReplace.heal(spark, dir)
    if (hasData(spark, dir) && !spark.read.parquet(dir).columns.contains("bpfx"))
      StagedReplace.replace(spark, dir)(staged => writeBands(
        spark.read.parquet(dir).select("band", "bucket", "doc_id"), staged, overwrite = true))
  }

  /** Read an indexed sink's stored [[LlmPipeline.DedupIndex]] for modality
    * `m`, or None if the index has not been written yet. Gates on the
    * LAST sidecar of `m`'s append order — adoption and every batch commit
    * it last, so its presence implies a complete index. Brings a legacy
    * flat band table forward to the partitioned layout first
    * ([[ensurePartitionedBands]]) so a following append can never create a
    * mixed flat/partitioned directory.
    */
  private[graft] def readIndex(spark: SparkSession, sinkDir: String, m: Modality)
      : Option[LlmPipeline.DedupIndex] = {
    def read(name: String): DataFrame = spark.read.parquet(sidecarDir(sinkDir, name))
    if (hasData(spark, sidecarDir(sinkDir, m.appendOrder.last))) {
      if (m.near.nonEmpty) ensurePartitionedBands(spark, sidecarDir(sinkDir, "bands"))
      Some(LlmPipeline.DedupIndex(
        hashes = m.exactKey.map(_ => read("hashes")),
        confirm = m.near.map(n => read(n.confirmTable)),
        bands = m.near.map(_ => read("bands"))))
    } else None
  }

  /** Write `idx`'s tables to the sidecars of the sink at `sinkDir`, one
    * commit per table in `m`'s append order; band rows go through
    * [[writeBands]]'s (band, bpfx) partitioning.
    */
  private def writeIndex(sinkDir: String, m: Modality, idx: LlmPipeline.DedupIndex,
      overwrite: Boolean): Unit =
    m.appendOrder.foreach { name =>
      val dir = sidecarDir(sinkDir, name)
      if (name == "bands") writeBands(m.sidecar(idx, name), dir, overwrite)
      else m.sidecar(idx, name).write.mode(if (overwrite) "overwrite" else "append").parquet(dir)
    }

  /** Incremental-dedup append sink: [[dedupAppendSink]]'s key anti-join
    * upgraded to full content dedup for one [[Modality]] — documents
    * (exact re-deliveries and copies, near-dup variants by MinHash LSH),
    * embeddings (cosine near-dups by banded SRP codes) or media assets
    * (byte-identical payloads) — against a STORED index maintained in
    * sidecar dirs next to the sink (`<sink>.idx/<table>`), one
    * [[dedupLoadBatch]] per micro-batch. The loaded rows are NEVER re-read,
    * re-hashed or re-projected — the r4 design re-read the sink and
    * re-banded every stored signature per micro-batch, O(|sink|·bands)
    * shuffled per batch, which defeats incrementality at 100 TB. The sink
    * parquet itself is write-only from this job; readers own it.
    */
  def incrementalDedupSink(
      stream: DataFrame,
      sinkDir: String,
      checkpointDir: String,
      modality: Modality = Modality.text(),
      compactAfterFiles: Int = 64): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        dedupLoadBatch(batch.sparkSession, batch.toDF(), sinkDir, modality, compactAfterFiles)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One curated-load round against the indexed sink at `sinkDir`: heal,
    * adopt-if-unindexed, dedup the batch ([[LlmPipeline.incrementalDedup]]),
    * append survivors + index rows, compact — the foreachBatch body of
    * [[incrementalDedupSink]], exposed directly so BATCH pipelines (a
    * [[graft.extract.Pipeline]] loader driving scheduled extract rounds)
    * and standing streams share ONE load path with identical dedup,
    * crash-ordering, and compaction semantics.
    *
    * Bootstrap: adopting a pre-existing UNINDEXED sink (one that carries
    * the modality's enriched columns) derives and stores the index once
    * ([[LlmPipeline.indexRows]] — the ONLY time the sink is read here), in
    * the same append order with the gate table LAST, so a crash
    * mid-adoption leaves the gate closed and the next batch simply re-runs
    * the (overwrite-mode) adoption — gate-present always implies a
    * complete index. The reverse order could wedge the sink: gate present,
    * other tables missing, every subsequent batch failing on the absent
    * dirs. A brand-new sink starts with an empty index.
    *
    * Survivors and the new band rows are eagerly localCheckpoint'ed before
    * any write: the dedup kernel runs once per batch even though several
    * directories are appended, and no append's write plan reads a
    * directory the same job appends to.
    *
    * Failure atomicity, stated honestly: plain parquet cannot commit
    * several directories atomically. Appends run sink first, then the
    * sidecars in the modality's append order — text: sigs → bands →
    * hashes; embedding: bands → vecs; media: hashes — and every crash
    * window is benign (spec-pinned per cut point). Text: (a) crash before
    * the sig/band appends — the replayed row has no hash and no band rows,
    * so it is re-admitted whole (duplicate sink/index rows, healed by any
    * downstream exact-dedup pass; duplicate index rows only add redundant
    * candidates); (b) crash after bands but before hashes — the replayed
    * row IS dropped, by the band+sig confirm (identical signatures give
    * estJaccard 1.0), so nothing duplicates, and although its hash row is
    * never written, any future exact copy still dies on that same band+sig
    * path. Embedding and media: any crash window before the last append
    * re-admits the replayed rows (duplicate leakage, healed downstream) —
    * never a silent future miss, since a fully indexed row confirms every
    * later copy. Nothing is ever silently admitted; a fully replayed batch
    * (all appends committed) is a no-op. At 100 TB the appends become one
    * transaction in a table format (Delta/Iceberg/Hudi MERGE), same batch
    * logic.
    *
    * Long-run health: each batch's appends leave a commit's worth of small
    * files per sidecar dir; once a dir exceeds `compactAfterFiles` data
    * files it is compacted in place ([[compactSidecar]] — crash-safe
    * staged swap, content unchanged), so index file counts stay bounded
    * over thousands of micro-batches instead of decaying into a
    * listing-dominated small-file swamp. Pass `compactAfterFiles = 0` to
    * disable.
    */
  def dedupLoadBatch(
      spark: SparkSession,
      batch: DataFrame,
      sinkDir: String,
      modality: Modality = Modality.text(),
      compactAfterFiles: Int = 64): Unit = {
    val m = modality
    // Heal any compaction swap that crashed mid-rename BEFORE the
    // adoption gate or any read touches the dirs (the bands dir heals
    // inside readIndex).
    m.appendOrder.filter(_ != "bands").foreach(n => StagedReplace.heal(spark, sidecarDir(sinkDir, n)))
    if (hasData(spark, sinkDir) && !hasData(spark, sidecarDir(sinkDir, m.appendOrder.last)))
      writeIndex(sinkDir, m, LlmPipeline.indexRows(spark.read.parquet(sinkDir), m),
        overwrite = true)
    val index = readIndex(spark, sinkDir, m)
    // The dedup kernel's touched-cell fetch is reused for the append
    // cap's occupancy pruning: one bounded driver job per batch.
    val (survivors0, cells) = LlmPipeline.incrementalDedup(spark, batch, m, index)
    val survivors = survivors0.localCheckpoint(true)
    val added = LlmPipeline.indexRows(survivors, m, index, cells)
    val rows = added.copy(bands = added.bands.map(_.localCheckpoint(true)))
    survivors.write.mode("append").parquet(sinkDir)
    writeIndex(sinkDir, m, rows, overwrite = false)
    // Bound sidecar small-file growth. Runs AFTER the last append, so a
    // crash during compaction leaves a fully committed batch.
    if (compactAfterFiles > 0)
      m.appendOrder.foreach(n => compactSidecar(spark, sidecarDir(sinkDir, n),
        compactAfterFiles, partitioned = n == "bands"))
  }

  /** A [[graft.extract.Pipeline]] loader that routes every extracted batch
    * through [[dedupLoadBatch]] instead of a plain parquet write — the
    * composition of the reference's extraction semantics (incremental
    * watermark, inclusive boundary re-read, A1–A15) with the indexed
    * incremental-dedup sink, in one `Pipeline.run` phase: the re-delivered
    * boundary row, exact copies, and near-dup variants all die at the sink
    * while the watermark store advances as usual. The extract-side write
    * mode is irrelevant here by design: dedup-append subsumes it (a full
    * re-extraction is just a batch whose every row anti-joins away).
    */
  def curatedLoader(threshold: Double = 0.5, compactAfterFiles: Int = 64)
      : (graft.model.ExtractResult, graft.model.TableConfig, String) => Unit =
    (r, table, outPath) =>
      r.df.foreach { df =>
        dedupLoadBatch(df.sparkSession, df,
          s"$outPath/${table.effectiveTargetName}", Modality.text(threshold), compactAfterFiles)
      }

  /** First-seer sidecar layout for a novelty-scoring sink. */
  private[graft] def noveltyIndexDir(sinkDir: String): String = s"$sinkDir.idx/shingles"

  /** Novelty-SCORING sink — the streaming leg of
    * [[graft.ops.LlmPipeline.textNgramNovelty]], persisting the first-seer
    * table that query's scaladoc promises as the incremental state: each
    * micro-batch of (doc_id, text) rows is scored for n-gram novelty
    * against `<sink>.idx/shingles` (term64 → first_doc, the 64-bit-hashed
    * shingle space) PLUS the batch's own earlier docs, the enriched rows
    * append to the sink, and only terms the store has never seen append to
    * the sidecar (attributed to their earliest batch doc). The sink parquet
    * is read only for the doc_id replay gate (column-pruned anti-join, the
    * [[dedupAppendSink]] contract); scoring never touches stored text.
    *
    * Crash ordering: sidecar FIRST, sink LAST. A crash between them leaves
    * terms indexed for a doc the sink never received — the replayed batch
    * re-scores it IDENTICALLY (each of its terms' first seer is the doc
    * itself, so novelty is unchanged — the attribution trick that makes
    * replay idempotent) and lands the missing sink row; later docs
    * meanwhile score conservatively LOW, the same safe bias as the dedup
    * sinks' re-admit-vs-silent-miss choice. The reverse order could
    * permanently inflate novelty: sink rows present, their terms never
    * indexed, every later remix scoring as fresh.
    *
    * Scale: per batch one term-keyed aggregate + one left join against the
    * sidecar (term-keyed equi join, hot terms cost a min not a pair
    * expansion) + the narrow anti-join gate; sidecar growth is
    * vocabulary-bounded (Heaps' law) and compacted by the standard staged
    * swap.
    */
  def noveltyScoringSink(
      stream: DataFrame,
      sinkDir: String,
      checkpointDir: String,
      compactAfterFiles: Int = 64): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        noveltyLoadBatch(batch.sparkSession, batch.toDF(), sinkDir, compactAfterFiles)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One novelty-scoring round — the foreachBatch body of
    * [[noveltyScoringSink]], exposed for batch pipelines exactly like
    * [[dedupLoadBatch]]. Adoption: a pre-existing sink with no sidecar
    * rebuilds the first-seer table from stored text once (the only time
    * stored text is read), committed before any append through
    * [[StagedReplace.replace]], so a crash mid-rebuild leaves no partial
    * table for the gate to accept: the next round rebuilds it whole.
    */
  def noveltyLoadBatch(
      spark: SparkSession,
      batch: DataFrame,
      sinkDir: String,
      compactAfterFiles: Int = 64): Unit = {
    val shinglesDir = noveltyIndexDir(sinkDir)
    StagedReplace.heal(spark, shinglesDir)
    if (hasData(spark, sinkDir) && !hasData(spark, shinglesDir))
      StagedReplace.replace(spark, shinglesDir)(LlmPipeline
        .shingleTerms64(spark.read.parquet(sinkDir).select("doc_id", "text"))
        .groupBy("term64")
        .agg(min(col("doc_id")).as("first_doc"))
        .write.mode("overwrite").parquet)
    val stored =
      if (hasData(spark, shinglesDir)) Some(spark.read.parquet(shinglesDir)) else None
    // Replay gate BEFORE scoring: a re-delivered doc must not re-append —
    // neither from a prior batch (anti-join against the stored sink) nor
    // from within THIS batch (dropDuplicates, else same-batch duplicates
    // all pass the stored-sink gate and double-append). Fresh-row
    // attribution keeps the survivor's score stable regardless.
    val once = batch.dropDuplicates("doc_id")
    val fresh =
      if (hasData(spark, sinkDir))
        once.join(spark.read.parquet(sinkDir).select("doc_id"), Seq("doc_id"), "left_anti")
      else once
    val (scored0, newSeers0) = LlmPipeline.noveltyScoreBatch(fresh, stored)
    val scored = scored0.localCheckpoint(true)
    val newSeers = newSeers0.localCheckpoint(true)
    newSeers.write.mode("append").parquet(shinglesDir)
    scored.write.mode("append").parquet(sinkDir)
    if (compactAfterFiles > 0)
      compactSidecar(spark, shinglesDir, compactAfterFiles, partitioned = false)
  }

  /** A [[graft.extract.Pipeline]] loader routing every extracted batch
    * through [[noveltyLoadBatch]] — the [[curatedLoader]] sibling:
    * extraction's at-least-once boundary re-read dies at the sink's doc_id
    * gate, and each admitted doc lands scored against everything extracted
    * before it.
    */
  def noveltyLoader(compactAfterFiles: Int = 64)
      : (graft.model.ExtractResult, graft.model.TableConfig, String) => Unit =
    (r, table, outPath) =>
      r.df.foreach { df =>
        noveltyLoadBatch(df.sparkSession, df,
          s"$outPath/${table.effectiveTargetName}", compactAfterFiles)
      }

  /** MERGE-style upsert sink via foreachBatch: each micro-batch UPDATES rows
    * whose key already exists in the sink and INSERTS the rest — the loader
    * contract one step past [[dedupAppendSink]]'s insert-only dedup, for
    * sources whose re-delivered boundary rows may carry *changed* payloads
    * (the reference re-extracts the inclusive watermark row every run,
    * __init__.py:89; if that row was updated in place upstream, append-dedup
    * would keep the stale version).
    *
    * Merge semantics: within a batch the newest row per key wins (greatest
    * `versionCol`, deterministic); against the sink, matched keys are
    * replaced, unmatched sink rows survive. The rewritten sink replaces the
    * old one through [[StagedReplace.replace]] (staged to `sink.staged`,
    * swapped in rename-first), so a complete copy of the data exists on
    * disk at every instant. (The naive delete-then-rename swap has a real
    * loss window: a crash between the delete and the rename leaves no live
    * sink, and the REPLAYED batch — seeing an empty sink — would recompute
    * from batch rows alone, silently dropping all pre-batch history.)
    *
    * Replay recovery: a replayed batch first heals — a committed
    * `sink.staged` beside a missing sink means the previous attempt crashed
    * between the renames, and the swap is finished — and then recomputes
    * from the live sink. When that live sink already holds this batch's
    * merge, recomputing converges to the identical result, because the
    * merge is idempotent: latest-per-key replacement of a key by its own
    * newest row changes nothing. (The same holds for
    * [[sketchDistinctSink]]'s theta union.)
    *
    * Scale note: this plain-parquet form rewrites the whole sink per batch —
    * correct, but O(sink) writes. At 100 TB the same foreachBatch shape
    * targets a transactional table format's MERGE INTO (Delta/Iceberg/Hudi),
    * or a sink partitioned on a key prefix with dynamic partition overwrite
    * so only partitions containing matched keys rewrite. The batch-side
    * logic — latest-per-key then key-matched replacement — is unchanged.
    */
  def upsertSink(
      stream: DataFrame,
      keyCol: String,
      versionCol: String,
      sinkDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        StagedReplace.replace(spark, sinkDir) { staged =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyCol).orderBy(col(versionCol).desc)
          val latest = batch.toDF()
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          val merged =
            if (hasData(spark, sinkDir))
              spark.read.parquet(sinkDir)
                .join(latest.select(keyCol), Seq(keyCol), "left_anti")
                .unionByName(latest)
            else latest
          merged.write.mode("overwrite").parquet(staged)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Incremental distinct-count sink: the ONLY stored state is a
    * per-segment THETA SKETCH row (kilobytes per segment), not member
    * lists. Each micro-batch folds to per-segment partial sketches
    * (map-side combinable aggregate), merges them with the stored sketches
    * via theta_union_agg, and replaces the sketch table through
    * [[StagedReplace.replace]]'s crash-safe swap (a replayed batch heals,
    * then re-merges: [[upsertSink]]'s recovery paragraph). Serving a
    * distinct estimate — or any segment-pair union/intersection/difference
    * — reads kilobytes, never the history.
    *
    * At-least-once is FREE here: theta union is idempotent (set
    * semantics), so a re-delivered batch merges to the identical sketch —
    * no anti-join, no key state, no watermark needed for correctness
    * (spec-pinned by replaying a batch's rows verbatim). At 100 TB this is
    * the only distinct-count shape whose state does not grow with history.
    */
  def sketchDistinctSink(
      stream: DataFrame, // cols: segment (string), member (long)
      sinkDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        StagedReplace.replace(spark, sinkDir) { staged =>
          val partial = batch.toDF()
            .groupBy("segment")
            .agg(expr("theta_sketch_agg(member)").as("sk"))
          val merged =
            if (hasData(spark, sinkDir))
              spark.read.parquet(sinkDir).unionByName(partial)
                .groupBy("segment")
                .agg(expr("theta_union_agg(sk)").as("sk"))
            else partial
          merged.write.mode("overwrite").parquet(staged)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Estimates served from the stored sketch table — kilobytes read,
    * regardless of how much history built it. Opens the table through
    * [[StagedReplace.readable]], so after a crash between the swap's two
    * renames it serves the committed copy instead of failing; it does not
    * heal (that deletes), so it is safe beside a running sink. */
  def sketchEstimates(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(StagedReplace.readable(spark, sinkDir))
      .select(col("segment"),
        expr("CAST(theta_sketch_estimate(sk) AS BIGINT)").as("n_distinct"))
      .orderBy("segment")

  /** Streaming dedup within the watermark horizon: the stateful, streaming
    * counterpart of [[dedupAppendSink]]'s anti-join — re-delivered rows (the
    * reference's inclusive-watermark boundary re-read, __init__.py:89) are
    * dropped by keyed state instead of a sink rescan. State is bounded: keys
    * older than the watermark are evicted, so memory is O(keys per horizon),
    * not O(sink) — the property that makes it viable at 100 TB.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      eventTimeCol: String,
      lateness: String): DataFrame =
    events.withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream inner join within an event-time interval — the canonical
    * attribution join (each click matched to its impression within the
    * window). Both sides carry watermarks and the join condition bounds the
    * time skew, so each side's state is evicted once the other side's
    * watermark passes — state is O(rows per horizon), never unbounded. At
    * 100 TB this is the only viable stream correlation shape: an unbounded
    * condition would accumulate state forever.
    */
  def streamStreamIntervalJoin(
      left: DataFrame, // cols: key, ts (watermark applied by caller naming)
      right: DataFrame, // cols: key, ts2
      lateness: String,
      maxSkew: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    left.withWatermark("ts", lateness)
      .join(
        right.withWatermark("ts2", lateness),
        expr(s"key = key2 AND ts2 >= ts AND ts2 <= ts + INTERVAL $maxSkew"),
        "inner")
      .select(col("key"), col("ts"), col("ts2"))
  }

  /** Session record emitted by the stateful sessionizer. */
  final case class SessionOut(userId: Long, startUs: Long, endUs: Long, nEvents: Long)

  final case class SessionState(startUs: Long, lastUs: Long, n: Long)

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * extension point for session logic `session_window` can't express
    * (per-session payloads, dynamic gaps, side outputs). Event-time timeout
    * closes a session `gapMs` after its last event once the watermark passes.
    * The input keeps its watermarked Timestamp column — projecting the event
    * time away before a stateful op drops the watermark tag and fails
    * analysis.
    */
  def sessionize(
      events: Dataset[(Long, java.sql.Timestamp)], // (userId, eventTime) — withWatermark applied
      gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rowsTs: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionState]) =>
          val rows = rowsTs.map { case (u, t) => (u, t.getTime * 1000) }
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.startUs, s.lastUs, s.n))
          } else {
            val sorted = rows.map(_._2).toSeq.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            for (us <- sorted) {
              cur match {
                case Some(s) if us - s.lastUs <= gapUs =>
                  cur = Some(s.copy(lastUs = us, n = s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.startUs, s.lastUs, s.n)
                  cur = Some(SessionState(us, us, 1))
                case None =>
                  cur = Some(SessionState(us, us, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastUs / 1000 + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Enriched purchase emitted by [[asofEnrich]] — click fields are -1 when
    * no prior click exists (the streaming sibling of the null right side of
    * [[graft.plans.AsOfJoinExec]]'s left-outer output). */
  final case class AsofOut(purchaseId: Long, userId: Long, purchaseUs: Long,
      clickId: Long, clickUs: Long)

  /** STREAMING point-in-time enrichment — the online leg of the as-of
    * family: per user, a `ValueState` holds the latest click (id, time) and
    * every purchase emits enriched with it, exactly the feature-store
    * "latest upstream state at serve time" pattern. Together with the
    * batch forms this closes all three as-of regimes: the
    * [[graft.plans.AsOfJoinExec]] sorted merge (backfill over the lake),
    * the [[graft.ops.StreamingOps.streamAsof]] carry-forward window (the
    * state machine replayed as SQL), and this stateful stream (serving).
    * Rows within a micro-batch fold in (time, kind, id) order — the SAME
    * total order the batch forms use — so an ordered replay is
    * bit-identical to the batch result (`StreamingSpec` pins this across a
    * batch boundary); out-of-order arrivals ACROSS batches enrich with the
    * state as-of arrival, the honest streaming semantics.
    *
    * Scale: state is O(1) per user (one click pair), RocksDB-backed; input
    * shuffles once on user like any keyed stateful op.
    */
  class AsofEnrichProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Long), AsofOut] {
    @transient private var lastClick: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastClick = getHandle.getValueState[(Long, Long)]("last_click",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[(Long, Long, Long, Long)], // (user, eventId, kind 0=click/1=purchase, tus)
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[AsofOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[AsofOut]
      var cur = if (lastClick.exists()) Some(lastClick.get()) else None
      // Same (time, kind, id) total order as the batch forms: a click at
      // the same instant as a purchase is visible to it (at-or-before).
      for ((_, id, kind, tus) <- rows.toSeq.sortBy { case (_, i, k, t) => (t, k, i) }) {
        if (kind == 0L) cur = Some((id, tus))
        else out += AsofOut(id, userId, tus,
          cur.map(_._1).getOrElse(-1L), cur.map(_._2).getOrElse(-1L))
      }
      cur.foreach(lastClick.update)
      out.iterator
    }
  }

  /** `transformWithState` wiring for [[AsofEnrichProcessor]]: input rows are
    * (userId, eventId, kind, timeUs); output the enriched purchases. */
  def asofEnrich(events: Dataset[(Long, Long, Long, Long)]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new AsofEnrichProcessor, TimeMode.None(), OutputMode.Append())
  }

  final case class SpendOut(userId: Long, nEvents: Long, totalCents: Long)

  /** Running per-user spend profile via `transformWithState` — Spark 4's
    * arbitrary-state API (the successor to [[sessionize]]'s
    * flatMapGroupsWithState): typed named state handles, per-state TTL, and
    * timers, backed by the RocksDB state store (the provider
    * transformWithState requires, and the one a 100 TB deployment runs
    * anyway — state spills to local SST files instead of executor heap).
    *
    * State is one `ValueState[(Long, Long)]` per user: (event count, total
    * spend in integer cents — exact across any batch arrival order). Each
    * micro-batch folds its rows into the running pair and emits the updated
    * profile (OutputMode.Update), so the sink always holds the latest
    * lifetime value per user — the streaming feature-store pattern.
    */
  class SpendProcessor extends StatefulProcessor[Long, (Long, Long), SpendOut] {
    @transient private var state: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)]("spend",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SpendOut] = {
      var (n, cents) = if (state.exists()) state.get() else (0L, 0L)
      for ((_, c) <- rows) { n += 1; cents += c }
      state.update((n, cents))
      Iterator(SpendOut(userId, n, cents))
    }
  }

  /** `transformWithState` wiring for [[SpendProcessor]]: input is
    * (userId, cents) rows, output the running per-user profile. */
  def spendTracker(events: Dataset[(Long, Long)]): Dataset[SpendOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new SpendProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class RecentOut(userId: Long, recentCents: Seq[Long])

  /** Last-K purchases per user as `ListState` — the collection-state leg of
    * the arbitrary-state API ([[SpendProcessor]] demos ValueState,
    * [[AbandonProcessor]] timers). The online feature "a user's K most
    * recent purchase amounts" backs recency-weighted models; ListState
    * appends without deserializing the whole list (RocksDB merge), and the
    * cap is re-imposed on write so state stays O(K) per user forever.
    * Rows within a batch append in (timestamp-less) arrival order of the
    * sorted micro-batch fold — callers sort upstream if order matters
    * beyond batch boundaries.
    */
  class RecentPurchasesProcessor(k: Int)
      extends StatefulProcessor[Long, (Long, Long), RecentOut] {
    @transient private var recent: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RecentOut] = {
      for ((_, cents) <- rows) recent.appendValue(cents)
      val kept = recent.get().toSeq.takeRight(k)
      recent.put(kept.toArray) // re-impose the cap: state is O(k), not O(history)
      Iterator(RecentOut(userId, kept))
    }
  }

  /** `transformWithState` wiring for [[RecentPurchasesProcessor]]. */
  def recentPurchases(events: Dataset[(Long, Long)], k: Int = 3): Dataset[RecentOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RecentPurchasesProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  final case class CategorySpendOut(userId: Long, category: String, cents: Long)

  /** Per-category spend map as `MapState` — the keyed-state leg completing
    * the triad (ValueState: [[SpendProcessor]], ListState:
    * [[RecentPurchasesProcessor]]). One map entry per (user, category);
    * `getValue`/`updateValue` touch ONLY the addressed key in RocksDB, so a
    * user with thousands of categories pays per-key point reads on update,
    * not a full-map deserialize — the property that separates MapState from
    * a ValueState[Map[...]] at scale. Emits one row per category updated in
    * the batch (Update mode: unchanged categories are not re-emitted).
    */
  class CategorySpendProcessor
      extends StatefulProcessor[Long, (Long, String, Long), CategorySpendOut] {
    @transient private var byCat: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      byCat = getHandle.getMapState[String, Long]("by_category",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[(Long, String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CategorySpendOut] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      for ((_, cat, cents) <- rows) {
        val cur = if (byCat.containsKey(cat)) byCat.getValue(cat) else 0L
        byCat.updateValue(cat, cur + cents)
        touched += cat
      }
      touched.iterator.map(c => CategorySpendOut(userId, c, byCat.getValue(c)))
    }
  }

  /** `transformWithState` wiring for [[CategorySpendProcessor]]: input is
    * (userId, category, cents). */
  def categorySpend(events: Dataset[(Long, String, Long)]): Dataset[CategorySpendOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new CategorySpendProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class AbandonOut(userId: Long, clickUs: Long)

  /** Abandoned-cart detection with EVENT-TIME TIMERS — the part of the
    * arbitrary-state API neither `session_window` nor the spend tracker
    * touches: a user who clicks but does not purchase within `gapUs` of the
    * click (event time) produces one abandonment record when the watermark
    * passes the deadline; a purchase in time cancels the pending timer.
    *
    * State per user: the earliest unanswered click's event-time (µs) plus
    * its registered timer. Rows in one batch are handled in event order
    * (click opens, purchase closes), and `handleExpiredTimer` — fired by
    * the engine once the watermark crosses the deadline — emits and clears.
    * State size is one long per user with an open click; timers expire it,
    * so idle keys cost nothing forever after.
    */
  class AbandonProcessor(gapUs: Long)
      extends StatefulProcessor[Long, (Long, String, java.sql.Timestamp), AbandonOut] {
    @transient private var pending: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getValueState[Long]("pending_click",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[(Long, String, java.sql.Timestamp)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[AbandonOut] = {
      val ordered = rows.map { case (u, k, t) => (u, k, t.getTime * 1000) }.toSeq
      for ((_, kind, us) <- ordered.sortBy(_._3)) kind match {
        case "click" if !pending.exists() =>
          pending.update(us)
          getHandle.registerTimer((us + gapUs) / 1000) // timer API is ms
        case "purchase" if pending.exists() =>
          getHandle.deleteTimer((pending.get() + gapUs) / 1000)
          pending.clear()
        case _ => ()
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        userId: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[AbandonOut] =
      if (pending.exists()) {
        val clickUs = pending.get()
        pending.clear()
        Iterator(AbandonOut(userId, clickUs))
      } else Iterator.empty
  }

  /** `transformWithState` wiring for [[AbandonProcessor]]: input is
    * (userId, kind, eventTime) with `withWatermark` already applied to the
    * Timestamp column (projecting it away would drop the watermark tag the
    * event-time timers need — same constraint as [[sessionize]]); output one
    * record per abandoned click. */
  def abandonDetector(
      events: Dataset[(Long, String, java.sql.Timestamp)],
      gapUs: Long): Dataset[AbandonOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new AbandonProcessor(gapUs), TimeMode.EventTime(), OutputMode.Append())
  }
}
