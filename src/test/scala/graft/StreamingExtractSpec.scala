package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingExtract

/** The streaming face of incremental extraction: file-source replication
  * (exactly-once within a checkpoint — the streaming upgrade over the
  * reference's at-least-once boundary re-read) and custom stateful
  * sessionization.
  */
class StreamingExtractSpec extends SparkSpec {

  import spark.implicits._

  test("file-source incremental replication delivers each batch exactly once") {
    val src = java.nio.file.Files.createTempDirectory("graft-src").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString

    def writeBatch(ids: Range, hour: Int): Unit =
      ids.map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 $hour%02d:00:00"), i.toDouble))
        .toDF("event_id", "ts", "value")
        .write.mode("append").parquet(src)

    writeBatch(0 until 10, 1)
    val schema = spark.read.parquet(src).schema
    // Poll 1: AvailableNow drains what exists, then stops.
    StreamingExtract.run(spark, src, schema, sink, ckpt).awaitTermination()
    assert(spark.read.parquet(sink).count() == 10)

    // Poll 2: a new file lands; only the delta is delivered (checkpointed
    // file tracking) — no boundary-row duplicate, unlike the batch path.
    writeBatch(10 until 15, 2)
    StreamingExtract.run(spark, src, schema, sink, ckpt).awaitTermination()
    val ids = spark.read.parquet(sink).select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 15L).toSeq, s"got ${ids.toSeq}")
  }

  test("dropDuplicatesWithinWatermark collapses re-delivered rows via bounded keyed state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val df = mem.toDF().toDF("event_id", "ts")
    val q = StreamingExtract.dedupWithinWatermark(df, Seq("event_id"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("ddw_out")
      .outputMode(OutputMode.Append).start()
    try {
      // Batch 1 already contains an in-batch duplicate (the reference's
      // boundary row arrives twice, __init__.py:89).
      mem.addData((1L, Timestamp.valueOf("2024-01-01 01:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 01:00:00")),
        (2L, Timestamp.valueOf("2024-01-01 01:01:00")))
      q.processAllAvailable()
      // Batch 2 re-delivers key 1 within the watermark horizon → dropped.
      mem.addData((1L, Timestamp.valueOf("2024-01-01 01:02:00")),
        (3L, Timestamp.valueOf("2024-01-01 01:03:00")))
      q.processAllAvailable()
      val got = spark.table("ddw_out").collect()
        .map(_.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
      assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1), s"got $got")
    } finally q.stop()
  }

  test("stream-stream interval join matches within skew and drops outside it") {
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = StreamingExtract.streamStreamIntervalJoin(
      impressions.toDF().toDF("key", "ts"),
      clicks.toDF().toDF("key2", "ts2"),
      lateness = "1 hour", maxSkew = "10 MINUTES")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append).start()
    try {
      impressions.addData((1L, Timestamp.valueOf("2024-01-01 01:00:00")),
        (2L, Timestamp.valueOf("2024-01-01 01:00:00")))
      clicks.addData(
        (1L, Timestamp.valueOf("2024-01-01 01:05:00")), // within 10 min → match
        (2L, Timestamp.valueOf("2024-01-01 01:30:00")), // outside skew → dropped
        (3L, Timestamp.valueOf("2024-01-01 01:02:00"))) // no impression → dropped
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(1L), s"got $got")
    } finally q.stop()
  }

  test("dedupAppendSink drops re-delivered boundary rows (at-least-once → effectively-once)") {
    val src = java.nio.file.Files.createTempDirectory("graft-dsrc").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-dsink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dckpt").toString

    def writeBatch(ids: Seq[Int]): Unit =
      ids.map(i => (i.toLong, s"payload$i")).toDF("event_id", "payload")
        .write.mode("append").parquet(src)

    // Batch 1: ids 0..9. Batch 2 RE-DELIVERS the boundary row 9 (the
    // reference's inclusive watermark does exactly this) plus 10..14.
    writeBatch(0 until 10)
    val schema = spark.read.parquet(src).schema
    StreamingExtract.dedupAppendSink(
      spark.readStream.schema(schema).parquet(src), "event_id", sink, ckpt)
      .awaitTermination()
    writeBatch(Seq(9) ++ (10 until 15))
    StreamingExtract.dedupAppendSink(
      spark.readStream.schema(schema).parquet(src), "event_id", sink, ckpt)
      .awaitTermination()

    val ids = spark.read.parquet(sink).select("event_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, s"sink has duplicates: ${ids.sorted.toSeq}")
    assert(ids.sorted.toSeq == (0L until 15L).toSeq)
  }

  test("incrementalDedupSink drops re-delivered, copied, AND near-dup docs across two extract rounds") {
    val src = java.nio.file.Files.createTempDirectory("graft-idsrc").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-idsink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idckpt").toString

    def toks(p: String): IndexedSeq[String] = (0 until 40).map(i => s"$p$i")
    val textA = toks("a").mkString(" ")
    val textB = toks("b").mkString(" ")
    val textC = toks("c").mkString(" ")
    val nearA = (toks("a").dropRight(2) ++ Seq("xx", "yy")).mkString(" ")
    val nearC = (toks("c").dropRight(2) ++ Seq("zz", "ww")).mkString(" ")

    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)

    // Round 1: two distinct docs.
    writeBatch(Seq((0L, textA), (1L, textB)))
    val schema = spark.read.parquet(src).schema
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt).awaitTermination()
    assert(spark.read.parquet(sink).count() == 2)

    // Round 2: the at-least-once worst case — a re-delivered boundary row
    // (same id+text), an exact copy under a new id, a near-dup variant of a
    // loaded doc, plus a new doc with its own in-batch copy and near-dup.
    writeBatch(Seq(
      (1L, textB), // re-delivered boundary row → exact vs sink
      (2L, textA), // exact copy of loaded doc  → exact vs sink
      (3L, nearA), // near-dup of loaded doc    → LSH vs sink signatures
      (4L, textC), // genuinely new             → survives
      (5L, textC), // in-batch exact copy       → within-batch exact
      (6L, nearC)  // in-batch near-dup         → within-batch LSH
    ))
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt).awaitTermination()

    val out = spark.read.parquet(sink)
    assert(out.columns.toSet == Set("doc_id", "text", "content_hash", "sig"),
      s"sink must store the dedup index columns: ${out.columns.toSeq}")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 4L), s"survivors: $ids")

    // The stored index tracks exactly the survivors: one hash and one sig
    // per admitted doc, 16 band rows each (nothing near the bucket cap).
    val Seq(hashesDir, sigsDir, bandsDir) =
      Seq("hashes", "sigs", "bands").map(StreamingExtract.sidecarDir(sink, _))
    assert(spark.read.parquet(hashesDir).count() == 3)
    assert(spark.read.parquet(sigsDir).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 4L))
    assert(spark.read.parquet(bandsDir).count() == 3 * 16)

    // Round 3 against the PRE-INDEXED sink drops the same dup classes:
    // a re-delivered survivor, an exact copy, a near-dup variant of a
    // round-2 survivor, and admits only the genuinely new doc.
    val textD = toks("d").mkString(" ")
    writeBatch(Seq(
      (4L, textC), // re-delivered boundary row   → exact vs stored hashes
      (7L, textB), // exact copy of loaded doc    → exact vs stored hashes
      (8L, nearC), // near-dup of round-2 survivor → LSH vs stored bands+sigs
      (9L, textD)  // genuinely new               → survives
    ))
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt).awaitTermination()
    val ids3 = spark.read.parquet(sink).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids3 == Seq(0L, 1L, 4L, 9L), s"round-3 survivors: $ids3")
    assert(spark.read.parquet(hashesDir).count() == 4, "index must grow with the survivor")
    assert(spark.read.parquet(bandsDir).count() == 4 * 16)

    // THE index contract: a steady-state batch's dedup plan reads ONLY the
    // stored index tables — the sink parquet itself is never scanned (the
    // r4 design re-read and re-banded the whole sink per micro-batch).
    val text = graft.ops.LlmPipeline.Modality.text(0.5)
    val idx = StreamingExtract.readIndex(spark, sink, text)
    assert(idx.nonEmpty, "index must exist after a batch")
    val probe = Seq((10L, textD), (11L, toks("e").mkString(" ")))
      .toDF("doc_id", "text")
    val (surv, _) = graft.ops.LlmPipeline.incrementalDedup(spark, probe, text, idx)
    val scanned = surv.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toUri.getPath)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(scanned.nonEmpty, "the indexed plan must scan the index tables")
    assert(!scanned.exists(p => p == sink || p.startsWith(s"$sink/")),
      s"steady-state dedup must never scan the sink itself: $scanned")
    // The stored band table is (band, bpfx)-partitioned and the probe
    // prunes it to its touched grid cells: the bands scan must carry a
    // STATIC PartitionFilters entry over the partition columns — the scan
    // stays bounded by the batch's band rows as the index grows, instead
    // of re-reading the whole band table per micro-batch.
    val planStr = surv.queryExecution.executedPlan.toString
    val bandScanLines = planStr.linesIterator
      .filter(l => l.contains(".idx/bands") && l.contains("PartitionFilters")).toSeq
    assert(bandScanLines.nonEmpty, s"no partitioned bands scan in plan:\n$planStr")
    assert(bandScanLines.forall(l => l.contains("bpfx") && !l.contains("PartitionFilters: []")),
      s"bands scan not partition-pruned: $bandScanLines")
    assert(surv.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L),
      "the indexed probe batch must drop the copy of an indexed doc")

    // Replay idempotence: a FRESH checkpoint re-delivers every batch; with
    // all prior appends committed, every replayed row anti-joins away
    // against the stored index — sink and index must not change.
    val preSink = spark.read.parquet(sink).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val preHashes = spark.read.parquet(hashesDir).count()
    val preBands = spark.read.parquet(bandsDir).count()
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-idckpt2").toString
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt2).awaitTermination()
    assert(spark.read.parquet(sink).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == preSink, "replay must not change the sink")
    assert(spark.read.parquet(hashesDir).count() == preHashes, "replay must not grow the hash index")
    assert(spark.read.parquet(bandsDir).count() == preBands, "replay must not grow the band index")
  }

  test("a legacy FLAT bands sidecar migrates to the partitioned layout and the sink keeps working") {
    val src = java.nio.file.Files.createTempDirectory("graft-lgsrc").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-lgsink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lgckpt").toString

    def toks(p: String): IndexedSeq[String] = (0 until 40).map(i => s"$p$i")
    val textA = toks("a").mkString(" ")
    val textB = toks("b").mkString(" ")
    val nearA = (toks("a").dropRight(2) ++ Seq("xx", "yy")).mkString(" ")
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)

    writeBatch(Seq((0L, textA), (1L, textB)))
    val schema = spark.read.parquet(src).schema
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt).awaitTermination()

    // Devolve the bands sidecar to the LEGACY layout: flat parquet, no bpfx
    // partition dirs — what a pre-partitioning sink left on disk. Without
    // migration, the next batch would append band=X/bpfx=Y subdirs next to
    // these flat part-files and the following read would fail partition
    // discovery, wedging the sink permanently.
    val bandsDir = StreamingExtract.sidecarDir(sink, "bands")
    val flatRows = spark.read.parquet(bandsDir)
      .select("band", "bucket", "doc_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val fs = new org.apache.hadoop.fs.Path(bandsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(bandsDir), true)
    flatRows.toDF("band", "bucket", "doc_id").write.parquet(bandsDir)
    assert(!spark.read.parquet(bandsDir).columns.contains("bpfx"), "precondition: flat layout")

    // Round 2 through the legacy index: a near-dup of a STORED doc (needs
    // the migrated band content to be dropped) plus a new doc.
    val textC = toks("c").mkString(" ")
    writeBatch(Seq((2L, nearA), (3L, textC)))
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt).awaitTermination()

    val migrated = spark.read.parquet(bandsDir)
    assert(migrated.columns.contains("bpfx"), "bands table must be partitioned after migration")
    // No mixed layout: the dir root holds only partition subdirs and markers.
    val rootFiles = fs.listStatus(new org.apache.hadoop.fs.Path(bandsDir))
      .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(rootFiles.forall(_.startsWith("band=")), s"mixed flat/partitioned layout: ${rootFiles.toSeq}")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$bandsDir.staged")) === false,
      "staging dir must be cleaned up")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$bandsDir.swap-old")) === false,
      "old flat copy must be cleaned up")
    // Migration preserved content: the near-dup died on the stored bands.
    val ids = spark.read.parquet(sink).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 3L), s"survivors: $ids")

    // Round 3 proves the post-migration append did not wedge the layout.
    writeBatch(Seq((4L, toks("d").mkString(" "))))
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt).awaitTermination()
    val ids3 = spark.read.parquet(sink).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids3 == Seq(0L, 1L, 3L, 4L), s"round-3 survivors: $ids3")
    assert(migrated.count() == spark.read.parquet(bandsDir).count() - 16,
      "round 3 must append exactly the new doc's band rows")
  }

  test("bands migration recovers from a crash between the two swap renames") {
    val base = java.nio.file.Files.createTempDirectory("graft-mig").toString
    val dir = s"$base/bands"
    val rows = Seq((0, 1, 10L), (1, 2, 11L)).toDF("band", "bucket", "doc_id")
    // The crash state: the flat dir was renamed away, the committed staged
    // partitioned copy has not been renamed in — no live table on disk.
    rows.withColumn("bpfx", pmod(col("bucket").cast("long"), lit(16L)))
      .write.partitionBy("band", "bpfx").parquet(s"$dir.staged")
    rows.write.parquet(s"$dir.swap-old")
    StreamingExtract.ensurePartitionedBands(spark, dir)
    val healed = spark.read.parquet(dir)
    assert(healed.columns.contains("bpfx"))
    assert(healed.count() == 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.staged")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.swap-old")))
    // Idempotent on an already-partitioned table.
    StreamingExtract.ensurePartitionedBands(spark, dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  /** Non-hidden data files under `dir`, recursively. */
  private def nDataFiles(dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) {
        val name = it.next().getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) n += 1
      }
      n
    }
  }

  test("sidecar compaction bounds index file counts over many micro-batches") {
    val src = java.nio.file.Files.createTempDirectory("graft-cpsrc").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-cpsink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cpckpt").toString
    val maxFiles = 4

    def toks(p: String): IndexedSeq[String] = (0 until 40).map(i => s"${p}tok$i")
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)

    writeBatch(Seq((0L, toks("w0_").mkString(" "))))
    val schema = spark.read.parquet(src).schema
    val Seq(hashesDir, sigsDir, bandsDir) =
      Seq("hashes", "sigs", "bands").map(StreamingExtract.sidecarDir(sink, _))
    val nBatches = 10
    (0 until nBatches).foreach { i =>
      if (i > 0) writeBatch(Seq((i.toLong, toks(s"w${i}_").mkString(" "))))
      StreamingExtract.incrementalDedupSink(
        spark.readStream.schema(schema).parquet(src), sink, ckpt,
        compactAfterFiles = maxFiles).awaitTermination()
      // The per-dir bound holds after EVERY batch, not just at the end:
      // compaction runs post-append, so a flat dir never carries more than
      // the threshold into the next batch.
      assert(nDataFiles(hashesDir) <= maxFiles,
        s"batch $i: hashes dir has ${nDataFiles(hashesDir)} files")
      assert(nDataFiles(sigsDir) <= maxFiles,
        s"batch $i: sigs dir has ${nDataFiles(sigsDir)} files")
    }
    // The partitioned band table compacts to one file per populated grid
    // cell — the count tracks CONTENT (bounded by the 256-cell grid), not
    // batch count: 10 batches x 16 band-row appends each would otherwise
    // leave ~160 files and keep growing.
    val nCells = spark.read.parquet(bandsDir)
      .select("band", "bpfx").distinct().count().toInt
    assert(nDataFiles(bandsDir) == nCells,
      s"bands dir: ${nDataFiles(bandsDir)} files for $nCells populated cells")

    // Compaction changed layout, never content: every distinct doc is still
    // admitted exactly once, and a near-dup of the FIRST batch's doc still
    // dies on the (since-compacted) stored index.
    val nearW0 = (toks("w0_").dropRight(2) ++ Seq("xx", "yy")).mkString(" ")
    writeBatch(Seq((100L, nearW0), (101L, toks("fresh").mkString(" "))))
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt,
      compactAfterFiles = maxFiles).awaitTermination()
    val ids = spark.read.parquet(sink).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until nBatches.toLong) :+ 101L).sorted,
      s"survivors after compactions: $ids")
    assert(spark.read.parquet(hashesDir).count() == nBatches + 1)
  }

  test("compactSidecar heals a compaction swap that crashed between renames") {
    val base = java.nio.file.Files.createTempDirectory("graft-chl").toString
    val dir = s"$base/hashes"
    // Crash state: live dir renamed away, committed compacted copy staged.
    Seq("h1", "h2", "h3").toDF("content_hash").write.parquet(s"$dir.staged")
    Seq("h1", "h2", "h3").toDF("content_hash").write.parquet(s"$dir.swap-old")
    val rewrote = StreamingExtract.compactSidecar(spark, dir, maxFiles = 64, partitioned = false)
    assert(!rewrote, "healing alone is not a rewrite")
    assert(spark.read.parquet(dir).count() == 3, "staged copy must become the live table")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.staged")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.swap-old")))
    // And a genuine over-threshold dir rewrites below the bound.
    (0 until 6).foreach(i => Seq(s"x$i").toDF("content_hash").write.mode("append").parquet(dir))
    assert(nDataFiles(dir) > 4)
    assert(StreamingExtract.compactSidecar(spark, dir, maxFiles = 4, partitioned = false))
    assert(nDataFiles(dir) <= 4)
    assert(spark.read.parquet(dir).count() == 9, "compaction must preserve every row")
  }

  test("compaction under a concurrent reader: re-open sees identical content, held handles fail loudly") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-crdr").toString
    val dir = s"$base/hashes"
    (0 until 6).foreach(i =>
      Seq(s"x$i").toDF("content_hash").write.mode("append").parquet(dir))
    val before = spark.read.parquet(dir).as[String].collect().sorted.toSeq

    // The reader a batch would hold: opened (and even materialized) before
    // the swap, then used again after it.
    val held = spark.read.parquet(dir)
    assert(held.count() == 6)

    assert(StreamingExtract.compactSidecar(spark, dir, maxFiles = 4, partitioned = false))

    // Re-opened reader (the sinks' per-batch pattern): bit-identical content.
    val after = spark.read.parquet(dir).as[String].collect().sorted.toSeq
    assert(after == before, "compaction must be invisible to a re-opening reader")

    // The held handle's file listing predates the swap: it must fail FAST
    // with Spark's re-resolve advisory — never return silently short rows.
    val err = intercept[org.apache.spark.SparkException] { held.collect() }
    assert(err.getMessage.contains("FILE_NOT_EXIST"),
      s"expected the loud invalidation advisory, got: ${err.getMessage}")
  }

  test("incrementalDedupEmbeddingSink drops re-delivered and near-identical vectors across rounds") {
    val src = java.nio.file.Files.createTempDirectory("graft-iesrc").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-iesink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ieckpt").toString

    def e(i: Int, scale: Float = 1.0f, eps: (Int, Float) = (0, 0.0f)): Seq[Float] = {
      val v = Array.fill(64)(0.0f)
      v(i) = scale
      if (eps._2 != 0.0f) v(eps._1) += eps._2
      v.toSeq
    }
    def writeBatch(rows: Seq[(Long, Seq[Float])]): Unit =
      rows.toDF("vec_id", "embedding").write.mode("append").parquet(src)

    // Round 1: two orthogonal vectors — both admitted.
    writeBatch(Seq(0L -> e(0), 1L -> e(1)))
    val schema = spark.read.parquet(src).schema
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt,
      graft.ops.LlmPipeline.Modality.embedding()).awaitTermination()
    val r1 = spark.read.parquet(sink)
    assert(r1.count() == 2)
    assert(r1.columns.toSet == Set("vec_id", "embedding", "norm", "codes"),
      s"sink must store the SRP codes and norm: ${r1.columns.toSeq}")

    // Round 2: a re-delivered vector (cosine 1), a near-identical variant of
    // a loaded vector (cosine ≈ 0.999995), a genuinely new direction, and an
    // in-batch scaled copy of it.
    writeBatch(Seq(
      1L -> e(1),                        // re-delivered          → dropped
      2L -> e(0, eps = (1, 1e-4f)),      // near-identical of 0   → dropped
      3L -> e(2),                        // new direction         → survives
      4L -> e(2, scale = 2.0f),          // in-batch scaled copy  → dropped
      5L -> e(3)                         // new direction         → survives
    ))
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt,
      graft.ops.LlmPipeline.Modality.embedding()).awaitTermination()
    val ids = spark.read.parquet(sink).select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 3L, 5L), s"survivors: $ids")
  }

  test("incrementalDedupMediaSink drops byte-identical payloads across rounds") {
    val src = java.nio.file.Files.createTempDirectory("graft-imsrc").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-imsink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-imckpt").toString

    def payload(tag: String): Array[Byte] = s"media-payload-$tag".getBytes("UTF-8")
    def writeBatch(rows: Seq[(Long, Array[Byte])]): Unit =
      rows.toDF("asset_id", "payload").write.mode("append").parquet(src)

    writeBatch(Seq(0L -> payload("A"), 1L -> payload("B")))
    val schema = spark.read.parquet(src).schema
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt,
      graft.ops.LlmPipeline.Modality.media).awaitTermination()
    assert(spark.read.parquet(sink).count() == 2)

    writeBatch(Seq(
      1L -> payload("B"), // re-delivered boundary asset → dropped
      2L -> payload("A"), // byte-identical copy          → dropped
      3L -> payload("C"), // new                          → survives
      4L -> payload("C")  // in-batch copy                → dropped
    ))
    StreamingExtract.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt,
      graft.ops.LlmPipeline.Modality.media).awaitTermination()
    val out = spark.read.parquet(sink)
    assert(out.columns.contains("payload_hash"), "sink must store the payload hash")
    val ids = out.select("asset_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 3L), s"survivors: $ids")
  }

  /** One modality of the indexed dedup sink with row builders: content key
    * `k` maps to pairwise non-duplicate content (disjoint 40-token texts,
    * orthogonal one-hot vectors, distinct payloads), so rows sharing a key
    * are exact copies and rows with different keys all survive. With its
    * second argument true, `rows` builds near-dup variants instead (two
    * tokens replaced, a 1e-4 off-axis component) where the modality has a
    * near step.
    */
  private final class DedupFixture(val modality: graft.ops.LlmPipeline.Modality,
      val rows: (Seq[(Long, Int)], Boolean) => org.apache.spark.sql.DataFrame)

  private val dedupFixtures = {
    import graft.ops.LlmPipeline.Modality
    def text(k: Int, near: Boolean): String =
      ((0 until 40).map(i => s"k${k}_t$i").dropRight(if (near) 2 else 0) ++
        (if (near) Seq("xx", "yy") else Nil)).mkString(" ")
    def vec(k: Int, near: Boolean): Seq[Float] = Seq.tabulate(64)(i =>
      if (i == k) 1.0f else if (near && i == k + 32) 1e-4f else 0.0f)
    Seq(
      "text" -> new DedupFixture(Modality.text(), (r, near) =>
        r.map { case (id, k) => (id, text(k, near)) }.toDF("doc_id", "text")),
      "embedding" -> new DedupFixture(Modality.embedding(), (r, near) =>
        r.map { case (id, k) => (id, vec(k, near)) }.toDF("vec_id", "embedding")),
      "media" -> new DedupFixture(Modality.media, (r, _) =>
        r.map { case (id, k) => (id, s"payload-$k".getBytes("UTF-8")) }.toDF("asset_id", "payload")))
  }

  /** Every file and directory under `dir`, recursively (empty if absent). */
  private def treePaths(dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(q: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(q).toSeq.flatMap(s =>
        s.getPath.toString +: (if (s.isDirectory) walk(s.getPath) else Nil))
    if (fs.exists(p)) walk(p).toSet else Set.empty
  }

  for ((name, f) <- dedupFixtures)
    test(s"$name sink: a crash after any append of a batch replays without loss, leak or wedge") {
      val m = f.modality
      val idCol = m.idCol
      val order = m.appendOrder.size + 1 // the sink itself, then its sidecars
      for (cut <- 1 to order) {
        val sink = java.nio.file.Files.createTempDirectory(s"graft-cut$cut").toString + "/out"
        val dirs = sink +: m.appendOrder.map(StreamingExtract.sidecarDir(sink, _))
        def load(batch: org.apache.spark.sql.DataFrame, compact: Int): Unit =
          StreamingExtract.dedupLoadBatch(spark, batch, sink, m, compact)
        load(f.rows(Seq(0L -> 0, 1L -> 1), false), 0)
        val before = dirs.map(d => d -> treePaths(d)).toMap
        // Round 2: two new rows and a copy of a stored one. Then the crash:
        // every part file the appends after the cut added disappears, as if
        // those commits never happened; the round is re-delivered.
        val round2 = f.rows(Seq(2L -> 2, 3L -> 3, 4L -> 0), false)
        load(round2, 0)
        val fs = new org.apache.hadoop.fs.Path(sink)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        dirs.drop(cut).foreach(d => (treePaths(d) -- before(d)).toSeq.sortBy(-_.length)
          .foreach(q => fs.delete(new org.apache.hadoop.fs.Path(q), true)))
        load(round2, 0)
        // Round 3 holds an exact copy of each round-2 survivor under a new
        // id, a near-dup variant of each where the modality has a near step,
        // and one new row; it compacts every sidecar holding > 1 file.
        val copies = f.rows(Seq(10L -> 2, 11L -> 3, 12L -> 4), false)
        load(if (m.near.isEmpty) copies
          else copies.unionByName(f.rows(Seq(13L -> 2, 14L -> 3), true)), 1)
        val got = spark.read.parquet(sink).select(idCol).as[Long].collect().toSet
        assert(Set(2L, 3L).subsetOf(got), s"cut $cut: a round-2 survivor was lost: $got")
        assert(Set(10L, 11L, 13L, 14L).intersect(got).isEmpty,
          s"cut $cut: a round-3 copy was admitted: $got")
        assert(got == Set(0L, 1L, 2L, 3L, 12L), s"cut $cut: sink ids $got")
        dirs.foreach(d => spark.read.parquet(d).count()) // every table still reads
      }
    }

  test("jobs: a steady-state dedupLoadBatch round per modality and dedup_incremental stay at their counts") {
    // Spark jobs measured on the three per-modality sinks this kernel
    // replaced (same fixtures, same session settings); the one kernel must
    // launch no more.
    val ceiling = Map("text" -> 28, "embedding" -> 25, "media" -> 6)
    for ((name, f) <- dedupFixtures) {
      val sink = java.nio.file.Files.createTempDirectory(s"graft-jobs-$name").toString + "/out"
      StreamingExtract.dedupLoadBatch(spark, f.rows(Seq(0L -> 0, 1L -> 1), false), sink, f.modality)
      val batch = f.rows(Seq(2L -> 2, 3L -> 3, 4L -> 0), false)
      val (_, jobs) = org.apache.spark.JobCount(spark.sparkContext)(
        StreamingExtract.dedupLoadBatch(spark, batch, sink, f.modality))
      assert(jobs <= ceiling(name), s"$name: $jobs jobs per steady-state round")
    }
    graft.ops.LlmPipeline.dedupIncremental(spark, sf).collect() // warm the documents read
    val (_, jobs) = org.apache.spark.JobCount(spark.sparkContext)(
      graft.ops.LlmPipeline.dedupIncremental(spark, sf).collect())
    assert(jobs <= 23, s"dedup_incremental: $jobs jobs")
  }

  test("upsertSink MERGEs re-delivered keys: changed payloads replace, new keys insert") {
    val src = java.nio.file.Files.createTempDirectory("graft-usrc").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-usink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-uckpt").toString

    def writeBatch(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "payload", "version")
        .write.mode("append").parquet(src)

    // Batch 1: keys 0..9 at version 1.
    writeBatch((0L until 10L).map(i => (i, s"v1-$i", 1L)))
    val schema = spark.read.parquet(src).schema
    StreamingExtract.upsertSink(
      spark.readStream.schema(schema).parquet(src), "event_id", "version", sink, ckpt)
      .awaitTermination()
    assert(spark.read.parquet(sink).count() == 10)

    // Batch 2: boundary key 9 re-delivered with an UPDATED payload (twice in
    // one batch — versions 2 and 3; newest must win), plus new keys 10..14.
    writeBatch(Seq((9L, "v2-9", 2L), (9L, "v3-9", 3L)) ++
      (10L until 15L).map(i => (i, s"v1-$i", 1L)))
    StreamingExtract.upsertSink(
      spark.readStream.schema(schema).parquet(src), "event_id", "version", sink, ckpt)
      .awaitTermination()

    val got = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("payload"))
    assert(got.length == 15, s"expected 15 rows, got ${got.length}")
    assert(got.map(_._1).distinct.length == 15, "sink has duplicate keys")
    val byKey = got.toMap
    assert(byKey(9L) == "v3-9", s"matched key must carry the newest payload: ${byKey(9L)}")
    assert(byKey(0L) == "v1-0" && byKey(14L) == "v1-14")

    // Replay idempotence: re-running the same source against a FRESH
    // checkpoint re-delivers every batch; the merge converges to the same
    // sink (same keys, newest versions), not duplicates.
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-uckpt2").toString
    StreamingExtract.upsertSink(
      spark.readStream.schema(schema).parquet(src), "event_id", "version", sink, ckpt2)
      .awaitTermination()
    val replayed = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("payload")).toMap
    assert(replayed == byKey, "replay must converge to the identical sink")
  }

  test("sketchDistinctSink: kilobyte sketch rows serve exact estimates; replay merges idempotently") {
    val src = java.nio.file.Files.createTempDirectory("graft-sksrc").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-sksink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-skckpt").toString

    def writeBatch(rows: Seq[(String, Long)]): Unit =
      rows.toDF("segment", "member").write.mode("append").parquet(src)
    def estimates(): Map[String, Long] =
      StreamingExtract.sketchEstimates(spark, sink).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val schema = spark.read.parquet({
      writeBatch(Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 1L))); src
    }).schema
    def runOnce(checkpoint: String): Unit =
      StreamingExtract.sketchDistinctSink(
        spark.readStream.schema(schema).parquet(src), sink, checkpoint)
        .awaitTermination()

    // Batch 1 (with an in-batch duplicate member): below-k sketches are exact.
    runOnce(ckpt)
    assert(estimates() == Map("a" -> 2L, "b" -> 1L), estimates().toString)

    // Batch 2 overlaps batch 1 (member 2 of 'a' re-delivered, the
    // reference's boundary re-read) and adds new members + a new segment.
    writeBatch(Seq(("a", 2L), ("a", 3L), ("b", 9L), ("c", 7L)))
    runOnce(ckpt)
    assert(estimates() == Map("a" -> 3L, "b" -> 2L, "c" -> 1L), estimates().toString)

    // The stored state is ONE sketch row per segment — never member lists.
    assert(spark.read.parquet(sink).count() == 3)

    // Replay the ENTIRE source against a fresh checkpoint (at-least-once
    // re-delivery of every batch): theta union is idempotent, so the
    // estimates converge unchanged.
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-skckpt2").toString
    runOnce(ckpt2)
    assert(estimates() == Map("a" -> 3L, "b" -> 2L, "c" -> 1L),
      s"replay must be a no-op on sketch state: ${estimates()}")
  }

  test("crash cuts: upsertSink and sketchDistinctSink read whole old or new tables, and a re-run equals the uncut run") {
    // Per sink: batch 1 lands uncut; batch 2's replace is cut at each point
    // on a copy of the sink and its checkpoint, then the stream re-runs on
    // that checkpoint and must reach what batch 2 uncut reaches.
    final case class Case(name: String, batch1: DataFrame, batch2: DataFrame,
        start: (DataFrame, String, String) => org.apache.spark.sql.streaming.StreamingQuery,
        read: String => Option[Seq[String]])
    val cases = Seq(
      Case("upsert",
        (0L until 10L).map(i => (i, s"v1-$i", 1L)).toDF("event_id", "payload", "version"),
        (Seq((9L, "v2-9", 2L)) ++ (10L until 15L).map(i => (i, s"v1-$i", 1L))).toDF("event_id", "payload", "version"),
        (s, sink, ckpt) => StreamingExtract.upsertSink(s, "event_id", "version", sink, ckpt),
        sink => SwapCuts.rows(spark, sink)),
      Case("sketch",
        Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("segment", "member"),
        Seq(("a", 2L), ("a", 3L), ("c", 7L)).toDF("segment", "member"),
        (s, sink, ckpt) => StreamingExtract.sketchDistinctSink(s, sink, ckpt),
        sink => Some(SwapCuts.sorted(StreamingExtract.sketchEstimates(spark, sink)))))
    for (c <- cases) {
      val src = java.nio.file.Files.createTempDirectory(s"graft-cut-${c.name}-src").toString
      val base = java.nio.file.Files.createTempDirectory(s"graft-cut-${c.name}").toString
      c.batch1.write.mode("append").parquet(src)
      val schema = spark.read.parquet(src).schema
      def drain(at: String): Unit =
        c.start(spark.readStream.schema(schema).parquet(src), s"$at/out", s"$at/ckpt").awaitTermination()
      def fork(to: String): String = {
        Seq("out", "ckpt").foreach(d => SwapCuts.copy(spark, s"$base/pre/$d", s"$to/$d"))
        to
      }
      drain(s"$base/pre")
      c.batch2.write.mode("append").parquet(src)
      val before = c.read(s"$base/pre/out")
      val ref = fork(s"$base/ref")
      drain(ref)
      val after = c.read(s"$ref/out")
      assert(after != before, s"${c.name}: batch 2 must change the sink")
      for ((cut, i) <- SwapCuts.All.zipWithIndex) {
        val at = fork(s"$base/cut$i")
        SwapCuts(spark, s"$at/out", s"$ref/out", cut)
        val seen = c.read(s"$at/out")
        assert(seen == before || seen == after, s"${c.name}, $cut: the sink reads $seen")
        drain(at)
        assert(c.read(s"$at/out") == after, s"${c.name}, $cut: re-run differs from the uncut run")
        assert(SwapCuts.clean(spark, s"$at/out"), s"${c.name}, $cut: swap remnants left")
      }
    }
  }

  test("sketchEstimates serves the committed copy after a cut between the swap's renames") {
    val base = java.nio.file.Files.createTempDirectory("graft-skcut").toString
    val (src, sink) = (s"$base/src", s"$base/out")
    Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("segment", "member").write.parquet(src)
    StreamingExtract.sketchDistinctSink(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src), sink, s"$base/ckpt")
      .awaitTermination()
    val preCut = SwapCuts.sorted(StreamingExtract.sketchEstimates(spark, sink))
    SwapCuts(spark, sink, SwapCuts.copy(spark, sink, s"$base/copy"), "between the renames")
    // The live name is vacant: a plain read fails loudly.
    intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(sink))
    assert(SwapCuts.sorted(StreamingExtract.sketchEstimates(spark, sink)) == preCut)
  }

  test("update-mode streaming aggregation re-emits a group's row as late data revises it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val counts = mem.toDF().toDF("event_type", "n")
      .groupBy("event_type").agg(sum(col("n")).as("total"))
    val q = counts.writeStream.format("memory").queryName("upd_out")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(("click", 3L), ("view", 1L))
      q.processAllAvailable()
      mem.addData(("click", 2L)) // revises click's total; view must NOT re-emit
      q.processAllAvailable()
      // The memory sink in Update mode appends each emitted revision, so the
      // table is the emission LOG: click appears twice (3 then 5), view once.
      val log = spark.table("upd_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(log.count(_._1 == "click") == 2, s"click revisions: $log")
      assert(log.count(_._1 == "view") == 1, s"view must emit once: $log")
      assert(log.filter(_._1 == "click").map(_._2).toSet == Set(3L, 5L), log.toString)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer closes sessions on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    def us(s: String) = Timestamp.valueOf(s).getTime * 1000
    val stream = MemoryStream[(Long, Timestamp)]
    val events = stream.toDS().toDF("user_id", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(Long, Timestamp)]
    val q = StreamingExtract.sessionize(events, gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append).start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      stream.addData(Seq((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),
        (2L, ts("2024-01-01 00:05:00"))))
      q.processAllAvailable()
      // Advance the watermark far past both sessions' timeouts.
      stream.addData(Seq((3L, ts("2024-01-01 06:00:00"))))
      q.processAllAvailable()
      stream.addData(Seq((3L, ts("2024-01-01 12:00:00"))))
      q.processAllAvailable()
      val out = spark.table("sessions_out")
        .select("userId", "startUs", "endUs", "nEvents")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(out.contains((1L, us("2024-01-01 00:00:00"), us("2024-01-01 00:10:00"), 2L)), out.toString)
      assert(out.contains((2L, us("2024-01-01 00:05:00"), us("2024-01-01 00:05:00"), 1L)), out.toString)
    } finally q.stop()
  }

  test("noveltyScoringSink scores against the growing first-seer sidecar; replay and adoption converge") {
    val src = java.nio.file.Files.createTempDirectory("graft-nvsrc").toString
    val sink = java.nio.file.Files.createTempDirectory("graft-nvsink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-nvckpt").toString
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
    def sinkScores() = spark.read.parquet(sink)
      .select("doc_id", "n_shingles", "n_novel", "novelty_micro").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // Poll 1: two disjoint docs — both fully novel.
    writeBatch(Seq((1L, "a b c d e"), (2L, "f g h i j")))
    val schema = spark.read.parquet(src).schema
    StreamingExtract.noveltyScoringSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt).awaitTermination()
    assert(sinkScores() == Map(1L -> ((3L, 3L, 1000000L)), 2L -> ((3L, 3L, 1000000L))))

    // Poll 2: a verbatim copy (0), a half-remix sharing "c d e" (2/3), and
    // a shingle-less doc (scored 0 with 0 shingles, still landed).
    writeBatch(Seq((3L, "a b c d e"), (4L, "c d e k l"), (5L, "x")))
    StreamingExtract.noveltyScoringSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt).awaitTermination()
    val after2 = sinkScores()
    assert(after2(3L) == ((3L, 0L, 0L)), s"verbatim copy must score 0: $after2")
    assert(after2(4L) == ((3L, 2L, 666666L)), s"half-remix: $after2")
    assert(after2(5L) == ((0L, 0L, 0L)), s"shingle-less doc: $after2")

    // The sidecar holds exactly the corpus's 8 distinct shingles, each
    // attributed to its true first seer ("c d e" → doc 1, not 3 or 4).
    val shinglesDir = StreamingExtract.noveltyIndexDir(sink)
    val seers = spark.read.parquet(shinglesDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seers.size == 8, s"expected 8 distinct first-seer terms: ${seers.size}")
    val cdeHash = spark.range(1).select(xxhash64(lit("c d e"))).head().getLong(0)
    assert(seers(cdeHash) == 1L, "'c d e' must stay attributed to doc 1")

    // The incremental scores equal the one-shot batch kernel over the full
    // corpus (ids monotone with arrival — the extract contract).
    val full = graft.ops.LlmPipeline.noveltyOf(
      graft.ops.LlmPipeline.shingleTerms64(
        spark.read.parquet(sink).select("doc_id", "text"))
        .withColumnRenamed("term64", "term"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(full == after2.filter(_._2._1 > 0), "incremental must equal the batch kernel")

    // Replay from a fresh checkpoint: every doc hits the sink gate, the
    // sidecar sees no new terms — both must be byte-for-byte stable.
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-nvckpt2").toString
    StreamingExtract.noveltyScoringSink(
      spark.readStream.schema(schema).parquet(src), sink, ckpt2).awaitTermination()
    assert(sinkScores() == after2, "replay must not change scores")
    assert(spark.read.parquet(shinglesDir).count() == 8, "replay must not grow the sidecar")

    // Adoption: wipe the sidecar; the next round rebuilds it from stored
    // text and a fresh copy of doc 2's text still scores 0.
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmTree(java.nio.file.Paths.get(shinglesDir))
    StreamingExtract.noveltyLoadBatch(spark,
      Seq((6L, "f g h i j")).toDF("doc_id", "text"), sink)
    val after3 = sinkScores()
    assert(after3(6L) == ((3L, 0L, 0L)), s"post-adoption copy must score 0: $after3")
    assert(spark.read.parquet(shinglesDir).count() == 8,
      "adoption must rebuild exactly the corpus shingle set")
  }

  test("crash cuts: the novelty bootstrap leaves no partial first-seer table, and a replay equals the uncut run") {
    val base = java.nio.file.Files.createTempDirectory("graft-nvcut").toString
    def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")
    def shingles(sink: String): String = StreamingExtract.noveltyIndexDir(sink)
    // A sink with no sidecar: the next round adopts it (the bootstrap).
    StreamingExtract.noveltyLoadBatch(spark, docs((1L, "a b c d e"), (2L, "f g h i j")), s"$base/seed")
    val pre = SwapCuts.copy(spark, s"$base/seed", s"$base/pre/out")
    // What the bootstrap commits: a round of no docs adopts and adds nothing.
    val boot = SwapCuts.copy(spark, pre, s"$base/boot/out")
    StreamingExtract.noveltyLoadBatch(spark, docs(), boot)
    val batch = docs((3L, "c d e k l"))
    val ref = SwapCuts.copy(spark, pre, s"$base/ref/out")
    StreamingExtract.noveltyLoadBatch(spark, batch, ref)
    val bootRows = SwapCuts.rows(spark, shingles(boot))
    assert(bootRows.exists(_.size == 6), s"bootstrap: $bootRows")
    for ((cut, i) <- SwapCuts.All.zipWithIndex) {
      val at = SwapCuts.copy(spark, pre, s"$base/cut$i/out")
      SwapCuts(spark, shingles(at), shingles(boot), cut)
      val seen = SwapCuts.rows(spark, shingles(at))
      assert(seen.isEmpty || seen == bootRows, s"$cut: the first-seer table reads $seen")
      assert(SwapCuts.rows(spark, at) == SwapCuts.rows(spark, pre), s"$cut: the sink changed")
      StreamingExtract.noveltyLoadBatch(spark, batch, at)
      assert(SwapCuts.rows(spark, at) == SwapCuts.rows(spark, ref), s"$cut: replayed scores differ")
      assert(SwapCuts.rows(spark, shingles(at)) == SwapCuts.rows(spark, shingles(ref)), s"$cut: first seers differ")
      assert(SwapCuts.clean(spark, shingles(at)), s"$cut: swap remnants left")
    }
  }

  test("noveltyLoadBatch: duplicate doc_ids WITHIN one batch append once, like cross-batch replay") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft-nvdup").toString + "/out"
    // doc 1 arrives twice in the SAME micro-batch (at-least-once sources
    // can re-deliver inside a poll, not only across polls); doc 2 once.
    StreamingExtract.noveltyLoadBatch(spark,
      Seq((1L, "a b c d e"), (1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text"),
      sink)
    val rows = spark.read.parquet(sink).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 1L, 2L -> 1L),
      s"intra-batch duplicates must collapse to one sink row: $rows")
    // And the gate composes with the cross-batch one: replaying the same
    // mixed batch appends nothing.
    StreamingExtract.noveltyLoadBatch(spark,
      Seq((1L, "a b c d e"), (1L, "a b c d e")).toDF("doc_id", "text"), sink)
    assert(spark.read.parquet(sink).count() == 2, "replay after dedup must be a no-op")
  }
}
