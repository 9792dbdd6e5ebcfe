package graft.extract

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.model.{ExtractResult, TableConfig}

/** Watermark persistence contract: the framework around the reference
  * persists `last_point` between runs and threads it back in as a string
  * (mkpipe_extractor_clickhouse/__init__.py:57, README.md:44-50 "state
  * management"). Stringly-typed by design.
  */
trait WatermarkStore {
  def get(table: String): Option[String]
  def put(table: String, value: String): Unit
}

/** In-memory store (tests / single-run pipelines). */
final class InMemoryWatermarkStore extends WatermarkStore {
  private val m = mutable.Map.empty[String, String]
  def get(table: String): Option[String] = m.get(table)
  def put(table: String, value: String): Unit = m(table) = value
}

/** File-backed store: one `table=watermark` line per table — survives runs,
  * driver-agnostic (java.util.Properties escaping handles ':' and spaces in
  * timestamp watermarks).
  *
  * `put` is crash- and writer-safe: the new file is written to a temp file
  * in the same directory, forced to disk and renamed over the old one
  * (`ATOMIC_MOVE`), so a crash mid-write leaves the previous watermarks
  * intact and readers never see a partial file. The read-modify-write holds
  * an exclusive lock on a sidecar `<file>.lock` — a `FileChannel` lock
  * against other processes plus a JVM-wide monitor against other stores in
  * this JVM (the OS lock is held per process, not per thread) — so two
  * pipelines sharing the file never lose each other's tables.
  */
final class FileWatermarkStore(path: java.nio.file.Path) extends WatermarkStore {
  import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}

  private val file = path.toAbsolutePath.normalize

  private def load(): java.util.Properties = {
    val p = new java.util.Properties()
    if (Files.exists(file)) {
      val in = Files.newInputStream(file)
      try p.load(in) finally in.close()
    }
    p
  }
  def get(table: String): Option[String] = Option(load().getProperty(table))
  def put(table: String, value: String): Unit =
    classOf[FileWatermarkStore].synchronized {
      val lockCh = java.nio.channels.FileChannel.open(
        file.resolveSibling(s"${file.getFileName}.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        lockCh.lock()
        val p = load()
        p.setProperty(table, value)
        val tmp = Files.createTempFile(file.getParent, s"${file.getFileName}.", ".tmp")
        try {
          val ch = java.nio.channels.FileChannel.open(tmp, StandardOpenOption.WRITE)
          try {
            p.store(java.nio.channels.Channels.newOutputStream(ch), "graft watermarks")
            ch.force(true)
          } finally ch.close()
          Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        } finally Files.deleteIfExists(tmp)
      } finally lockCh.close() // closing the channel releases its lock
    }
}

/** Extractor variant registry — the engine's analogue of the reference's
  * entry-point registration (`mkpipe.extractors` + `variant='clickhouse'`,
  * setup.py:10-14, __init__.py:17). A variant maps a data directory to an
  * Extractor; a live JDBC/ClickHouse-backed variant would register here.
  */
object ExtractorRegistry {
  type Factory = String => Extractor
  private val registry = mutable.Map[String, Factory](
    "parquet" -> (dir => new Extractor(dir)))

  def register(variant: String, f: Factory): Unit = synchronized { registry(variant) = f }
  def apply(variant: String): Factory = synchronized {
    registry.getOrElse(variant,
      throw new IllegalArgumentException(
        s"unknown extractor variant '$variant' (known: ${registry.keys.mkString(", ")})"))
  }
  def variants: Seq[String] = synchronized(registry.keys.toSeq.sorted)
}

/** Per-pipeline orchestration: extract → load → persist watermark, per table,
  * with the reference's `pass_on_error` tolerance (README.md:116 — "Skip
  * table on error instead of failing", enforced by the framework, here by the
  * pipeline). Mirrors the reference lifecycle §3: the framework resolves the
  * variant, constructs the extractor, and threads last_point in and out.
  *
  * The LOAD step is pluggable: by default each extracted batch is written
  * through [[Extractor.load]] (sink-mode parquet write, A14/A16); passing
  * `loader` substitutes any batch consumer — e.g.
  * [[graft.streaming.StreamingExtract.curatedLoader]] routes batches through
  * the indexed incremental-dedup sink, composing the reference's
  * at-least-once extraction with content dedup in one run phase. The
  * watermark still persists only after a successful load, so a failed
  * curated load re-extracts the same rows next run (at-least-once preserved).
  */
final class Pipeline(
    extractor: Extractor,
    watermarks: WatermarkStore = new InMemoryWatermarkStore,
    loader: Option[(ExtractResult, TableConfig, String) => Unit] = None) {

  /** Run all tables; returns per-table results (Failure only recorded — not
    * thrown — when passOnError is set).
    */
  def run(
      spark: SparkSession,
      tables: Seq[TableConfig],
      outPath: String): Seq[(String, Try[ExtractResult])] =
    tables.map { table =>
      val attempt = Try {
        val r = extractor.extract(spark, table, watermarks.get(table.name))
        loader match {
          case Some(f) => f(r, table, outPath)
          case None    => extractor.load(r, table, outPath)
        }
        r.lastPoint.foreach(watermarks.put(table.name, _))
        r
      }
      attempt match {
        case Failure(e) if !table.passOnError => throw e
        case _ => table.name -> attempt
      }
    }
}
