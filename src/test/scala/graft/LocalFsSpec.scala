package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.ProcessStarts
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.scalatest.BeforeAndAfterAll

import graft.extract.{Extractor, InMemoryWatermarkStore, LocalFs, Pipeline, StagedReplace}
import graft.model._

/** Graft's `file://` filesystem ([[graft.extract.LocalFs]]): local writes
  * start no process, leave the modes a stock write leaves, and its install
  * is idempotent, race-free and leaves a user's `fs.file.impl` alone.
  *
  * The install tests need fresh SparkContexts, so they stop the JVM's
  * shared session, run last, and leave a new vanilla one.
  */
class LocalFsSpec extends SparkSpec with BeforeAndAfterAll {

  private val fileUri = URI.create("file:///")
  /** The class Hadoop resolves for `file` when no one sets `fs.file.impl`. */
  private lazy val stockClass = FileSystem.getFileSystemClass("file", new Configuration())

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def landingCopy(tables: String*): String = {
    val landing = Files.createTempDirectory("graft-landing")
    for (t <- tables) Files.copy(Paths.get(s"$sf/$t.parquet"), landing.resolve(s"$t.parquet"))
    landing.toString
  }

  /** Every path under `root` (itself included) with its 12 mode bits, data
    * file names' write UUIDs masked so two writes of one batch compare.
    */
  private def modes(root: String): Seq[(String, Int)] = {
    val r = Paths.get(root)
    Files.walk(r).iterator.asScala.map { p =>
      val rel = r.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")
      rel -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toSeq.sorted
  }

  test("a replicate-shaped pipeline run starts no process") {
    val landing = landingCopy("nation", "region", "events")
    val out = tempDir("graft-sink")
    val events = TableConfig("events", replicationMethod = ReplicationMethod.Incremental,
      iterateColumn = Some("event_id"), iterateColumnType = IterateType.IntCol)
    val tables = Seq(TableConfig("nation"), TableConfig("region"), events)
    val pipe = new Pipeline(new Extractor(landing), new InMemoryWatermarkStore)
    // Run 1: two full refreshes and the first incremental load, all through
    // StagedReplace.replace. Run 2: the same refreshes plus an append of
    // the inclusive boundary row.
    val (run1, starts1) = ProcessStarts(pipe.run(spark, tables, out))
    val (run2, starts2) = ProcessStarts(pipe.run(spark, tables, out))
    assert((run1 ++ run2).forall(_._2.isSuccess))
    assert(run2.last._2.get.writeMode == SaveMode.Append)
    assert(spark.read.parquet(s"$out/events").count() == 1001)
    val written = Files.walk(Paths.get(out)).iterator.asScala.count(Files.isRegularFile(_))
    val starts = starts1 ++ starts2
    assert(starts.isEmpty,
      s"${ProcessStarts.byProgram(starts)} process starts over two runs; the sink holds $written files")
  }

  test("a loader-written sink tree has the modes of a stock-filesystem write") {
    val landing = landingCopy("nation")
    val ex = new Extractor(landing)
    val batch: DataFrame = Tables.t(spark, landing, "nation")
    val (graftOut, stockOut) = (tempDir("graft-modes"), tempDir("stock-modes"))
    // The stock side: Spark's own write with the default `file` class,
    // uncached, so every file and dir goes through Hadoop's own code.
    val stock = Map("fs.file.impl" -> stockClass.getName, "fs.file.impl.disable.cache" -> "true")
    for (mode <- Seq(SaveMode.Overwrite, SaveMode.Append)) {
      val (_, graftStarts) =
        ProcessStarts(ex.load(ExtractResult(Some(batch), mode, None), TableConfig("nation"), graftOut))
      val (_, stockStarts) = ProcessStarts(batch.write.options(stock).mode(mode).parquet(s"$stockOut/nation"))
      assert(graftStarts.isEmpty, ProcessStarts.byProgram(graftStarts))
      if (!NativeIO.isAvailable)
        assert(ProcessStarts.byProgram(stockStarts).getOrElse("chmod", 0) > 0, "the stock write did not run stock code")
      val (g, s) = (modes(s"$graftOut/nation"), modes(s"$stockOut/nation"))
      assert(g.exists(_._1.endsWith(".crc")) && g.exists(_._1 == "_SUCCESS"), g)
      assert(g == s, s"$mode")
    }
  }

  // ---- install: each test builds its own SparkContext ----

  private def stopSessions(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Leaves a vanilla context behind, as the suite found one: a context
    * that the next suite's own builder creates could carry its static
    * confs (`spark.sql.extensions`) into every later suite.
    */
  override def afterAll(): Unit = try freshSession() finally super.afterAll()

  /** A new SparkContext with [[SparkSpec]]'s settings plus `extra`. */
  private def freshSession(extra: (String, String)*): SparkSession = {
    stopSessions()
    extra.foldLeft(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
  }

  /** Empties the cache's `file` slot and caches a fresh stock instance
    * there, with a file registered for deletion on its `close()`.
    */
  private def cachedStock(): (FileSystem, java.nio.file.Path) = {
    FileSystem.get(fileUri, new Configuration()).close()
    val fs = FileSystem.get(fileUri, new Configuration())
    assert(fs.getClass == stockClass)
    val marker = Files.createTempFile("graft-delete-on-close", "")
    assert(fs.deleteOnExit(new Path(marker.toUri)))
    (fs, marker)
  }

  private def cached(s: SparkSession): FileSystem = FileSystem.get(fileUri, s.sparkContext.hadoopConfiguration)

  test("install: 8 threads x 20 on one context evict the stock instance once; its holders still read") {
    val (stock, marker) = cachedStock()
    val s = freshSession()
    assert(cached(s) eq stock)
    val pool = Executors.newFixedThreadPool(8)
    val start = new CyclicBarrier(8)
    val seen = ConcurrentHashMap.newKeySet[FileSystem]()
    try {
      val runs = (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          for (_ <- 1 to 20) {
            LocalFs.install(s)
            seen.add(cached(s))
          }
        }
      }))
      runs.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    // close() ran the stock instance's processDeleteOnExit; every thread
    // then saw one and the same graft instance, so no install after the
    // first evicted anything.
    assert(!Files.exists(marker), "the cached stock instance was not closed")
    assert(seen.size == 1 && classOf[LocalFs].isInstance(seen.asScala.head), seen)
    assert(cached(s) eq seen.asScala.head)

    // The evicted stock instance: RawLocalFileSystem keeps no closed state,
    // so a holder still lists and reads a parquet dir, checksums included.
    val parquet = s"${tempDir("graft-stock-read")}/t"
    s.range(100).write.parquet(parquet)
    val listed = stock.listStatus(new Path(parquet)).map(_.getPath.getName).toSet
    assert(listed == new java.io.File(parquet).list().filterNot(_.endsWith(".crc")).toSet)
    val parts = listed.filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty)
    for (n <- parts) {
      val in = stock.open(new Path(s"$parquet/$n"))
      val bytes = try in.readAllBytes() finally in.close()
      assert(bytes.sameElements(Files.readAllBytes(Paths.get(s"$parquet/$n"))))
      assert(new String(bytes.takeRight(4), "US-ASCII") == "PAR1")
    }
    assert(stock.exists(new Path(parquet, "_SUCCESS")))
  }

  test("install leaves a user-set fs.file.impl and the instance it cached alone") {
    val (stock, marker) = cachedStock()
    // The class Hadoop would pick anyway: the one a mirror would replace.
    val user = stockClass.getName
    val s = freshSession("spark.hadoop.fs.file.impl" -> user)
    try {
      LocalFs.install(s)
      StagedReplace.replace(s, s"${tempDir("graft-user-impl")}/t")(s.range(3).write.parquet)
      assert(s.sparkContext.hadoopConfiguration.get("fs.file.impl") == user)
      assert(cached(s) eq stock)
      assert(Files.exists(marker))
    } finally stock.cancelDeleteOnExit(new Path(marker.toUri))
  }

  test("a new SparkContext reuses graft's cached instance; a sink write alone installs it") {
    val s1 = freshSession()
    val conf1 = s1.sparkContext.hadoopConfiguration
    assert(conf1.get("fs.file.impl") == null)
    // No Tables.t read: the writer seam (StagedReplace.heal) installs.
    StagedReplace.replace(s1, s"${tempDir("graft-seam")}/t")(s1.range(3).write.parquet)
    assert(conf1.get("fs.file.impl") != null)
    val graft = cached(s1)
    assert(classOf[LocalFs].isInstance(graft))

    val s2 = freshSession()
    val (_, starts) = ProcessStarts(
      StagedReplace.replace(s2, s"${tempDir("graft-seam")}/t")(s2.range(3).write.parquet))
    assert(starts.isEmpty, ProcessStarts.byProgram(starts))
    assert(s2.sparkContext.hadoopConfiguration.get("fs.file.impl") == graft.getClass.getName)
    assert(cached(s2) eq graft, "the new context evicted graft's instance")
  }
}
