package graft

/** Pins [[Tables.memo]]'s once-per-key semantics, its immutability
  * contract and its escape
  * hatch: a memoized RAW read is a plan (re-listed at execution — appends
  * show through), while driver-side derived results are frozen at first
  * use. A dir mutated in place therefore serves an incoherent composite
  * view by design until [[Tables.invalidate]] evicts every module's
  * entries for it.
  */
class MemoContractSpec extends SparkSpec {

  import spark.implicits._

  test("mutated dir: derived memos stay frozen and the composite view is incoherent until invalidate(dir)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    Seq((0L, "en", "alpha beta"), (1L, "en", "gamma delta"))
      .toDF("doc_id", "lang", "text")
      .write.parquet(s"$dir/documents.parquet")
    Seq((0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")

    assert(Tables.t(spark, dir, "documents").count() == 2)
    // Prime a DRIVER-SIDE derived memo in another module: k=1, iters=1 →
    // the single centroid is the mean of all vectors.
    val c0 = graft.ops.LlmPipeline.kMeansCentroids(spark, dir, k = 1, iters = 1)
    assert(math.abs(c0.head.head - 0.5) < 1e-9, s"centroid: $c0")

    // Mutate the dir in place — the case the contract documents.
    Seq((2L, "fr", "epsilon zeta")).toDF("doc_id", "lang", "text")
      .write.mode("append").parquet(s"$dir/documents.parquet")
    Seq((2L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(s"$dir/embeddings.parquet")

    // CONTRACT, layer 1: the memoized raw read is a PLAN — whether it
    // serves the stale listing (2) or re-lists and sees the append (3) is
    // nondeterministic under mutation; the contract promises nothing here.
    val staleWindow = Tables.t(spark, dir, "documents").count()
    assert(staleWindow == 2 || staleWindow == 3, s"raw read saw $staleWindow rows")
    // Layer 2: the driver-side derived result is FROZEN at first use —
    // the incoherent composite view the contract warns about.
    val cStale = graft.ops.LlmPipeline.kMeansCentroids(spark, dir, k = 1, iters = 1)
    assert(cStale == c0, "driver-side derived results stay frozen")

    // ESCAPE HATCH: invalidate evicts every module's entries for the dir —
    // the next access re-derives and the view is coherent again (the
    // centroid is now the mean of THREE vectors).
    Tables.invalidate(spark, dir)
    assert(Tables.t(spark, dir, "documents").count() == 3)
    val cFresh = graft.ops.LlmPipeline.kMeansCentroids(spark, dir, k = 1, iters = 1)
    assert(math.abs(cFresh.head.head - 1.0 / 3.0) < 1e-9,
      s"post-invalidate centroid must cover the appended vector: $cFresh")

    // Scoped eviction: other dirs' memos are untouched (the shared fixture
    // keeps serving without a re-read).
    assert(Tables.t(spark, sf, "documents").count() > 0)
  }

  /** A key no other test (or fixture dir) uses, so every case starts cold. */
  private def freshDir(label: String): String =
    s"memo-spec://$label/${java.util.UUID.randomUUID()}"

  test("memo: a build may call another memo on the same session") {
    val dir = freshDir("nested")
    val outer = Tables.memo(spark, dir, "outer") {
      Tables.memo(spark, dir, "inner")(20) + 1
    }
    assert(outer == 21)
    assert(Tables.memo(spark, dir, "inner")(-1) == 20, "the inner value is memoized too")
  }

  test("memo: 8 threads on one cold key run build exactly once") {
    val dir = freshDir("concurrent")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          Tables.memo(spark, dir, "slow") {
            Thread.sleep(200)
            builds.incrementAndGet()
          }
        }
      }))
      start.countDown()
      val got = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get() == 1)
      assert(got.toSet == Set(1), s"every caller sees the single build's value: $got")
    } finally pool.shutdown()
  }

  test("memo: a build that throws is not cached and the retry succeeds") {
    val dir = freshDir("throws")
    val e = intercept[IllegalStateException] {
      Tables.memo[Int](spark, dir, "flaky")(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom", "the build's own exception propagates unwrapped")
    assert(Tables.memo(spark, dir, "flaky")(42) == 42)
    assert(Tables.memo(spark, dir, "flaky")(7) == 42, "the successful retry is memoized")
  }

  test("append + invalidate(dir): the materialized CSV round-trip sees the new rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-rt").toString
    def events(ids: Seq[Long]) = ids
      .map(i => (i, i % 3, "view", new java.sql.Timestamp(1704067200000L + i * 1000L), i * 0.5))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    events(0L until 4L).write.parquet(s"$dir/events.parquet")
    assert(graft.sources.FileFormats.scanCsvRoundtrip(spark, dir).count() == 4)

    events(4L until 6L).write.mode("append").parquet(s"$dir/events.parquet")
    // The materialized copy is frozen at first use until the dir is evicted.
    assert(graft.sources.FileFormats.scanCsvRoundtrip(spark, dir).count() == 4)
    Tables.invalidate(spark, dir)
    val fresh = graft.sources.FileFormats.scanCsvRoundtrip(spark, dir)
    assert(fresh.select("event_id").as[Long].collect().toSeq == (0L until 6L))
  }

  test("source scan: computeIfAbsent, WeakHashMap and sessionCache live only inside Tables.memo") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    import scala.jdk.CollectionConverters._
    val tokens = Seq("computeIfAbsent", "WeakHashMap", "sessionCache")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
          .collect { case (l, i) if tokens.exists(l.contains) => (f.getFileName.toString, i) }
      }
    val tables = java.nio.file.Files.readAllLines(root.resolve("graft/Tables.scala")).asScala.toIndexedSeq
    // The memo region: the map declaration through `def memo`'s body, which
    // `invalidate` follows.
    val from = tables.indexWhere(_.contains("private val memos"))
    val to = tables.indexWhere(_.contains("def invalidate("))
    val at = tables.indexWhere(_.contains("def memo["))
    assert(from >= 0 && from < at && at < to)
    val outside = hits.filterNot { case (f, i) => f == "Tables.scala" && i >= from && i < to }
    assert(outside.isEmpty, s"hand-rolled memo machinery outside Tables.memo: $outside")
    assert(hits.nonEmpty, "the scan must see the memo's own map")
  }
}
