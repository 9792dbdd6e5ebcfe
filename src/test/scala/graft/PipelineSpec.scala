package graft

import scala.util.{Failure, Success}

import graft.extract.{Extractor, ExtractorRegistry, FileWatermarkStore, JdbcSource, Pipeline}
import graft.model._

/** Orchestration layer (reference A17 registry + A19 pass_on_error + the §3
  * framework lifecycle): variants resolve, watermarks persist across runs,
  * failures skip-or-propagate per table config.
  */
class PipelineSpec extends SparkSpec {

  private val incrId = TableConfig("events",
    replicationMethod = ReplicationMethod.Incremental,
    iterateColumn = Some("event_id"), iterateColumnType = IterateType.IntCol)

  test("registry resolves the parquet variant and rejects unknown ones") {
    assert(ExtractorRegistry("parquet")(sf).isInstanceOf[Extractor])
    intercept[IllegalArgumentException] { ExtractorRegistry("clickhouse") }
    ExtractorRegistry.register("clickhouse", dir => new Extractor(dir))
    assert(ExtractorRegistry.variants.contains("clickhouse"))
  }

  test("pipeline run persists watermarks and second run appends only the boundary row") {
    // A fresh landing dir, so the table reads below are cold.
    val landing = java.nio.file.Files.createTempDirectory("graft-landing")
    for (t <- Seq("events", "nation"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"), landing.resolve(s"$t.parquet"))
    val dir = landing.toString
    val wmPath = java.nio.file.Files.createTempFile("graft-wm", ".properties")
    val store = new FileWatermarkStore(wmPath)
    val out = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val sc = spark.sparkContext
    def jobs[T](body: => T) = org.apache.spark.JobCount(sc)(body)

    // A cold table read builds its plan on the driver: no schema job.
    for (t <- Seq("events", "nation"))
      assert(jobs(Tables.t(spark, dir, t))._2 == 0, s"cold read of $t launched a job")

    // Nothing is cached: the loader sees no RDD persisted beyond those
    // already there. Each incremental table run takes at most 3 jobs (one
    // count + max aggregate, two under AQE, then the write), a full
    // refresh 1 (the write).
    val before = sc.getPersistentRDDs.keySet
    val persisted = scala.collection.mutable.Set.empty[Int]
    def pipe = {
      val ex = new Extractor(dir)
      new Pipeline(ex, store, Some { (r: ExtractResult, t: TableConfig, o: String) =>
        persisted ++= sc.getPersistentRDDs.keySet -- before
        ex.load(r, t, o)
      })
    }
    val (run1, jobs1) = jobs(pipe.run(spark, Seq(incrId), out))
    assert(run1.head._2.isSuccess)
    assert(store.get("events").contains("999")) // max(event_id) at sf0.001
    assert(jobs1 <= 3, s"incremental run 1 took $jobs1 jobs")

    // A fresh pipeline over the same store (new process simulation): the
    // inclusive watermark re-extracts exactly the boundary row, append mode.
    val (run2, jobs2) = jobs(pipe.run(spark, Seq(incrId), out))
    run2.head._2 match {
      case Success(r) =>
        assert(r.writeMode == org.apache.spark.sql.SaveMode.Append)
        assert(r.lastPoint.contains("999"))
      case Failure(e) => fail(e)
    }
    assert(jobs2 <= 3, s"incremental run 2 took $jobs2 jobs")
    // Target now holds initial 1000 rows + the re-extracted boundary row.
    assert(spark.read.parquet(s"$out/events").count() == 1001)

    val (full, jobsFull) = jobs(pipe.run(spark, Seq(TableConfig("nation")), out))
    assert(full.head._2.isSuccess)
    assert(jobsFull <= 1, s"full-refresh run took $jobsFull jobs")
    assert(spark.read.parquet(s"$out/nation").count() == 25)
    assert(persisted.isEmpty, s"a batch was persisted: RDDs $persisted")
  }

  test("watermark file: a stray partial temp file from a crashed put leaves the previous watermarks readable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wm-crash")
    val wmPath = dir.resolve("watermarks.properties")
    val store = new FileWatermarkStore(wmPath)
    store.put("events", "2024-01-30 12:00:00")
    store.put("lineitem", "59999")
    // What a crash between the temp write and the rename leaves behind.
    java.nio.file.Files.write(dir.resolve("watermarks.properties.12345.tmp"),
      "events=2024-02-0".getBytes("UTF-8"))
    val fresh = new FileWatermarkStore(wmPath)
    assert(fresh.get("events").contains("2024-01-30 12:00:00"))
    assert(fresh.get("lineitem").contains("59999"))
    fresh.put("orders", "6000")
    val after = new FileWatermarkStore(wmPath)
    assert(Seq("events", "lineitem", "orders").map(after.get) ==
      Seq(Some("2024-01-30 12:00:00"), Some("59999"), Some("6000")))
  }

  test("watermark file: two stores on one path putting different tables concurrently keep both") {
    val wmPath = java.nio.file.Files.createTempDirectory("graft-wm-race").resolve("wm.properties")
    val stores = Seq(new FileWatermarkStore(wmPath), new FileWatermarkStore(wmPath))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = stores.zipWithIndex.map { case (st, w) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            (0 until 50).foreach(i => st.put(s"t${w}_$i", s"$i"))
          }
        })
      }
      start.countDown()
      futs.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val fresh = new FileWatermarkStore(wmPath)
    for (w <- 0 to 1; i <- 0 until 50)
      assert(fresh.get(s"t${w}_$i").contains(s"$i"), s"lost t${w}_$i")
  }

  test("live JDBC extraction composes with the indexed dedup sink in one Pipeline.run phase") {
    // The production shape end-to-end: a live SQL source (embedded Derby),
    // the reference's incremental decision tree (inclusive watermark,
    // __init__.py:89) driven by Pipeline with a persisted watermark store,
    // and the LOAD step routed through the indexed incremental-dedup sink —
    // so the at-least-once boundary re-read, exact copies, and near-dup
    // variants all die at the sink while the watermark advances.
    val url = "jdbc:derby:memory:graftcurated;create=true"
    val jconn = java.sql.DriverManager.getConnection(url)
    try {
      def toks(p: String): IndexedSeq[String] = (0 until 40).map(i => s"$p$i")
      val texts = (0 until 5).map(i => toks(s"t${i}_").mkString(" "))
      val st = jconn.createStatement()
      st.executeUpdate("CREATE TABLE docs_j (doc_id BIGINT NOT NULL, text VARCHAR(1000))")
      val ps = jconn.prepareStatement("INSERT INTO docs_j VALUES (?, ?)")
      def insert(id: Long, text: String): Unit = {
        ps.setLong(1, id); ps.setString(2, text); ps.executeUpdate(); ()
      }
      (0 until 5).foreach(i => insert(i.toLong, texts(i)))

      val conn = ConnectionConfig(jdbcUrl = Some(url), user = "", password = "")
      def extractor = new Extractor("-", source = Some((s, n) => JdbcSource.load(s, conn, TableConfig(n))))
      val wmPath = java.nio.file.Files.createTempFile("graft-wm-cur", ".properties")
      val store = new FileWatermarkStore(wmPath)
      val out = java.nio.file.Files.createTempDirectory("graft-curated").toString
      val docsTable = TableConfig("docs_j",
        replicationMethod = ReplicationMethod.Incremental,
        iterateColumn = Some("doc_id"), iterateColumnType = IterateType.IntCol)
      val curated = Some(graft.streaming.StreamingExtract.curatedLoader())

      // Round 1: initial extraction, all five docs admitted.
      val run1 = new Pipeline(extractor, store, curated).run(spark, Seq(docsTable), out)
      assert(run1.head._2.isSuccess)
      assert(store.get("docs_j").contains("4"), "watermark must persist after the curated load")
      val sink = s"$out/docs_j"
      assert(spark.read.parquet(sink).count() == 5)

      // Source grows: one genuinely new doc, one exact copy of a loaded
      // doc's text, one near-dup variant of a loaded doc.
      insert(5L, toks("new_").mkString(" "))
      insert(6L, texts(0)) // exact copy under a new id
      insert(7L, (toks("t1_").dropRight(2) ++ Seq("xx", "yy")).mkString(" ")) // near-dup

      // Round 2: a FRESH pipeline over the same store (new scheduled run).
      // The inclusive watermark re-extracts boundary row 4 (>= 4 pushed to
      // Derby); the sink drops it plus the copy and the near-dup.
      val run2 = new Pipeline(extractor, store, curated).run(spark, Seq(docsTable), out)
      assert(run2.head._2.isSuccess)
      assert(store.get("docs_j").contains("7"), "watermark must advance")
      val ids = spark.read.parquet(sink).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(0L, 1L, 2L, 3L, 4L, 5L),
        s"boundary re-read + copy + near-dup must die at the sink: $ids")
      // The stored index tracks exactly the admitted docs.
      val hashesDir = graft.streaming.StreamingExtract.sidecarDir(sink, "hashes")
      assert(spark.read.parquet(hashesDir).count() == 6)

      // Round 3 with NOTHING new at the source: the batch is exactly the
      // boundary row — deduped to a no-op, watermark unchanged.
      val run3 = new Pipeline(extractor, store, curated).run(spark, Seq(docsTable), out)
      assert(run3.head._2.isSuccess)
      assert(spark.read.parquet(sink).count() == 6)
      assert(store.get("docs_j").contains("7"))
    } finally jconn.close()
  }

  test("live JDBC extraction composes with the novelty-scoring sink in one Pipeline.run phase") {
    // The curatedLoader composition's scoring sibling: incremental Derby
    // extraction routed through noveltyLoadBatch — the boundary re-read
    // dies at the sink's doc_id gate, and round-2 docs score against the
    // round-1 first-seer state.
    val url = "jdbc:derby:memory:graftnovelty;create=true"
    val jconn = java.sql.DriverManager.getConnection(url)
    try {
      val st = jconn.createStatement()
      st.executeUpdate("CREATE TABLE docs_n (doc_id BIGINT NOT NULL, text VARCHAR(1000))")
      val ps = jconn.prepareStatement("INSERT INTO docs_n VALUES (?, ?)")
      def insert(id: Long, text: String): Unit = {
        ps.setLong(1, id); ps.setString(2, text); ps.executeUpdate(); ()
      }
      insert(0L, "a b c d e")
      insert(1L, "f g h i j")

      val conn = ConnectionConfig(jdbcUrl = Some(url), user = "", password = "")
      def extractor = new Extractor("-", source = Some((s, n) => JdbcSource.load(s, conn, TableConfig(n))))
      val wmPath = java.nio.file.Files.createTempFile("graft-wm-nov", ".properties")
      val store = new FileWatermarkStore(wmPath)
      val out = java.nio.file.Files.createTempDirectory("graft-novload").toString
      val docsTable = TableConfig("docs_n",
        replicationMethod = ReplicationMethod.Incremental,
        iterateColumn = Some("doc_id"), iterateColumnType = IterateType.IntCol)
      val loader = Some(graft.streaming.StreamingExtract.noveltyLoader())

      val run1 = new Pipeline(extractor, store, loader).run(spark, Seq(docsTable), out)
      assert(run1.head._2.isSuccess)
      val sink = s"$out/docs_n"
      def scores() = spark.read.parquet(sink)
        .select("doc_id", "novelty_micro").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(scores() == Map(0L -> 1000000L, 1L -> 1000000L))

      // Source grows: a verbatim remix of doc 0 and a half-remix. Round 2
      // re-extracts boundary row 1 (inclusive watermark) — the sink gate
      // must drop it, and the new docs score against round 1's seers.
      insert(2L, "a b c d e")
      insert(3L, "c d e f g")
      val run2 = new Pipeline(extractor, store, loader).run(spark, Seq(docsTable), out)
      assert(run2.head._2.isSuccess)
      assert(scores() == Map(0L -> 1000000L, 1L -> 1000000L,
        2L -> 0L, 3L -> 666666L),
        s"round-2 scoring must see round-1 first-seers exactly once: ${scores()}")
      assert(spark.read.parquet(sink).count() == 4,
        "the re-delivered boundary row must not re-append")
    } finally jconn.close()
  }

  test("passOnError=true records the failure and continues; false propagates") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipe2").toString
    val pipe = new Pipeline(new Extractor(sf))
    val bad = TableConfig("no_such_table", passOnError = true)
    val results = pipe.run(spark, Seq(bad, TableConfig("nation")), out)
    assert(results.head._2.isFailure)
    assert(results(1)._2.isSuccess)
    intercept[Exception] {
      pipe.run(spark, Seq(bad.copy(passOnError = false)), out)
    }
  }
}
