package graft

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

import graft.extract.{Extractor, ExtractorRegistry, FileWatermarkStore, InMemoryWatermarkStore, JdbcSource, Pipeline}
import graft.model._

/** Orchestration layer (reference A17 registry + A19 pass_on_error + the §3
  * framework lifecycle): variants resolve, watermarks persist across runs,
  * failures skip-or-propagate per table config, and one run's tables run
  * concurrently except where they share a sink target.
  */
class PipelineSpec extends SparkSpec {

  private val incrId = TableConfig("events",
    replicationMethod = ReplicationMethod.Incremental,
    iterateColumn = Some("event_id"), iterateColumnType = IterateType.IntCol)

  /** A fresh directory holding copies of the named fixture tables. */
  private def landingCopy(tables: String*): String = {
    val landing = java.nio.file.Files.createTempDirectory("graft-landing")
    for (t <- tables)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"), landing.resolve(s"$t.parquet"))
    landing.toString
  }

  test("registry resolves the parquet variant and rejects unknown ones") {
    assert(ExtractorRegistry("parquet")(sf).isInstanceOf[Extractor])
    intercept[IllegalArgumentException] { ExtractorRegistry("clickhouse") }
    ExtractorRegistry.register("clickhouse", dir => new Extractor(dir))
    assert(ExtractorRegistry.variants.contains("clickhouse"))
  }

  test("pipeline run persists watermarks and second run appends only the boundary row") {
    // A fresh landing dir, so the table reads below are cold.
    val dir = landingCopy("events", "nation")
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

  test("landing history does not cost: after 5 or 50 deltas the incremental load reads the same files") {
    import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions.{col, lit}
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
    val perDelta = base.filter("l_orderkey <= 3").count()
    val boundary = base.filter("l_orderkey = 3").count()
    val li = TableConfig("lineitem", replicationMethod = ReplicationMethod.Incremental,
      iterateColumn = Some("l_orderkey"), iterateColumnType = IterateType.IntCol)
    // Delta k: orders 1-3 re-keyed past every earlier key, one file.
    def land(dir: String, k: Int): Unit =
      base.filter("l_orderkey <= 3").withColumn("l_orderkey", col("l_orderkey") + lit(100000L * k))
        .coalesce(1).write.mode("append").parquet(s"$dir/lineitem.parquet")

    // The files each load's landing scan read (the scan's numFiles).
    def scanFiles(p: SparkPlan): Seq[Long] = p match {
      case c: CommandResultExec => scanFiles(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
      case q: QueryStageExec => scanFiles(q.plan)
      case f: FileSourceScanExec => Seq(f.metrics("numFiles").value)
      case other => other.children.flatMap(scanFiles)
    }
    val read = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        scanFiles(qe.executedPlan).foreach(read.add(_))
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }

    /** Lands `history` deltas, loads, lands one more and loads again:
      * (files read by the second load, its jobs, watermark, sink rows).
      */
    def cycle(history: Int) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-history")
      java.nio.file.Files.createDirectories(dir.resolve("lineitem.parquet"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/lineitem.parquet"), dir.resolve("lineitem.parquet/part-0.parquet"))
      (1 to history).foreach(land(dir.toString, _))
      val store = new InMemoryWatermarkStore
      val out = java.nio.file.Files.createTempDirectory("graft-history-out").toString
      val pipe = new Pipeline(new Extractor(dir.toString), store)
      assert(pipe.run(spark, Seq(li), out).head._2.isSuccess)
      assert(store.get("lineitem").contains(s"${100000L * history + 3}"))
      land(dir.toString, history + 1)
      Tables.invalidate(spark, dir.toString)
      read.clear()
      spark.listenerManager.register(listener)
      val (run, jobs) = try org.apache.spark.JobCount(spark.sparkContext)(pipe.run(spark, Seq(li), out))
        finally spark.listenerManager.unregister(listener)
      assert(run.head._2.isSuccess)
      // The custom-query path keeps the aggregate, within the 3-job ceiling.
      val custom = li.copy(customQuery = Some("SELECT * FROM lineitem {query_filter}"))
      val cstore = new InMemoryWatermarkStore
      cstore.put("lineitem", s"${100000L * history + 3}")
      val cout = java.nio.file.Files.createTempDirectory("graft-history-cq").toString
      val (crun, cjobs) = org.apache.spark.JobCount(spark.sparkContext)(
        new Pipeline(new Extractor(dir.toString), cstore).run(spark, Seq(custom), cout))
      assert(crun.head._2.isSuccess && cjobs <= 3, s"custom-query run took $cjobs jobs")
      assert(cstore.get("lineitem") == store.get("lineitem"))
      (read.toArray.toSeq, jobs, store.get("lineitem"), spark.read.parquet(s"$out/lineitem").count())
    }

    val (files5, jobs5, wm5, rows5) = cycle(5)
    val (files50, jobs50, wm50, rows50) = cycle(50)
    // The delta holding the watermark (the inclusive boundary) and the new one.
    assert(files5 == Seq(2L) && files50 == files5, s"files read: $files5 after 5 deltas, $files50 after 50")
    assert(jobs5 == 1 && jobs50 == 1, s"second load took $jobs5 and $jobs50 jobs")
    assert(wm5.contains(s"${100000L * 6 + 3}") && wm50.contains(s"${100000L * 51 + 3}"))
    assert(rows5 == base.count() + 6 * perDelta + boundary)
    assert(rows50 == base.count() + 51 * perDelta + boundary)
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

  private def parallelThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala
      .map(_.getName).filter(_.startsWith("graft-parallel")).toSet

  test("concurrent table runs: replicate-shaped pipeline equals each table run alone, loads overlap") {
    val dir = landingCopy("region", "nation", "supplier", "lineitem", "events")
    val eventsQuery =
      """SELECT event_id, ts, user_id, event_type, value, props, toYYYYMM(ts) AS ym
        |FROM events PREWHERE value > 1 {query_filter}""".stripMargin
    val tables = Seq("region", "nation", "supplier").map(TableConfig(_)) ++ Seq(
      TableConfig("lineitem", replicationMethod = ReplicationMethod.Incremental,
        iterateColumn = Some("l_orderkey"), iterateColumnType = IterateType.IntCol,
        partitionsCount = 4),
      TableConfig("events", replicationMethod = ReplicationMethod.Incremental,
        iterateColumn = Some("ts"), iterateColumnType = IterateType.DatetimeCol,
        customQuery = Some(eventsQuery)))

    // Reference: each table run alone, one pipeline call per table.
    val refOut = java.nio.file.Files.createTempDirectory("graft-ref").toString
    val refStore = new InMemoryWatermarkStore
    for (t <- tables) assert(new Pipeline(new Extractor(dir), refStore).run(spark, Seq(t), refOut).head._2.isSuccess)

    // The loader records each load's [start, end]. The first two loads
    // wait (bounded) for each other after recording their start, so two
    // loads in flight at once is the only way both finish inside the wait.
    val out = java.nio.file.Files.createTempDirectory("graft-par").toString
    val store = new InMemoryWatermarkStore
    val met = new java.util.concurrent.CountDownLatch(2)
    val loads = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]
    val ex = new Extractor(dir)
    val pipe = new Pipeline(ex, store, Some { (r: ExtractResult, t: TableConfig, o: String) =>
      val t0 = System.nanoTime()
      met.countDown()
      met.await(20, java.util.concurrent.TimeUnit.SECONDS)
      ex.load(r, t, o)
      loads.add((t.name, t0, System.nanoTime()))
      ()
    })
    val results = pipe.run(spark, tables, out)
    assert(results.map(_._1) == tables.map(_.name), "results must come back in config order")
    assert(results.forall(_._2.isSuccess), results.filter(_._2.isFailure))
    for (t <- tables.map(_.name)) {
      assert(spark.read.parquet(s"$out/$t").count() == spark.read.parquet(s"$refOut/$t").count(), t)
      assert(store.get(t) == refStore.get(t), t)
    }
    assert(store.get("lineitem").isDefined && store.get("events").isDefined)
    val spans = loads.asScala.toSeq
    assert(spans.size == tables.size)
    val overlapping = for (a <- spans; b <- spans if a._1 < b._1 && a._2 < b._3 && b._2 < a._3) yield (a._1, b._1)
    assert(overlapping.nonEmpty, s"no two loads overlapped: $spans")
    assert(parallelThreads().isEmpty, s"pool threads outlived the run: ${parallelThreads()}")
  }

  test("concurrent table runs: a failing table without passOnError is rethrown after the other tables load") {
    val out = java.nio.file.Files.createTempDirectory("graft-par-fail").toString
    val store = new InMemoryWatermarkStore
    val pipe = new Pipeline(new Extractor(sf), store)
    val alone = intercept[Exception] {
      pipe.run(spark, Seq(TableConfig("no_such_table")), out)
    }
    val e = intercept[Exception] {
      pipe.run(spark, Seq(TableConfig("no_such_table"), TableConfig("nation")), out)
    }
    assert(e.getClass == alone.getClass && e.getMessage == alone.getMessage)
    assert(spark.read.parquet(s"$out/nation").count() == 25, "the independent table must still load")
    assert(parallelThreads().isEmpty, s"pool threads outlived the run: ${parallelThreads()}")
  }

  test("concurrent table runs: tables sharing a target append one after another in config order") {
    val dir = landingCopy("events", "nation")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events_b.parquet"))
    def incr(name: String) = TableConfig(name, targetName = Some("merged"),
      replicationMethod = ReplicationMethod.Incremental,
      iterateColumn = Some("event_id"), iterateColumnType = IterateType.IntCol)
    val store = new InMemoryWatermarkStore
    // Existing watermarks put both tables in append mode.
    store.put("events", "990")
    store.put("events_b", "995")
    val out = java.nio.file.Files.createTempDirectory("graft-par-target").toString
    val loads = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]
    val ex = new Extractor(dir)
    val pipe = new Pipeline(ex, store, Some { (r: ExtractResult, t: TableConfig, o: String) =>
      val t0 = System.nanoTime()
      ex.load(r, t, o)
      loads.add((t.name, t0, System.nanoTime()))
      ()
    })
    val tables = Seq(incr("events"), TableConfig("nation"), incr("events_b"))
    val results = pipe.run(spark, tables, out)
    assert(results.map(_._1) == Seq("events", "nation", "events_b"))
    results.foreach { case (n, r) => assert(r.isSuccess, n) }
    assert(results.collect { case (n, Success(r)) if n != "nation" => r.writeMode }
      .forall(_ == org.apache.spark.sql.SaveMode.Append))
    val merged = loads.asScala.toSeq.filter(_._1 != "nation")
    assert(merged.map(_._1) == Seq("events", "events_b"), s"shared-target loads out of order: $merged")
    assert(merged(0)._3 <= merged(1)._2, s"shared-target loads overlapped: $merged")
    val ids = spark.read.parquet(s"$out/merged").select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((990L to 999L) ++ (995L to 999L)).sorted, ids)
    assert(store.get("events").contains("999") && store.get("events_b").contains("999"))
  }

  test("in-memory watermark store: 8 threads putting 100 tables each keep all 800") {
    // Repeated on fresh stores: a lost update is a race, not a certainty.
    for (rep <- 0 until 20) {
      val store = new InMemoryWatermarkStore
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futs = (0 until 8).map { w =>
          pool.submit(new Runnable {
            def run(): Unit = {
              start.await()
              (0 until 100).foreach(i => store.put(s"t${w}_$i", s"$w.$i"))
            }
          })
        }
        start.countDown()
        futs.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      for (w <- 0 until 8; i <- 0 until 100)
        assert(store.get(s"t${w}_$i").contains(s"$w.$i"), s"rep $rep lost t${w}_$i")
    }
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
