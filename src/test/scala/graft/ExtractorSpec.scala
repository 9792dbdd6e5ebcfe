package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.extract.{Extractor, InMemoryWatermarkStore, Pipeline, Predicates, QueryTemplate, StagedReplace}
import graft.model._

/** The reference's extract decision tree (mkpipe_extractor_clickhouse/
  * __init__.py:56-134), branch by branch, plus the observable edge semantics
  * SURVEY §5.2 calls out.
  */
class ExtractorSpec extends SparkSpec {

  private def ex = new Extractor(sf)

  private val incrTs = TableConfig("events",
    replicationMethod = ReplicationMethod.Incremental,
    iterateColumn = Some("ts"), iterateColumnType = IterateType.DatetimeCol)

  private val incrId = TableConfig("events",
    replicationMethod = ReplicationMethod.Incremental,
    iterateColumn = Some("event_id"), iterateColumnType = IterateType.IntCol)

  test("datetime watermark stringify is UTC regardless of JVM default timezone") {
    // Timestamp.toString renders in the JVM default zone; the fix renders the
    // instant explicitly in UTC so the persisted watermark re-splices to the
    // same instant on any host (the re-parse path uses the UTC session TZ).
    val prev = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/New_York"))
      val r = ex.extract(spark, incrTs, lastPoint = None)
      val wm = r.lastPoint.get
      val inst = java.time.LocalDateTime.parse(wm.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC)
      val parsedUs = inst.getEpochSecond * 1000000L + inst.getNano / 1000
      val wantUs = Tables.t(spark, sf, "events")
        .agg(unix_micros(max(col("ts")))).head().getLong(0)
      assert(parsedUs == wantUs,
        s"watermark '$wm' parsed as UTC gives $parsedUs µs, batch max is $wantUs µs")
      // Round-trip: re-splicing the watermark must re-extract the boundary row.
      val second = ex.extract(spark, incrTs, lastPoint = Some(wm))
      assert(second.df.isDefined && second.df.get.count() >= 1)
    } finally java.util.TimeZone.setDefault(prev)
  }

  test("watermark render survives the default zone's DST spring-forward gap") {
    // 2026-03-08 02:30 UTC is a nonexistent LOCAL time in America/New_York
    // (spring-forward gap). A field-based render via Timestamp.valueOf would
    // leniently shift it to 03:30, silently skipping an hour of rows on
    // re-splice; the java.time render must emit the UTC wall clock verbatim.
    val dir = java.nio.file.Files.createTempDirectory("graft-dst").toString
    import spark.implicits._
    Seq((1L, java.sql.Timestamp.from(java.time.Instant.parse("2026-03-08T02:30:00Z"))))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val prev = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/New_York"))
      val r = new Extractor(dir).extract(spark,
        TableConfig("events", replicationMethod = ReplicationMethod.Incremental,
          iterateColumn = Some("ts"), iterateColumnType = IterateType.DatetimeCol))
      assert(r.lastPoint.contains("2026-03-08 02:30:00"), s"got ${r.lastPoint}")
    } finally java.util.TimeZone.setDefault(prev)
  }

  test("full replication: overwrite, no watermark, all rows") {
    val r = ex.extract(spark, TableConfig("orders"))
    assert(r.writeMode == SaveMode.Overwrite)
    assert(r.lastPoint.isEmpty)
    assert(r.df.get.count() == 1500)
  }

  test("incremental without iterateColumn degrades to full (reference :71 guard)") {
    val r = ex.extract(spark,
      TableConfig("orders", replicationMethod = ReplicationMethod.Incremental))
    assert(r.writeMode == SaveMode.Overwrite)
    assert(r.df.get.count() == 1500)
  }

  test("incremental initial load: tautology filter, overwrite, watermark computed") {
    val r = ex.extract(spark, incrTs, lastPoint = None)
    assert(r.writeMode == SaveMode.Overwrite)
    assert(r.df.get.count() == 1000)
    // watermark = stringified max(ts) over the batch (reference :110-115)
    assert(r.lastPoint.isDefined)
    assert(r.lastPoint.get.startsWith("2024-01-"))
  }

  test("incremental with lastPoint: inclusive watermark — boundary row re-extracted") {
    val first = ex.extract(spark, incrId, lastPoint = None)
    val wm = first.lastPoint.get // "999" at sf0.001
    assert(wm == "999")
    // Re-extract with the persisted watermark: the boundary row itself comes
    // back (>= semantics, reference __init__.py:89) — at-least-once delivery.
    val second = ex.extract(spark, incrId, lastPoint = Some(wm))
    assert(second.writeMode == SaveMode.Append)
    val ids = second.df.get.select("event_id").collect().map(_.getLong(0))
    assert(ids.toSeq == Seq(999L))
  }

  test("static bounds: half-open [lower, upper), append mode") {
    val r = ex.extract(spark, incrId.copy(
      filterLowerBound = Some("10"), filterUpperBound = Some("20")))
    assert(r.writeMode == SaveMode.Append)
    val ids = r.df.get.select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.head == 10L && ids.last == 19L && ids.length == 10)
  }

  test("bounds win over lastPoint (reference :72 precedence)") {
    val r = ex.extract(spark,
      incrId.copy(filterLowerBound = Some("10"), filterUpperBound = Some("20")),
      lastPoint = Some("500"))
    assert(r.df.get.count() == 10)
  }

  test("empty batch + append mode: df=None no-op (reference :107-108)") {
    val r = ex.extract(spark, incrId.copy(filterLowerBound = Some("99999")))
    assert(r.df.isEmpty)
    assert(r.writeMode == SaveMode.Append)
    assert(r.lastPoint.isEmpty)
  }

  test("empty batch + overwrite (initial incremental on empty result): keeps empty df") {
    // Custom query that yields nothing, no lastPoint → overwrite branch.
    // (The {query_filter} hole must be the query's own WHERE slot — a
    // template with a second WHERE is invalid SQL in the reference too.)
    val r = ex.extract(spark, incrTs.copy(customQuery =
      Some("SELECT * FROM (SELECT * FROM events WHERE event_id < 0) AS t {query_filter}")))
    assert(r.writeMode == SaveMode.Overwrite)
    assert(r.df.isDefined && r.df.get.isEmpty)
  }

  test("watermark string round-trip is monotone across successive batches") {
    val b1 = ex.extract(spark, incrTs, lastPoint = None)
    val wm1 = b1.lastPoint.get
    val b2 = ex.extract(spark, incrTs, lastPoint = Some(wm1))
    val wm2 = b2.lastPoint.get
    assert(wm2 >= wm1) // string compare is consistent for the pinned rendering
    // And re-splicing the watermark yields exactly the boundary rows:
    assert(b2.df.get.count() >= 1)
  }

  test("datetime literal rendering quotes; int renders bare (reference :75-91)") {
    assert(Predicates.renderLiteral("42", IterateType.IntCol) == "42")
    assert(Predicates.renderLiteral("2024-01-01 00:00:00", IterateType.DatetimeCol)
      == "'2024-01-01 00:00:00'")
  }

  test("clause decision tree: bounds/watermark/tautology") {
    val (c1, m1) = Predicates.incrementalClause(
      incrId.copy(filterLowerBound = Some("1"), filterUpperBound = Some("5")), None)
    assert(c1 == "WHERE event_id >= 1 AND event_id < 5" && m1 == SaveMode.Append)
    val (c2, m2) = Predicates.incrementalClause(incrTs, Some("2024-01-15 00:00:00"))
    assert(c2 == "WHERE ts >= '2024-01-15 00:00:00'" && m2 == SaveMode.Append)
    val (c3, m3) = Predicates.incrementalClause(incrTs, None)
    assert(c3 == "WHERE 1=1" && m3 == SaveMode.Overwrite)
  }

  test("template splice replaces the hole verbatim (reference :96-97)") {
    assert(QueryTemplate.splice("SELECT * FROM t {query_filter} LIMIT 1", "WHERE a >= 2")
      == "SELECT * FROM t WHERE a >= 2 LIMIT 1")
  }

  test("custom query file variant reads ./sql/<file> (reference :48-53)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sql")
    java.nio.file.Files.writeString(dir.resolve("q.sql"),
      "SELECT event_id, ts FROM events {query_filter}")
    val r = ex.extract(spark,
      incrTs.copy(customQueryFile = Some("q.sql")),
      lastPoint = Some("2024-01-15 00:00:00"), sqlDir = dir.toString)
    assert(r.df.get.columns.toSeq == Seq("event_id", "ts"))
    assert(r.df.get.count() > 0)
  }

  test("load(): writes with selected mode + writePartitions coalesce (A14/A16)") {
    val out = java.nio.file.Files.createTempDirectory("graft-out").toString
    val r = ex.extract(spark, TableConfig("nation", writePartitions = Some(1)))
    ex.load(r, TableConfig("nation", writePartitions = Some(1)), out)
    val written = spark.read.parquet(s"$out/nation")
    assert(written.count() == 25)
    assert(new java.io.File(s"$out/nation").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
  }

  /** A table run into a sink: the sink's content before it (`old`,
    * written straight to the sink dir) and the watermarks it starts from. */
  private case class SinkRun(name: String, landing: String, table: TableConfig,
      old: String => Unit, watermarks: Map[String, String] = Map.empty)

  private def tempDir(prefix: String): String = java.nio.file.Files.createTempDirectory(prefix).toString

  /** One run of `o`'s table into `out`; returns the watermark it persists. */
  private def runOnce(o: SinkRun, out: String): Option[String] = {
    val store = new InMemoryWatermarkStore
    o.watermarks.foreach { case (t, v) => store.put(t, v) }
    val res = new Pipeline(new Extractor(o.landing), store).run(spark, Seq(o.table), out)
    assert(res.forall(_._2.isSuccess), res)
    store.get(o.table.name)
  }

  /** `o`'s overwrite cut at each crash cut, built on disk: the sink reads
    * whole old or whole new rows, and a replayed run reaches the uncut
    * run's rows and watermark with no swap remnant left. */
  private def checkCuts(o: SinkRun): Unit = {
    val target = o.table.effectiveTargetName
    val ref = tempDir("graft-cut-ref")
    o.old(s"$ref/$target")
    val oldRows = SwapCuts.rows(spark, s"$ref/$target")
    val refWm = runOnce(o, ref)
    val newRows = SwapCuts.rows(spark, s"$ref/$target")
    assert(newRows.isDefined && newRows != oldRows, s"${o.name}: the run must change the sink")
    for (cut <- SwapCuts.All) {
      val out = tempDir("graft-cut")
      o.old(s"$out/$target")
      SwapCuts(spark, s"$out/$target", s"$ref/$target", cut)
      val seen = SwapCuts.rows(spark, s"$out/$target")
      assert(seen == oldRows || seen == newRows, s"${o.name}, $cut: the sink reads ${seen.map(_.size)} rows")
      assert(runOnce(o, out) == refWm, s"${o.name}, $cut: watermark")
      assert(SwapCuts.rows(spark, s"$out/$target") == newRows, s"${o.name}, $cut: replay differs from the uncut run")
      assert(SwapCuts.clean(spark, s"$out/$target"), s"${o.name}, $cut: swap remnants left")
    }
  }

  test("crash cuts: a loader overwrite reads whole old or new rows, and its replay equals the uncut run") {
    val nation = Tables.t(spark, sf, "nation")
    val events = Tables.t(spark, sf, "events")
    val shrunk = tempDir("graft-cut-landing")
    nation.filter(col("n_regionkey") < 2).write.parquet(s"$shrunk/nation.parquet")
    val scenarios = Seq(
      SinkRun("full refresh", shrunk, TableConfig("nation"), d => nation.write.parquet(d)),
      SinkRun("first incremental load", sf, incrId, d => events.filter(col("event_id") < 100).write.parquet(d)),
      SinkRun("empty-batch truncation", sf, incrTs.copy(customQuery =
        Some("SELECT * FROM (SELECT * FROM events WHERE event_id < 0) AS t {query_filter}")),
        d => events.write.parquet(d)))
    scenarios.foreach(checkCuts)
  }

  test("crash cuts: an append after a cut between the renames lands on the committed copy") {
    // The state: a replace cut between its renames left its committed copy
    // (the first load, 1000 rows) in `events.staged`, and the store holds
    // watermark 999, so the next run appends the boundary row. Without
    // healing first, the append would create a live dir of one row and the
    // next heal would drop the committed copy.
    val first = tempDir("graft-cut-first")
    runOnce(SinkRun("first load", sf, incrId, _ => ()), first)
    val append = SinkRun("append", sf, incrId,
      d => Tables.t(spark, sf, "events").filter(col("event_id") < 100).write.parquet(d), Map("events" -> "999"))
    val expected = SwapCuts.sorted(spark.read.parquet(s"$first/events")
      .unionByName(Tables.t(spark, sf, "events").filter(col("event_id") === 999)))
    // (A cut during staging commits nothing, so no watermark persists.)
    for (cut <- Seq("between the renames", "before cleanup")) {
      val out = tempDir("graft-cut-append")
      append.old(s"$out/events")
      SwapCuts(spark, s"$out/events", s"$first/events", cut)
      assert(runOnce(append, out).contains("999"))
      assert(SwapCuts.rows(spark, s"$out/events").contains(expected), s"$cut: append lost the committed copy")
      assert(SwapCuts.clean(spark, s"$out/events"))
    }
  }

  test("a full refresh whose write dies mid-job leaves the previous sink whole") {
    val out = tempDir("graft-cut-fail")
    runOnce(SinkRun("first", sf, TableConfig("nation"), _ => ()), out)
    val before = SwapCuts.rows(spark, s"$out/nation")
    // The source fails at one row, after other tasks have written files.
    val dying = new Extractor(sf, source = Some((s, n) => Tables.t(s, sf, n).withColumn("n_name",
      when(col("n_nationkey") === 24, raise_error(lit("source died"))).otherwise(col("n_name")))))
    intercept[Exception](new Pipeline(dying).run(spark, Seq(TableConfig("nation")), out))
    assert(SwapCuts.rows(spark, s"$out/nation") == before, "the failed refresh touched the live sink")
    runOnce(SinkRun("retry", sf, TableConfig("nation"), _ => ()), out)
    assert(SwapCuts.rows(spark, s"$out/nation") == before && SwapCuts.clean(spark, s"$out/nation"))
  }

  test("heal refuses a sink left mid-swap by the per-batch protocol, naming the manual rename") {
    import spark.implicits._
    val base = tempDir("graft-legacy")
    Seq(1L, 2L).toDF("k").write.parquet(s"$base/out.staging-3")
    Seq(1L).toDF("k").write.parquet(s"$base/out.old-3")
    val err = intercept[IllegalStateException](StagedReplace.heal(spark, s"$base/out"))
    assert(err.getMessage.contains(s"mv $base/out.staging-3 $base/out"), err.getMessage)
    // Nothing was touched: the committed copy is still there to restore.
    assert(spark.read.parquet(s"$base/out.staging-3").count() == 2)
    intercept[IllegalStateException](StagedReplace.replace(spark, s"$base/out")(_ => fail("must not write")))
  }

  test("readPartitioned produces partitionsCount slices with all rows (A15)") {
    val cfg = TableConfig("lineitem",
      replicationMethod = ReplicationMethod.Incremental,
      iterateColumn = Some("l_orderkey"), partitionsCount = 8)
    val df = ex.readPartitioned(spark, cfg)
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == Tables.t(spark, sf, "lineitem").count())
    // Full replication: partitioning not applied (README.md:93 semantics —
    // partitionsCount defaults through but no iterate/partitions column set).
    assert(ex.readPartitioned(spark, TableConfig("nation")).rdd.getNumPartitions ==
      Tables.t(spark, sf, "nation").rdd.getNumPartitions)
  }

  test("Column predicate path equals SQL clause path") {
    val cfgs = Seq(
      incrId.copy(filterLowerBound = Some("100"), filterUpperBound = Some("300")),
      incrId.copy(filterLowerBound = Some("100")),
      incrTs)
    for (cfg <- cfgs; lp <- Seq(None, Some(if (cfg.iterateColumnType == IterateType.IntCol) "500" else "2024-01-15 00:00:00"))) {
      val (clause, _) = Predicates.incrementalClause(cfg, lp)
      val (pred, _) = Predicates.incrementalPredicate(cfg, lp)
      Tables.t(spark, sf, "events").createOrReplaceTempView("events")
      val viaSql = spark.sql(s"SELECT event_id FROM events $clause")
      val viaCol = Tables.t(spark, sf, "events").filter(pred).select("event_id")
      assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty,
        s"mismatch for clause '$clause'")
    }
  }

  test("a new watermark reuses the generated code: same whole-stage source, rows of a plain filter, scan pushdown kept") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // The generated source is the codegen cache key: equal sources at two
    // watermarks mean the second extract compiles nothing.
    def sources(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.doCodeGen()._2
    }
    def pushedFilters(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters")
    }.mkString
    def ids(df: DataFrame, c: String) = df.select(c).collect().map(_.getLong(0)).sorted.toSeq
    /** Extracts `cfg` from `dir` at both watermarks and checks the three
      * properties; `keep(wm)` is the plain filter's id set at `wm`.
      */
    def check(dir: String, cfg: TableConfig, idCol: String, wms: Seq[String])(
        keep: String => Seq[Long], pushed: String => String): Unit = {
      val dfs = wms.map(wm => new Extractor(dir).extract(spark, cfg, Some(wm)).df.get)
      val srcs = dfs.map(sources)
      assert(srcs.head.nonEmpty && srcs.head == srcs(1),
        s"${cfg.name}: whole-stage source differs between watermarks ${wms.mkString(" and ")}")
      for ((df, wm) <- dfs.zip(wms)) {
        assert(ids(df, idCol) == keep(wm), s"${cfg.name} at $wm")
        assert(pushedFilters(df).contains(pushed(wm)), s"${cfg.name} at $wm: ${pushed(wm)} not in ${pushedFilters(df)}")
      }
    }

    // The native int path: `l_orderkey >= N` as a typed Column predicate.
    val keys = Tables.t(spark, sf, "lineitem").select("l_orderkey").collect().map(_.getLong(0)).sorted
    val liCfg = TableConfig("lineitem", replicationMethod = ReplicationMethod.Incremental,
      iterateColumn = Some("l_orderkey"), iterateColumnType = IterateType.IntCol)
    check(sf, liCfg, "l_orderkey", Seq(keys(keys.length / 2), keys(keys.length * 3 / 4)).map(_.toString))(
      wm => keys.filter(_ >= wm.toLong).toSeq, wm => s"GreaterThanOrEqual(l_orderkey,$wm)")

    // An events-style custom_query: ClickHouse SQL with a quoted timestamp
    // watermark spliced in, run through the dialect layer.
    val evRows = Tables.t(spark, sf, "events")
      .select(col("event_id"), unix_micros(col("ts")), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val evUs = evRows.map(_._2).sorted
    def render(us: Long) = Extractor.renderUtc(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
    def usOf(wm: String) = {
      val i = java.time.LocalDateTime.parse(wm.replace(' ', 'T')).toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    val evCfg = incrTs.copy(customQuery = Some(
      """SELECT event_id, ts, user_id, event_type, value, props, toYYYYMM(ts) AS ym
        |FROM events PREWHERE value > 1 {query_filter}""".stripMargin))
    check(sf, evCfg, "event_id", Seq(evUs(evUs.length / 2), evUs(evUs.length * 3 / 4)).map(render))(
      wm => evRows.collect { case (id, us, v) if us >= usOf(wm) && v > 1 => id }.sorted.toSeq,
      wm => s"GreaterThanOrEqual(ts,${java.time.LocalDateTime.parse(wm.replace(' ', 'T'))})")

    // A real TIMESTAMP(NANOS) file: the scan carries the raw-nanos filter
    // PushdownNanosTimestamp derives, `ts >= µs * 1000`.
    import NanosFixture.{base, ns}
    val nanosDir = NanosFixture.write()
    check(nanosDir, incrTs, "event_id", Seq(base + 2, base + 4).map(render))(
      wm => ns.zipWithIndex.collect { case (v, i) if v / 1000 >= usOf(wm) => i.toLong }.sorted,
      wm => s"GreaterThanOrEqual(ts,${usOf(wm) * 1000})")
  }
}
